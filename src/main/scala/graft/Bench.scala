package graft
import org.apache.spark.sql.SparkSession
object Bench {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")
    // launch-time 1-minute load average — recorded into the output JSON
    // so every artifact self-discloses its window state (this host has
    // documented multi-hour warm windows that inflate iteration-loop
    // queries 1.3-3.6x; an artifact without its load reading cannot be
    // adjudicated without out-of-band pins)
    val load1m: Option[Double] =
      try Some(scala.io.Source.fromFile("/proc/loadavg").mkString
        .split("\\s+")(0).toDouble)
      catch { case _: Throwable => None }
    val spark = GraftSession.builder("graft-bench", Some(s"local[$cpus]"), Some(cpus.toInt))
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    // Warm-up: run EVERY query once at the smallest SF before timing.
    // Whole-stage codegen units are Janino-compiled then JIT'd per plan
    // (measured ~10 s one-time for the widest dedup plan vs ~3 s steady
    // state). The warm-up pass warms the JIT and fills the
    // generated-class cache (keyed by generated source, LRU, sized by
    // GraftSession.CodegenCacheEntries). A timed query skips Janino only
    // while its classes are still cached: a class evicted since the
    // warm-up, or one that inlines a per-run value, compiles again
    // inside the timing. `codegen_compiles` in the output counts the
    // timed pass's compiles, so a cache regression shows in the artifact.
    // warm against the sibling smallest SF when present; otherwise warm
    // with the timed dir itself (slower warm-up but never silently
    // skipped — a skipped warm-up would re-absorb per-plan codegen cost
    // into the timings and make them non-comparable)
    val sibling = new java.io.File(new java.io.File(sfDir).getParent, "sf0.001")
    val warmDir = if (sibling.isDirectory) sibling.getPath else sfDir
    if (warmDir == sfDir)
      System.err.println(s"[bench] WARN: no sf0.001 sibling — warming against " +
        s"the TIMED dir $sfDir (wall time roughly doubles; timings stay valid)")
    else System.err.println(s"[bench] warm-up dir: $warmDir")
    // optional comma-separated subset for local iteration; default = all.
    // Unknown names FAIL instead of silently shrinking the run — a typo
    // that drops a query would otherwise emit a valid-looking JSON
    val only = sys.env.get("SPARK_GRAFT_ONLY")
      .map(_.split(",").map(_.trim).filter(_.nonEmpty).toSet)
    only.foreach { names =>
      val unknown = names.diff(SparkEntry.queries.keySet)
      require(unknown.isEmpty,
        s"SPARK_GRAFT_ONLY names not in the registry: ${unknown.mkString(", ")}")
    }
    val selected = SparkEntry.queries.toSeq.sortBy(_._1)
      .filter { case (n, _) => only.forall(_.contains(n)) }
    var warmFailures = 0
    selected.foreach { case (name, fn) =>
      try fn(spark, warmDir).count() catch {
        case e: Throwable =>
          warmFailures += 1
          System.err.println(s"[bench] WARN: warm-up for $name threw ${e.getClass.getSimpleName}: ${e.getMessage}")
      }
    }
    // a timed-pass failure must NOT masquerade as a normal timing: the
    // per-query value would read as a plausible elapsed time while
    // actually measuring time-to-exception, silently corrupting pinned
    // medians. Failures are counted, named on stderr, and excluded from
    // the queries map.
    // SPARK_GRAFT_RUNS=N times each query N times and reports the
    // per-query MEDIAN. Default 3: this host has documented contention
    // windows that inflate SINGLE runs 2-30x (round 9's driver artifact
    // caught one and could not arbitrate a regression claim), and a
    // 3-run median is the cheapest estimator that survives one bad run.
    // Set 1 for quick local iteration.
    val runs = sys.env.get("SPARK_GRAFT_RUNS").map(_.toInt).getOrElse(3)
    require(runs >= 1, s"SPARK_GRAFT_RUNS must be >= 1, got $runs")
    def median(xs: Seq[Double]): Double = {
      val s = xs.sorted
      if (s.size % 2 == 1) s(s.size / 2)
      else (s(s.size / 2 - 1) + s(s.size / 2)) / 2.0
    }
    var timedFailures = List.empty[String]
    def compiles = org.apache.spark.metrics.source.CodegenMetrics
      .METRIC_COMPILATION_TIME.getCount
    val compilesBefore = compiles
    val results = selected.flatMap { case (name, fn) =>
      val times = (1 to runs).flatMap { _ =>
        val t0 = System.nanoTime()
        try {
          fn(spark, sfDir).count()
          Some((System.nanoTime() - t0) / 1e9)
        } catch {
          case e: Throwable =>
            System.err.println(s"[bench] ERROR: timed run of $name threw " +
              s"${e.getClass.getSimpleName}: ${e.getMessage}")
            None
        }
      }
      // any failed repetition marks the query failed: a median over a
      // partial sample that includes time-to-exception runs would
      // silently corrupt pinned numbers
      if (times.size < runs) { timedFailures ::= name; None }
      else Some(name -> median(times))
    }
    val timedCompiles = compiles - compilesBefore
    def fmt(v: Double) = BigDecimal(v).setScale(3, BigDecimal.RoundingMode.HALF_UP).toString
    val qs = results.map { case (k, v) => s"\"" + k + "\":" + fmt(v) }
      .mkString("{", ",", "}")
    val total = results.map(_._2).sum
    val failed = timedFailures.reverse.map("\"" + _ + "\"").mkString("[", ",", "]")
    // the 4-canary window adjudication (BASELINE.md, round-17 rule):
    // a series reads CLEAN only if all four sit under their bands —
    // two sub-second plan-cost canaries plus two iteration-loop queries
    // (the family warm windows inflate first, which the classic pair
    // provably missed in round 16). Emitted with readings + thresholds
    // so the artifact adjudicates itself. The default bands are
    // HOST-SPECIFIC constants calibrated on this machine's sf0.1
    // pins — on another host or dataset, override them with
    // SPARK_GRAFT_CANARY_BANDS ("name:sec,name:sec,..."), and the
    // emitted object carries the sf-dir the bands were judged against
    // (`bands_assume_sf`) so a mismatched run is detectable in the
    // artifact instead of silently reading authoritative.
    // the sketch band's round-18/19 every-series misses were
    // ADJUDICATED in round 20, in two steps recorded in BASELINE.md:
    // two same-window A/Bs at the r17 commit read parity
    // (0.406/0.400 and 0.399/0.404 — not a code regression), and the
    // round-20 opening pin then read 0.317 — back inside the original
    // clean range. Conclusion: the canary was WORKING — it correctly
    // flagged a multi-day host warm phase that has since ended — so
    // the original band stands (a provisional 0.45 recalibration was
    // superseded in-round; the recalibration protocol in BASELINE.md
    // remains the standing rule for genuinely permanent drift)
    val defaultBands = Seq("sketch_quantile_hist" -> 0.35, "tpch_q1" -> 0.25,
      "dedup_ngram_jaccard" -> 2.5, "graph_pagerank" -> 3.5)
    val bandsAssumeSf = sys.env.get("SPARK_GRAFT_CANARY_BANDS")
      .map(_ => sfDir).getOrElse("/root/testdata/sf0.1")
    val canaryBands = sys.env.get("SPARK_GRAFT_CANARY_BANDS")
      .map { raw =>
        val parsed = raw.split(",").map(_.trim).filter(_.nonEmpty).toSeq.map { kv =>
          val Array(n, thr) = kv.split(":")
          n.trim -> thr.trim.toDouble
        }
        // an empty band list would adjudicate window_clean=true with
        // ZERO canaries vouching for the window; an unknown name would
        // read "null" — the verdict reserved for deliberate
        // SPARK_GRAFT_ONLY omission. Both fail loudly, mirroring the
        // SPARK_GRAFT_ONLY validation above
        require(parsed.nonEmpty,
          "SPARK_GRAFT_CANARY_BANDS parsed to zero bands — unset the " +
            "variable to use the default bands instead")
        val unknown = parsed.map(_._1).toSet.diff(SparkEntry.queries.keySet)
        require(unknown.isEmpty,
          s"SPARK_GRAFT_CANARY_BANDS names not in the registry: ${unknown.mkString(", ")}")
        parsed
      }.getOrElse(defaultBands)
    val rmap = results.toMap
    val canaries = canaryBands.map { case (n, thr) =>
      val v = rmap.get(n).map(fmt).getOrElse("null")
      s"""\"$n\":{"sec":$v,"max_clean":$thr}"""
    }.mkString("{", ",", "}")
    // verdict semantics: null is reserved for canaries DELIBERATELY
    // omitted via SPARK_GRAFT_ONLY; a canary that was selected but
    // crashed in the timed pass reads FALSE (dirty) — a broken canary
    // cannot vouch for its window
    val canarySelected = canaryBands.filter { case (n, _) =>
      selected.exists(_._1 == n) }
    val windowClean =
      if (canarySelected.size < canaryBands.size) "null"
      else if (canaryBands.exists { case (n, _) => !rmap.contains(n) }) "false"
      else canaryBands.forall { case (n, thr) => rmap(n) <= thr }.toString
    // per-LINE scatter self-flagging (round-19): the window verdict
    // above adjudicates the SERIES; a single wild reading inside an
    // otherwise-clean series (round 18's dedup_winnow_pairs at 48x its
    // pin) previously needed human adjudication. Any query whose median
    // reads > 3x its recorded bar (tools/bench_bars.json — the pinned
    // per-query medians; override path via SPARK_GRAFT_BARS) AND is at
    // least +0.3 s over it is re-run ONCE and both readings are
    // emitted, so the artifact distinguishes "scatter" (re-run back at
    // bar) from "regression" (re-run confirms) by itself.
    val barsPath = sys.env.getOrElse("SPARK_GRAFT_BARS", "tools/bench_bars.json")
    val bars: Map[String, Double] =
      try {
        val txt = scala.io.Source.fromFile(barsPath).mkString
        "\"([^\"]+)\"\\s*:\\s*([0-9][0-9.]*)".r.findAllMatchIn(txt)
          .map(m => m.group(1) -> m.group(2).toDouble).toMap
      } catch { case _: Throwable => Map.empty }
    val scatterResults = results
      .filter { case (n, v) => bars.get(n).exists(b => v > 3 * b && v - b > 0.3) }
      .map { case (n, v) =>
        val fn = SparkEntry.queries(n)
        val t0 = System.nanoTime()
        val rerun = try { fn(spark, sfDir).count()
          Some((System.nanoTime() - t0) / 1e9)
        } catch { case _: Throwable => None }
        // the rerun adjudicates EXPLICITLY: back at bar = "scatter";
        // still >1.5x the bar (+0.3 s) = "suspect" — a rerun that
        // merely clears the 3x trigger while confirming a 1.5-3x
        // elevation is evidence, not noise (round 19's corpus_gopher
        // rerun read 1.6x its bar and was silently treated as
        // cleared); >3x again = "confirmed"; a crashed rerun cannot
        // vouch for anything = "failed"
        val b = bars(n)
        val verdict = rerun match {
          case None => "failed"
          case Some(r) if r > 3 * b && r - b > 0.3 => "confirmed"
          case Some(r) if r > 1.5 * b && r - b > 0.3 => "suspect"
          case Some(_) => "scatter"
        }
        (n, v, b, rerun, verdict)
      }
    val scatterFlags = scatterResults.map { case (n, v, b, rerun, verdict) =>
      s"""\"$n\":{"sec":${fmt(v)},"bar":${fmt(b)},"rerun":${rerun.map(fmt).getOrElse("null")},"verdict":"$verdict"}"""
    }.mkString("{", ",", "}")
    // non-cleared flags surfaced as a flat list so the retained tail of
    // a truncated artifact still names them
    val suspects = scatterResults.filter(_._5 != "scatter")
      .map(t => "\"" + t._1 + "\"").mkString("[", ",", "]")
    val loadJson = load1m.map(fmt).getOrElse("null")
    println(s"""{"metric":"total","value":${fmt(total)},"unit":"sec","queries":$qs,"sf":"$sfDir","warm_dir":"$warmDir","warm_failures":$warmFailures,"runs":$runs,"timed_failures":$failed,"codegen_compiles":$timedCompiles,"load_1m":$loadJson,"canaries":$canaries,"bands_assume_sf":"$bandsAssumeSf","window_clean":$windowClean,"scatter_flags":$scatterFlags,"suspects":$suspects}""")
    // The driver's artifact retains only the TAIL of stdout (~2000
    // chars): round 9's full JSON lost its own total and half the
    // per-query numbers to the cut. Print a compact summary LAST so the
    // retained tail always carries the headline regardless of where the
    // full line is truncated.
    val top10 = results.sortBy(-_._2).take(10)
      .map { case (k, v) => s"\"" + k + "\":" + fmt(v) }.mkString("{", ",", "}")
    println(s"""{"metric":"total","value":${fmt(total)},"unit":"sec","n_queries":${results.size},"runs":$runs,"timed_failures":$failed,"codegen_compiles":$timedCompiles,"top10_slowest":$top10,"sf":"$sfDir","load_1m":$loadJson,"canaries":$canaries,"bands_assume_sf":"$bandsAssumeSf","window_clean":$windowClean,"scatter_flags":$scatterFlags,"suspects":$suspects}""")
    spark.stop()
  }
}
