package graft.perfbench

import java.io.File

import graft.perfbench.Main.{Args, OpRun, dataFiles, json, num}

/** Turns the timed passes of one run into metrics.
  *
  * `plain` passes ran untraced and give the end-to-end metrics; `traced`
  * passes (only in a `--trace 1` run) give the per-layer metrics, as
  * totals per pass unless the name says otherwise. `setupRuns` holds the
  * op runs of set-up and warm-up, `allRuns` every op run, checked.
  */
final case class Report(a: Args, cores: Int, setup: Double, setupRuns: Seq[OpRun],
                        plain: Seq[(Double, Seq[OpRun])], traced: Seq[(Double, Seq[OpRun])],
                        storedRatio: Double, tracer: Tracer, allRuns: Seq[OpRun]) {
  import Report._

  private val plainOps = plain.flatMap(_._2)
  private def kind(k: String) = plainOps.filter(_.op.kind == k).map(_.seconds)

  /** Metrics with tracing off: (name, value, unit). A pass's time is the
    * sum of its op latencies, without the benchmark's own state checks.
    * The median op latency stays in the report only: with a dozen
    * heterogeneous ops a run, it jumps between op types from run to run.
    */
  def endToEnd: Seq[(String, Double, String)] = Seq(
    ("setup_s", setup, "s"),
    ("pass_s", quantile(plain.map(_._1), 0.5), "s"))

  /** The full untraced report: every metric with its unit and sample count. */
  def full: String = {
    val ingest = setupRuns.filter(_.op.kind == "ingest").map(_.seconds)
    val m = Seq(
      ("setup_s", setup, "s", 1),
      ("pass_s", quantile(plain.map(_._1), 0.5), "s", plain.size),
      ("op_p50_s", quantile(plainOps.map(_.seconds), 0.5), "s", plainOps.size),
      ("op_p90_s", p90(plainOps.map(_.seconds)), "s", plainOps.size),
      ("ingest_s", ingest.sum, "s", ingest.size),
      ("append_p50_s", quantile(kind("append"), 0.5), "s", kind("append").size),
      ("append_p90_s", p90(kind("append")), "s", kind("append").size),
      ("probe_p50_s", quantile(kind("probe"), 0.5), "s", kind("probe").size),
      ("probe_p90_s", p90(kind("probe")), "s", kind("probe").size),
      ("failed_ratio", allRuns.count(_.error.isDefined).toDouble / allRuns.size.max(1),
        "ratio", allRuns.size),
      ("pinned_mb_peak", plainOps.map(_.pinnedMb).maxOption.getOrElse(0.0), "MB", plainOps.size),
      ("stored_bytes_ratio", storedRatio, "ratio", 1))
    val metrics = m.map { case (k, v, u, n) =>
      s"${json(k)}: {\"value\": ${num(v)}, \"unit\": ${json(u)}, \"samples\": $n}" }
    val perOp = plainOps.groupBy(_.op.id).toSeq.sortBy(_._1).map { case (id, rs) =>
      s"${json(id)}: ${num(quantile(rs.map(_.seconds), 0.5))}" }
    val failed = allRuns.filter(_.error.isDefined).map(_.op.id).distinct.map(json)
    s"""{"workload": ${json(a.workload)}, "seed": ${a.seed}, "cores": $cores, """ +
      s""""seconds": ${a.seconds}, "metrics": {${metrics.mkString(", ")}}, """ +
      s""""op_p50_s_by_op": {${perOp.mkString(", ")}}, "failed_ops": [${failed.mkString(", ")}]}"""
  }

  private val tOps = traced.flatMap(_._2)
  private val nT = traced.size.max(1).toDouble
  private val tSpans = tracer.spans.toSeq
  private def total(f: Counters => Long, spans: Seq[Span] = tSpans.filter(_.name != "check")) =
    spans.map(s => f(tracer.countersOf(s.id))).sum / nT
  private def layer(l: String) = tOps.filter(_.op.layer == l).map(_.seconds).sum / nT
  private def shape(f: PlanShape => Long) = tOps.flatMap(_.shape).map(f).sum / nT

  /** Metrics of the traced passes: (name, value, unit). */
  def perLayer: Seq[(String, Double, String)] = {
    val builds = tSpans.filter(_.name == "build")
    val probes = tOps.filter(r => r.shape.isDefined && r.op.kind == "probe")
    val scanned = if (probes.nonEmpty) probes else tOps.filter(_.shape.isDefined)
    val taskS = total(_.taskMs) / 1000
    val wall = traced.map(_._1).sum / nT
    Seq(
      ("build_s", builds.map(_.seconds).sum / nT, "s"),
      ("build_jobs", total(_.jobs, builds), "count"),
      ("plan_s", tracer.planSeconds / nT, "s"),
      ("plan_exchanges", shape(_.exchanges), "count"),
      ("plan_sorts", shape(_.sorts), "count"),
      ("plan_smj", shape(_.smj), "count"),
      ("plan_bhj", shape(_.bhj), "count"),
      ("plan_logical_rdds", shape(_.logicalRdds), "count"),
      ("jobs", total(_.jobs), "count"),
      ("stages", total(_.stages), "count"),
      ("tasks", total(_.tasks), "count"),
      ("task_s", taskS, "s"),
      ("cpu_s", total(_.cpuNs) / 1e9, "s"),
      ("gc_s", total(_.gcMs) / 1000, "s"),
      ("executor_util", taskS / (wall * cores), "ratio"),
      ("shuffle_records", total(_.shuffleRecords), "count"),
      ("shuffle_bytes", total(_.shuffleBytes), "bytes"),
      ("spill_bytes", total(_.spillBytes), "bytes"),
      ("input_records", total(_.inputRecords), "count"),
      ("input_bytes", total(_.inputBytes), "bytes"),
      ("output_files", dataFiles(new File(s"${a.runDir}/warehouse")).toDouble, "count"),
      ("output_bytes", total(_.outputBytes), "bytes"),
      ("probe_rows_scanned_per_result",
        scanned.flatMap(_.shape).map(_.scannedRows).sum.toDouble /
          scanned.map(_.resultRows).sum.max(1L), "ratio"),
      ("sink_batches", tOps.count(_.op.layer == "streaming") / nT, "count"),
      ("sink_replay_s", quantile(tOps.filter(_.op.kind == "replay").map(_.seconds), 0.5), "s"),
      ("pinned_mb", tOps.map(_.pinnedMb).maxOption.getOrElse(0.0), "MB"),
      ("tracing_overhead",
        quantile(traced.map(_._1), 0.5) / quantile(plain.map(_._1), 0.5), "ratio")
    ) ++ Layers.map { case (name, l) => (name, layer(l), "s") }
  }

  /** The traced passes' spans (with self time) and op records, as JSON. */
  def spans(runs: Seq[OpRun]): String = {
    val t0 = tSpans.map(_.start).minOption.getOrElse(0L)
    val childTime = tSpans.groupBy(_.parent).view.mapValues(_.map(s => s.end - s.start).sum).toMap
      .withDefaultValue(0L)
    val spanJson = tSpans.sortBy(_.start).map { s =>
      val c = tracer.countersOf(s.id)
      s"""{"id": ${s.id}, "name": ${json(s.name)}, "layer": ${json(s.layer)}, """ +
        s""""op": ${json(s.op)}, "parent": ${s.parent}, "start_s": ${num((s.start - t0) / 1e9)}, """ +
        s""""end_s": ${num((s.end - t0) / 1e9)}, "self_s": ${num((s.end - s.start - childTime(s.id)) / 1e9)}, """ +
        s""""jobs": ${c.jobs}, "stages": ${c.stages}, "tasks": ${c.tasks}, "task_s": ${num(c.taskMs / 1000.0)}, """ +
        s""""shuffle_bytes": ${c.shuffleBytes}, "input_bytes": ${c.inputBytes}, "output_bytes": ${c.outputBytes}}"""
    }
    val opJson = runs.map { r =>
      val plan = r.shape.map(p => s"""{"exchanges": ${p.exchanges}, "sorts": ${p.sorts}, "smj": ${p.smj}, """ +
        s""""bhj": ${p.bhj}, "logical_rdds": ${p.logicalRdds}, "scanned_rows": ${p.scannedRows}}""")
      s"""{"op": ${json(r.op.id)}, "kind": ${json(r.op.kind)}, "layer": ${json(r.op.layer)}, """ +
        s""""call": ${json(r.op.call)}, "pass": ${r.pass}, "span": ${r.spanId}, "seconds": ${num(r.seconds)}, """ +
        s""""rows": ${r.resultRows}, "pinned_mb": ${num(r.pinnedMb)}, "plan": ${plan.getOrElse("null")}, """ +
        s""""error": ${r.error.map(json).getOrElse("null")}}"""
    }
    val layers = perLayer.map { case (k, v, u) => s"${json(k)}: {\"value\": ${num(v)}, \"unit\": ${json(u)}}" }
    s"""{"workload": ${json(a.workload)}, "seed": ${a.seed}, "per_layer": {${layers.mkString(", ")}}, """ +
      s""""ops": [\n${opJson.mkString(",\n")}\n], "spans": [\n${spanJson.mkString(",\n")}\n]}"""
  }
}

object Report {
  /** Per-layer time metrics: seconds per pass in ops that call the layer. */
  val Layers: Seq[(String, String)] = Seq(
    "gates_s" -> "entry.Gates", "dedup_s" -> "llm.Dedup", "corpus_s" -> "llm.Corpus",
    "similarity_s" -> "llm.Similarity", "retrieval_s" -> "llm.Retrieval",
    "tombstones_s" -> "ops.Tombstones", "sinks_s" -> "streaming")

  /** The 90th percentile, or NaN (printed as null) below 100 samples:
    * a percentile needs at least ten samples beyond it.
    */
  def p90(xs: Seq[Double]): Double = if (xs.size < 100) Double.NaN else quantile(xs, 0.9)

  /** Linear interpolation between closest ranks; 0 for no samples. */
  def quantile(xs: Seq[Double], q: Double): Double =
    if (xs.isEmpty) 0.0
    else {
      val s = xs.sorted
      val pos = q * (s.size - 1)
      val lo = pos.toInt
      val hi = math.min(lo + 1, s.size - 1)
      s(lo) + (s(hi) - s(lo)) * (pos - lo)
    }
}
