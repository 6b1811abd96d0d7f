package graft.perfbench

import java.io.File
import java.nio.file.{Files, Paths}

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.types.StructType

import graft.{GraftSession, Partitioning}

/** Runs one workload for a fixed time in one process and prints one JSON
  * result line. Started by `perfbench/run.py`, which generates the inputs
  * and owns the run directory; see that script for the command line.
  */
object Main {

  final case class Args(workload: String, seed: Long, seconds: Double, trace: Boolean,
                        runDir: String, outDir: String, params: Map[String, Int],
                        genSeconds: Double, launchMs: Long, python: String,
                        oracleScript: String, selfTest: Boolean)

  /** One executed op: its latency and outcome, plus trace details. */
  final case class OpRun(op: Op, pass: Int, seconds: Double,
                         error: Option[String], pinnedMb: Double,
                         result: Option[Fingerprint], shape: Option[PlanShape],
                         spanId: Long) {
    def resultRows: Long = result.map(_.rows).getOrElse(0L)
  }

  def parse(argv: Array[String]): Args = {
    val m = argv.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    Args(m("workload"), m("seed").toLong, m("seconds").toDouble, m("trace") == "1",
      m("run-dir"), m("out-dir"),
      m.getOrElse("params", "").split(",").filter(_.nonEmpty)
        .map { kv => val Array(k, v) = kv.split("="); k -> v.toInt }.toMap,
      m("gen-seconds").toDouble, m("launch-ms").toLong, m("python"), m("oracle-script"),
      m.getOrElse("self-test", "0") == "1")
  }

  def main(argv: Array[String]): Unit = {
    val a = parse(argv)
    val cores = Runtime.getRuntime.availableProcessors()
    val spark = GraftSession.builder("perfbench", Some(s"local[$cores]"), Some(cores))
      .config("spark.ui.enabled", "false")
      .config("spark.sql.warehouse.dir", s"${a.runDir}/warehouse")
      .config("spark.local.dir", s"${a.runDir}/local")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    spark.sparkContext.setCheckpointDir(s"${a.runDir}/checkpoints")
    val code =
      try if (a.selfTest) selfTest(spark, a) else run(spark, a, cores)
      finally spark.stop()
    sys.exit(code)
  }

  private def input(a: Args) = s"${a.runDir}/input"

  /** Runs DuckDB on the workload's oracle SQL over the generated inputs
    * and returns the result directory with the per-op errors.
    */
  private def oracle(a: Args, ops: Seq[QueryOp]): (String, Map[String, String]) = {
    val dir = s"${a.runDir}/oracle"
    val req = s"${a.runDir}/oracle_requests.json"
    val body = ops.map(o => s"${json(o.id)}: ${json(o.oracleSql)}").mkString("{", ",\n", "}")
    Files.write(Paths.get(req), body.getBytes("UTF-8"))
    val p = new ProcessBuilder(a.python, a.oracleScript, input(a), req, dir)
      .inheritIO().start()
    sys.addShutdownHook(if (p.isAlive) p.destroyForcibly())
    val rc = p.waitFor()
    require(rc == 0, s"oracle process exited with $rc")
    val errors = new com.fasterxml.jackson.databind.ObjectMapper()
      .readValue(new File(s"$dir/errors.json"), classOf[java.util.Map[String, String]])
    (dir, errors.asScala.toMap)
  }

  /** Executes one op; never throws. A query's result is fingerprinted by
    * the timed action and checked after the timed passes, against the
    * oracle.
    */
  private def runOp(spark: SparkSession, tracer: Tracer, op: Op, pass: Int,
                    schemas: mutable.Map[String, StructType]): OpRun = {
    var result: Option[Fingerprint] = None
    var shape: Option[PlanShape] = None
    val spanId = tracer.nextSpanId
    var t0, t1 = 0L
    def timedSpan[T](body: => T): T = {
      t0 = System.nanoTime()
      try tracer.span(op.id, op.layer, op.id)(body) finally t1 = System.nanoTime()
    }
    val err: Option[String] = try {
      op match {
        case q: QueryOp =>
          val (df, fq, row) = timedSpan {
            val df = tracer.span("build", op.layer, op.id)(q.build())
            val fq = Check.fingerprintQuery(df)
            (df, fq, tracer.span("action", op.layer, op.id)(fq.collect().head))
          }
          result = Some(Check.fromRow(df.columns.toSeq.sorted, row))
          schemas.getOrElseUpdate(op.call, df.schema)
          if (tracer.tracing) shape = Some(PlanShape.of(fq.queryExecution.executedPlan))
          None
        case e: EffectOp =>
          timedSpan(tracer.span("call", op.layer, op.id)(e.run()))
          tracer.span("check", "perfbench", op.id)(e.check())
      }
    } catch {
      case t: Throwable => Some(s"${t.getClass.getSimpleName}: ${t.getMessage}".take(400))
    }
    val pinned = spark.sparkContext.getRDDStorageInfo.map(i => i.memSize + i.diskSize).sum / 1e6
    Partitioning.unpersistPins()
    OpRun(op, pass, (t1 - t0) / 1e9, err, pinned, result, shape, spanId)
  }

  private def runPass(spark: SparkSession, tracer: Tracer, ops: Seq[Op], pass: Int,
                      schemas: mutable.Map[String, StructType]): (Double, Seq[OpRun]) = {
    val runs = ops.map(op => runOp(spark, tracer, op, pass, schemas))
    (runs.map(_.seconds).sum, runs)
  }

  /** Fingerprints of the oracle's results, keyed by op id. */
  private def expectations(spark: SparkSession, oracle: (String, Map[String, String]),
                           queries: Seq[QueryOp], schemas: collection.Map[String, StructType])
      : Map[String, Either[String, Fingerprint]] = {
    val (dir, errors) = oracle
    import scala.concurrent.{Await, Future}
    import scala.concurrent.ExecutionContext.Implicits.global
    val each = queries.map { q =>
      Future(q.id -> (errors.get(q.id) match {
        case Some(e) => Left(s"oracle failed: $e")
        case None => schemas.get(q.call) match {
          case None => Left(s"no engine result of ${q.call} to type the oracle's")
          case Some(st) => Right(Check.oracleFingerprint(spark, s"$dir/${q.id}.parquet", st))
        }
      }))
    }
    Await.result(Future.sequence(each), scala.concurrent.duration.Duration.Inf).toMap
  }

  /** The run's error for an op, if any: its own, or an oracle mismatch. */
  private def verdict(r: OpRun, expected: Map[String, Either[String, Fingerprint]]): Option[String] =
    r.error.orElse(r.result.flatMap { got =>
      expected.get(r.op.id) match {
        case Some(Right(want)) if want == got => None
        case Some(Right(want)) => Some(s"result differs from the oracle: got $got, want $want")
        case Some(Left(e)) => Some(e)
        case None => Some("no oracle result")
      }
    })

  def run(spark: SparkSession, a: Args, cores: Int): Int = {
    def phase(what: String): Unit = System.err.println(
      s"[perfbench] ${fmt((System.currentTimeMillis() - a.launchMs) / 1000.0)} s after launch: $what")
    phase("session ready")
    val w = Workloads(a.workload, spark, input(a), a.params, a.seed)
    val tracer = new Tracer(spark)
    val schemas = mutable.Map[String, StructType]()
    def pass(w: Workload, i: Int) = {
      val p = runPass(spark, tracer, w.pass(i), i, schemas)
      System.err.println(s"[perfbench] pass $i: ${fmt(p._1)} s; " +
        p._2.map(r => s"${r.op.id}=${fmt(r.seconds)}").mkString(" "))
      p
    }
    // set-up ops and a fixed number of warm-up passes at the timed size
    def prepare(w: Workload): Seq[OpRun] =
      w.setup.map(op => runOp(spark, tracer, op, -1, schemas)) ++
        (0 until w.warmupPasses).flatMap(pass(w, _)._2)
    // timed passes from pass `first`: at least `timedPasses`, then more
    // until the budget is spent or the workload has no more passes
    def timed(w: Workload, first: Int, budget: Double): Seq[(Double, Seq[OpRun])] = {
      val t0 = System.nanoTime()
      val out = mutable.ArrayBuffer[(Double, Seq[OpRun])]()
      while (first + out.size < w.maxPasses &&
             (out.size < w.timedPasses || (System.nanoTime() - t0) / 1e9 < budget))
        out += pass(w, first + out.size)
      out.toSeq
    }
    val setupRuns = prepare(w)
    val setup = a.genSeconds + (System.currentTimeMillis() - a.launchMs) / 1000.0
    // a traced run repeats the timed passes traced: on a replica prepared
    // the same way, and before timing starts, so both halves run as warm;
    // or, for a workload whose passes leave no state, simply again
    val replica = if (a.trace) w.replica else None
    val replicaRuns = replica.toSeq.flatMap(prepare)
    phase("set-up and warm-up done; timing starts")
    val plain = timed(w, w.warmupPasses, if (a.trace) a.seconds / 2 else a.seconds)
    val traced =
      if (!a.trace) Nil
      else {
        val first = if (replica.isEmpty) w.warmupPasses + plain.size else w.warmupPasses
        tracer.start()
        val runs = timed(replica.getOrElse(w), first, a.seconds / 2)
        tracer.stop()
        runs
      }
    // the oracle runs after the timed passes, so it competes with none
    phase("timed passes done; oracle starts")
    val queries = w.queries
    val expected = expectations(spark, oracle(a, queries), queries, schemas)
    def checked(p: Seq[(Double, Seq[OpRun])]) =
      p.map { case (s, rs) => (s, rs.map(r => r.copy(error = verdict(r, expected)))) }
    val (plainC, tracedC) = (checked(plain), checked(traced))
    val runs = (setupRuns ++ replicaRuns).map(r => r.copy(error = verdict(r, expected))) ++
      (plainC ++ tracedC).flatMap(_._2)
    val failed = runs.filter(_.error.isDefined)
    failed.foreach(r => System.err.println(s"[perfbench] op ${r.op.id} (pass ${r.pass}) FAILED: ${r.error.get}"))
    val storedRatio = dirBytes(new File(s"${a.runDir}/warehouse")).toDouble /
      dirBytes(new File(input(a)))

    val report = Report(a, cores, setup, setupRuns, plainC, tracedC, storedRatio, tracer, runs)
    new File(a.outDir).mkdirs()
    val tag = s"${a.workload}-seed${a.seed}${if (a.trace) "-trace" else ""}"
    Files.write(Paths.get(a.outDir, s"report-$tag.json"), report.full.getBytes("UTF-8"))
    if (a.trace)
      Files.write(Paths.get(a.outDir, s"trace-$tag.json"),
        report.spans(tracedC.flatMap(_._2)).getBytes("UTF-8"))
    System.err.println(s"[perfbench] report: ${report.full}")
    val metrics = if (a.trace) report.perLayer else report.endToEnd
    val body = metrics.map { case (k, v, u) => s"${json(k)}: {\"value\": ${num(v)}, \"unit\": ${json(u)}}" }
    println(s"""{"correct": ${failed.isEmpty}, "attempted": ${runs.size}, "failed": ${failed.size}, """ +
      s""""metrics": {${body.mkString(", ")}}}""")
    0
  }

  /** Checks the benchmark's own correctness gate: the first query op of
    * the workload must match its oracle, and the same result with one
    * value altered must not.
    */
  def selfTest(spark: SparkSession, a: Args): Int = {
    import org.apache.spark.sql.functions._
    val w = Workloads(a.workload, spark, input(a), a.params, a.seed)
    val q = w.pass(0).collect { case q: QueryOp => q }.head
    val df = q.build()
    val (dir, errors) = oracle(a, Seq(q))
    require(errors.isEmpty, s"oracle failed: $errors")
    val want = Check.oracleFingerprint(spark, s"$dir/${q.id}.parquet", df.schema)
    val got = Check.fingerprint(df)
    val c = df.schema.fields.find(_.dataType.isInstanceOf[org.apache.spark.sql.types.NumericType])
      .map(_.name).getOrElse(df.columns.head)
    val first = df.limit(1).withColumn(c, (col(c).cast("double") + 1).cast(df.schema(c).dataType))
    val altered = Check.fingerprint(df.exceptAll(df.limit(1)).unionByName(first))
    println(s"""{"self_test": ${json(q.id)}, "matches_oracle": ${got == want}, """ +
      s""""altered_rejected": ${altered != want}}""")
    if (got == want && altered != want) 0 else 1
  }

  def dirBytes(f: File): Long =
    if (!f.exists()) 0L
    else Files.walk(f.toPath).iterator().asScala.filter(Files.isRegularFile(_))
      .map(Files.size).sum

  def dataFiles(f: File): Int =
    if (!f.exists()) 0
    else Files.walk(f.toPath).iterator().asScala.count { p =>
      Files.isRegularFile(p) && !p.getFileName.toString.startsWith(".") &&
        !p.getFileName.toString.startsWith("_")
    }

  def json(s: String): String =
    "\"" + s.flatMap {
      case '"' => "\\\""; case '\\' => "\\\\"; case '\n' => "\\n"; case '\r' => "\\r"
      case '\t' => "\\t"; case c if c < ' ' => f"\\u${c.toInt}%04x"; case c => c.toString
    } + "\""

  def num(v: Double): String =
    if (v.isNaN || v.isInfinite) "null" else java.lang.Double.toString(v)

  def fmt(v: Double): String = f"$v%.3f"
}
