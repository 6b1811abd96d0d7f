package graft.perfbench

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.SparkEntry
import graft.llm.{Retrieval, Similarity}
import graft.ops.{Bucketing, Snapshots, Tombstones}

/** One operation of a pass. `kind` groups ops for latency percentiles;
  * `layer` is the module whose public function the op calls, and `call`
  * that function.
  */
sealed trait Op {
  def id: String; def kind: String; def layer: String; def call: String
}

/** An op with a result: its timed work is the build (the call that
  * returns the DataFrame, eager checkpoints included) and the action
  * (the all-column fingerprint), checked against the DuckDB oracle.
  */
final case class QueryOp(id: String, kind: String, layer: String, call: String,
                         oracleSql: String, build: () => DataFrame) extends Op

/** An op that changes persisted state; `check` (untimed) returns an
  * error message when the state is not what the op should have left.
  */
final case class EffectOp(id: String, kind: String, layer: String, call: String,
                          run: () => Unit, check: () => Option[String]) extends Op

trait Workload {
  /** Ops run once before the warm-up, timed and checked like any op. */
  def setup: Seq[Op] = Nil
  /** The ops of pass `i` (from 0), in order. */
  def pass(i: Int): Seq[Op]
  /** Passes run at the timed size before timing starts. */
  def warmupPasses: Int
  /** Passes every run times; more follow while the time budget lasts,
    * up to [[maxPasses]].
    */
  def timedPasses: Int
  /** The most passes a run may make; the oracle covers all of them. */
  def maxPasses: Int = Int.MaxValue
  /** A copy of this workload on state of its own, so a traced run can
    * repeat the timed passes on the state the untraced ones saw; None
    * when passes leave no state behind and simply repeat.
    */
  def replica: Option[Workload] = None
  /** Every query op of the run, each id once. */
  def queries: Seq[QueryOp] = (setup ++ pass(0)).collect { case q: QueryOp => q }
}

object Workloads {

  def apply(name: String, spark: SparkSession, input: String,
            params: Map[String, Int], seed: Long): Workload = name match {
    case "etl_pipeline" => registry(spark, input, EtlOps ++ CorpusOps)
    case "index_serving" => new IndexServing(spark, input, params, seed)
    case other => throw new IllegalArgumentException(s"unknown workload '$other'")
  }

  /** One registry gate per cpx-etl stage (match, validate, extract,
    * transform, schema coercion and fixed-width, badgerfish, view DSL,
    * load).
    */
  val EtlOps: Seq[(String, String)] = Seq(
    "match_dispatch", "validate_clauses", "extract_enrich", "transform_path",
    "schema_coerce", "schema_fixedwidth", "badgerfish_roundtrip", "view_flagship",
    "load_merge"
  ).map(_ -> "entry.Gates")

  /** The corpus-curation stage the pipeline ends with: exact-hash dedup
    * (a shuffle behind an eager keyed checkpoint) and n-gram
    * decontamination against a held-out slice of the corpus.
    */
  val CorpusOps: Seq[(String, String)] = Seq(
    "dedup_exact_hash" -> "llm.Dedup", "corpus_decontaminate" -> "llm.Corpus")

  /** Registry gates, called through `SparkEntry.queries` with their
    * `oracleSql`; each is attributed to the layer its gate wraps.
    */
  private def registry(spark: SparkSession, input: String,
                       ops: Seq[(String, String)]): Workload = new Workload {
    private val all: Seq[Op] = ops.map { case (name, layer) =>
      val fn = SparkEntry.queries(name)
      QueryOp(name, "query", layer, s"gate:$name", SparkEntry.oracleSql(name),
        () => fn(spark, input))
    }
    def pass(i: Int): Seq[Op] = all
    // at the timed size the first pass runs about 3x slower than a warm
    // one (JIT, codegen), the second 10-30% and the third about 5%
    // slower; passes after that agree within a few percent
    val warmupPasses = 3
    val timedPasses = 2
  }
}

/** Writes beside reads on two persisted indexes. Set-up ingests an
  * IVF-PQ index over the first `base` embeddings and a BM25 index over
  * the first `base` documents. Pass `i` is one round of serving: it
  * appends batch i+1 (`batch` new ids) to both indexes through the
  * exactly-once `foreachBatch` sinks and delivers the IVF-PQ batch twice
  * (a replay the sink must skip), tombstones `deletes` seeded live
  * IVF-PQ ids, and probes both: IVF-PQ top-k over the current state and
  * BM25 as of a seeded earlier batch. Every probe is checked against
  * the DuckDB oracle of the state the index must be in at that point.
  * A run warms up on round 1 and times exactly round 2, whatever the
  * time budget, so every run measures the same state; the index tables
  * are named after `prefix`.
  */
final class IndexServing(spark: SparkSession, input: String,
                         params: Map[String, Int], seed: Long,
                         prefix: String = "bench") extends Workload {
  private val base = params("base")
  private val batch = params("batch")
  private val deletes = params("deletes")
  val warmupPasses = 1
  val timedPasses = 1
  override val maxPasses: Int = warmupPasses + timedPasses
  override lazy val replica: Option[Workload] =
    Some(new IndexServing(spark, input, params, seed, s"${prefix}_replica"))
  override def queries: Seq[QueryOp] =
    (0 until maxPasses).flatMap(pass).collect { case q: QueryOp => q }
  private val ivf = s"${prefix}_ivfpq"
  private val bm25 = s"${prefix}_bm25"

  private def emb = spark.read.parquet(s"$input/embeddings.parquet")
  private def docs = spark.read.parquet(s"$input/documents.parquet")
    .select(col("doc_id"), col("text"))
  private def ids(df: DataFrame, c: String, lo: Int, hi: Int) =
    df.where(col(c) >= lo && col(c) < hi)
  private def end(b: Int) = base + b * batch

  // the BM25 gate's literal queries and its live-set oracle builder, both
  // private to the gate registry, so the probes share the gate's oracle
  private val gates = Class.forName("graft.TextCorpusGates$")
  private val gatesObj = gates.getField("MODULE$").get(null)
  private def privateMember(name: String, args: Class[_]*) = {
    val m = gates.getDeclaredMethods.find(m => m.getName.endsWith(name) &&
      m.getParameterTypes.toSeq == args).get
    m.setAccessible(true); m
  }
  private val bm25Queries = privateMember("bm25Queries").invoke(gatesObj)
    .asInstanceOf[Seq[(String, String)]]
  private val bm25Oracle = privateMember("bm25OracleSqlOver", classOf[String])

  private def count(table: String) = spark.table(table).count()
  private def expect(what: String, got: Long, want: Long) =
    if (got == want) None else Some(s"$what: $got rows, expected $want")
  private def liveWhere(idCol: String, upTo: Int, deleted: Seq[Int]) =
    s"$idCol < $upTo" + (if (deleted.isEmpty) "" else
      s" AND $idCol NOT IN (${deleted.sorted.mkString(", ")})")

  private val ivfSink = Similarity.ivfpqSink(ivf, "vec_id", "embedding",
    nCentroids = 16, m = 4, nCodes = 8, kmeansIters = 2, nBuckets = 8)
  private val bm25Sink = Retrieval.bm25Sink(bm25, "doc_id", "text", nBuckets = 8)

  /** Seeded per round: the IVF-PQ ids deleted so far after round i,
    * and the batch the round's BM25 as-of probe reads.
    */
  private val rng = new scala.util.Random(seed)
  private val (deletedAfter, asOfBatch) = {
    var gone = Vector.empty[Int]
    (0 until maxPasses).map { i =>
      val live = (0 until end(i + 1)).filterNot(gone.toSet)
      gone ++= rng.shuffle(live).take(deletes)
      (gone, rng.nextInt(i + 1))
    }.unzip
  }

  private val tables = Seq(ivf, s"${ivf}_vectors", s"${ivf}_centroids", s"${ivf}_codebooks",
    s"${ivf}_commits", Tombstones.tableOf(ivf), Snapshots.batchesTable(ivf),
    bm25, s"${bm25}_dl", s"${bm25}_stats", s"${bm25}_commits",
    Tombstones.tableOf(bm25), Snapshots.batchesTable(bm25))

  override val setup: Seq[Op] = Seq(
    EffectOp("reset", "reset", "ops.Bucketing", "Bucketing.dropManaged",
      () => tables.foreach(Bucketing.dropManaged(spark, _)),
      () => tables.find(spark.catalog.tableExists).map(t => s"$t still exists")),
    EffectOp("ingest_ivfpq", "ingest", "llm.Similarity", "Similarity.ingestIvfPq",
      () => Similarity.ingestIvfPq(ids(emb, "vec_id", 0, base), "vec_id", "embedding", ivf,
        nCentroids = 16, m = 4, nCodes = 8, kmeansIters = 2, nBuckets = 8),
      () => expect(s"${ivf}_vectors", count(s"${ivf}_vectors"), base)),
    EffectOp("ingest_bm25", "ingest", "llm.Retrieval", "Retrieval.ingestBm25",
      () => Retrieval.ingestBm25(ids(docs, "doc_id", 0, base), "doc_id", "text", bm25,
        nBuckets = 8),
      () => expect(s"${bm25}_dl", count(s"${bm25}_dl"), base)))

  def pass(i: Int): Seq[Op] = {
    val b = i + 1
    val (lo, hi) = (end(i), end(b))
    val gone = deletedAfter(i).drop(if (i == 0) 0 else deletedAfter(i - 1).size)
    import spark.implicits._
    def ivfAppend(id: String, kind: String) =
      EffectOp(id, kind, "streaming", "Similarity.ivfpqSink",
        () => ivfSink(ids(emb, "vec_id", lo, hi), b.toLong),
        () => expect(s"${ivf}_vectors", count(s"${ivf}_vectors"), hi)
          .orElse(expect(s"${ivf}_commits", count(s"${ivf}_commits"), b)))
    Seq(
      ivfAppend(s"append_ivfpq_$b", "append"),
      ivfAppend(s"append_ivfpq_${b}_replayed", "replay"),
      EffectOp(s"append_bm25_$b", "append", "streaming", "Retrieval.bm25Sink",
        () => bm25Sink(ids(docs, "doc_id", lo, hi), b.toLong),
        () => expect(s"${bm25}_dl", count(s"${bm25}_dl"), hi)
          .orElse(expect(s"${bm25}_commits", count(s"${bm25}_commits"), b))),
      EffectOp(s"delete_ivfpq_$b", "delete", "ops.Tombstones", "Tombstones.add",
        () => { Tombstones.add(spark, ivf, gone.map(_.toLong).toDF("nn_id"), "nn_id"); () },
        () => expect(Tombstones.tableOf(ivf), count(Tombstones.tableOf(ivf)),
          deletedAfter(i).size)),
      QueryOp(s"probe_ivfpq_$b", "probe", "llm.Similarity", "Similarity.topKIvfPqIngested",
        graft.GateSupport.ivfpqTopKSql(nCentroids = 16, nProbe = 4, m = 4, nCodes = 8,
          iters = 2, dim = 64, k = 5, nCand = 20, trainWhere = s"id < $base",
          serveWhere = liveWhere("a.nn_id", hi, deletedAfter(i))),
        () => Similarity.topKIvfPqIngested(spark, ivf, emb.where(col("vec_id") < 20),
          "vec_id", "embedding", k = 5, nProbe = 4, nCandidates = 20)),
      QueryOp(s"probe_bm25_${b}_asof${asOfBatch(i)}", "probe", "llm.Retrieval",
        "Retrieval.bm25TopKIngested(asOf)",
        bm25Oracle.invoke(gatesObj, liveWhere("doc_id", end(asOfBatch(i)), Nil))
          .asInstanceOf[String],
        () => Retrieval.bm25TopKIngested(spark, bm25, bm25Queries.toDF("qid", "qtext"),
          "qid", "qtext", topK = 10, asOf = Some(asOfBatch(i).toLong))))
  }
}
