package graft

import org.apache.spark.sql.SparkSession

/** Opinionated session factory: the configuration this engine assumes.
  *
  *  - AQE on with skew-join handling (runtime re-plan + skew splitting
  *    are the 100 TB defense the static plans can't provide);
  *  - shuffle partitions sized from the environment (a cluster submit
  *    overrides; local runs default to the core count, not Spark's 200);
  *  - `graft_dot`/SQL function registration via [[functions.GraftExtensions]];
  *  - nanos-parquet tolerance (TIMESTAMP(NANOS) sources read as long);
  *  - UTC session timezone so date renders are environment-independent;
  *  - generated classes that stay compiled across queries
  *    ([[codegenConfs]]): the engine runs as many small queries, so
  *    fixed per-query costs such as Janino compiles set the wall time.
  */
object GraftSession {
  /** Size of Spark's generated-class cache
    * (`spark.sql.codegen.cache.maxEntries`, default 100). Measured
    * working sets: one pass of the nine cpx-etl stage gates plus
    * exact-hash dedup and n-gram decontamination generates about 170
    * distinct classes, one round of IVF-PQ + BM25 serving (appends, a
    * replay, deletes, probes) about 230. The cache is a Guava cache that
    * evicts per segment, so the size sits well above both. A static conf:
    * Spark reads it once per JVM, when `CodeGenerator` first
    * initializes, so only the first session a JVM builds sets it.
    */
  val CodegenCacheEntries: Int = 2000

  /** Confs that let a repeated query reuse its generated classes: the
    * cache size above, and stage ids kept out of generated class names.
    * Spark caches a class by its source, and AQE numbers whole-stage
    * codegen stages in the order it plans query stages, which can differ
    * between runs of one query; with the id in the class name a
    * renumbered stage misses the cache (measured: the two window-filter
    * stages of `extract_enrich`'s lookups compiled again on a second
    * run). With both confs, on 4 cores, a warm etl pass compiles 0
    * classes instead of 164-165 and a serving round 33 instead of 231
    * (those inline per-batch values), and metaspace used at the end of
    * a run moves by under 1.5 MB (about 160 MB etl, 168 MB serving).
    */
  val codegenConfs: Map[String, String] = Map(
    "spark.sql.codegen.cache.maxEntries" -> CodegenCacheEntries.toString,
    "spark.sql.codegen.useIdInClassName" -> "false")

  def builder(appName: String = "graft",
              master: Option[String] = None,
              shufflePartitions: Option[Int] = None): SparkSession.Builder = {
    val parts = shufflePartitions
      .orElse(sys.env.get("SPARK_GRAFT_CPUS").map(_.toInt))
      .getOrElse(Runtime.getRuntime.availableProcessors())
    val b = SparkSession.builder()
      .appName(appName)
      .withExtensions(new functions.GraftExtensions)
      .config("spark.sql.shuffle.partitions", parts.toString)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.adaptive.skewJoin.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config(codegenConfs)
    master.fold(b)(b.master)
  }
}
