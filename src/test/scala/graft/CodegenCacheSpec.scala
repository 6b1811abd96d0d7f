package graft

import org.apache.spark.metrics.source.CodegenMetrics
import org.scalatest.funsuite.AnyFunSuite

/** Generated classes stay compiled across queries
  * ([[GraftSession.codegenConfs]]): running the same gates again in one
  * session reuses every class the first run compiled. With Spark's
  * default 100-entry cache one pass of these gates (about 160 classes at
  * sf0.001) evicted every class before its next use, and with stage ids
  * in class names a stage that AQE numbered differently missed the cache.
  */
class CodegenCacheSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  private val dir = "/root/testdata/sf0.001"

  /** The nine cpx-etl stage gates (one per stage), then exact-hash dedup
    * and n-gram decontamination: the corpus stage the pipeline ends with.
    */
  private val gates = Seq(
    "match_dispatch", "validate_clauses", "extract_enrich", "transform_path",
    "schema_coerce", "schema_fixedwidth", "badgerfish_roundtrip",
    "view_flagship", "load_merge", "dedup_exact_hash", "corpus_decontaminate")

  private def compiles: Long = CodegenMetrics.METRIC_COMPILATION_TIME.getCount

  // collect every column, so no projection is pruned from the plans
  private def pass(): Unit = {
    gates.foreach(g => SparkEntry.queries(g)(spark, dir).collect())
    Partitioning.unpersistPins()
  }

  test("a second pass of the etl gates compiles no generated class") {
    val start = compiles
    pass()
    val mid = compiles
    pass()
    val second = compiles - mid
    assert(second == 0,
      s"second pass compiled $second classes (first pass: ${mid - start})")
  }
}
