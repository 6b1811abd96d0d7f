package graft.perfbench

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Order-independent fingerprint of a result: row count plus the sum of
  * one 64-bit hash per row over every column (columns in name order).
  * Unlike `count()`, computing it forces Catalyst to evaluate every
  * output column, and equal fingerprints mean equal row multisets up to
  * hash collisions. The oracle's result gets the same fingerprint after
  * its columns are cast to the engine's column types.
  */
final case class Fingerprint(columns: Seq[String], rows: Long, hashSum: BigDecimal) {
  override def toString: String = s"rows=$rows hash=$hashSum cols=${columns.mkString(",")}"
}

object Check {

  /** Maps are not hashable in Spark; their sorted entry arrays are. */
  private def hashable(c: Column, t: DataType): Column = t match {
    case _: MapType => array_sort(map_entries(c))
    case _ => c
  }

  /** The fingerprinting query; the benchmark times its `collect`. */
  def fingerprintQuery(df: DataFrame): DataFrame = {
    val cols = df.columns.toSeq.sorted
    val h = xxhash64(cols.map(c => hashable(df.col(c), df.schema(c).dataType)): _*)
    df.select(h.cast(DecimalType(20, 0)).as("h"))
      .agg(count(lit(1)).as("n"), coalesce(sum(col("h")), lit(BigDecimal(0))).as("s"))
  }

  def fingerprint(df: DataFrame): Fingerprint = fromRow(df.columns.toSeq.sorted,
    fingerprintQuery(df).collect().head)

  def fromRow(cols: Seq[String], r: org.apache.spark.sql.Row): Fingerprint =
    Fingerprint(cols, r.getLong(0), BigDecimal(r.getDecimal(1)))

  /** Fingerprint of the oracle's parquet result, cast column by column
    * to the engine result's types (the oracle writes DuckDB types).
    */
  def oracleFingerprint(spark: SparkSession, path: String, like: StructType): Fingerprint = {
    val o = spark.read.parquet(path)
    val ocols = o.columns.toSeq.sorted
    val ecols = like.fieldNames.toSeq.sorted
    if (ocols != ecols) Fingerprint(ocols, -1L, BigDecimal(0))
    else fingerprint(o.select(ecols.map(c => o.col(c).cast(like(c).dataType).as(c)): _*))
  }
}
