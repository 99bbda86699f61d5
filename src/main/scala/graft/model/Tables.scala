package graft.model

import java.sql.Timestamp
import org.apache.spark.sql.{DataFrame, SparkSession}

/** Typed records for the fixture tables (TESTDATA.md).
  *
  * Mirrors the reference's fixed, compile-time schemas: every stored value in
  * the reference is a registered C++ class (reference:
  * src/objectModel/headers/Object.h:25, src/tpch/headers/TPCHSchema.h:53).
  * On Spark a case class + derived Encoder plays that role.
  */
final case class Region(r_regionkey: Int, r_name: String)
final case class Nation(n_nationkey: Int, n_name: String, n_regionkey: Int)
final case class Customer(
    c_custkey: Long,
    c_name: String,
    c_nationkey: Int,
    c_acctbal: Double,
    c_mktsegment: String)
final case class Supplier(
    s_suppkey: Long,
    s_name: String,
    s_nationkey: Int,
    s_acctbal: Double)
final case class Part(
    p_partkey: Long,
    p_name: String,
    p_brand: String,
    p_type: String,
    p_size: Int,
    p_retailprice: Double)
final case class Order(
    o_orderkey: Long,
    o_custkey: Long,
    o_orderstatus: String,
    o_totalprice: Double,
    o_orderdate: Timestamp,
    o_orderpriority: String)
final case class LineItem(
    l_orderkey: Long,
    l_partkey: Long,
    l_suppkey: Long,
    l_linenumber: Int,
    l_quantity: Double,
    l_extendedprice: Double,
    l_discount: Double,
    l_tax: Double,
    l_returnflag: String,
    l_linestatus: String,
    l_shipdate: Timestamp)
final case class Event(
    event_id: Long,
    ts: Timestamp,
    user_id: Long,
    event_type: String,
    value: Double,
    props: String)
final case class Document(
    doc_id: Long,
    text: String,
    lang: String,
    source: String,
    n_chars: Long)
final case class Embedding(vec_id: Long, embedding: Array[Float], label: Int)

/** Loaders: one parquet file per "set" (reference set = (db, setName) pair of
  * pages, src/storage/headers/UserSet.h:38 — here a parquet path). Every
  * table is read through [[graft.storage.ParquetPaths]], so its schema is
  * inferred once per file and the later reads of an unchanged file run
  * no inference job: the reference's table types are registered once,
  * not re-derived per query.
  */
object Tables {
  def table(spark: SparkSession, sfDir: String, name: String): DataFrame =
    graft.storage.ParquetPaths.read(spark, s"$sfDir/$name.parquet")

  def region(spark: SparkSession, d: String): DataFrame = table(spark, d, "region")
  def nation(spark: SparkSession, d: String): DataFrame = table(spark, d, "nation")
  def customer(spark: SparkSession, d: String): DataFrame = table(spark, d, "customer")
  def supplier(spark: SparkSession, d: String): DataFrame = table(spark, d, "supplier")
  def part(spark: SparkSession, d: String): DataFrame = table(spark, d, "part")
  def orders(spark: SparkSession, d: String): DataFrame = table(spark, d, "orders")
  def lineitem(spark: SparkSession, d: String): DataFrame = table(spark, d, "lineitem")

  /** The events table, read nanos-as-long with `ts` normalized
    * ([[normalizeTs]]).
    */
  def events(spark: SparkSession, d: String): DataFrame = {
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    normalizeTs(table(spark, d, "events"))
  }

  /** The events fixture's `ts` physical type has varied across driver
    * generations: TIMESTAMP(NANOS) (which Spark 4 rejects with
    * [PARQUET_TYPE_ILLEGAL] unless read nanos-as-long), and TIMESTAMP(MICROS)
    * with isAdjustedToUTC=false (read as TIMESTAMP_NTZ). Normalize both to
    * session-local TimestampType — the session timezone is pinned to UTC, so
    * wall values are identical either way. The nanos path uses integer
    * division (a double division would lose precision at ~1e18 ns). The
    * one `ts` normalization of the batch table and the event stream.
    */
  def normalizeTs(df: DataFrame): DataFrame = {
    import org.apache.spark.sql.functions.{col, expr}
    import org.apache.spark.sql.types.{LongType, TimestampType}
    df.schema("ts").dataType match {
      case LongType => df.withColumn("ts", expr("timestamp_micros(ts div 1000)"))
      case TimestampType => df
      case _ => df.withColumn("ts", col("ts").cast(TimestampType))
    }
  }
  def documents(spark: SparkSession, d: String): DataFrame = table(spark, d, "documents")
  def embeddings(spark: SparkSession, d: String): DataFrame = table(spark, d, "embeddings")
}
