package graft.api

import org.apache.spark.sql.{Column, DataFrame, Dataset, Encoder, SparkSession}
import org.apache.spark.sql.functions._
import scala.reflect.ClassTag

/** Computation-graph facade — the reference's public query algebra
  * (reference: src/lambdas/headers/Computation.h:21 and the operator headers
  * cited per method) re-expressed as a thin fluent layer that compiles
  * directly to Dataset/DataFrame operations, so Catalyst owns planning.
  *
  * The reference splits every operator body into "recognized" lambdas
  * (attAccess / == / && — src/lambdas/headers/LambdaCreationFunctions.h:186-224)
  * that its planner can hash-join/partition on, vs opaque `native_lambda`s
  * (CPlusPlusLambda.h:239). We mirror that split with two surfaces:
  *   - [[TypedComp]]  — Scala-closure ("native lambda") path over Dataset[T];
  *   - [[ColComp]]    — Column-expression ("recognized lambda") path over
  *                      DataFrame, fully codegen'd and optimizable.
  */
object Graft {
  def session(spark: SparkSession): GraftSession = new GraftSession(spark)
}

final class GraftSession(val spark: SparkSession) {

  /** ScanUserSet — page-iterator scan of a stored set
    * (reference: src/builtInPDBObjects/headers/ScanUserSet.h:23).
    */
  def scan[T: Encoder](path: String): TypedComp[T] =
    TypedComp(scanDf(path).df.as[T](implicitly[Encoder[T]]))

  /** The stored set at `path`, read under its remembered schema
    * ([[graft.storage.ParquetPaths]]).
    */
  def scanDf(path: String): ColComp =
    ColComp(graft.storage.ParquetPaths.read(spark, path))

  /** executeComputations(sink1, sink2, ...) — a query *graph* with several
    * sinks sharing scans (reference:
    * src/queries/headers/QueryClient.h:131-148; multi-sink example
    * src/tests/source/TestRedditThreeWayAdaptiveJoin.cc:20-80).
    * Spark actions are single-sink, so `shared` subframes (the graph nodes
    * feeding more than one sink) are persisted for the duration of the
    * submission — "one submission, N outputs" semantics without
    * re-executing the shared scans per sink (SURVEY.md §7.4 risk 1).
    */
  def executeComputations(sinks: (DataFrame, String)*): Unit =
    executeComputationsShared(Seq.empty, sinks: _*)

  def executeComputationsShared(
      shared: Seq[DataFrame], sinks: (DataFrame, String)*): Unit = {
    shared.foreach(_.persist())
    try sinks.foreach { case (df, path) =>
      df.write.mode("overwrite").parquet(path)
    } finally shared.foreach(_.unpersist())
  }
}

/** Typed ("native lambda") operator surface. */
final case class TypedComp[T](ds: Dataset[T]) {

  /** SelectionComp — filter + project in one operator
    * (reference: src/lambdas/headers/SelectionComp.h:13-23).
    */
  def select[O: Encoder](selection: T => Boolean)(projection: T => O): TypedComp[O] =
    TypedComp(ds.filter(selection).map(projection))

  /** MultiSelectionComp — filter + flatMap; the reference flattens the
    * Vector-valued projection with a TCAP `Flatten`
    * (reference: src/lambdas/headers/MultiSelectionComp.h:16-24,
    * flatten op src/logicalPlan/headers/AtomicComputationClasses.h:219).
    */
  def multiSelect[O: Encoder](selection: T => Boolean)(
      projection: T => IterableOnce[O]): TypedComp[O] =
    TypedComp(ds.filter(selection).flatMap(projection))

  /** JoinComp equi path — `==` lambdas become hash joins
    * (reference: src/lambdas/headers/JoinComp.h:45,
    * EqualsLambda.h:74-78 key recognition). The extracted key is
    * materialized as a tuple component so Catalyst plans a hash join on it.
    */
  def equiJoin[U, K: Encoder, O: Encoder](right: TypedComp[U])(
      leftKey: T => K)(rightKey: U => K)(projection: (T, U) => O): TypedComp[O] = {
    implicit val lEnc: Encoder[(K, T)] =
      org.apache.spark.sql.Encoders.tuple(implicitly[Encoder[K]], ds.encoder)
    implicit val rEnc: Encoder[(K, U)] =
      org.apache.spark.sql.Encoders.tuple(implicitly[Encoder[K]], right.ds.encoder)
    val l = ds.map(t => (leftKey(t), t))
    val r = right.ds.map(u => (rightKey(u), u))
    val joined = l.joinWith(r, l("_1") === r("_1"), "inner")
    TypedComp(joined.map { case ((_, a), (_, b)) => projection(a, b) })
  }

  /** JoinComp native-lambda path — an opaque boolean over both inputs forces
    * the cartesian TCAP route (reference:
    * src/lambdas/headers/CPlusPlusLambda.h:315 toTCAPStringForCartesianJoin).
    */
  def join[U, O: Encoder](right: TypedComp[U])(
      selection: (T, U) => Boolean)(projection: (T, U) => O): TypedComp[O] = {
    val joined =
      ds.joinWith(right.ds, lit(true), "cross").filter((p: (T, U)) => selection(p._1, p._2))
    TypedComp(joined.map { case (a, b) => projection(a, b) })
  }

  /** AggregateComp — key projection + value projection + `Value::operator+`
    * monoid merge (reference: src/lambdas/headers/AggregateComp.h:27-34;
    * map-side combining = CombinerProcessor.h:17-20, which Spark's partial
    * aggregation reproduces for free via reduceGroups).
    */
  def aggregate[K: Encoder, V: Encoder](keyProjection: T => K)(
      valueProjection: T => V)(plus: (V, V) => V): TypedComp[(K, V)] = {
    implicit val kvEnc: Encoder[(K, V)] =
      org.apache.spark.sql.Encoders.tuple(implicitly[Encoder[K]], implicitly[Encoder[V]])
    TypedComp(ds.groupByKey(keyProjection).mapValues(valueProjection).reduceGroups(plus))
  }

  /** PartitionComp — repartition by a key lambda, no transformation
    * (reference: src/lambdas/headers/PartitionComp.h:15-26).
    */
  def partitionBy[K: Encoder](keyProjection: T => K): TypedComp[T] = {
    implicit val kvEnc: Encoder[(K, T)] =
      org.apache.spark.sql.Encoders.tuple(implicitly[Encoder[K]], ds.encoder)
    implicit val tEnc: Encoder[T] = ds.encoder
    TypedComp(ds.map(t => (keyProjection(t), t)).repartition(col("_1")).map(_._2))
  }

  /** TopKComp — global top-k as a single-group bounded-heap aggregate
    * (reference: src/queryExecution/headers/TopKComp.h:21-37,
    * TopKQueue.h:19). Spark fast path: orderBy.limit (TakeOrderedAndProject).
    */
  def topK(k: Int)(score: T => Double): TypedComp[T] = {
    implicit val enc: Encoder[T] = ds.encoder
    val agg = new graft.operators.TopKAggregator[T](k, score)
    TypedComp(ds.groupByKey(_ => 0)(org.apache.spark.sql.Encoders.scalaInt)
      .agg(agg.toColumn).flatMap(_._2))
  }

  /** WriteUserSet — materialize into a set
    * (reference: src/builtInPDBObjects/headers/WriteUserSet.h:18).
    */
  def write(path: String): Unit = ds.write.mode("overwrite").parquet(path)

  def toDF: DataFrame = ds.toDF()
}

/** Columnar ("recognized lambda") operator surface — every op stays inside
  * Catalyst expressions and whole-stage codegen.
  */
final case class ColComp(df: DataFrame) {
  def select(selection: Column, projection: Column*): ColComp =
    ColComp(df.filter(selection).select(projection: _*))
  def multiSelect(selection: Column, explodeCol: Column, keep: Column*): ColComp =
    ColComp(df.filter(selection).select((keep :+ explodeCol): _*))
  def join(right: ColComp, condition: Column, joinType: String = "inner"): ColComp =
    ColComp(df.join(right.df, condition, joinType))
  def broadcastJoin(right: ColComp, condition: Column, joinType: String = "inner"): ColComp =
    ColComp(df.join(broadcast(right.df), condition, joinType))
  def aggregate(keys: Seq[Column], aggs: Seq[Column]): ColComp =
    ColComp(df.groupBy(keys: _*).agg(aggs.head, aggs.tail: _*))
  def partitionBy(key: Column, n: Int = 0): ColComp =
    ColComp(if (n > 0) df.repartition(n, key) else df.repartition(key))
  def topK(k: Int, order: Column*): ColComp = ColComp(df.orderBy(order: _*).limit(k))
  def distinct(cols: Column*): ColComp = ColComp(df.select(cols: _*).distinct())
  def write(path: String): Unit = df.write.mode("overwrite").parquet(path)
}
