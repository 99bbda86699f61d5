package graft.streaming

import java.nio.file.Paths
import java.sql.Timestamp
import org.apache.spark.sql.{DataFrame, Dataset, Encoders, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}
import graft.model.Event

/** Structured Streaming operators over the events table. The reference has
  * NO streaming at all (SURVEY.md §1.1/§2.1 — "no streaming, no watermark");
  * this is a capability upgrade: the same event-time semantics as the batch
  * queries (OperatorQueries.eventsHourly / sessionize), expressed as
  * incremental plans with watermark-bounded state.
  */
object EventStreams {

  /** hourly tumbling-window counts with a watermark bounding agg state */
  def hourlyCounts(events: DataFrame, watermark: String = "2 hours"): DataFrame =
    events
      .withWatermark("ts", watermark)
      .groupBy(window(col("ts"), "1 hour"), col("event_type"))
      .agg(count(lit(1)).as("n_events"),
        sum(col("value").cast("decimal(18,2)")).cast("double").as("sum_value"))
      .select(
        date_format(col("window.start"), "yyyy-MM-dd HH:00:00").as("hour"),
        col("event_type"), col("n_events"), col("sum_value"))

  /** sliding-window counts (1 h window, 15 min slide): each event lands in
    * exactly 4 overlapping windows; watermark bounds state to the windows
    * still open
    */
  def slidingCounts(events: DataFrame, watermark: String = "2 hours"): DataFrame =
    events
      .withWatermark("ts", watermark)
      .groupBy(window(col("ts"), "1 hour", "15 minutes"), col("event_type"))
      .agg(count(lit(1)).as("n_events"),
        sum(col("value").cast("decimal(18,2)")).cast("double").as("sum_value"))
      .select(
        date_format(col("window.start"), "yyyy-MM-dd HH:mm:ss").as("w_start"),
        col("event_type"), col("n_events"), col("sum_value"))

  final case class SessionUpdate(
      user_id: Long, session_seq: Long, n_events: Long, closed: Boolean)

  // not `private`: Catalyst codegen instantiates the state class from
  // generated Java and needs public access
  final case class SessionState(sessionSeq: Long, nEvents: Long, lastTsMs: Long)

  /** Gap-based sessionization (30 min) with explicit per-key state — the
    * streaming form of OperatorQueries.sessionize. State times out one gap
    * after the last event, emitting the closed session.
    */
  def sessionize(
      events: Dataset[Event], gapMs: Long = 30 * 60 * 1000L): Dataset[SessionUpdate] = {
    implicit val outEnc = Encoders.product[SessionUpdate]
    implicit val stateEnc = Encoders.product[SessionState]
    implicit val keyEnc = Encoders.scalaLong

    def update(
        userId: Long, rows: Iterator[Event],
        state: GroupState[SessionState]): Iterator[SessionUpdate] = {
      if (state.hasTimedOut) {
        val s = state.get
        state.remove()
        Iterator(SessionUpdate(userId, s.sessionSeq, s.nEvents, closed = true))
      } else {
        val sorted = rows.toSeq.sortBy(e => (e.ts.getTime, e.event_id))
        var s = state.getOption.getOrElse(SessionState(0L, 0L, Long.MinValue))
        val out = Seq.newBuilder[SessionUpdate]
        sorted.foreach { e =>
          val t = e.ts.getTime
          if (s.lastTsMs == Long.MinValue) s = SessionState(1L, 1L, t)
          // floor-second gap semantics, matching the batch sessionization
          // (unix_timestamp truncates to seconds)
          else if (t / 1000L - s.lastTsMs / 1000L > gapMs / 1000L) {
            out += SessionUpdate(userId, s.sessionSeq, s.nEvents, closed = true)
            s = SessionState(s.sessionSeq + 1, 1L, t)
          } else s = s.copy(nEvents = s.nEvents + 1, lastTsMs = math.max(s.lastTsMs, t))
        }
        state.update(s)
        state.setTimeoutTimestamp(s.lastTsMs + gapMs)
        out += SessionUpdate(userId, s.sessionSeq, s.nEvents, closed = false)
        out.result().iterator
      }
    }

    events
      .withWatermark("ts", "1 hour")
      .groupByKey(_.user_id)
      .flatMapGroupsWithState(
        OutputMode.Append, GroupStateTimeout.EventTimeTimeout)(update)
  }

  /** Stream-static join: enrich the event stream with a broadcast batch
    * dimension (per-user profile), then aggregate. The static side is
    * planned as a broadcast hash join against each micro-batch — no
    * streaming state for the join itself.
    */
  def enrichWithProfile(stream: DataFrame, userDim: DataFrame): DataFrame =
    stream.join(broadcast(userDim), Seq("user_id"))
      .groupBy(col("event_type"), col("heavy_user"))
      .agg(count(lit(1)).as("n_events"))

  /** Stream-stream interval join: purchases matched to the same user's
    * views from the preceding hour. Both sides carry watermarks so the
    * join state is bounded — the standard scale-safe event-correlation
    * plan (state size ∝ watermark window, not stream length).
    */
  def purchaseViewJoin(purchases: DataFrame, views: DataFrame): DataFrame = {
    val p = purchases
      .select(col("user_id").as("p_user"), col("event_id").as("purchase_id"),
        col("ts").as("p_ts"))
      .withWatermark("p_ts", "2 hours")
    val v = views
      .select(col("user_id").as("v_user"), col("event_id").as("view_id"),
        col("ts").as("v_ts"))
      .withWatermark("v_ts", "2 hours")
    p.join(v, expr(
      """p_user = v_user AND
        |p_ts >= v_ts AND p_ts <= v_ts + interval 1 hour""".stripMargin))
  }

  /** Streaming incremental upsert ("CDC apply" sink): each micro-batch is
    * compacted to its newest change per key, then merged into the running
    * snapshot keeping the row with the LARGEST (ts, event_id) — so the
    * result is identical no matter how the stream is batched, including
    * out-of-order arrival across batches. This is the foreachBatch MERGE
    * loop every table-format sink (Delta/Iceberg/Hudi upsert) runs; here
    * the snapshot is a DataFrame checkpointed per batch (the batch
    * boundary is a driver action anyway — same pattern as the reference's
    * client-side iteration, SURVEY.md §2.6).
    *
    * Scale: the merge is one groupBy per batch over snapshot ∪ batch,
    * shuffled on the key.
    *
    * Two homes for the snapshot. With `sink` set to `(catalog, db,
    * set)`, it lives in a stored set: each batch reads the set, merges,
    * and rewrites it (staged through a transient checkpoint so the read
    * and the overwrite never race) — the copy-on-write loop every
    * table-format upsert sink (Delta/Iceberg/Hudi) runs per commit, with
    * the durable copy in reliable storage and nothing driver-anchored
    * growing with the stream; a restarted pipeline keeps merging into
    * the same set. Without a sink (the oracle-query form) the snapshot
    * is a driver-referenced checkpoint chain advanced per batch — fine
    * at fixture scale, pinned to this session's executors.
    */
  def upsertSnapshot(
      stream: DataFrame,
      sink: Option[(graft.storage.SetCatalog, String, String)] = None): DataFrame = {
    def latestPerKey(df: DataFrame): DataFrame =
      df.groupBy(col("user_id"))
        .agg(max_by(
          struct(col("ts"), col("event_id"), col("event_type"), col("value")),
          struct(col("ts"), col("event_id"))).as("s"))
        .select(col("user_id"), col("s.ts").as("ts"),
          col("s.event_id").as("event_id"),
          col("s.event_type").as("event_type"), col("s.value").as("value"))
    val cols = Seq(col("user_id"), col("ts"), col("event_id"),
      col("event_type"), col("value"))
    // sink mode needs no init: the first batch creates the set, a later
    // run finds it and keeps merging into it (restart semantics)
    val changes = stream.select(cols: _*)
    var snapshot: Option[DataFrame] = None
    graft.operators.Dedup.drainAndStop(
      graft.operators.Dedup.startBatches(changes) { batch =>
        val compacted = latestPerKey(batch)
        sink match {
          case Some((cat, db, set)) =>
            val prior =
              if (cat.meta(db, set).exists(_.rows > 0))
                Some(cat.scanSet(db, set)) else None
            val merged = prior match {
              case Some(s) => latestPerKey(s.unionByName(compacted))
              case None => compacted
            }
            // stage: the merge READS the set it is about to overwrite
            val staged = merged.localCheckpoint(eager = true)
            cat.createSet(db, set, staged, policy = "none")
          case None =>
            snapshot = Some((snapshot match {
              case Some(s) => latestPerKey(s.unionByName(compacted))
              case None => compacted
            }).localCheckpoint(eager = true))
        }
      })
    // no batch arrived: the empty snapshot, with the snapshot columns
    def empty = latestPerKey(stream.sparkSession.createDataFrame(
      stream.sparkSession.sparkContext.emptyRDD[org.apache.spark.sql.Row],
      changes.schema))
    sink match {
      case Some((cat, db, set)) =>
        if (cat.meta(db, set).exists(_.rows > 0)) cat.scanSet(db, set)
        else empty
      case None => snapshot.getOrElse(empty)
    }
  }

  /** Streaming parquet sink: the full readStream → transform → writeStream
    * loop with exactly-once file output (the parquet sink commits files
    * through its sink log, so batch replays after failure do not
    * duplicate). Returns the started query; callers own lifecycle.
    */
  def writeToParquetSet(
      df: DataFrame, path: String, checkpointDir: String): org.apache.spark.sql.streaming.StreamingQuery =
    df.writeStream
      .format("parquet")
      .option("path", path)
      .option("checkpointLocation", checkpointDir)
      .outputMode(OutputMode.Append)
      .start()

  /** file-source streaming read of the events fixture (batch parquet driven
    * as a stream), for end-to-end smoke use. The stream's schema is the
    * batch read's, taken through [[graft.storage.ParquetPaths]]: inferred
    * once per fixture file, so a later stream over the unchanged file
    * starts with no inference job.
    */
  def readEventStream(spark: SparkSession, path: String): DataFrame = {
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    // FileStreamSource requires a directory; fixtures are single parquet
    // files, so stream the parent dir with a name filter
    val (dir, glob) =
      if (path.endsWith(".parquet")) {
        val p = Paths.get(path)
        (p.getParent.toString, p.getFileName.toString)
      } else (path, "*")
    // FileStreamSource needs an explicit schema; take it from a batch read of
    // the same file so the ts physical type (nanos-as-long vs micros — the
    // fixture has varied across driver generations) is whatever the batch
    // path sees, then normalize exactly like Tables.events.
    val schema = graft.storage.ParquetPaths.read(
      spark, dir, Map("pathGlobFilter" -> glob)).schema
    graft.model.Tables.normalizeTs(spark.readStream.schema(schema)
      .option("pathGlobFilter", glob).parquet(dir))
  }
}
