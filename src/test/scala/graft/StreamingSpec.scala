package graft

import java.sql.Timestamp
import org.apache.spark.sql.functions._
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.streaming.OutputMode
import graft.model.{Event, Tables}
import graft.streaming.EventStreams

class StreamingSpec extends GraftSpecBase {

  private def ev(id: Long, user: Long, minuteOffset: Long): Event =
    Event(id, new Timestamp(1704067200000L + minuteOffset * 60000L),
      user, "view", 1.0, "{}")

  test("streaming hourly counts == batch hourly counts") {
    val stream = EventStreams.readEventStream(spark, s"$sfDir/events.parquet")
    val q = EventStreams.hourlyCounts(stream)
      .writeStream.format("memory").queryName("t_hourly")
      .outputMode("complete").start()
    try q.processAllAvailable() finally q.stop()
    val got = spark.table("t_hourly")
      .collect().map(r => (r.getString(0), r.getString(1)) -> (r.getLong(2), r.getDouble(3))).toMap
    val want = Tables.events(spark, sfDir)
      .groupBy(date_format(col("ts"), "yyyy-MM-dd HH:00:00").as("hour"), col("event_type"))
      .agg(count(lit(1)).as("n"),
        sum(col("value").cast("decimal(18,2)")).cast("double").as("s"))
      .collect().map(r => (r.getString(0), r.getString(1)) -> (r.getLong(2), r.getDouble(3))).toMap
    assert(got == want)
  }

  test("stateful sessionization splits on the 30-minute gap") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[Event]
    // user 7: events at t+0, t+10min (same session), t+50min (gap 40min →
    // new session); user 8: single event
    input.addData(ev(1, 7, 0), ev(2, 7, 10), ev(3, 7, 50), ev(4, 8, 0))
    val q = EventStreams.sessionize(input.toDS())
      .writeStream.format("memory").queryName("t_sessions")
      .outputMode(OutputMode.Append).start()
    try q.processAllAvailable() finally q.stop()
    val rows = spark.table("t_sessions")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getBoolean(3)))
    // user 7: closed session 1 (2 events) + open session 2 (1 event)
    assert(rows.contains((7L, 1L, 2L, true)))
    assert(rows.contains((7L, 2L, 1L, false)))
    assert(rows.contains((8L, 1L, 1L, false)))
  }

  test("streaming session counts == batch window-function sessionization") {
    import spark.implicits._
    val stream = EventStreams.readEventStream(spark, s"$sfDir/events.parquet").as[Event]
    val q = EventStreams.sessionize(stream)
      .writeStream.format("memory").queryName("t_sessions_full")
      .outputMode(OutputMode.Append).start()
    try q.processAllAvailable() finally q.stop()
    val got = spark.table("t_sessions_full")
      .groupBy(col("user_id")).agg(max(col("session_seq")).as("n"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap

    val batch = graft.queries.OperatorQueries.sessionize(spark, sfDir)
      .groupBy(col("user_id")).agg(max(col("session_seq")).as("n"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got == batch)
  }

  test("incremental upsert keeps newest-by-ts across out-of-order batches") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[Event]
    // batch 1: user 7 at t+20 (value 1.0), user 8 at t+0
    input.addData(Event(1, new Timestamp(1704067200000L + 20 * 60000L), 7,
      "view", 1.0, "{}"), ev(2, 8, 0))
    // batch 2 (a separate MemoryStream batch) arrives LATER but user 7's
    // event is OLDER (t+5) — must NOT overwrite; user 8's is newer (t+30)
    // — must overwrite
    input.addData(Event(3, new Timestamp(1704067200000L + 5 * 60000L), 7,
      "click", 9.0, "{}"),
      Event(4, new Timestamp(1704067200000L + 30 * 60000L), 8,
        "click", 2.0, "{}"))
    val out = EventStreams.upsertSnapshot(input.toDS().toDF())
      .collect().map(r => r.getAs[Long]("user_id") ->
        ((r.getAs[Long]("event_id"), r.getAs[String]("event_type")))).toMap
    assert(out(7L) == ((1L, "view")), s"user 7 got ${out(7L)}")
    assert(out(8L) == ((4L, "click")), s"user 8 got ${out(8L)}")
  }

  test("sink-backed upsert snapshot == in-memory snapshot, and survives restart") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val root = tempRoot("graft-upsert").toString
    val cat = new graft.storage.SetCatalog(spark, root)
    def key(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => r.getAs[Long]("user_id") ->
        ((r.getAs[Long]("event_id"), r.getAs[String]("event_type")))).toMap

    val run1 = MemoryStream[Event]
    run1.addData(Event(1, new Timestamp(1704067200000L + 20 * 60000L), 7,
      "view", 1.0, "{}"), ev(2, 8, 0))
    val snap1 = key(EventStreams.upsertSnapshot(run1.toDS().toDF(),
      sink = Some((cat, "state", "latest"))))
    assert(snap1 == Map(7L -> ((1L, "view")), 8L -> ((2L, "view"))))

    // a SECOND stream run against the same set: the out-of-order pair
    // from the in-memory test, now split across pipeline restarts — the
    // stored snapshot must carry the state between them
    val run2 = MemoryStream[Event]
    run2.addData(Event(3, new Timestamp(1704067200000L + 5 * 60000L), 7,
      "click", 9.0, "{}"),
      Event(4, new Timestamp(1704067200000L + 30 * 60000L), 8,
        "click", 2.0, "{}"))
    val snap2 = key(EventStreams.upsertSnapshot(run2.toDS().toDF(),
      sink = Some((cat, "state", "latest"))))
    assert(snap2(7L) == ((1L, "view")),
      s"older cross-restart event overwrote: ${snap2(7L)}")
    assert(snap2(8L) == ((4L, "click")), s"user 8 got ${snap2(8L)}")
  }

  test("an upsert stream with no data returns the empty snapshot, in both sink modes") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val cat = new graft.storage.SetCatalog(spark, tempRoot("graft-upsert-empty").toString)
    for (sink <- Seq(None, Some((cat, "state", "none_yet")))) {
      val snap = EventStreams.upsertSnapshot(MemoryStream[Event].toDS().toDF(), sink)
      assert(snap.columns.toSeq == Seq("user_id", "ts", "event_id", "event_type", "value"),
        s"sink $sink")
      // st_upsert's projection resolves on the empty snapshot
      assert(snap.select(col("user_id"), col("event_id").as("last_event_id"))
        .collect().isEmpty)
    }
  }

  test("streaming parquet sink lands exactly the filtered rows") {
    val out = "/tmp/graft-test-stream-sink"
    val ckpt = "/tmp/graft-test-stream-ckpt"
    def rm(p: java.io.File): Unit = {
      if (p.isDirectory) p.listFiles.foreach(rm); p.delete()
    }
    rm(new java.io.File(out)); rm(new java.io.File(ckpt))
    val stream = EventStreams.readEventStream(spark, s"$sfDir/events.parquet")
      .filter(col("event_type") === "purchase")
      .select(col("event_id"), col("user_id"), col("value"))
    val q = EventStreams.writeToParquetSet(stream, out, ckpt)
    try q.processAllAvailable() finally q.stop()
    val landed = spark.read.parquet(out)
    val expect = Tables.events(spark, sfDir)
      .filter(col("event_type") === "purchase")
    assert(landed.count() == expect.count())
    assert(landed.select(sum(col("event_id"))).collect().head.getLong(0) ==
      expect.select(sum(col("event_id"))).collect().head.getLong(0))
  }

  test("stream-static enrich == batch join") {
    val got = graft.queries.StreamingQueries.stEnrich(spark, sfDir)
      .collect().map(r => (r.getString(0), r.getBoolean(1)) -> r.getLong(2)).toMap
    val dim = Tables.events(spark, sfDir)
      .groupBy(col("user_id")).agg((count(lit(1)) >= 70L).as("heavy_user"))
    val batch = Tables.events(spark, sfDir).join(dim, Seq("user_id"))
      .groupBy(col("event_type"), col("heavy_user"))
      .agg(count(lit(1)).as("n"))
      .collect().map(r => (r.getString(0), r.getBoolean(1)) -> r.getLong(2)).toMap
    assert(got == batch && got.nonEmpty)
  }

  test("sink-backed streaming dedup pair log == in-memory mode == one-shot batch") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val docs = Tables.documents(spark, sfDir)
    val corpus = docs.filter(col("doc_id") < 25)
    // tail of the fixture + verbatim re-arrivals of 5 corpus docs: the
    // planted dups guarantee a nonempty pair log
    val arriving = docs.filter(col("doc_id") >= 25).unionByName(
      corpus.filter(col("doc_id") % 5 === 0)
        .withColumn("doc_id", col("doc_id") + 1000000L))
    val oneShot = graft.operators.Dedup
      .crossPairs(arriving, corpus, "doc_id", "text")
      .collect().map(_.toSeq).toSet

    val rows = arriving.select(col("doc_id"), col("text"))
      .as[(Long, String)].collect().toSeq
    def runStream(
        sink: Option[(graft.storage.SetCatalog, String, String)]): Set[Seq[Any]] = {
      val input = MemoryStream[(Long, String)]
      input.addData(rows.take(rows.length / 2))
      input.addData(rows.drop(rows.length / 2))
      graft.operators.Dedup.streamNearDupPairs(
        input.toDS().toDF("doc_id", "text"), corpus, "doc_id", "text",
        sink = sink)
        .collect().map(_.toSeq).toSet
    }

    val root = tempRoot("graft-pairlog").toString
    val cat = new graft.storage.SetCatalog(spark, root)
    val sinkMode = runStream(Some((cat, "logs", "pairs")))
    val memMode = runStream(None)
    assert(sinkMode == oneShot, "sink-backed pair log diverged from batch")
    assert(memMode == oneShot, "in-memory pair log diverged from batch")
    // the sidecar meta tracks the appended log without rescanning it
    assert(cat.meta("logs", "pairs").exists(_.rows == oneShot.size))
  }

  test("a near-dup stream whose batch fails releases its corpus index caches") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val corpus = Tables.documents(spark, sfDir).filter(col("doc_id") < 25)
    spark.catalog.clearCache()
    val input = MemoryStream[(Long, String)]
    input.addData((1L, "one two three four"))
    // no `text` column: the first micro-batch fails analysis
    intercept[org.apache.spark.sql.streaming.StreamingQueryException] {
      graft.operators.Dedup.streamNearDupPairs(
        input.toDS().toDF("doc_id", "body"), corpus, "doc_id", "text")
    }
    assert(spark.sharedState.cacheManager.isEmpty, "corpus index caches leaked")
  }

  test("sink-backed streaming span log == in-memory mode == one-shot batch") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val docs = Tables.documents(spark, sfDir)
    val corpus = docs.filter(col("doc_id") < 25)
    // verbatim re-arrivals of 5 corpus docs guarantee nonempty span hits
    val arriving = docs.filter(col("doc_id") >= 25).unionByName(
      corpus.filter(col("doc_id") % 5 === 0)
        .withColumn("doc_id", col("doc_id") + 1000000L))
    val root = tempRoot("graft-spanlog").toString
    val cat = new graft.storage.SetCatalog(spark, root)
    graft.operators.Dedup.persistGramIndex(
      cat, "stx", "c", corpus, "doc_id", "text", k = 8)
    val oneShot = graft.operators.Dedup
      .spansAgainstStoredIndex(arriving, cat, "stx", "c", "doc_id", "text", k = 8)
      .collect().map(_.toSeq).toSet
    assert(oneShot.nonEmpty)

    val rows = arriving.select(col("doc_id"), col("text"))
      .as[(Long, String)].collect().toSeq
    def runStream(
        sink: Option[(graft.storage.SetCatalog, String, String)]): Set[Seq[Any]] = {
      val input = MemoryStream[(Long, String)]
      input.addData(rows.take(rows.length / 2))
      input.addData(rows.drop(rows.length / 2))
      graft.operators.Dedup.streamProbe(input.toDS().toDF("doc_id", "text"),
        graft.operators.Dedup.spansAgainstStoredIndex(_, cat, "stx", "c",
          "doc_id", "text", k = 8), sink)
        .collect().map(_.toSeq).toSet
    }
    val sinkMode = runStream(Some((cat, "logs", "spans")))
    val memMode = runStream(None)
    assert(sinkMode == oneShot, "sink-backed span log diverged from batch")
    assert(memMode == oneShot, "in-memory span log diverged from batch")
    cat.removeSet("stx", "c_grams")
  }

  test("streaming domain budget: multi-batch == one-shot; shares honored; unweighted dropped") {
    import spark.implicits._
    implicit val ctx: org.apache.spark.sql.SQLContext = spark.sqlContext
    // deterministic fixture: doc i has (i % 5 + 1) tokens, domains cycle
    val rows = (1L to 60L).map { i =>
      (i, Seq.fill((i % 5).toInt + 1)("w").mkString(" "),
        Seq("en", "fr", "zh")((i % 3).toInt))
    }
    val weights = Map("en" -> 0.5, "fr" -> 0.25)
    def run(name: String, batches: Seq[Seq[(Long, String, String)]]): Set[Seq[Any]] = {
      val input = MemoryStream[(Long, String, String)]
      val out = graft.operators.Curation.streamDomainTokenBudget(
        input.toDS().toDF("doc_id", "text", "lang"),
        "doc_id", "text", "lang", weights, totalTokens = 80L, nShards = 2)
      val q = out.toDF().writeStream.format("memory").queryName(name)
        .outputMode(OutputMode.Append).start()
      try batches.foreach { b => input.addData(b: _*); q.processAllAvailable() }
      finally q.stop()
      spark.table(name).collect().map(_.toSeq).toSet
    }
    val oneShot = run("t_db_one", Seq(rows))
    val split = run("t_db_two", Seq(rows.take(17), rows.slice(17, 40), rows.drop(40)))
    assert(split == oneShot, "micro-batch boundary changed the admissions")
    // the batch-semantics reference, computed independently: per-(domain,
    // md5-shard) prefix sum in sequence order against the
    // floor(total·w/nShards) share (token counting through the operator's
    // own kernel is covered by the registry oracle at sf0.01)
    val byKey = rows.filter(r => weights.contains(r._3))
      .map { r =>
        val hx = java.security.MessageDigest.getInstance("MD5")
          .digest(r._1.toString.getBytes("UTF-8"))
          .map("%02x".format(_)).mkString
        val shard = java.lang.Long.parseLong(hx.take(15), 16) % 2
        (r._3, shard, r._1, r._2.split(" ").length.toLong)
      }.groupBy(t => (t._1, t._2))
    val expect = byKey.toSeq.flatMap { case ((dom, shard), ds) =>
      val per = math.floor(80.0 * weights(dom) / 2).toLong
      var seen = 0L
      ds.sortBy(_._3).flatMap { case (_, _, id, n) =>
        seen += n
        if (seen <= per) Some(Seq[Any](id, dom, shard, n, seen)) else None
      }
    }.toSet
    assert(oneShot == expect, "streaming admissions diverged from the fold reference")
    // zh never appears — unweighted domains are dropped whole
    assert(!oneShot.exists(_(1) == "zh"))
    assert(oneShot.nonEmpty)
  }

  test("streaming semantic dedup: multi-batch == one-shot; planted dup found in its cell") {
    import spark.implicits._
    implicit val ctx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val rnd = new scala.util.Random(7)
    def vec() = Seq.fill(64)(rnd.nextGaussian().toFloat)
    val corpus = (0L until 40L).map(i => (i, vec()))
    // arrivals: fresh vectors plus tiny perturbations of corpus ids < 5
    // (same cell, cos ~ 1) — the paraphrase-ingest case
    val arrivals = (100L until 120L).map(i => (i, vec())) ++
      corpus.take(5).map { case (i, v) =>
        (1000L + i, v.map(x => x + 0.001f * rnd.nextGaussian().toFloat))
      }
    val root = tempRoot("graft-stsem-spec")
    val cat = new graft.storage.SetCatalog(spark, root.toString)
    graft.operators.Dedup.persistSemanticIndex(cat, "t", "sem",
      corpus.toDF("vec_id", "embedding"), "vec_id", "embedding",
      nClusters = 4)
    def run(batches: Seq[Seq[(Long, Seq[Float])]]): Set[Seq[Any]] = {
      val input = MemoryStream[(Long, Seq[Float])]
      batches.foreach(b => input.addData(b: _*))
      graft.operators.Dedup.streamProbe(input.toDS().toDF("vec_id", "embedding"),
        graft.operators.Dedup.semanticProbeFn(cat, "t", "sem", "vec_id",
          "embedding", threshold = 0.4))
        .collect().map(_.toSeq).toSet
    }
    val oneShot = run(Seq(arrivals))
    val split = run(Seq(arrivals.take(8), arrivals.drop(8)))
    assert(split == oneShot,
      "micro-batch boundary changed the semantic pair set")
    // every planted near-dup lands in its source's cell and pairs with it
    val planted = oneShot.collect {
      case s if s(1).asInstanceOf[Long] >= 1000L =>
        (s(0).asInstanceOf[Long], s(1).asInstanceOf[Long])
    }
    assert((0L until 5L).forall(i => planted.contains((i, 1000L + i))),
      s"planted duplicates missing from $planted")
    // pairs are cross-corpus only: id_a is standing, id_b is arriving
    assert(oneShot.forall(s => s(0).asInstanceOf[Long] < 40L &&
      s(1).asInstanceOf[Long] >= 100L))
  }

  test("self-growing ingest dedup: first-seen wins within and across batches; index grows") {
    import spark.implicits._
    implicit val ctx: org.apache.spark.sql.SQLContext = spark.sqlContext
    // content "aaa" arrives three times: ids 1 and 5 in the first batch
    // (intra-batch dup — min id must win) and 11 in the second batch
    // (cross-batch dup — the GROWN index must drop it, which the static
    // probe form cannot do); null text carries no content and drops
    val b1 = Seq((1L, "aaa"), (2L, "bbb"), (5L, "aaa"), (6L, null: String))
    val b2 = Seq((11L, "aaa"), (12L, "ccc"), (13L, "bbb"))
    def runOnce(cat: graft.storage.SetCatalog,
        rows: Seq[(Long, String)]): Set[Long] = {
      val input = MemoryStream[(Long, String)]
      input.addData(rows: _*)
      graft.operators.Dedup.streamProbe(input.toDS().toDF("doc_id", "text"),
        graft.operators.Dedup.ingestExactDedupBatch(_, cat, "t", "ing",
          "doc_id", "text"))
        .collect().map(_.getLong(0)).toSet
    }
    val rootA = tempRoot("graft-sting-a")
    val catA = new graft.storage.SetCatalog(spark, rootA.toString)
    assert(runOnce(catA, b1 ++ b2) == Set(1L, 2L, 12L))
    // split delivery against a persistent catalog — TWO separate stream
    // runs, so the second genuinely probes the index the first grew
    // (this also pins restart survival: the state is the catalog set,
    // not anything held by the stopped query)
    val rootB = tempRoot("graft-sting-b")
    val catB = new graft.storage.SetCatalog(spark, rootB.toString)
    assert(runOnce(catB, b1) == Set(1L, 2L))
    assert(runOnce(catB, b2) == Set(12L),
      "grown index failed to drop cross-run duplicates")
    // the standing index holds exactly one fingerprint per distinct content
    assert(catA.scanSet("t", "ing_hashes").count() == 3L)
    assert(catB.scanSet("t", "ing_hashes").count() == 3L)
    // at-least-once REPLAY: re-delivering b2 must re-emit the same
    // admissions — the standing claims carry the claiming id, so doc 12
    // recognizes its own claim instead of being anti-joined away — and
    // must not grow the index
    assert(runOnce(catB, b2) == Set(12L),
      "replayed batch lost its own first-seen admissions")
    assert(catB.scanSet("t", "ing_hashes").count() == 3L)
  }

  test("ingest dedup standing sets survive compaction mid-stream") {
    import spark.implicits._
    implicit val ctx: org.apache.spark.sql.SQLContext = spark.sqlContext
    // the growing sets accumulate one file per micro-batch; compactSet
    // is the documented maintenance valve — probes after a compaction
    // must behave exactly as before it
    val root = tempRoot("graft-sting-cpt")
    val cat = new graft.storage.SetCatalog(spark, root.toString)
    def runExact(rows: Seq[(Long, String)]): Set[Long] = {
      val input = MemoryStream[(Long, String)]
      input.addData(rows: _*)
      graft.operators.Dedup.streamProbe(input.toDS().toDF("doc_id", "text"),
        graft.operators.Dedup.ingestExactDedupBatch(_, cat, "t", "ing",
          "doc_id", "text"))
        .collect().map(_.getLong(0)).toSet
    }
    assert(runExact(Seq((1L, "aaa"), (2L, "bbb"))) == Set(1L, 2L))
    assert(runExact(Seq((3L, "ccc"))) == Set(3L))
    cat.compactSet("t", "ing_hashes")
    assert(cat.scanSet("t", "ing_hashes").count() == 3L)
    // post-compaction: dups of all three pre-compaction contents drop,
    // fresh content admits, and the set keeps growing
    assert(runExact(Seq((11L, "aaa"), (12L, "ccc"), (13L, "ddd"))) ==
      Set(13L))
    assert(cat.scanSet("t", "ing_hashes").count() == 4L)
  }

  test("self-growing ingest near-dup: cross-run pairs found via the grown index") {
    import spark.implicits._
    implicit val ctx: org.apache.spark.sql.SQLContext = spark.sqlContext
    // doc 21 is doc 1 with the last word swapped: 30-word docs share
    // 28 of 30 distinct 2-gram shingles (jaccard ~0.93 >= 0.8); docs 2
    // and 22 are unrelated word streams
    val words = (0 until 30).map(i => s"w$i")
    val t1 = words.mkString(" ")
    val t21 = (words.dropRight(1) :+ "zz").mkString(" ")
    val other = (100 until 130).map(i => s"q$i").mkString(" ")
    val other2 = (200 until 230).map(i => s"r$i").mkString(" ")
    val b1 = Seq((1L, t1), (2L, other))
    val b2 = Seq((21L, t21), (22L, other2))
    def runOnce(cat: graft.storage.SetCatalog,
        rows: Seq[(Long, String)]): Set[(Long, Long)] = {
      val input = MemoryStream[(Long, String)]
      input.addData(rows: _*)
      graft.operators.Dedup.streamProbe(input.toDS().toDF("doc_id", "text"),
        graft.operators.Dedup.ingestNearDupBatch(_, cat, "t", "ind",
          "doc_id", "text"))
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    }
    // one-shot: the intra-batch self-join path finds the pair
    val rootA = tempRoot("graft-stind-a")
    val catA = new graft.storage.SetCatalog(spark, rootA.toString)
    assert(runOnce(catA, b1 ++ b2) == Set((1L, 21L)))
    // split across two stream RUNS: the pair's elements never share a
    // batch, so finding it requires the standing index the first run grew
    val rootB = tempRoot("graft-stind-b")
    val catB = new graft.storage.SetCatalog(spark, rootB.toString)
    assert(runOnce(catB, b1).isEmpty)
    assert(runOnce(catB, b2) == Set((1L, 21L)),
      "grown band index failed to pair the cross-run near-dup")
    // and the accumulated log equals the one-shot batch self-join
    val batch = graft.operators.Dedup.minhashPairs(
      (b1 ++ b2).toDF("doc_id", "text"), "doc_id", "text", threshold = 0.8)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(batch == Set((1L, 21L)))
    // at-least-once REPLAY: re-delivering b2 (whose rows the standing
    // sets already hold) must emit exactly the first attempt's pairs —
    // no self-pairs at jaccard 1, no (a,b)+(b,a) doubling — and must
    // not grow the standing sets
    val preBands = new graft.storage.SetCatalog(spark, rootB.toString)
      .scanSet("t", "ind_bands").count()
    assert(runOnce(catB, b2) == Set((1L, 21L)),
      "replayed batch diverged from its first attempt's pair set")
    assert(catB.scanSet("t", "ind_bands").count() == preBands,
      "replayed batch grew the standing band set")
    // fixture scale: the documents corpus delivered as 4 interleaved
    // batches (doc_id mod 4) through the batch kernel accumulates exactly
    // the one-shot self-join's pairs, each once
    val docs = Tables.documents(spark, sfDir).select("doc_id", "text")
    val rootC = tempRoot("graft-stind-c")
    val catC = new graft.storage.SetCatalog(spark, rootC.toString)
    val accumulated = (0 until 4).flatMap { i =>
      graft.operators.Dedup.ingestNearDupBatch(
        docs.filter(col("doc_id") % 4 === i), catC, "t", "fx",
        "doc_id", "text")
        .collect().map(r => (r.getLong(0), r.getLong(1)))
    }
    val oneShot = graft.operators.Dedup.minhashPairs(docs, "doc_id", "text")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(oneShot.nonEmpty && accumulated.size == oneShot.size &&
      accumulated.toSet == oneShot)
  }

  test("streaming quality mix: frozen tercile cuts == lmQualityBuckets on the calibration slice") {
    import spark.implicits._
    import org.apache.spark.sql.functions.{col, lit, min, when}
    // synthetic corpus: reference docs all in-vocab; calibration docs mix
    // in-vocab text with per-doc OOV tokens so scores spread across tiers
    val rnd = new scala.util.Random(11)
    val vocab = Vector("alpha", "beta", "gamma", "delta", "eps", "zeta")
    def text(n: Int, oov: Int) =
      (Seq.fill(n)(vocab(rnd.nextInt(vocab.size))) ++
        (0 until oov).map(j => s"xq${rnd.nextInt(50)}_$j")).mkString(" ")
    val ref = (0L until 10L).map(i => (i, text(30, 0))).toDF("doc_id", "text")
    val calib = (10L until 40L).map(i => (i, text(10, (i % 7).toInt)))
      .toDF("doc_id", "text")
    // the capstone's standing state: score the calibration slice under
    // the reference model, freeze the two exact-rank tercile cuts
    val calScored = graft.operators.TextAnalysis
      .lmScore(calib, ref, "doc_id", "text")
      .select(col("doc_id"), col("lm_score")).localCheckpoint(true)
    val Seq(t1, t2) = Seq(1, 2).map { i =>
      val r = graft.operators.Curation
        .quantileKeep(calScored, "lm_score", i.toDouble / 3)
        .agg(min(col("lm_score"))).collect()(0)
      if (r.isNullAt(0)) Double.NegativeInfinity else r.getDouble(0)
    }
    // classifying the calibration docs against their OWN frozen cuts must
    // reproduce lmQualityBuckets exactly — same thresholds, same
    // ties-to-the-better-tier CASE — or the capstone's arrival tiers
    // drift from the batch operator's semantics
    val got = calScored.withColumn("tier",
        when(col("lm_score") >= t1, lit(0))
          .when(col("lm_score") >= t2, lit(1)).otherwise(lit(2)))
      .collect().map(r => r.getLong(0) -> r.getInt(2)).toMap
    val want = graft.operators.TextAnalysis
      .lmQualityBuckets(calib, ref, "doc_id", "text")
      .collect().map(r => r.getLong(0) -> r.getInt(2)).toMap
    assert(got == want, "frozen-cut CASE diverged from lmQualityBuckets")
    assert(got.values.toSet == Set(0, 1, 2),
      s"fixture failed to spread scores across all three tiers: $got")
    assert(t2 <= t1, "tercile cuts out of order")
  }

  test("streaming quality mix end-to-end: admissions are prefix-closed within each tier share") {
    // full staged path on the fixture (value equivalence to the batch
    // reference is the registry oracle's job at sf0.01 — here pin the
    // ADMISSION invariants the oracle's hash can't explain on failure)
    val out = graft.queries.StreamingQueries.stPipeQualityMix(spark, sfDir)
    assert(out.columns.toSeq ==
      Seq("doc_id", "domain", "shard", "n_tokens", "cum_tokens"))
    val rows = out.collect().map(r =>
      (r.getLong(0), r.getString(1), r.getLong(2), r.getLong(3), r.getLong(4)))
    assert(rows.nonEmpty, "no admissions at fixture scale")
    val weights = Map("0" -> 0.6, "1" -> 0.3, "2" -> 0.1)
    assert(rows.map(_._2).toSet.subsetOf(weights.keySet))
    // the head tier gets the largest share; it must be represented
    assert(rows.exists(_._2 == "0"), "head tier absent from admissions")
    rows.groupBy(r => (r._2, r._3)).foreach { case ((dom, shard), g) =>
      val share = math.floor(30000.0 * weights(dom) / 8).toLong
      val seq = g.sortBy(_._1)
      // within a (tier, shard) writer stream: positive token counts, a
      // consistent running sum over the ADMITTED docs (skipped arrivals
      // still consumed budget, so cum may jump — but never decrease),
      // and the share never exceeded
      assert(seq.forall(_._4 > 0))
      seq.foldLeft(0L) { case (prev, (_, _, _, n, cum)) =>
        assert(cum >= prev + n, s"cum_tokens not cumulative in ($dom,$shard)")
        cum
      }
      assert(seq.last._5 <= share,
        s"stream ($dom,$shard) exceeded its share $share")
    }
  }

  test("ingest near-dup recap mid-stream: probes identical, census bounded, ingest continues") {
    import spark.implicits._
    implicit val ctx: org.apache.spark.sql.SQLContext = spark.sqlContext
    // same near-dup fixture as the growing-index test: 1~21 is the true
    // pair, split so it needs the standing index; the recap runs BETWEEN
    // the two runs, so the post-recap probe exercises the new generation
    val words = (0 until 30).map(i => s"w$i")
    val t1 = words.mkString(" ")
    val t21 = (words.dropRight(1) :+ "zz").mkString(" ")
    val other = (100 until 130).map(i => s"q$i").mkString(" ")
    val other2 = (200 until 230).map(i => s"r$i").mkString(" ")
    def runOnce(cat: graft.storage.SetCatalog,
        rows: Seq[(Long, String)]): Set[(Long, Long)] = {
      val input = MemoryStream[(Long, String)]
      input.addData(rows: _*)
      graft.operators.Dedup.streamProbe(input.toDS().toDF("doc_id", "text"),
        graft.operators.Dedup.ingestNearDupBatch(_, cat, "t", "ind",
          "doc_id", "text"))
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    }
    val root = tempRoot("graft-stind-recap")
    val cat = new graft.storage.SetCatalog(spark, root.toString)
    assert(runOnce(cat, Seq((1L, t1), (2L, other))).isEmpty)
    val preBands = cat.scanSet("t", "ind_bands").count()
    val preSets = cat.scanSet("t", "ind_sets").collect()
      .map(r => (r.getLong(0), r.getSeq[String](1).toSet)).toSet
    graft.operators.Dedup.recapIngestNearDupIndex(cat, "t", "ind")
    // no bucket on this fixture is hot at the default cap, so the recap
    // is pure compaction: both generations hold identical logical rows
    assert(cat.scanSet("t", "ind_bands").count() == preBands)
    assert(cat.scanSet("t", "ind_sets").collect()
      .map(r => (r.getLong(0), r.getSeq[String](1).toSet)).toSet == preSets)
    // the recapped generation still probes AND still ingests: the
    // cross-run pair is found through it and the sets keep growing
    assert(runOnce(cat, Seq((21L, t21), (22L, other2))) == Set((1L, 21L)),
      "recapped index failed the cross-run probe")
    assert(cat.scanSet("t", "ind_sets").count() == 4L,
      "recapped index stopped accepting appends")
  }

  test("ingest near-dup recap: hot-bucket cap demonstrably bounds the candidate blowup") {
    import spark.implicits._
    implicit val ctx: org.apache.spark.sql.SQLContext = spark.sqlContext
    // adversarial corpus: every doc is the SAME boilerplate block plus a
    // few unique tail words — pairwise jaccard sits far below 0.8 (no
    // true pairs) but the minhash signature is dominated by the shared
    // shingles, so many band buckets collect ALL docs: the quadratic
    // candidate regime the cap exists for
    val boiler = (0 until 40).map(i => s"b$i").mkString(" ")
    def doc(i: Long) = (i,
      boiler + " " + (0 until 14).map(j => s"u${i}_$j").mkString(" "))
    val docs = (0L until 24L).map(doc)
    val root = tempRoot("graft-stind-hot")
    val cat = new graft.storage.SetCatalog(spark, root.toString)
    val input = MemoryStream[(Long, String)]
    input.addData(docs: _*)
    val pairs = graft.operators.Dedup.streamProbe(input.toDS().toDF("doc_id", "text"),
      graft.operators.Dedup.ingestNearDupBatch(_, cat, "t", "hot",
        "doc_id", "text"))
      .collect()
    assert(pairs.isEmpty, s"boilerplate docs are not true near-dups: ${pairs.toSeq}")
    val preMax = graft.operators.Dedup.ingestBandCensus(cat, "t", "hot")
      .agg(max(col("bucket_n"))).collect()(0).getLong(0)
    // not all 24: a doc whose band slice has one unique-shingle minimum
    // leaves that bucket — but the boilerplate still concentrates a
    // majority far above the cap, which is all the blowup needs
    assert(preMax >= 12L,
      s"fixture failed to produce a hot bucket (max=$preMax)")
    graft.operators.Dedup.recapIngestNearDupIndex(cat, "t", "hot", maxBucket = 5)
    val census = graft.operators.Dedup.ingestBandCensus(cat, "t", "hot")
      .collect().map(_.getLong(2))
    assert(census.forall(_ <= 5L),
      s"recap left buckets above the cap: ${census.max}")
    // candidate bound, measured through the probe itself: one arriving
    // boilerplate doc against the capped generation generates candidates
    // only through surviving (≤ cap) buckets
    val arrival = Seq(doc(100L)).toDF("doc_id", "text")
    val (nSets, nBanded) = graft.operators.Dedup.bandFrames(
      arrival, "doc_id", graft.functions.TextFunctions.wordShingles(col("text"), 2),
      128, 32)
    // drop the ≥2-band/jaccard filters' help: count raw standing rows the
    // band join pulls — the per-arrival cost the census bounds
    val raw = cat.scanSet("t", "hot_bands")
      .join(nBanded.select(col("band"), col("bkey")), Seq("band", "bkey"))
      .count()
    assert(raw <= 5L * 32L,
      s"capped probe still pulled $raw standing rows (> cap x bands)")
    nSets.unpersist(); nBanded.unpersist()
    // the same cap on the one-shot candidate stage: the template buckets
    // drop, so capped candidates fall below the uncapped count
    def candidates(maxBucket: Int): Long = {
      val (ws, banded, cand) = graft.operators.Dedup.lshCandidateFrames(
        docs.toDF("doc_id", "text"), "doc_id",
        graft.functions.TextFunctions.wordShingles(col("text"), 2),
        128, 32, maxBucket)
      try cand.count() finally { ws.unpersist(); banded.unpersist() }
    }
    val uncapped = candidates(Int.MaxValue)
    val capped = candidates(5)
    assert(capped < uncapped, s"cap 5 kept $capped of $uncapped candidates")
  }

  test("ingest near-dup under INTERLEAVED delivery: pair found when the standing id is larger") {
    import spark.implicits._
    implicit val ctx: org.apache.spark.sql.SQLContext = spark.sqlContext
    // the r15 soak caught exactly this: batches split by doc_id modulo
    // deliver interleaved ids, so a cross-batch pair's STANDING element
    // can carry the larger id — an orientation filter (instead of
    // canonicalization) drops it silently
    val words = (0 until 30).map(i => s"w$i")
    val t21 = words.mkString(" ")
    val t1 = (words.dropRight(1) :+ "zz").mkString(" ")
    val other = (100 until 130).map(i => s"q$i").mkString(" ")
    def runOnce(cat: graft.storage.SetCatalog,
        rows: Seq[(Long, String)]): Set[(Long, Long)] = {
      val input = MemoryStream[(Long, String)]
      input.addData(rows: _*)
      graft.operators.Dedup.streamProbe(input.toDS().toDF("doc_id", "text"),
        graft.operators.Dedup.ingestNearDupBatch(_, cat, "t", "ile",
          "doc_id", "text"))
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    }
    val root = tempRoot("graft-stind-ile")
    val cat = new graft.storage.SetCatalog(spark, root.toString)
    // doc 21 arrives FIRST (grows the index), its near-dup doc 1 arrives
    // later with a smaller id — the pair must still emit, canonically
    assert(runOnce(cat, Seq((21L, t21), (22L, other))).isEmpty)
    assert(runOnce(cat, Seq((1L, t1))) == Set((1L, 21L)),
      "interleaved-id cross pair dropped or flipped")
  }

  test("auto-recap policy: growth-gated census, census-gated recap, census stays bounded") {
    import spark.implicits._
    // the boilerplate fixture again, driven through the batch kernel
    // with the session policy ON: the census must stay bounded across
    // batches with NO manual maintenance call, and clean censuses must
    // stamp (not rewrite)
    val boiler = (0 until 40).map(i => s"b$i").mkString(" ")
    def docs(lo: Long, hi: Long) = (lo until hi).map(i => (i,
      boiler + " " + (0 until 14).map(j => s"u${i}_$j").mkString(" ")))
      .toDF("doc_id", "text")
    val root = tempRoot("graft-autorecap")
    val cat = new graft.storage.SetCatalog(spark, root.toString)
    spark.conf.set("spark.graft.dedup.ingest.autoRecap.growth", "0.5")
    spark.conf.set("spark.graft.dedup.ingest.autoRecap.maxBucket", "10")
    try {
      (0 until 4).foreach { i =>
        graft.operators.Dedup.ingestNearDupBatch(
          docs(i * 12L, (i + 1) * 12L), cat, "t", "ar", "doc_id", "text")
          .count()
        // the policy's bound: hot buckets never exceed
        // cap x (1 + growth) + one batch's own contribution
        val worst = graft.operators.Dedup.ingestBandCensus(cat, "t", "ar")
          .agg(org.apache.spark.sql.functions.max(col("bucket_n")))
          .collect()(0).getLong(0)
        assert(worst <= 10L * 2L + 12L,
          s"auto-recap let a bucket grow to $worst after batch $i")
      }
      // the growth dial reads fresh after the last stamp/recap
      assert(graft.operators.Dedup.ingestGrowthFraction(cat, "t", "ar") < 1.0)
    } finally {
      spark.conf.unset("spark.graft.dedup.ingest.autoRecap.growth")
      spark.conf.unset("spark.graft.dedup.ingest.autoRecap.maxBucket")
    }
  }

  test("ingest exact dedup under UNORDERED delivery: one representative per content") {
    import spark.implicits._
    implicit val ctx: org.apache.spark.sql.SQLContext = spark.sqlContext
    // batches arrive with ids out of order (the scaladoc's weaker
    // invariant: one representative per content — NOT minimum id)
    val root = tempRoot("graft-sting-uno")
    val cat = new graft.storage.SetCatalog(spark, root.toString)
    def runOnce(rows: Seq[(Long, String)]): Set[Long] = {
      val input = MemoryStream[(Long, String)]
      input.addData(rows: _*)
      graft.operators.Dedup.streamProbe(input.toDS().toDF("doc_id", "text"),
        graft.operators.Dedup.ingestExactDedupBatch(_, cat, "t", "uno",
          "doc_id", "text"))
        .collect().map(_.getLong(0)).toSet
    }
    val first = runOnce(Seq((11L, "aaa"), (12L, "bbb")))
    val second = runOnce(Seq((1L, "aaa"), (2L, "ccc"), (3L, "bbb")))
    assert(first == Set(11L, 12L))
    // 1 and 3 duplicate earlier-arrived content under SMALLER ids: they
    // drop (first-seen wins by arrival, not by id)
    assert(second == Set(2L))
    // exactly one representative per distinct content, and the standing
    // index holds exactly one claim per content
    assert((first ++ second).size == 3)
    assert(cat.scanSet("t", "uno_hashes").count() == 3L)
  }

  test("ingest near-dup lookup prefers the arrival copy deterministically on id reuse") {
    import spark.implicits._
    // id 1 exists on BOTH sides with DIFFERENT content (id reuse outside
    // the replay contract, where contents are identical): the arrival
    // copy must win every run — dropDuplicates kept an arbitrary one
    val nSets = Seq((1L, Seq("a", "b"))).toDF("id", "ws")
    val sSets = Seq((1L, Seq("x", "y")), (2L, Seq("c", "d")))
      .toDF("id", "ws")
    val candIds = Seq(1L, 2L).toDF("id")
    val got = graft.operators.Dedup
      .ingestNearDupLookup(nSets, Some(sSets), candIds)
      .collect().map(r => r.getLong(0) -> r.getSeq[String](1)).toMap
    assert(got == Map(1L -> Seq("a", "b"), 2L -> Seq("c", "d")),
      s"lookup not arrival-preferring: $got")
  }

  test("semantic probe stream sees a mid-stream append (live-index contract)") {
    import spark.implicits._
    implicit val ctx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val rnd = new scala.util.Random(11)
    def vec() = Seq.fill(64)(rnd.nextGaussian().toFloat)
    def near(v: Seq[Float]) = v.map(x => x + 0.001f * rnd.nextGaussian().toFloat)
    val corpus = (0L until 30L).map(i => (i, vec()))
    val appended = (200L until 205L).map(i => (i, vec()))
    val root = tempRoot("graft-stsemlive")
    val cat = new graft.storage.SetCatalog(spark, root.toString)
    graft.operators.Dedup.persistSemanticIndex(cat, "t", "sem",
      corpus.toDF("vec_id", "embedding"), "vec_id", "embedding", nClusters = 4)
    val input = MemoryStream[(Long, Seq[Float])]
    val probeFn = graft.operators.Dedup.semanticProbeFn(
      cat, "t", "sem", "vec_id", "embedding", 0.4)
    def loads() = cat.memoDecodes("t", "sem_centroids")
    val (q, result) = graft.operators.Dedup.startProbe(
      input.toDS().toDF("vec_id", "embedding"), probeFn,
      sink = Some((cat, "t", "sem_live_pairs")))
    try {
      // batch 1 pairs against the build generation
      input.addData((1003L, near(corpus(3)._2)))
      q.processAllAvailable()
      // the append lands MID-STREAM, while the probe query is live
      graft.operators.Dedup.appendToSemanticIndex(cat, "t", "sem",
        appended.toDF("vec_id", "embedding"), "vec_id", "embedding")
      // batch 2: a near-copy of an APPENDED vector (invisible under a
      // frozen-at-start plan) plus another build-generation near-copy
      input.addData((1200L, near(appended.head._2)),
        (1004L, near(corpus(4)._2)))
      q.processAllAvailable()
    } finally q.stop()
    val pairs = result().select("id_a", "id_b").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(pairs.contains((3L, 1003L)), s"build-generation pair lost: $pairs")
    assert(pairs.contains((200L, 1200L)),
      "mid-stream append invisible to the live probe stream — " +
        s"the frozen-plan failure mode; got $pairs")
    assert(pairs.contains((4L, 1004L)),
      s"post-append probe lost a build-generation pair: $pairs")
    // batch 1 ran before ids >= 200 existed: no pair may cite them as
    // standing for arrival 1003
    assert(!pairs.contains((200L, 1003L)))
    // the codebook cache must NOT have defeated append visibility: the
    // append touched only the vectors set, so both batches (plus the
    // harness's schema probe) ran under ONE collected codebook — and
    // the appended pair was still found through the re-planned vectors
    assert(loads() == 1,
      s"append-only maintenance re-collected the codebook ${loads()}x")
  }

  test("semantic probe stream survives a mid-stream rebuild (new generation, no missing files)") {
    import spark.implicits._
    implicit val ctx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val rnd = new scala.util.Random(12)
    def vec() = Seq.fill(64)(rnd.nextGaussian().toFloat)
    def near(v: Seq[Float]) = v.map(x => x + 0.001f * rnd.nextGaussian().toFloat)
    val corpus = (0L until 30L).map(i => (i, vec()))
    val root = tempRoot("graft-stsemswap")
    val cat = new graft.storage.SetCatalog(spark, root.toString)
    graft.operators.Dedup.persistSemanticIndex(cat, "t", "sem",
      corpus.toDF("vec_id", "embedding"), "vec_id", "embedding", nClusters = 4)
    val input = MemoryStream[(Long, Seq[Float])]
    val probeFn = graft.operators.Dedup.semanticProbeFn(
      cat, "t", "sem", "vec_id", "embedding", 0.4)
    def loads() = cat.memoDecodes("t", "sem_centroids")
    val (q, result) = graft.operators.Dedup.startProbe(
      input.toDS().toDF("vec_id", "embedding"), probeFn,
      sink = Some((cat, "t", "sem_swap_pairs")))
    try {
      input.addData((1005L, near(corpus(5)._2)))
      q.processAllAvailable()
      // rebuild MID-STREAM: swapSetGroup DELETES the old generation's
      // vector/centroid directories — a probe plan frozen at stream
      // start would fail on the renamed-away files at the next batch
      graft.operators.Dedup.rebuildSemanticIndex(cat, "t", "sem")
      input.addData((1006L, near(corpus(6)._2)))
      q.processAllAvailable()
    } finally q.stop()
    val pairs = result().select("id_a", "id_b").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(pairs.contains((5L, 1005L)), s"pre-rebuild pair lost: $pairs")
    assert(pairs.contains((6L, 1006L)),
      "probe after a mid-stream rebuild failed to pair against the " +
        s"new generation: $pairs")
    // the rebuild swapped a NEW codebook generation in: the sidecar
    // stamp changed, so the cache re-collected exactly once more
    assert(loads() == 2,
      s"rebuild should invalidate the codebook cache once, saw ${loads()}")
  }

  test("codebook cache reloads across a rebuild even when the sidecar mtime is pinned equal") {
    // The generation witness is the EXPLICIT sidecar counter, not the
    // file mtime: two sidecar rewrites inside one timestamp granule (a
    // rebuild swap landing within the same millisecond as the prior
    // write, or a coarse-mtime filesystem) must still invalidate the
    // probe stream's codebook cache. The mtime collision is forced here
    // by setting the new generation's sidecar mtime BACK to the old
    // generation's — under the old mtime witness the cache would keep
    // the stale codebook and assign batch-2 arrivals under pre-rebuild
    // centroids.
    import spark.implicits._
    implicit val ctx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val rnd = new scala.util.Random(13)
    def vec() = Seq.fill(64)(rnd.nextGaussian().toFloat)
    def near(v: Seq[Float]) = v.map(x => x + 0.001f * rnd.nextGaussian().toFloat)
    val corpus = (0L until 30L).map(i => (i, vec()))
    val root = tempRoot("graft-stsemmtime")
    val cat = new graft.storage.SetCatalog(spark, root.toString)
    graft.operators.Dedup.persistSemanticIndex(cat, "t", "sem",
      corpus.toDF("vec_id", "embedding"), "vec_id", "embedding", nClusters = 4)
    val sidecar = java.nio.file.Paths.get(s"$root/t.sem_centroids.meta")
    val input = MemoryStream[(Long, Seq[Float])]
    val probeFn = graft.operators.Dedup.semanticProbeFn(
      cat, "t", "sem", "vec_id", "embedding", 0.4)
    def loads() = cat.memoDecodes("t", "sem_centroids")
    val (q, result) = graft.operators.Dedup.startProbe(
      input.toDS().toDF("vec_id", "embedding"), probeFn,
      sink = Some((cat, "t", "sem_mtime_pairs")))
    try {
      input.addData((1007L, near(corpus(7)._2)))
      q.processAllAvailable()
      val pinned = java.nio.file.Files.getLastModifiedTime(sidecar)
      graft.operators.Dedup.rebuildSemanticIndex(cat, "t", "sem")
      // force the mtime collision the explicit counter exists for
      java.nio.file.Files.setLastModifiedTime(sidecar, pinned)
      assert(java.nio.file.Files.getLastModifiedTime(sidecar) == pinned,
        "test harness failed to pin the sidecar mtime")
      input.addData((1008L, near(corpus(8)._2)))
      q.processAllAvailable()
    } finally q.stop()
    val pairs = result().select("id_a", "id_b").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(pairs.contains((7L, 1007L)), s"pre-rebuild pair lost: $pairs")
    assert(pairs.contains((8L, 1008L)),
      s"post-rebuild probe under a pinned mtime lost its pair: $pairs")
    assert(loads() == 2,
      "mtime-pinned rebuild did not invalidate the codebook cache — " +
        s"the stale-generation hole is back (loads=${loads()})")
  }

  test("exact probe stream picks up a re-persisted index generation mid-stream") {
    import spark.implicits._
    implicit val ctx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val root = tempRoot("graft-stexlive")
    val cat = new graft.storage.SetCatalog(spark, root.toString)
    graft.operators.Dedup.persistExactIndex(cat, "t", "ex",
      Seq("aaa", "bbb").toDF("txt"), "txt", numBuckets = 2)
    val input = MemoryStream[(Long, String)]
    val (q, result) = graft.operators.Dedup.startProbe(
      input.toDS().toDF("doc_id", "txt"),
      graft.operators.Dedup.exactAgainstStoredIndex(_, cat, "t", "ex", "doc_id", "txt"),
      sink = Some((cat, "t", "ex_live_flags")))
    try {
      input.addData((1L, "ccc"))
      q.processAllAvailable()
      // the index is re-persisted mid-stream with "ccc" now a member
      graft.operators.Dedup.persistExactIndex(cat, "t", "ex",
        Seq("aaa", "bbb", "ccc").toDF("txt"), "txt", numBuckets = 2)
      input.addData((2L, "ccc"))
      q.processAllAvailable()
    } finally q.stop()
    val flags = result().collect()
      .map(r => r.getLong(0) -> r.getBoolean(1)).toMap
    assert(flags == Map(1L -> false, 2L -> true),
      s"per-batch index re-resolution broken: $flags")
  }

  test("IVF-PQ search stream sees a mid-stream append and survives a mid-stream rebuild") {
    // The live-index contract on the RETRIEVAL side: a standing search
    // stream over a maintained IVF-PQ index. Batch 1 ranks against the
    // build generation; an append lands mid-stream (new vectors visible
    // to batch 2 without a model reload — appends never retrain); a
    // rebuild lands mid-stream (old code/model directories DELETED by
    // the swap) and batch 3 searches the new generation with exactly
    // one model re-collect.
    import spark.implicits._
    implicit val ctx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val rnd = new scala.util.Random(14)
    def vec() = Seq.fill(64)(rnd.nextGaussian().toFloat)
    def near(v: Seq[Float]) = v.map(x => x + 0.001f * rnd.nextGaussian().toFloat)
    val corpus = (0L until 40L).map(i => (i, vec()))
    val appended = (200L until 210L).map(i => (i, vec()))
    val root = tempRoot("graft-stivfpqsearch")
    val cat = new graft.storage.SetCatalog(spark, root.toString)
    graft.operators.SimilaritySearch.buildIndex(spark, cat, "t", "ix",
      corpus.toDF("vec_id", "embedding"), nCentroids = 16, m = 16)
    val input = MemoryStream[(Long, Seq[Float])]
    // the models' decode counts: stream batches, batch searches and
    // appends all read the one generation memo of the catalog
    def loads() = (cat.memoDecodes("t", "ix_centroids"),
      cat.memoDecodes("t", "ix_codebooks"))
    val (q, result) = graft.operators.Dedup.startProbe(
      input.toDS().toDF("vec_id", "embedding"),
      batch => graft.operators.SimilaritySearch.searchIndex(spark, cat,
        "t", "ix", batch, k = 3),
      sink = Some((cat, "t", "ix_hits")))
    try {
      // batch 1: a near-copy of corpus(5) must retrieve 5 at rank 1
      input.addData((1005L, near(corpus(5)._2)))
      q.processAllAvailable()
      graft.operators.SimilaritySearch.appendToIndex(spark, cat,
        "t", "ix", appended.toDF("vec_id", "embedding"))
      // a batch search between stream batches shares the stream's models
      val batchTop = graft.operators.SimilaritySearch.searchIndex(spark,
        cat, "t", "ix", Seq((1201L, near(appended(1)._2)))
          .toDF("vec_id", "embedding"), k = 3)
        .filter(col("rank") === 1).collect().map(_.getLong(2))
      assert(batchTop.sameElements(Seq(201L)),
        s"batch search after the append missed it: ${batchTop.toSeq}")
      // batch 2: a near-copy of an APPENDED vector — invisible under a
      // frozen-at-start plan (its codes are new files in the cell dirs)
      input.addData((1200L, near(appended.head._2)))
      q.processAllAvailable()
      val loadsBeforeRebuild = loads()
      graft.operators.SimilaritySearch.rebuildIndex(spark, cat, "t", "ix")
      // batch 3: the old generation's directories are renamed away —
      // a frozen plan fails on missing files; the probe must re-plan
      // AND re-collect the swapped models
      input.addData((1006L, near(corpus(6)._2)))
      q.processAllAvailable()
      assert(loadsBeforeRebuild == ((1, 1)),
        s"an append or a batch search re-decoded the models: $loadsBeforeRebuild")
    } finally q.stop()
    val top = result().filter(col("rank") === 1).collect()
      .map(r => r.getLong(0) -> r.getLong(2)).toMap
    assert(top.get(1005L).contains(5L), s"build-generation hit lost: $top")
    assert(top.get(1200L).contains(200L),
      "mid-stream append invisible to the live search stream — " +
        s"the frozen-plan failure mode; got $top")
    assert(top.get(1006L).contains(6L),
      s"search after a mid-stream rebuild failed on the new generation: $top")
    assert(loads() == ((2, 2)),
      s"rebuild should re-decode each model exactly once, saw ${loads()}")
  }

  test("IVF search stream: mid-stream append visible, rebuild survived") {
    import spark.implicits._
    implicit val ctx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val rnd = new scala.util.Random(15)
    def vec() = Seq.fill(64)(rnd.nextGaussian().toFloat)
    def near(v: Seq[Float]) = v.map(x => x + 0.001f * rnd.nextGaussian().toFloat)
    val corpus = (0L until 40L).map(i => (i, vec()))
    val appended = (300L until 305L).map(i => (i, vec()))
    val root = tempRoot("graft-stivfsearch")
    val cat = new graft.storage.SetCatalog(spark, root.toString)
    graft.operators.SimilaritySearch.buildIndex(spark, cat, "t", "iv",
      corpus.toDF("vec_id", "embedding"), nCentroids = 16)
    val input = MemoryStream[(Long, Seq[Float])]
    def loads() = cat.memoDecodes("t", "iv_centroids")
    val (q, result) = graft.operators.Dedup.startProbe(
      input.toDS().toDF("vec_id", "embedding"),
      batch => graft.operators.SimilaritySearch.searchIndex(spark, cat,
        "t", "iv", batch, k = 3),
      sink = None)
    val hits = try {
      input.addData((1007L, near(corpus(7)._2)))
      q.processAllAvailable()
      graft.operators.SimilaritySearch.appendToIndex(spark, cat,
        "t", "iv", appended.toDF("vec_id", "embedding"))
      input.addData((1300L, near(appended.head._2)))
      q.processAllAvailable()
      graft.operators.SimilaritySearch.rebuildIndex(spark, cat, "t", "iv")
      input.addData((1008L, near(corpus(8)._2)))
      q.processAllAvailable()
      result().localCheckpoint(true)
    } finally q.stop()
    val top = hits.filter(col("rank") === 1).collect()
      .map(r => r.getLong(0) -> r.getLong(2)).toMap
    assert(top.get(1007L).contains(7L), s"build-generation hit lost: $top")
    assert(top.get(1300L).contains(300L),
      s"mid-stream append invisible to the live IVF search stream: $top")
    assert(top.get(1008L).contains(8L),
      s"IVF search after a mid-stream rebuild broke: $top")
    assert(loads() == 2,
      s"expected one build-time collect + one rebuild re-collect, saw ${loads()}")
  }

  test("PQ search stream: mid-stream append visible, rebuild re-collects") {
    // the third member of the stream-search family (VERDICT r16 next
    // #2): same live-index contract as the IVF / IVF-PQ cases — a
    // mid-stream append's codes are searchable in the next batch, a
    // rebuild swaps the codebooks exactly once in the model cache
    import spark.implicits._
    implicit val ctx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val rnd = new scala.util.Random(16)
    def vec() = Seq.fill(64)(rnd.nextGaussian().toFloat)
    def near(v: Seq[Float]) = v.map(x => x + 0.001f * rnd.nextGaussian().toFloat)
    val corpus = (0L until 40L).map(i => (i, vec()))
    val appended = (400L until 405L).map(i => (i, vec()))
    val root = tempRoot("graft-stpqsearch")
    val cat = new graft.storage.SetCatalog(spark, root.toString)
    graft.operators.SimilaritySearch.buildIndex(spark, cat, "t", "pq",
      corpus.toDF("vec_id", "embedding"), m = 16)
    val input = MemoryStream[(Long, Seq[Float])]
    def loads() = cat.memoDecodes("t", "pq_codebooks")
    val (q, result) = graft.operators.Dedup.startProbe(
      input.toDS().toDF("vec_id", "embedding"),
      batch => graft.operators.SimilaritySearch.searchIndex(spark, cat,
        "t", "pq", batch, k = 3),
      sink = None)
    val hits = try {
      input.addData((1009L, near(corpus(9)._2)))
      q.processAllAvailable()
      graft.operators.SimilaritySearch.appendToIndex(spark, cat,
        "t", "pq", appended.toDF("vec_id", "embedding"))
      // a batch search between stream batches shares the stream's codebooks
      val batchTop = graft.operators.SimilaritySearch.searchIndex(spark,
        cat, "t", "pq", Seq((1401L, near(appended(1)._2)))
          .toDF("vec_id", "embedding"), k = 3)
        .filter(col("rank") === 1).collect().map(_.getLong(2))
      assert(batchTop.sameElements(Seq(401L)),
        s"batch search after the append missed it: ${batchTop.toSeq}")
      input.addData((1400L, near(appended.head._2)))
      q.processAllAvailable()
      assert(loads() == 1,
        s"an append or a batch search re-decoded the codebooks ${loads()}x")
      graft.operators.SimilaritySearch.rebuildIndex(spark, cat, "t", "pq")
      input.addData((1010L, near(corpus(10)._2)))
      q.processAllAvailable()
      result().localCheckpoint(true)
    } finally q.stop()
    val top = hits.filter(col("rank") === 1).collect()
      .map(r => r.getLong(0) -> r.getLong(2)).toMap
    assert(top.get(1009L).contains(9L), s"build-generation hit lost: $top")
    assert(top.get(1400L).contains(400L),
      s"mid-stream append invisible to the live PQ search stream: $top")
    assert(top.get(1010L).contains(10L),
      s"PQ search after a mid-stream rebuild broke: $top")
    assert(loads() == 2,
      s"expected one build-time collect + one rebuild re-collect, saw ${loads()}")
  }

  test("stream-stream interval join == batch interval join") {
    val got = graft.queries.StreamingQueries.stJoin(spark, sfDir)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val e = Tables.events(spark, sfDir)
    val p = e.filter(col("event_type") === "purchase")
      .select(col("user_id").as("pu"), col("ts").as("p_ts"))
    val v = e.filter(col("event_type") === "view")
      .select(col("user_id").as("vu"), col("ts").as("v_ts"))
    val batch = p.join(v, col("pu") === col("vu") &&
        col("p_ts") >= col("v_ts") &&
        col("p_ts") <= col("v_ts") + expr("interval 1 hour"))
      .groupBy(col("pu")).agg(count(lit(1)).as("n"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got == batch && got.nonEmpty)
  }

  test("a warm st_* query compiles no generated classes and runs one state store per core") {
    import org.apache.spark.metrics.source.CodegenMetrics.METRIC_COMPILATION_TIME
    def run(): Set[org.apache.spark.sql.Row] =
      SparkEntry.queries("st_sliding")(spark, sfDir).collect().toSet
    val first = run()
    val before = METRIC_COMPILATION_TIME.getCount
    val second = run()
    val compiled = METRIC_COMPILATION_TIME.getCount - before
    assert(compiled == 0, s"warm st_sliding compiled $compiled generated classes")
    assert(second == first && first.nonEmpty)
    val slots = math.min(8, spark.sparkContext.defaultParallelism)
    assert(graft.queries.StreamingQueries.streamSession(spark).conf
      .get("spark.sql.shuffle.partitions") == slots.toString)
  }

  test("an ingest batch finishes a recap swap recorded under the earlier _recap names") {
    import java.nio.file.{Files, Paths}
    import spark.implicits._
    def docs(ids: Long*) = ids.map(i =>
      (i, (0 until 30).map(j => s"d${i}_$j").mkString(" "))).toDF("doc_id", "text")
    val root = tempRoot("graft-recap-upgrade").toString
    val cat = new graft.storage.SetCatalog(spark, root)
    graft.operators.Dedup.ingestNearDupBatch(docs(1L, 2L, 3L), cat, "t", "up",
      "doc_id", "text").count()
    // an earlier recap's footprint: both new generations staged and
    // tagged under `_recap` (the new bands drop band 0), the group
    // marker recording those names, and the crash after the first
    // member (the sets) swapped in
    for ((set, rows) <- Seq("up_sets" -> cat.scanSet("t", "up_sets"),
        "up_bands" -> cat.scanSet("t", "up_bands").where(col("band") =!= 0))) {
      cat.createSet("t", s"${set}_recap", rows,
        partitionColumn = cat.meta("t", set).flatMap(_.partitionColumn))
      cat.markStaging("t", s"${set}_recap")
    }
    val marker = Paths.get(s"$root/t.up_bands+up_sets.swapin")
    Files.writeString(marker, "up_sets_recap -> up_sets\nup_bands_recap -> up_bands")
    cat.removeSet("t", "up_sets")
    cat.renameSet("t", "up_sets_recap", "up_sets")
    graft.operators.Dedup.ingestNearDupBatch(docs(4L), cat, "t", "up",
      "doc_id", "text").count()
    assert(!Files.exists(marker) && cat.meta("t", "up_bands_recap").isEmpty,
      "the recorded swap was not finished")
    val bands = cat.scanSet("t", "up_bands")
    assert(bands.where(col("band") === 0 && col("id") < 4L).count() == 0L,
      "the old bands generation is still live")
    assert(bands.where(col("id") === 4L).count() ==
      bands.where(col("id") === 1L).count() + 1L,
      "the batch did not ingest into the new generation")
    assert(cat.scanSet("t", "up_sets").count() == 4L)
  }
}
