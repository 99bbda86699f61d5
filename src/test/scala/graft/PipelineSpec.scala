package graft

import org.apache.spark.sql.functions._
import graft.functions.TextFunctions
import graft.model.Tables
import graft.operators.{Dedup, Multimodal, SimilaritySearch, TextAnalysis}

/** Dedup / similarity / text / multimodal operators — value checks the
  * driver's rows-only gate can't provide.
  */
class PipelineSpec extends GraftSpecBase {

  test("minhash-LSH pairs == exact jaccard pairs (recall 1 at threshold)") {
    val docs = Tables.documents(spark, sfDir)
    val lsh = Dedup.minhashPairs(docs, "doc_id", "text", threshold = 0.8)
      .select("id_a", "id_b").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val w = docs.select(col("doc_id"),
      TextFunctions.wordShingles(col("text"), 2).as("ws"))
    val a = w.select(col("doc_id").as("id_a"), col("ws").as("wa"))
    val b = w.select(col("doc_id").as("id_b"), col("ws").as("wb"))
    val exact = a.crossJoin(b).filter(col("id_a") < col("id_b"))
      .filter(TextFunctions.jaccard(col("wa"), col("wb")) >= 0.8)
      .select("id_a", "id_b").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(lsh == exact)

    // The scale claim the 100 TB design rests on: pairs and candidates
    // grow linearly in corpus replicas. Replica i offsets ids by i·10^7
    // and PREFIXES every word with "r{i}_", so no shingle crosses
    // replicas and the base pair set repeats once per replica. A suffix
    // salt would not do: the word fingerprint is a base-257 positional
    // hash, so an appended salt moves only its lowest coefficients and
    // simhash replicas would read as planted cross-replica near-dups.
    val off = 10000000L
    def replicated(m: Int) = (0 until m).map { i =>
      docs.select((col("doc_id") + lit(i * off)).as("doc_id"),
        regexp_replace(col("text"), "(\\S+)", s"r${i}_$$1").as("text"))
    }.reduce(_ unionByName _)
    def candidates(corpus: org.apache.spark.sql.DataFrame): Set[(Long, Long)] = {
      val (ws, banded, cand) = Dedup.lshCandidateFrames(corpus, "doc_id",
        TextFunctions.wordShingles(col("text"), 2), k = 128, bands = 32)
      try cand.collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      finally { ws.unpersist(); banded.unpersist() }
    }
    val base = candidates(replicated(1)).size
    for (m <- Seq(1, 2, 4)) {
      val corpus = replicated(m)
      val pairs = Dedup.minhashPairs(corpus, "doc_id", "text", threshold = 0.8)
        .select("id_a", "id_b").collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSet
      val shifted = for (i <- 0 until m; (a, b) <- exact)
        yield (a + i * off, b + i * off)
      assert(pairs == shifted.toSet, s"m=$m")
      assert(pairs.size == m * exact.size, s"m=$m")
      // Each replica re-draws its minhashes, so its background pairs
      // that reach the >=2-band filter differ per replica: the count at
      // m is a sum of m draws, not m copies of the base draw. eps = 0.1
      // bounds that spread (replicas 0-3 draw 28, 29, 28 and 28); no
      // candidate may cross replicas.
      val cand = candidates(corpus)
      assert(cand.forall { case (a, b) => a / off == b / off }, s"m=$m")
      assert(cand.size <= m * base * 1.1,
        s"m=$m: ${cand.size} candidates vs $m x $base")
    }
  }

  test("cross-corpus pairs are batching-invariant against a shared index") {
    val docs = Tables.documents(spark, sfDir)
    val corpus = docs.filter(col("doc_id") < 25)
    // the tail of the fixture plus verbatim re-arrivals of 5 corpus docs
    // (fresh ids) — the planted dups GUARANTEE nonempty cross pairs
    val arriving = docs.filter(col("doc_id") >= 25).unionByName(
      corpus.filter(col("doc_id") % 5 === 0)
        .withColumn("doc_id", col("doc_id") + 1000000L))
    val oneShot = Dedup.crossPairs(arriving, corpus, "doc_id", "text")
      .collect().map(_.toSeq).toSet
    // same docs in two arbitrary batches against the same persisted index
    val (cSets, cBanded) = Dedup.corpusLshIndex(corpus, "doc_id", "text")
    val batched = Seq(
        arriving.filter(col("doc_id") % 2 === 0),
        arriving.filter(col("doc_id") % 2 === 1))
      .flatMap(b => Dedup.crossPairsAgainstIndex(b, cSets, cBanded,
        "doc_id", "text").collect())
      .map(_.toSeq).toSet
    cSets.unpersist(); cBanded.unpersist()
    assert(batched == oneShot)
    // the 5 planted verbatim copies MUST be found (jaccard 1.0)
    val planted = oneShot.filter(_(0).asInstanceOf[Long] >= 1000000L)
    assert(planted.size >= 5, s"planted dups not all found: $oneShot")
    // and the pairs really cross the boundary
    assert(oneShot.forall(r => r(1).asInstanceOf[Long] < 25))
  }

  test("stored LSH index == in-memory index; bucketed bands join without exchange") {
    val docs = Tables.documents(spark, sfDir)
    val corpus = docs.filter(col("doc_id") < 25)
    val arriving = docs.filter(col("doc_id") >= 25).unionByName(
      corpus.filter(col("doc_id") % 5 === 0)
        .withColumn("doc_id", col("doc_id") + 1000000L))
    val oneShot = Dedup.crossPairs(arriving, corpus, "doc_id", "text")
      .collect().map(_.toSeq).toSet

    val root = tempRoot("graft-lsh-spec").toString
    val cat = new graft.storage.SetCatalog(spark, root)
    Dedup.persistLshIndex(cat, "ddx", "c", corpus, "doc_id", "text")
    val stored = Dedup.crossPairsAgainstStoredIndex(
        arriving, cat, "ddx", "c", "doc_id", "text")
      .collect().map(_.toSeq).toSet
    assert(stored == oneShot && stored.nonEmpty)

    // the placement payoff the stored index exists for: the band set is
    // bucketed on the composite (band, bkey), so a join ON exactly the
    // candidate keys needs no exchange on the stored side
    val bands = cat.scanSet("ddx", "c_bands")
    val j = bands.join(
      bands.select(col("band"), col("bkey"), col("id").as("id2")),
      Seq("band", "bkey"))
    val prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      val plan = j.queryExecution.executedPlan.toString
      assert(!plan.contains("Exchange"),
        s"stored band set re-shuffles on its own bucket key:\n$plan")
    } finally spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
  }

  test("simhash: identical word sets collide at hamming 0") {
    import spark.implicits._
    val docs = Seq(
      (1L, "spark table scan merge"),
      (2L, "merge scan table spark"), // same set, different order
      (3L, "completely different words entirely")).toDF("doc_id", "text")
    val pairs = Dedup.simhashPairs(docs, "doc_id", "text")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2)))
    assert(pairs.toSeq == Seq((1L, 2L, 0)))
  }

  test("simhashPairs hot-bucket cap drops template floods, keeps cold-bucket pairs") {
    import spark.implicits._
    // 30 identical template docs: every quarter bucket they occupy has
    // size 30, so the self-join emits 435 template pairs uncapped
    val template = (100L until 130L)
      .map(i => (i, "common boilerplate template header words"))
    val docs = (template ++ Seq(
      (1L, "spark table scan merge"),
      (2L, "merge scan table spark"))).toDF("doc_id", "text")
    assert(Dedup.simhashPairs(docs, "doc_id", "text").count() == 30L * 29 / 2 + 1)
    // cap engaged: the template's four quarter buckets are all hot and
    // dropped from both sides; the (1,2) pair sits in cold buckets
    val capped = Dedup.simhashPairs(docs, "doc_id", "text", maxBucket = 10)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2)))
    assert(capped.toSeq == Seq((1L, 2L, 0)))
  }

  test("exact dedup groups identical texts") {
    import spark.implicits._
    val docs = Seq((1L, "aa"), (2L, "aa"), (3L, "bb")).toDF("doc_id", "text")
    val out = Dedup.exact(docs, col("text"), col("doc_id"))
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(out == Set((1L, 2L), (3L, 1L)))
  }

  test("exact dedup rejects a non-string, non-binary key with a typed error") {
    import spark.implicits._
    val docs = Seq((1L, 7), (2L, 7)).toDF("doc_id", "n")
    val e = intercept[IllegalArgumentException](
      Dedup.exact(docs, col("n"), col("doc_id")))
    assert(e.getMessage.contains("int"), e.getMessage)
  }

  test("dupClusters labels each component with its min id, chains included") {
    import spark.implicits._
    // component {1,2,3,4} is a CHAIN (needs >1 propagation pass), {10,11}
    // a pair; 20 appears in no pair and must be absent
    val pairs = Seq((1L, 2L), (2L, 3L), (3L, 4L), (10L, 11L))
      .toDF("id_a", "id_b")
    val expected =
      Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 4L -> 1L, 10L -> 10L, 11L -> 10L)
    // driver union-find regime (default gate)
    val fast = Dedup.dupClusters(pairs)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toMap
    assert(fast == expected)
    // distributed min-label regime (gate forced to 0)
    spark.conf.set("spark.graft.dedup.cc.driverMaxPairs", "0")
    try {
      val dist = Dedup.dupClusters(pairs)
        .collect().map(r => (r.getLong(0), r.getLong(1))).toMap
      assert(dist == expected)
    } finally spark.conf.unset("spark.graft.dedup.cc.driverMaxPairs")
  }

  test("pointer doubling converges a 60-link chain within O(log d) passes") {
    import spark.implicits._
    // diameter 60 ≫ maxIters 12: pure min-label propagation would throw
    // non-convergence; the label(label) shortcut settles it in ~log2(60)
    val pairs = (0L until 60L).map(i => (i, i + 1)).toDF("id_a", "id_b")
    spark.conf.set("spark.graft.dedup.cc.driverMaxPairs", "0")
    try {
      val dist = Dedup.dupClusters(pairs, maxIters = 12)
        .collect().map(r => (r.getLong(0), r.getLong(1))).toMap
      assert(dist.size == 61 && dist.values.forall(_ == 0L), s"labels: $dist")
    } finally spark.conf.unset("spark.graft.dedup.cc.driverMaxPairs")
  }

  test("IVF ANN recall vs brute force >= 0.6 on fixture") {
    val emb = Tables.embeddings(spark, sfDir)
    val queries = emb.filter(col("vec_id") < 10)
    val exact = SimilaritySearch.bruteForceTopK(emb, queries, 5)
      .select("query_id", "neighbor_id").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    // nprobe 6/16: at this fixture scale (200 vectors, ~12 per bucket)
    // the 4-bucket default hovers right at the threshold depending on
    // codebook seeds; probing 6 buckets tests the same recall/cost knob
    // a user would turn
    val approx = SimilaritySearch.ivfTopK(spark, emb, queries, 5, nprobe = 6)
      .select("query_id", "neighbor_id").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val recall = (exact & approx).size.toDouble / exact.size
    assert(recall >= 0.6, s"IVF recall $recall")
  }

  test("fingerprint is deterministic and content-sensitive") {
    import spark.implicits._
    val docs = Seq((1L, "abc"), (2L, "abc"), (3L, "abd")).toDF("doc_id", "text")
    val fp = TextAnalysis.fingerprints(docs, "doc_id", "text")
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(fp(1L) == fp(2L) && fp(1L) != fp(3L))
  }

  test("language ID picks the matching stopword list") {
    import spark.implicits._
    val docs = Seq(
      (1L, "the cat and the dog of a house"),
      (2L, "el perro y la casa de que en es"),
      (3L, "der hund und das haus ist ein zu")).toDF("doc_id", "text")
    val out = TextAnalysis.languageId(docs, "doc_id", "text")
      .select("doc_id", "pred_lang").collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(out == Map(1L -> "en", 2L -> "es", 3L -> "de"))
  }

  test("multimodal stub pipeline: schema, determinism, frame sampling") {
    val media = Multimodal.withPayload(Tables.documents(spark, sfDir).limit(20))
    val f1 = Multimodal.extractFeatures(spark, media).collect()
      .map(r => r.doc_id -> r.feature.toSeq).toMap
    val f2 = Multimodal.extractFeatures(spark, media).collect()
      .map(r => r.doc_id -> r.feature.toSeq).toMap
    assert(f1 == f2, "stub decode must be deterministic")
    assert(f1.values.forall(_.length == 16))
    val frames = Multimodal.sampleFrames(spark, media)
    assert(frames.count() > 0)
    assert(frames.columns.toSeq == Seq("doc_id", "frame_no", "frame"))
  }

  test("audio energy: windows, partial tails, and exact integer sums") {
    import spark.implicits._
    // 300 bytes → windows at 0/128/256 with 256/172/44 samples
    val payload = Array.tabulate[Byte](300)(i => (i % 251).toByte)
    val df = Seq((1L, payload)).toDF("doc_id", "payload")
    val out = Multimodal.audioEnergy(df)
      .collect().map(r => (r.getInt(1), r.getInt(2), r.getLong(3))).sortBy(_._1)
    def ref(start: Int, n: Int): Long =
      (start until (start + n)).map { i =>
        val d = ((i % 251) & 0xff) - 128; (d * d).toLong
      }.sum
    assert(out.toSeq == Seq(
      (0, 256, ref(0, 256)), (1, 172, ref(128, 172)), (2, 44, ref(256, 44))))
    // empty + null payloads emit no windows (posexplode drops both)
    val edge = Seq((2L, Array.empty[Byte]), (3L, null.asInstanceOf[Array[Byte]]))
      .toDF("doc_id", "payload")
    assert(Multimodal.audioEnergy(edge).count() == 0)
  }

  test("frame dedup keeps the smallest site and counts every copy") {
    import spark.implicits._
    val frames = Seq(
      (2L, 4, Array[Byte](1, 2, 3)),  // copy of the (1L, 0) frame
      (1L, 0, Array[Byte](1, 2, 3)),
      (1L, 8, Array[Byte](1, 2, 3)),  // third copy, same doc
      (3L, 0, Array[Byte](9, 9, 9)))  // unique frame → filtered out
      .toDF("doc_id", "frame_no", "frame")
    val out = Multimodal.frameDedup(frames).collect()
    assert(out.length == 1)
    val r = out.head
    assert(r.getString(0) == "010203" && r.getLong(1) == 1L &&
      r.getInt(2) == 0 && r.getLong(3) == 3L)
  }

  test("frame dedup exchange key is the 16-byte hash, not frame content") {
    import spark.implicits._
    val frames = Seq((1L, 0, Array[Byte](1, 2)), (2L, 0, Array[Byte](1, 2)))
      .toDF("doc_id", "frame_no", "frame")
    val out = Multimodal.frameDedup(frames)
    // the one aggregate groups on unhex(md5(frame)) — a single 16-byte
    // binary expression, never the raw frame attribute (analyzed plan:
    // the optimizer pre-evaluates the hash into a LocalTableScan on
    // in-memory test inputs, hiding the expression)
    val aggs = out.queryExecution.analyzed.collect {
      case a: org.apache.spark.sql.catalyst.plans.logical.Aggregate => a
    }
    assert(aggs.nonEmpty)
    val g = aggs.head.groupingExpressions
    assert(g.size == 1 &&
      g.head.dataType == org.apache.spark.sql.types.BinaryType)
    assert(g.head.collectFirst {
      case m: org.apache.spark.sql.catalyst.expressions.Md5 => m
    }.isDefined, s"grouping key must be the md5 fingerprint, got: $g")
    assert(g.head.references.isEmpty ||
      !g.head.isInstanceOf[org.apache.spark.sql.catalyst.expressions.AttributeReference],
      "grouping key must be derived (hash), not the frame attribute itself")
    // and the physical exchange partitions on that derived key, not frame
    val plan = out.queryExecution.executedPlan.toString
    assert(!plan.contains("hashpartitioning(frame#"),
      s"frame content must never be the exchange key:\n$plan")
    assert(plan.contains("hashpartitioning(_groupingexpression") ||
      plan.contains("hashpartitioning(fkey"),
      s"expected the exchange keyed on the md5 grouping expression:\n$plan")
  }

  test("silence strip kernel is linear: a 4 MiB payload strips in one pass") {
    // alternating quiet/loud 256-byte windows; the pre-kernel fold form
    // copied the growing accumulator per kept window — O(W²·window)
    // bytes ≈ 2^37 here (minutes); the kernel is one scan + arraycopies
    val n = 4 << 20
    val payload = Array.tabulate[Byte](n)(
      i => if ((i / 256) % 2 == 0) 128.toByte else 255.toByte)
    val t0 = System.nanoTime()
    val out = graft.functions.MediaKernel.byteWindowStrip(payload, 256, 0L)
    val secs = (System.nanoTime() - t0) / 1e9
    assert(out.length == n / 2)
    assert(out.forall(_ == 255.toByte))
    assert(secs < 10.0,
      f"one-pass strip took $secs%.1f s on 4 MiB — rebuild is not linear")
  }

  test("envelope fingerprint rejects minWindows < 2") {
    import spark.implicits._
    val df = Seq((1L, Array[Byte](1, 2))).toDF("doc_id", "payload")
    intercept[IllegalArgumentException] {
      Multimodal.envelopeFingerprint(df, window = 2, hop = 2, minWindows = 1)
    }
  }

  test("sampleFrames drops null payloads (no phantom frame 0)") {
    import spark.implicits._
    val media = Seq(
      (1L, "abcd".getBytes("UTF-8")),
      (2L, null.asInstanceOf[Array[Byte]])).toDF("doc_id", "payload")
    val out = Multimodal.sampleFrames(spark, media, chunk = 2, stride = 1)
    assert(out.filter(col("doc_id") === 2L).count() == 0)
    assert(out.filter(col("doc_id") === 1L).count() == 2)
  }

  test("silence strip keeps loud windows in order, handles edges") {
    import spark.implicits._
    val q = 128.toByte; val l = 255.toByte
    // window=4: w0 quiet, w1 loud, w2 quiet, w3 partial loud (2 bytes)
    val payload = Array[Byte](q, q, q, q, l, l, l, l, q, q, q, q, l, l)
    val rows = Multimodal.stripSilence(
      Seq((1L, payload), (2L, Array.empty[Byte]),
        (3L, null.asInstanceOf[Array[Byte]])).toDF("doc_id", "payload"),
      window = 4, maxEnergy = 0L)
      .collect().map(r => (r.getLong(0),
        Option(r.get(1)).map(_.asInstanceOf[Array[Byte]].toSeq),
        r.getInt(2))).sortBy(_._1)
    assert(rows(0) == ((1L, Some(Seq[Byte](l, l, l, l, l, l)), 2)))
    assert(rows(1) == ((2L, Some(Seq.empty[Byte]), 0)))
    assert(rows(2) == ((3L, None, 0)))
  }

  test("envelope fingerprint packs delta signs; dedup groups equal envelopes") {
    import spark.implicits._
    // window=hop=2 → energies per byte pair; quiet=128 (d=0), loud=255
    val q = 128.toByte; val l = 255.toByte
    val up = Array[Byte](q, q, l, l, q, q, l, l)   // energies 0,hi,0,hi → bits 0,2 → fp 5
    val fp = Multimodal.envelopeFingerprint(
      Seq((1L, up)).toDF("doc_id", "payload"),
      window = 2, hop = 2, minWindows = 4).collect()
    assert(fp.map(r => (r.getLong(0), r.getLong(1))).toSeq == Seq((1L, 5L)))
    // equal adjacent energies are NOT a rise (strict >): flat stays 0
    val flat = Array[Byte](l, l, l, l, l, l, l, l)
    assert(Multimodal.envelopeFingerprint(
      Seq((2L, flat)).toDF("doc_id", "payload"),
      window = 2, hop = 2, minWindows = 4).collect().head.getLong(1) == 0L)
    // dedup: identical envelopes group under the smallest doc; the short
    // doc is dropped by the minWindows gate, the distinct one is unique
    val dedup = Multimodal.envelopeDedup(
      Seq((5L, up), (3L, up), (4L, flat), (6L, Array[Byte](q, q)))
        .toDF("doc_id", "payload"),
      window = 2, hop = 2, minWindows = 4)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    assert(dedup.toSeq == Seq((5L, 3L, 2L)))
  }

  test("silence segments merge consecutive low-energy windows per doc") {
    import spark.implicits._
    // windows of 4 samples, hop 4: 16 bytes → windows 0..3; bytes 128
    // (d=0, energy 0) are "silent", bytes 255 are loud (d=127)
    val quiet = 128.toByte; val loud = 255.toByte
    val payload = Array[Byte](
      quiet, quiet, quiet, quiet,  // w0 silent
      quiet, quiet, quiet, quiet,  // w1 silent  → run [0,1]
      loud, loud, loud, loud,      // w2 loud
      quiet, quiet, quiet, quiet)  // w3 silent  → run [3,3]
    val df = Seq((1L, payload)).toDF("doc_id", "payload")
    val segs = Multimodal.silenceSegments(df, window = 4, hop = 4,
      maxEnergy = 0L)
      .collect().map(r => (r.getInt(1), r.getInt(2), r.getLong(3))).sorted
    assert(segs.toSeq == Seq((0, 1, 2L), (3, 3, 1L)))
  }

  test("ImageIO decoder extracts real histogram features from generated PNGs") {
    import spark.implicits._
    // render two images with known luminance: all-black and all-white
    def png(rgb: Int): Array[Byte] = {
      val img = new java.awt.image.BufferedImage(
        8, 8, java.awt.image.BufferedImage.TYPE_INT_RGB)
      for (y <- 0 until 8; x <- 0 until 8) img.setRGB(x, y, rgb)
      val bos = new java.io.ByteArrayOutputStream()
      javax.imageio.ImageIO.write(img, "png", bos)
      bos.toByteArray
    }
    val media = Seq(
      (1L, png(0x000000), ("image/png", 8, 8, 0L)),
      (2L, png(0xffffff), ("image/png", 8, 8, 0L)))
      .toDF("doc_id", "payload", "meta")
    val f = Multimodal.extractFeatures(spark, media, dim = 16).collect()
      .map(r => r.doc_id -> r.feature).toMap
    // black: all 64 pixels in bin 0; white: all in the top bin — and the
    // histogram is pixel-normalized, so each sums to 1
    assert(f(1L)(0) == 1.0f && f(1L).drop(1).forall(_ == 0.0f))
    assert(f(2L)(15) == 1.0f && f(2L).dropRight(1).forall(_ == 0.0f))
    // a non-image payload falls back to the stub, never crashes
    val txt = Seq((3L, "not an image".getBytes("UTF-8"), ("text", 0, 0, 0L)))
      .toDF("doc_id", "payload", "meta")
    val g = Multimodal.extractFeatures(spark, txt, dim = 16).collect()
    assert(g.head.feature.sum > 0.0f, "stub fallback produced features")
  }

  test("PNG round-trip: PixelSumDecoder recovers exact positional byte sums") {
    import spark.implicits._
    val docs = Seq((1L, "hello png world"), (2L, "abc")).toDF("doc_id", "text")
    val media = Multimodal.toPngPayload(docs)
    val f = Multimodal
      .extractFeatures(spark, media, dim = 4,
        decoder = Multimodal.PixelSumDecoder)
      .collect().map(r => r.doc_id -> r.feature).toMap
    def expect(s: String, dim: Int): Array[Float] = {
      val e = new Array[Float](dim)
      s.getBytes("UTF-8").zipWithIndex.foreach { case (b, i) =>
        e(i % dim) += (b & 0xff)
      }
      e
    }
    // lossless PNG + identity luminance for r=g=b ⇒ the decoded fold is
    // EXACTLY the byte fold — the property mm_neardup's oracle rests on
    assert(f(1L).sameElements(expect("hello png world", 4)))
    assert(f(2L).sameElements(expect("abc", 4)))
  }

  test("PixelSumDecoder stays exact past the float-24-bit line and survives garbage") {
    // 1100×1100 all-white: per-slot exact sum = (1100²/16)·255 =
    // 19 284 375 > 2²⁴, where float ACCUMULATION would drift (spacing 2
    // up there) — the Long accumulator keeps the exact integer and
    // rounds once at the end, matching the oracle's CAST(sum AS FLOAT)
    val img = new java.awt.image.BufferedImage(
      1100, 1100, java.awt.image.BufferedImage.TYPE_INT_RGB)
    for (y <- 0 until 1100; x <- 0 until 1100) img.setRGB(x, y, 0xffffff)
    val bos = new java.io.ByteArrayOutputStream()
    javax.imageio.ImageIO.write(img, "png", bos)
    val f = Multimodal.PixelSumDecoder.decode(bos.toByteArray, 16).get
    assert(f.forall(_ == 19284375L.toFloat))
    // unparseable payloads are a None, never a thrown task failure
    assert(Multimodal.PixelSumDecoder.decode(
      "not an image at all".getBytes("UTF-8"), 16).isEmpty)
  }

  test("resize is a codec-true pixel rescale with exact NN sampling") {
    import spark.implicits._
    // "abcdefgh" → 8×1 PNG; resize to 4×1 must pick source pixels
    // (x·8)/4 = 0,2,4,6 → bytes a,c,e,g — checked by decoding the
    // RESIZED payload back through the real codec
    val docs = Seq((1L, "abcdefgh"), (2L, "xy")).toDF("doc_id", "text")
    val media = Multimodal.toPngPayload(docs)
    val out = Multimodal.resize(spark, media, 4, 1).collect()
      .map(r => r.doc_id -> r).toMap
    assert(out(1L).meta == Multimodal.MediaMeta(
      "image/png", 4, 1, out(1L).payload.length.toLong))
    def decodedBytes(png: Array[Byte]): Seq[Int] = {
      val img = javax.imageio.ImageIO.read(new java.io.ByteArrayInputStream(png))
      (0 until img.getWidth).map(x => img.getRGB(x, 0) & 0xff)
    }
    assert(decodedBytes(out(1L).payload) == "aceg".getBytes("UTF-8").toSeq.map(_ & 0xff))
    // upscale path: 2 source pixels repeat — (x·2)/4 = 0,0,1,1
    assert(decodedBytes(out(2L).payload) == "xxyy".getBytes("UTF-8").toSeq.map(_ & 0xff))
    // non-decodable payload takes the documented byte-sampling terminal:
    // area ratio vs meta dims rewrites length, metadata stays enforced
    val junk = Seq((3L, "notanimage".getBytes("UTF-8"),
      Multimodal.MediaMeta("bin/raw", 2, 1, 10L))).toDF("doc_id", "payload", "meta")
    val fb = Multimodal.resize(spark, junk, 1, 1).collect().head
    assert(fb.meta.width == 1 && fb.meta.height == 1 && fb.payload.length == 5)
  }

  test("repetition stats: dup-word and top-bigram fractions, hand-checked") {
    import spark.implicits._
    // "a a a b": 4 words, 2 distinct -> dup 0.5; bigrams [a a, a a, a b]
    // -> top 2/3. "x y z": no repetition -> 0.0 and 1/2.
    val docs = Seq((1L, "a a a b"), (2L, "x y z")).toDF("doc_id", "text")
    val out = TextAnalysis.repetitionStats(docs, "doc_id", "text")
      .collect().map(r => r.getLong(0) ->
        ((r.getLong(1), r.getLong(2), r.getDouble(3), r.getDouble(4)))).toMap
    assert(out(1L) == ((4L, 2L, 0.5, 0.666667)))
    assert(out(2L) == ((3L, 3L, 0.0, 0.5)))
  }

  test("counting shingler preserves duplicates in position order") {
    import spark.implicits._
    val out = Seq("a b a b").toDF("t")
      .select(graft.functions.ShingleExpressions.wordShinglesAll(col("t"), 2).as("s"))
      .head().getSeq[String](0)
    assert(out == Seq("a b", "b a", "a b"))
  }

  test("charShingles produces length-n grams") {
    import spark.implicits._
    val out = Seq("abcd").toDF("t")
      .select(TextFunctions.charShingles(col("t"), 3).as("s"))
      .head().getSeq[String](0)
    assert(out == Seq("abc", "bcd"))
  }

  test("ensureWidth: widens small scans and in-memory frames, passes derived plans through") {
    import spark.implicits._
    import graft.operators.Parallelism.ensureWidth
    val target = spark.sessionState.conf.numShufflePartitions
    // the fixture documents table is one small file — must widen
    val docs = Tables.documents(spark, sfDir)
    assert(ensureWidth(docs).rdd.getNumPartitions == target)
    // a union of scans (a replicated corpus) still widens
    assert(ensureWidth(docs.unionByName(docs)).rdd.getNumPartitions == target)
    // an in-memory frame (foreachBatch micro-batch shape) widens too
    assert(ensureWidth(Seq((1L, "a")).toDF("doc_id", "text"))
      .rdd.getNumPartitions == target)
    // joined/aggregated/windowed plans already had their width set by the
    // upstream shuffle — the guard passes them through UNTOUCHED (a corpus
    // enriched via a metadata join is a legitimate dedup input), rather
    // than throwing or re-shuffling the payload
    val agg = docs.groupBy(col("doc_id")).count()
    assert(ensureWidth(agg) eq agg)
    val joined = docs.join(docs.select(col("doc_id")), Seq("doc_id"))
    assert(ensureWidth(joined) eq joined)
  }

  test("duplicateSpans merges overlapping duplicated windows into maximal spans") {
    import spark.implicits._
    val docs = Seq(
      // docs 1 and 2 share the 6-token passage "a b c d e f" at
      // different offsets; with k=4 that is windows 4,5,6 in doc 1 and
      // 0,1,2 in doc 2 — each must merge into ONE 6-token span
      (1L, "p q r s a b c d e f x y z"),
      (2L, "a b c d e f m n o"),
      // doc 3 repeats "u v w t" WITHIN itself (positions 0 and 4, not
      // adjacent) — two separate 4-token spans, no cross-doc sharing
      (3L, "u v w t u v w t"),
      // doc 4 shares nothing and is shorter than the window
      (4L, "h i")
    ).toDF("doc_id", "text")
    val out = graft.operators.Dedup.duplicateSpans(docs, "doc_id", "text", k = 4)
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
      .toSet
    assert(out == Set(
      (1L, 4L, 9L, 6L),
      (2L, 0L, 5L, 6L),
      (3L, 0L, 3L, 4L),
      (3L, 4L, 7L, 4L)))
  }

  test("exact index flags replayed content and is batching-invariant") {
    import spark.implicits._
    val corpus = Seq((1L, "alpha beta"), (2L, "gamma delta"), (3L, null))
      .toDF("doc_id", "text")
    val arrivals = Seq(
      (10L, "alpha beta"),   // replay of doc 1 → dup
      (11L, "gamma delta"),  // replay of doc 2 → dup
      (12L, "epsilon zeta"), // novel
      (13L, null))           // null text never matches (SQL equality)
      .toDF("doc_id", "text")
    val hashes = {
      import org.apache.spark.sql.functions.{md5, unhex}
      corpus.filter(col("text").isNotNull)
        .select(unhex(md5(col("text"))).as("h")).distinct()
    }
    val oneShot = graft.operators.Dedup
      .exactAgainstHashes(arrivals, hashes, "doc_id", "text")
      .collect().map(r => r.getLong(0) -> r.getBoolean(1)).toMap
    assert(oneShot == Map(10L -> true, 11L -> true, 12L -> false,
      13L -> false))
    val perBatch = Seq(
      arrivals.filter(col("doc_id") <= 11),
      arrivals.filter(col("doc_id") > 11))
      .flatMap(b => graft.operators.Dedup
        .exactAgainstHashes(b, hashes, "doc_id", "text")
        .collect().map(r => r.getLong(0) -> r.getBoolean(1)))
      .toMap
    assert(perBatch == oneShot)
  }

  test("stored exact index == in-memory hashes; probe has no index-side exchange") {
    import org.apache.spark.sql.functions.{md5, unhex}
    val docs = Tables.documents(spark, sfDir)
    val corpus = docs.filter(col("doc_id") < 25)
    val arrivals = docs.filter(col("doc_id") >= 25)
      .select(col("doc_id"), col("text"))
      .unionByName(corpus.filter(col("doc_id") % 5 === 0)
        .select((col("doc_id") + 1000000L).as("doc_id"), col("text")))
    val root = tempRoot("graft-exact-spec").toString
    val cat = new graft.storage.SetCatalog(spark, root)
    Dedup.persistExactIndex(cat, "ddx", "c", corpus, "text", numBuckets = 4)
    val stored = Dedup.exactAgainstStoredIndex(
      arrivals, cat, "ddx", "c", "doc_id", "text")
    val inMem = Dedup.exactAgainstHashes(arrivals,
      corpus.filter(col("text").isNotNull)
        .select(unhex(md5(col("text"))).as("h")).distinct(),
      "doc_id", "text")
    assert(stored.collect().map(_.toSeq).toSet ==
      inMem.collect().map(_.toSeq).toSet)
    assert(stored.filter(col("is_dup")).count() > 0)

    // the placement payoff: the hash set is bucketed on h, so the probe
    // join shuffles ONLY the arrivals — exactly one exchange, and not
    // over the index scan
    val prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      val plan = Dedup.exactAgainstStoredIndex(
          arrivals, cat, "ddx", "c", "doc_id", "text")
        .queryExecution.executedPlan.toString
      val nExchanges = plan.linesIterator
        .count(l => l.contains("Exchange") && !l.contains("ReusedExchange"))
      assert(nExchanges == 1,
        s"expected one exchange (arrivals side only), got $nExchanges:\n$plan")
    } finally spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
  }

  test("frame index flags replayed frames per (doc_id, frame_no) and is batching-invariant") {
    import spark.implicits._
    // 128-byte payloads = frames 0 (bytes 0-63) and... stride 4 skips to
    // frame 4, past the end — so exactly ONE sampled frame per doc; doc
    // 10 replays doc 1's bytes, doc 12 is novel
    val mk = (c: Char) => c.toString * 128
    val corpus = graft.operators.Multimodal.withPayload(
      Seq((1L, mk('a')), (2L, mk('b'))).toDF("doc_id", "text"))
    val arrivals = graft.operators.Multimodal.withPayload(Seq(
      (10L, mk('a')), (11L, mk('b')), (12L, mk('z'))).toDF("doc_id", "text"))
    val root = tempRoot("graft-frame-spec").toString
    val cat = new graft.storage.SetCatalog(spark, root)
    graft.operators.Multimodal.persistFrameIndex(
      cat, "ddx", "f", corpus, numBuckets = 2)
    val hashes = cat.scanSet("ddx", "f_hashes")
    def probe(batch: org.apache.spark.sql.DataFrame) =
      graft.operators.Dedup.exactAgainstHashesKeyed(
        graft.operators.Multimodal.sampleFrames(spark, batch),
        hashes, Seq("doc_id", "frame_no"), "frame")
    val oneShot = probe(arrivals).collect()
      .map(r => (r.getLong(0), r.getInt(1)) -> r.getBoolean(2)).toMap
    assert(oneShot == Map((10L, 0) -> true, (11L, 0) -> true,
      (12L, 0) -> false))
    val perBatch = Seq(
      arrivals.filter(col("doc_id") <= 10),
      arrivals.filter(col("doc_id") > 10))
      .flatMap(probe(_).collect()
        .map(r => (r.getLong(0), r.getInt(1)) -> r.getBoolean(2)))
      .toMap
    assert(perBatch == oneShot)
    // same placement payoff as the doc-level index: hashes bucketed on
    // h, so only the arrival frames shuffle
    val prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      val plan = probe(arrivals).queryExecution.executedPlan.toString
      val nExchanges = plan.linesIterator
        .count(l => l.contains("Exchange") && !l.contains("ReusedExchange"))
      assert(nExchanges == 1,
        s"expected one exchange (arrival frames only), got $nExchanges:\n$plan")
    } finally spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
  }

  test("envelope index flags replayed envelopes per doc and is batching-invariant") {
    import spark.implicits._
    // window=hop=2 → 8 windows per 16-char doc; 'z' windows are quiet
    // (2·(122−128)²=72), '!' windows loud (2·(33−128)²=18050), so the
    // delta-sign fingerprints are: alternating QLQL… → 85, LQLQ… → 42,
    // QQLLQQLL → 34 — three distinct envelopes
    val mkDf = (rows: Seq[(Long, String)]) =>
      graft.operators.Multimodal.withPayload(rows.toDF("doc_id", "text"))
    val corpus = mkDf(Seq(
      (1L, "zz!!zz!!zz!!zz!!"), (2L, "!!zz!!zz!!zz!!zz")))
    val arrivals = mkDf(Seq(
      (10L, "zz!!zz!!zz!!zz!!"),   // replays doc 1's envelope → true
      (11L, "!!zz!!zz!!zz!!zz"),   // replays doc 2's envelope → true
      (12L, "zzzz!!!!zzzz!!!!"),   // novel envelope → false
      (13L, "zz")))                // 1 window < minWindows → no row
    val root = tempRoot("graft-env-spec").toString
    val cat = new graft.storage.SetCatalog(spark, root)
    graft.operators.Multimodal.persistEnvelopeIndex(
      cat, "ddx", "env", corpus, window = 2, hop = 2, minWindows = 2,
      numBuckets = 2)
    val fps = cat.scanSet("ddx", "env_fps")
    def probe(batch: org.apache.spark.sql.DataFrame) =
      graft.operators.Dedup.fingerprintsAgainstFps(
        graft.operators.Multimodal.envelopeFingerprint(
          batch, window = 2, hop = 2, minWindows = 2),
        fps, Seq("doc_id"), "fp")
    val oneShot = probe(arrivals).collect()
      .map(r => r.getLong(0) -> r.getBoolean(1)).toMap
    assert(oneShot == Map(10L -> true, 11L -> true, 12L -> false))
    val perBatch = Seq(
      arrivals.filter(col("doc_id") <= 11),
      arrivals.filter(col("doc_id") > 11))
      .flatMap(probe(_).collect()
        .map(r => r.getLong(0) -> r.getBoolean(1)))
      .toMap
    assert(perBatch == oneShot)
    // placement payoff: the index is bucketed on fp, so only the arrival
    // fingerprints shuffle — one exchange in the whole probe plan
    val prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      val plan = probe(arrivals).queryExecution.executedPlan.toString
      val nExchanges = plan.linesIterator
        .count(l => l.contains("Exchange") && !l.contains("ReusedExchange"))
      assert(nExchanges == 1,
        s"expected one exchange (arrival fingerprints only), got $nExchanges:\n$plan")
    } finally spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
  }

  test("spansAgainstGrams is batching-invariant against a fixed gram index") {
    import spark.implicits._
    val corpus = Seq(
      (1L, "a b c d e f g h"),
      (2L, "x y z w v u t s")).toDF("doc_id", "text")
    val arrivals = Seq(
      (10L, "p p a b c d q q"),     // one corpus span at pos 2..5
      (11L, "x y z w k k k k"),     // one at pos 0..3
      (12L, "m m m m n n n n"))     // nothing shared
      .toDF("doc_id", "text")
    // in-memory gram index: the corpus's distinct window fingerprints
    // (16-byte binary, matching windowFingerprints' encoding)
    val corpusGrams = {
      import org.apache.spark.sql.functions.{md5, unhex}
      corpus.select(col("doc_id"),
        posexplode(graft.functions.ShingleExpressions
          .wordShinglesAll(col("text"), 4)).as(Seq("pos", "gram")))
        .select(unhex(md5(col("gram").cast("binary"))).as("g")).distinct()
    }
    val oneShot = graft.operators.Dedup
      .spansAgainstGrams(arrivals, corpusGrams, "doc_id", "text", 4)
      .collect().map(_.toSeq).toSet
    assert(oneShot == Set(
      Seq(10L, 2L, 5L, 4L), Seq(11L, 0L, 3L, 4L)))
    // per-batch union == one-shot (per-doc results depend only on the doc
    // and the static index)
    val perBatch = Seq(
      arrivals.filter(col("doc_id") === 10),
      arrivals.filter(col("doc_id") === 11),
      arrivals.filter(col("doc_id") === 12))
      .flatMap(b => graft.operators.Dedup
        .spansAgainstGrams(b, corpusGrams, "doc_id", "text", 4)
        .collect().map(_.toSeq)).toSet
    assert(perBatch == oneShot)
  }

  test("stripDuplicateSpans keeps the canonical first site and strips the rest") {
    import spark.implicits._
    val docs = Seq(
      // doc 1 holds the canonical (lowest doc, pos) copy of "a b c d e f"
      (1L, "p q r s a b c d e f x y z"),
      // doc 2 repeats it → those 6 tokens are stripped, the rest survive
      (2L, "a b c d e f m n o"),
      // doc 3 is a verbatim copy of doc 2 → strips to empty
      (3L, "a b c d e f m n o"),
      // doc 4 shares nothing
      (4L, "h i j k l z1 z2 z3")
    ).toDF("doc_id", "text")
    val out = graft.operators.Dedup
      .stripDuplicateSpans(docs, "doc_id", "text", k = 4)
      .collect()
      .map(r => r.getLong(0) -> ((r.getString(1), r.getLong(2)))).toMap
    assert(out(1L) == ("p q r s a b c d e f x y z", 0L))
    assert(out(2L) == ("m n o", 6L))
    assert(out(3L) == ("", 9L))
    assert(out(4L) == ("h i j k l z1 z2 z3", 0L))
  }

  test("stripDuplicateSpans island-slice rebuild handles the edge shapes") {
    import spark.implicits._
    val docs = Seq(
      // null text: clean_text '' and NULL n_removed (size(null) is null)
      (1L, null.asInstanceOf[String]),
      // empty string: one empty token, no windows, survives verbatim
      (2L, ""),
      // shorter than the window: no grams, survives verbatim
      (3L, "a b"),
      // overlapping duplicated windows inside ONE doc merge into one
      // island (the dense_rank gaps-and-islands path the r20 rebuild
      // introduced: duplicate removed positions from overlapping
      // windows must collapse, not split islands)
      (4L, "a b c a b c a b c"),
      // two disjoint islands in one doc: slices between them rebuild
      // in token order
      (5L, "x1 a b c x2 x3 a b c x4")
    ).toDF("doc_id", "text")
    val out = graft.operators.Dedup
      .stripDuplicateSpans(docs, "doc_id", "text", k = 3)
      .collect()
      .map(r => r.getLong(0) ->
        ((r.getString(1), Option(r.get(2)).map(_.asInstanceOf[Long]))))
      .toMap
    assert(out(1L) == (("", None)))
    assert(out(2L) == (("", Some(0L))))
    assert(out(3L) == (("a b", Some(0L))))
    // doc 4: canonical site is (4, 0); windows at pos 3 and 6 (verbatim
    // "a b c") strip — pos 1..5 windows like "b c a" appear twice within
    // the doc too, so every non-canonical window's positions union
    assert(out(4L)._1 == "a b c")
    assert(out(4L)._2 == Some(6L))
    // doc 5: "a b c" at (5,1) loses to (4,0)? No — doc 4's copy is
    // canonical for "a b c", so BOTH of doc 5's copies strip; the
    // surrounding singletons survive in order
    assert(out(5L) == (("x1 x2 x3 x4", Some(6L))))
  }

  test("index builders size bucket layouts from the data without an advisor") {
    import spark.implicits._
    import graft.advisor.PlacementAdvisor.bucketCountFor
    // the pure rule: pow2(ceil(rows/target)), floor 1, cap 65536
    assert(bucketCountFor(0) == 1)
    assert(bucketCountFor(1L << 22) == 1)
    assert(bucketCountFor((1L << 22) + 1) == 2)
    assert(bucketCountFor(5L * (1L << 22)) == 8)
    assert(bucketCountFor(Long.MaxValue / 4) == 65536)
    // and the no-advisor default path applies it: a tiny corpus lands
    // in ONE bucket, not the session's shuffle-partition count
    val root = tempRoot("graft-bucketdef")
    val cat = new graft.storage.SetCatalog(spark, root.toString)
    val corpus = (1L to 100L).map(i => (i, s"doc $i body")).toDF("id", "text")
    graft.operators.Dedup.persistExactIndex(cat, "bt", "tiny", corpus, "text")
    assert(cat.meta("bt", "tiny_hashes").exists(_.numPartitions == 1))
    cat.removeSet("bt", "tiny_hashes")
  }

  test("autoClusters sizes the SemDeDup codebook linearly with the corpus") {
    import graft.operators.Dedup.autoClusters
    // floor of 4 below 4 target-sizes of vectors
    assert(autoClusters(0) == 4)
    assert(autoClusters(500) == 4)
    // integer ceil, same arithmetic as the oracle's (n + t-1) // t
    assert(autoClusters(501) == 5)
    assert(autoClusters(2000) == 16)
    assert(autoClusters(20000) == 160)
    // capped at the MEMORY bound (codebook broadcast + 2k trainer
    // sample), not the old 10k compute cap — two-level routed assignment
    // removed the O(n·k·d) term that cap used to hide
    assert(autoClusters(100L * 1000 * 1000) == 200000)
    // candidate bound: k ≈ n/target keeps sum(|cluster|^2) ~ n*target,
    // i.e. 10x data → ~10x candidates, not 100x
    val n1 = 20000L; val n2 = 200000L
    val cand1 = n1.toDouble * n1 / autoClusters(n1)
    val cand2 = n2.toDouble * n2 / autoClusters(n2)
    assert(cand2 / cand1 < 11.0)
  }

  test("semanticPairs auto-k equals explicit autoClusters(n) geometry") {
    import spark.implicits._
    // 600 vectors in a line: auto k = ceil(600/125) = 5; the auto path
    // must produce exactly the pairs the explicit k=5 path does
    val emb = (0 until 600).map { i =>
      (i.toLong, Seq(i.toFloat, 1.0f, 0.0f, 0.0f))
    }.toDF("vec_id", "embedding")
    val auto = graft.operators.Dedup.semanticPairs(
      emb, "vec_id", "embedding", threshold = 0.99).collect()
    val pinned = graft.operators.Dedup.semanticPairs(
      emb, "vec_id", "embedding", nClusters = 5, threshold = 0.99).collect()
    assert(auto.map(r => (r.getLong(0), r.getLong(1))).toSet ==
      pinned.map(r => (r.getLong(0), r.getLong(1))).toSet)
    assert(auto.nonEmpty)
  }

  test("semanticPairs finds within-cluster near-dups and only those") {
    import spark.implicits._
    // two tight geometric clusters far apart: the near-identical pairs
    // land in the same kmeans cell for ANY codebook, the cross-cluster
    // cosines sit near 0 — so the exact output is known without
    // depending on which seeds the trainer draws
    val emb = Seq(
      (1L, Seq(1.0f, 0.0f, 0.0f, 0.0f)),
      (2L, Seq(0.98f, 0.02f, 0.0f, 0.0f)),
      (3L, Seq(0.0f, 1.0f, 0.0f, 0.0f)),
      (4L, Seq(0.0f, 0.97f, 0.03f, 0.0f)),
      (5L, Seq(0.4f, 0.0f, 0.9f, 0.2f)) // a loner near neither pair
    ).toDF("vec_id", "embedding")
    val rows = graft.operators.Dedup.semanticPairs(
      emb, "vec_id", "embedding", nClusters = 2, iters = 3, threshold = 0.9)
      .collect()
    assert(rows.map(r => (r.getLong(0), r.getLong(1))).toSet ==
      Set((1L, 2L), (3L, 4L)))
    // pair members share their cluster by construction; cosines verified
    assert(rows.forall(_.getDouble(3) >= 0.9))
  }

  test("two-level assignment with ONE coarse cell equals the flat argmin exactly") {
    import spark.implicits._
    // a single cell holds every fine centroid, so the routed argmin IS
    // the flat argmin — exact for ANY data, which pins the routed
    // kernel's distance/tiebreak parity with the flat codebook
    val emb = (0 until 600).map { i =>
      (i.toLong, Seq(i.toFloat, 1.0f, 0.0f, 0.0f))
    }.toDF("vec_id", "embedding")
    val flat = graft.operators.Dedup.semanticPairs(
      emb, "vec_id", "embedding", nClusters = 5, threshold = 0.99).collect()
    val routed = graft.operators.Dedup.semanticPairs(
      emb, "vec_id", "embedding", nClusters = 5, threshold = 0.99,
      routeCells = 1).collect()
    def key(rows: Array[org.apache.spark.sql.Row]) =
      rows.map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    assert(key(routed) == key(flat))
    assert(routed.nonEmpty)
  }

  test("forced multi-cell routing is deterministic and verifies its cosines") {
    import spark.implicits._
    val emb = (0 until 600).map { i =>
      (i.toLong, Seq(i.toFloat, 1.0f, 0.0f, 0.0f))
    }.toDF("vec_id", "embedding")
    def run() = graft.operators.Dedup.semanticPairs(
      emb, "vec_id", "embedding", nClusters = 8, threshold = 0.99,
      routeCells = 3).collect()
    val a = run(); val b = run()
    assert(a.map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet ==
      b.map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet)
    assert(a.nonEmpty)
    assert(a.forall(_.getDouble(3) >= 0.99))
  }

  test("routed Lloyd trainer: delegation below threshold, flat parity on separated blobs") {
    import graft.operators.SimilaritySearch.{trainCentroidsFromSample, trainCentroidsRouted}
    // below the threshold the routed trainer IS the flat trainer
    val sample = Array.tabulate(40)(i => Array(i.toDouble, (i % 7).toDouble))
    val flat = trainCentroidsFromSample(sample, 8, 3)
    val routedDelegated = trainCentroidsRouted(sample, 8, 3, routeThreshold = 2048)
    assert(flat.zip(routedDelegated).forall { case (a, b) => a.sameElements(b) })
    // above it (forced with routeThreshold = 2): four tight blobs at far
    // corners, seeds one per blob — every coarse routing is exact, so
    // routed Lloyd must land bit-identically on the flat trainer
    val corners = Array(Array(0.0, 0.0), Array(100.0, 0.0),
      Array(0.0, 100.0), Array(100.0, 100.0))
    val blobs = corners ++ (0 until 40).map { i =>
      val c = corners(i % 4)
      Array(c(0) + (i % 3) * 0.1, c(1) + (i % 5) * 0.1)
    }
    val flat4 = trainCentroidsFromSample(blobs, 4, 3)
    val routed4 = trainCentroidsRouted(blobs, 4, 3, routeThreshold = 2)
    assert(flat4.zip(routed4).forall { case (a, b) => a.sameElements(b) })
  }

  test("tree trainer: flat delegation at leaf scale, exact-k deterministic output above it") {
    // VERDICT r19 next #2: the two-level routed Lloyd is ~O(k^1.5)
    // single-threaded and measured exp 2.35 at semantic-auto-k — huge
    // codebooks train on the hierarchical tree instead. Its contract:
    // (a) at or below the branch factor it IS the flat trainer;
    // (b) above it, exactly k centroids, deterministic under the
    //     parallel phases (disjoint slots, fixed merge order);
    // (c) every centroid is a mean of sample rows — inside the data's
    //     bounding box.
    import graft.operators.SimilaritySearch.{
      trainCentroidsFromSample, trainCentroidsTree, treeBranch}
    val small = Array.tabulate(600)(i =>
      Array((i * 37 % 101).toDouble, (i * 17 % 89).toDouble))
    val flat = trainCentroidsFromSample(small, treeBranch, 3)
    val tree = trainCentroidsTree(small, treeBranch, 3)
    assert(flat.zip(tree).forall { case (a, b) => a.sameElements(b) },
      "k <= treeBranch must delegate to the flat trainer bit-for-bit")
    // above the branch factor: 1024 rows, k = 400 forces a real split
    val sample = Array.tabulate(1024)(i =>
      Array((i * 193 % 997).toDouble, (i * 71 % 499).toDouble,
        (i * 29 % 251).toDouble))
    val a = trainCentroidsTree(sample, 400, 3)
    val b = trainCentroidsTree(sample, 400, 3)
    assert(a.length == 400, s"exactly k centroids, got ${a.length}")
    assert(a.zip(b).forall { case (x, y) => x.sameElements(y) },
      "parallel phases must be deterministic under any thread schedule")
    val lo = Array.tabulate(3)(d => sample.map(_(d)).min)
    val hi = Array.tabulate(3)(d => sample.map(_(d)).max)
    assert(a.forall(c => c.indices.forall(d =>
      c(d) >= lo(d) && c(d) <= hi(d))),
      "every centroid is a mean of sample rows (bounding box)")
    // degenerate: sample no larger than k mirrors the flat trainer's
    // short-array behavior
    val tiny = sample.take(300)
    assert(trainCentroidsTree(tiny, 400, 3).length ==
      trainCentroidsFromSample(tiny, 400, 3).length)
  }

  test("routed trainer dispatches to the tree above treeTrainThreshold") {
    import graft.operators.SimilaritySearch.{
      trainCentroidsRouted, trainCentroidsTree, treeTrainThreshold}
    val k = treeTrainThreshold + 1
    val sample = Array.tabulate(2 * k + 2)(i =>
      Array((i * 193 % 4001).toDouble, (i * 71 % 1999).toDouble))
    val viaRouted = trainCentroidsRouted(sample, k, iters = 2)
    val viaTree = trainCentroidsTree(sample, k, iters = 2)
    assert(viaRouted.length == k)
    assert(viaRouted.zip(viaTree).forall { case (x, y) => x.sameElements(y) },
      "above the tree threshold the routed entry point IS the tree")
  }

  test("assignment tree: disjoint leaf cover, flat parity on separated centroids") {
    // VERDICT r20 next #3: above treeRouteThreshold the routed
    // assignment kernel descends a hierarchical router (~4·k^¼ distance
    // evals/row) instead of the two-level √k router. Contract pins, for
    // the tree AND the two-level router (one Codebook, two shapes):
    // (a) the leaves cover every fine-centroid index exactly once
    //     (assignment is total and unambiguous);
    // (b) on well-separated centroids the routed assignment equals the
    //     flat argmin row-for-row (routing is exact when cells are
    //     separated — the same parity pin the routed trainer carries);
    // (c) the build is deterministic: two builds assign identically;
    // (d) ties break to the smallest global index in every shape;
    // (e) the two-level router is exactly coarseRouter's cells at
    //     Codebook.routeIters = 2 (the dd_semantic_route oracle mirrors
    //     two coarse Lloyd iterations).
    import graft.operators.SimilaritySearch.{buildRouteTree, coarseRouter,
      sqrtCells, treeRouteBranch, Codebook, TreeKernel, RouteNode,
      RouteBranch, RouteLeaf}
    import spark.implicits._
    val cents = Array.tabulate(64)(i =>
      Array((i % 8) * 1000.0, (i / 8) * 1000.0))
    val tree = buildRouteTree(cents, cents.indices.toArray,
      treeRouteBranch(cents.length), 2)
    val twoLevel = Codebook.twoLevel(cents, sqrtCells(cents.length))
    def leaves(n: RouteNode): Seq[Int] = n match {
      case RouteLeaf(m) => m.toSeq
      case RouteBranch(_, ch) => ch.toSeq.flatMap(leaves)
    }
    for (router <- Seq(tree, twoLevel.router))
      assert(leaves(router).sorted == (0 until 64).toList,
        "leaves must cover every fine index exactly once")
    // queries: every centroid plus a small in-cell offset
    val qs = (0 until 128).map { i =>
      val c = cents(i % 64)
      (i.toLong, Seq((c(0) + (i % 3) * 0.5).toFloat,
        (c(1) + (i % 5) * 0.5).toFloat))
    }.toDF("id", "v")
    def assigns(cb: Codebook) =
      qs.select(col("id"), cb.assignUdf(col("v")).as("c")).collect()
        .map(r => (r.getLong(0), r.getLong(1))).toMap
    val viaTree = assigns(Codebook.of(TreeKernel, cents))
    val viaFlat = assigns(Codebook.flat(cents))
    assert(viaTree == viaFlat,
      "tree assignment must equal the flat argmin on separated cells")
    assert(assigns(twoLevel) == viaFlat,
      "two-level assignment must equal the flat argmin on separated cells")
    assert(assigns(Codebook.of(TreeKernel, cents)) == viaTree,
      "tree build must be deterministic")
    val dup = Array(Array(5.0, 5.0), Array(0.0, 0.0), Array(0.0, 0.0),
      Array(5.0, 5.0))
    for (cb <- Seq(Codebook.flat(dup), Codebook.twoLevel(dup, 2),
        Codebook.of(TreeKernel, dup)))
      assert(cb.nearest(Array(0.0, 0.0)) == 1 &&
        cb.nearest(Array(5.0, 5.0)) == 0,
        s"${cb.kernel}: ties must resolve to the smallest global index")
    // a line converges slowly from its first-k seeds, so a different
    // coarse iteration count moves the cells
    val line = Array.tabulate(16)(i => Array(i.toDouble))
    val (coarse, members) = coarseRouter(line, 4, 2)
    val RouteBranch(centers, children) = Codebook.twoLevel(line, 4).router
    assert(centers.map(_.toSeq).toSeq == coarse.map(_.toSeq).toSeq &&
      children.map(leaves).toSeq == members.map(_.toSeq).toSeq,
      "two-level router must be coarseRouter(centroids, nCoarse, 2)")
  }

  test("apportion: exact total, per-cell capacity cap, deterministic remainders") {
    import graft.operators.SimilaritySearch.apportion
    // proportional shares with caps: a cell never owes more centroids
    // than rows, the total is exactly k, ties break on index
    val ks = apportion(10, Array(50, 30, 20))
    assert(ks.sum == 10 && ks.sameElements(Array(5, 3, 2)))
    // capacity-capped cell pushes its share to cells with spare rows
    val capped = apportion(10, Array(2, 100, 3))
    assert(capped.sum == 10 && capped(0) <= 2 && capped(2) <= 3)
    // empty cells get nothing; exact-fit apportions everything
    assert(apportion(5, Array(0, 5, 0)).sameElements(Array(0, 5, 0)))
    // remainder rounds deterministically (fraction desc, index asc)
    val r1 = apportion(7, Array(10, 10, 10))
    val r2 = apportion(7, Array(10, 10, 10))
    assert(r1.sameElements(r2) && r1.sum == 7)
    intercept[IllegalArgumentException](apportion(5, Array(1, 2)))
  }

  test("corpusLshIndex returns the PERSISTED band frame, so unpersist really frees it") {
    // regression: the index used to return an anti-join DERIVED from the
    // persisted frame — the caller's unpersist matched nothing and the
    // band cache leaked for the session lifetime
    val corpus = Tables.documents(spark, sfDir).filter(col("doc_id") < 25)
    val (cSets, cBanded) = Dedup.corpusLshIndex(corpus, "doc_id", "text")
    assert(cSets.storageLevel.useMemory,
      "returned shingle-set frame is not the persisted one")
    assert(cBanded.storageLevel.useMemory,
      "returned band frame is not the persisted one (unpersist would no-op)")
    cSets.unpersist(blocking = true)
    cBanded.unpersist(blocking = true)
    assert(!cSets.storageLevel.useMemory && !cBanded.storageLevel.useMemory)
  }

  test("lm score ranks reference-like text above out-of-vocabulary text") {
    import spark.implicits._
    val ref = Seq(
      (1L, "the cat sat on the mat"),
      (2L, "the dog sat on the rug")).toDF("doc_id", "text")
    val docs = Seq(
      (10L, "the cat sat on the rug"),   // in-vocab, seen bigrams
      (11L, "zz qq ww ee rr tt")          // fully OOV
    ).toDF("doc_id", "text")
    val out = graft.operators.TextAnalysis.lmScore(docs, ref, "doc_id", "text")
      .collect().map(r => r.getLong(0) -> r.getDouble(2)).toMap
    assert(out(10L) > out(11L),
      s"reference-like doc must outscore gibberish: $out")
    // every score is a mean of log-probabilities: strictly negative
    assert(out.values.forall(_ < 0))
  }

  test("lm quality buckets: score-monotone tiers, ties land in the better tier") {
    import spark.implicits._
    val ref = Seq(
      (1L, "the cat sat on the mat"),
      (2L, "the dog sat on the rug")).toDF("doc_id", "text")
    // a quality gradient: in-vocab, partly in-vocab, fully OOV — plus a
    // planted TIE (two identical texts must share a bucket, the better
    // one their rank would straddle)
    val docs = Seq(
      (10L, "the cat sat on the rug"),
      (11L, "the cat sat on the rug"),
      (12L, "the cat ate qq ww"),
      (13L, "zz qq ww ee rr tt"),
      (14L, "aa bb cc dd ee ff"),
      (15L, "the dog sat on the mat")
    ).toDF("doc_id", "text")
    val out = graft.operators.TextAnalysis
      .lmQualityBuckets(docs, ref, "doc_id", "text", nBuckets = 3)
      .collect().map(r => (r.getLong(0), r.getDouble(1), r.getInt(2)))
    assert(out.length == 6 && out.map(_._3).toSet.subsetOf(Set(0, 1, 2)))
    // bucket assignment is monotone in score: a higher score can never
    // land in a worse (higher-numbered) bucket
    for ((_, s1, b1) <- out; (_, s2, b2) <- out if s1 > s2)
      assert(b1 <= b2, s"score $s1 in bucket $b1 but $s2 in bucket $b2")
    // equal scores share a bucket (the ties-to-the-better-tier rule)
    out.groupBy(_._2).values.foreach { g =>
      assert(g.map(_._3).distinct.length == 1,
        s"tied scores split across buckets: $g")
    }
    // the head tier exists and holds a best-scoring doc
    val best = out.maxBy(_._2)
    assert(best._3 == 0, s"best doc ${best._1} not in the head bucket")
  }
}
