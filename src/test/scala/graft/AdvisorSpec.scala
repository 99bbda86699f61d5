package graft

import java.nio.file.{Files, Paths}
import scala.jdk.CollectionConverters._
import org.apache.spark.sql.functions._
import graft.advisor.PlacementAdvisor
import graft.model.Tables
import graft.storage.SetCatalog

class AdvisorSpec extends GraftSpecBase {

  test("advisor learns the dominant join key from observed plans") {
    val adv = new PlacementAdvisor
    val li = Tables.lineitem(spark, sfDir)
    val o = Tables.orders(spark, sfDir)
    // two joins on l_orderkey, one aggregate on l_partkey
    adv.observe(li.join(o, col("l_orderkey") === col("o_orderkey")))
    adv.observe(li.join(o, col("l_orderkey") === col("o_orderkey")))
    adv.observe(li.groupBy(col("l_partkey")).count())
    assert(adv.recommend("lineitem").contains("l_orderkey"))
    assert(adv.recommend("orders").contains("o_orderkey"))
    assert(adv.recommend("nation").isEmpty)
  }

  test("set catalog: create / scan / meta / list / remove round-trip") {
    val root = tempRoot("graft-sets").toString
    val cat = new SetCatalog(spark, root)
    val df = Tables.nation(spark, sfDir)
    cat.createSet("db1", "nations", df, Some("n_regionkey"), 4)
    assert(cat.scanSet("db1", "nations").count() == 25)
    val m = cat.meta("db1", "nations").get
    assert(m.partitionColumn.contains("n_regionkey") && m.numPartitions == 4 && m.rows == 25)
    assert(cat.listSets() == Seq(("db1", "nations")))
    cat.removeSet("db1", "nations")
    assert(cat.listSets().isEmpty)
  }

  test("co-bucketed sets join with no shuffle exchange (the Lachesis local-join payoff)") {
    val root = tempRoot("graft-buckets").toString
    val cat = new SetCatalog(spark, root)
    val li = Tables.lineitem(spark, sfDir)
    val o = Tables.orders(spark, sfDir)
    cat.createBucketedSet("bk", "lineitem", li, "l_orderkey", 4)
    cat.createBucketedSet("bk", "orders", o, "o_orderkey", 4)
    val joined = cat.scanSet("bk", "lineitem")
      .join(cat.scanSet("bk", "orders"),
        col("l_orderkey") === col("o_orderkey"))
    // disable broadcast so the join strategy must exploit bucketing
    val prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      val plan = joined.queryExecution.executedPlan.toString
      assert(!plan.contains("Exchange"),
        s"co-bucketed join must not shuffle:\n$plan")
      assert(joined.count() == li.count(), "inner join on FK preserves lineitems")
    } finally spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
  }

  test("advisor placement applied on save co-partitions the set") {
    val root = tempRoot("graft-sets2").toString
    val cat = new SetCatalog(spark, root)
    val adv = new PlacementAdvisor
    val li = Tables.lineitem(spark, sfDir)
    adv.observe(li.join(Tables.orders(spark, sfDir),
      col("l_orderkey") === col("o_orderkey")))
    adv.saveWithPlacement(cat, "db1", "lineitem_placed", "lineitem", li)
    val m = cat.meta("db1", "lineitem_placed").get
    assert(m.partitionColumn.contains("l_orderkey"))
    assert(cat.scanSet("db1", "lineitem_placed").count() == li.count())
  }

  test("advisor history persists: a new session recommends from prior observations") {
    val path = tempRoot("graft-adv").resolve("history.tsv").toString
    // a history written by an older advisor: its probe-dial (D) and
    // ingest-census (C) lines are unknown tags now and must load as
    // nothing, next to the tags still read
    Files.writeString(Paths.get(path),
      "D\tidx\t4\t0.3\nC\ting\t100000\t2000\nS\tlineitem\t7\n")
    val li = Tables.lineitem(spark, sfDir)
    val o = Tables.orders(spark, sfDir)
    val a1 = new PlacementAdvisor(Some(path))
    assert(a1.observedKeyUse.isEmpty)
    a1.observe(li.join(o, col("l_orderkey") === col("o_orderkey")), latencyMs = 42L)
    // fresh instance = new session; must recall the join key and partners
    val a2 = new PlacementAdvisor(Some(path))
    assert(a2.recommend("lineitem").contains("l_orderkey"))
    assert(a2.recommend("orders").contains("o_orderkey"))
    assert(a2.coPartitionGroup("lineitem") == Set("lineitem", "orders"))
    // the rewrite on observe keeps the known lines and drops the old tags
    val lines = Files.readAllLines(Paths.get(path)).asScala
    assert(lines.contains("S\tlineitem\t7"))
    assert(!lines.exists(l => l.startsWith("D\t") || l.startsWith("C\t")))
  }

  test("saveWithPlacement sizes co-partitioned sets to one bucket count; join stays exchange-free") {
    val root = tempRoot("graft-sets3").toString
    val cat = new SetCatalog(spark, root)
    val adv = new PlacementAdvisor
    val li = Tables.lineitem(spark, sfDir)
    val o = Tables.orders(spark, sfDir)
    adv.observe(li.join(o, col("l_orderkey") === col("o_orderkey")))
    // lineitem (larger) saved first fixes the group's bucket count; orders
    // must adopt it even though its own row count would suggest fewer
    adv.saveWithPlacement(cat, "db3", "li", "lineitem", li, targetRowsPerBucket = 1024L)
    adv.saveWithPlacement(cat, "db3", "o", "orders", o, targetRowsPerBucket = 1024L)
    val mLi = cat.meta("db3", "li").get
    val mO = cat.meta("db3", "o").get
    assert(mLi.policy == "bucket" && mO.policy == "bucket")
    assert(mLi.numPartitions == mO.numPartitions,
      s"group must share a bucket count: ${mLi.numPartitions} vs ${mO.numPartitions}")
    assert(mLi.numPartitions > 1, "target 1024 rows must yield multiple buckets")
    val joined = cat.scanSet("db3", "li")
      .join(cat.scanSet("db3", "o"), col("l_orderkey") === col("o_orderkey"))
    val prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      val plan = joined.queryExecution.executedPlan.toString
      assert(!plan.contains("Exchange"),
        s"advisor-placed sets must join without shuffle:\n$plan")
      assert(joined.count() == li.count())
    } finally spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
  }

  test("advisor sizing rule lands on persistLshIndex/persistGramIndex sets") {
    val adv = new PlacementAdvisor
    val docs = Tables.documents(spark, sfDir).filter(col("doc_id") < 100)
    val root = tempRoot("graft-advidx").toString
    val cat = new SetCatalog(spark, root)
    // target 512 rows/bucket so the rule yields a real (>1) count at
    // fixture scale; both bucketed sets must carry the SAME advised count
    graft.operators.Dedup.persistLshIndex(cat, "adv", "idx", docs,
      "doc_id", "text", advisor = Some(adv), targetRowsPerBucket = 512)
    val bands = cat.meta("adv", "idx_bands").get
    val sets = cat.meta("adv", "idx_sets").get
    val expected = adv.recommendBuckets("adv.idx_bands", bands.rows, 512)
    assert(expected > 1, s"fixture should need >1 bucket, got $expected")
    assert(bands.numPartitions == expected,
      s"band set carries ${bands.numPartitions} buckets, advisor says $expected")
    assert(sets.numPartitions == expected, "sets/bands bucket counts diverged")
    // and the power-of-two invariant the group-convergence argument needs
    assert((expected & (expected - 1)) == 0)

    graft.operators.Dedup.persistGramIndex(cat, "adv", "idx", docs,
      "doc_id", "text", k = 8, advisor = Some(adv), targetRowsPerBucket = 512)
    val grams = cat.meta("adv", "idx_grams").get
    val expGrams = adv.recommendBuckets("adv.idx_grams", grams.rows, 512)
    assert(grams.numPartitions == expGrams && expGrams > 1)

    graft.operators.Dedup.persistExactIndex(cat, "adv", "idx", docs,
      "text", advisor = Some(adv), targetRowsPerBucket = 16)
    val hashesMeta = cat.meta("adv", "idx_hashes").get
    val expHashes = adv.recommendBuckets("adv.idx_hashes", hashesMeta.rows, 16)
    assert(hashesMeta.numPartitions == expHashes && expHashes > 1)

    // the fingerprint family (8-byte long keys) takes the same advised
    // sizing as the md5 family — an envelope index built through the
    // advisor must carry recommendBuckets' count for its distinct-fp
    // rowcount, and still serve its streaming-probe join
    graft.operators.Multimodal.persistEnvelopeIndex(cat, "adv", "env",
      graft.operators.Multimodal.withPayload(docs),
      advisor = Some(adv), targetRowsPerBucket = 4)
    val fpsMeta = cat.meta("adv", "env_fps").get
    val expFps = adv.recommendBuckets("adv.env_fps", fpsMeta.rows, 4)
    assert(expFps > 1, s"fixture should need >1 envelope bucket, got $expFps")
    assert(fpsMeta.numPartitions == expFps,
      s"envelope index carries ${fpsMeta.numPartitions} buckets, advisor says $expFps")
    assert((expFps & (expFps - 1)) == 0)
    val envProbe = graft.operators.Dedup.fingerprintsAgainstFps(
      graft.operators.Multimodal.envelopeFingerprint(
        graft.operators.Multimodal.withPayload(docs.limit(5))),
      graft.operators.Dedup.scanFingerprintIndex(cat, "adv", "env"),
      Seq("doc_id"), "fp")
    assert(envProbe.filter(col("is_dup")).count() > 0,
      "self-probe of the advised envelope index found no dups")

    // the PQ code table takes the same advised sizing: codes and
    // vectors sets of an advisor-built compressed index must both carry
    // recommendBuckets' count for the corpus rowcount
    val emb = Tables.embeddings(spark, sfDir)
    graft.operators.SimilaritySearch.buildIndex(spark, cat, "adv", "pq",
      emb, m = 16, advisor = Some(adv), targetRowsPerBucket = 16)
    val codesMeta = cat.meta("adv", "pq_codes").get
    val expCodes = adv.recommendBuckets("adv.pq_codes", codesMeta.rows, 16)
    assert(expCodes > 1, s"fixture should need >1 code bucket, got $expCodes")
    assert(codesMeta.numPartitions == expCodes,
      s"code set carries ${codesMeta.numPartitions} buckets, advisor says $expCodes")
    assert(cat.meta("adv", "pq_vectors").get.numPartitions == expCodes,
      "codes/vectors partition counts diverged")
    // the advised layout still serves the search
    val pqHits = graft.operators.SimilaritySearch.searchIndex(
      spark, cat, "adv", "pq", emb.filter(col("vec_id") < 3), k = 3)
    assert(pqHits.count() > 0, "search over the advised PQ index was empty")

    // IVF-PQ parity: the hash-placed VECTORS set takes the same advised
    // sizing (the codes set needs none — it is directory-partitioned by
    // coarse cell, where nCentroids is the layout)
    graft.operators.SimilaritySearch.buildIndex(spark, cat, "adv",
      "ivfpq", emb, nCentroids = 16, m = 16, advisor = Some(adv),
      targetRowsPerBucket = 16)
    val ivfpqVec = cat.meta("adv", "ivfpq_vectors").get
    val expIvfpqVec = adv.recommendBuckets("adv.ivfpq_vectors", ivfpqVec.rows, 16)
    assert(expIvfpqVec > 1,
      s"fixture should need >1 vector bucket, got $expIvfpqVec")
    assert(ivfpqVec.numPartitions == expIvfpqVec,
      s"ivfpq vector set carries ${ivfpqVec.numPartitions} buckets, " +
        s"advisor says $expIvfpqVec")
    assert((expIvfpqVec & (expIvfpqVec - 1)) == 0)
    assert(cat.meta("adv", "ivfpq_codes").get.policy == "dirpart",
      "ivfpq codes set must stay directory-partitioned by coarse cell")
    val ivfpqHits = graft.operators.SimilaritySearch.searchIndex(
      spark, cat, "adv", "ivfpq", emb.filter(col("vec_id") < 3), k = 3)
    assert(ivfpqHits.count() > 0,
      "search over the advised IVF-PQ index was empty")

    // the advised layout still serves the index's join: probing works
    val hits = graft.operators.Dedup.spansAgainstStoredIndex(
      docs.limit(5), cat, "adv", "idx", "doc_id", "text", k = 8)
    assert(hits.count() > 0, "self-probe of the gram index found no spans")
    Seq("idx_sets", "idx_bands", "idx_grams", "idx_hashes", "env_fps",
        "pq_codebooks", "pq_codes", "pq_vectors",
        "ivfpq_centroids", "ivfpq_codebooks", "ivfpq_codes", "ivfpq_vectors")
      .foreach(cat.removeSet("adv", _))
  }

  test("reward-driven recommendation favors the key of the expensive workload") {
    val adv = new PlacementAdvisor
    val li = Tables.lineitem(spark, sfDir)
    val o = Tables.orders(spark, sfDir)
    // frequency rule would pick l_orderkey (2 joins, weight 2 each);
    // the reward signal says the partkey aggregation dominates latency
    adv.observe(li.join(o, col("l_orderkey") === col("o_orderkey")), latencyMs = 10L)
    adv.observe(li.join(o, col("l_orderkey") === col("o_orderkey")), latencyMs = 10L)
    adv.observe(li.groupBy(col("l_partkey")).count(), latencyMs = 5000L)
    assert(adv.recommend("lineitem").contains("l_orderkey"), "frequency rule")
    assert(adv.recommendByReward("lineitem").contains("l_partkey"), "reward rule")
    // with no latencies recorded, reward falls back to frequency
    val cold = new PlacementAdvisor
    cold.observe(li.join(o, col("l_orderkey") === col("o_orderkey")))
    assert(cold.recommendByReward("lineitem").contains("l_orderkey"))
  }

  test("ε-greedy chooser explores both keys, then switches after contradicting rewards") {
    val adv = new PlacementAdvisor
    val li = Tables.lineitem(spark, sfDir)
    val o = Tables.orders(spark, sfDir)
    // thin history → rule-based fallback
    adv.observe(li.join(o, col("l_orderkey") === col("o_orderkey")))
    assert(adv.chooseKey("lineitem").contains("l_orderkey"))
    // orderkey dominates the reward at first
    adv.observe(li.join(o, col("l_orderkey") === col("o_orderkey")), latencyMs = 900L)
    adv.observe(li.groupBy(col("l_partkey")).count(), latencyMs = 100L)
    def tally(): Map[String, Int] =
      (0 until 200).flatMap(s => adv.chooseKey("lineitem", salt = s))
        .groupBy(identity).view.mapValues(_.size).toMap
    val before = tally()
    assert(before.getOrElse("l_orderkey", 0) > before.getOrElse("l_partkey", 0),
      s"incumbent should dominate: $before")
    assert(before.getOrElse("l_partkey", 0) > 0,
      s"challenger must still be explored: $before")
    // contradicting observations: partkey aggregations turn out expensive
    adv.observe(li.groupBy(col("l_partkey")).count(), latencyMs = 20000L)
    val after = tally()
    assert(after.getOrElse("l_partkey", 0) > after.getOrElse("l_orderkey", 0),
      s"chooser must switch with the reward: $after")
  }

  test("advisor persist is atomic and caps replayed history") {
    val path = tempRoot("graft-adv").resolve("hist.tsv").toString
    val adv = new PlacementAdvisor(Some(path))
    val li = Tables.lineitem(spark, sfDir)
    for (_ <- 1 to 3) adv.observe(li.groupBy(col("l_partkey")).count(), latencyMs = 5L)
    // no stray temp files left behind by the atomic rewrite
    val dir = java.nio.file.Paths.get(path).getParent
    val leftovers = Files.list(dir).toArray.map(_.toString)
      .filter(_.contains(".advisor"))
    assert(leftovers.isEmpty, s"temp files left: ${leftovers.mkString(",")}")
    // a reloaded session sees the learned state
    val adv2 = new PlacementAdvisor(Some(path))
    assert(adv2.recommendByReward("lineitem").contains("l_partkey"))
    // history cap: the sidecar never exceeds MaxHistory H-lines
    val hLines = Files.readAllLines(java.nio.file.Paths.get(path))
      .toArray.map(_.toString).count(_.startsWith("H\t"))
    assert(hLines <= PlacementAdvisor.MaxHistory)
  }

  test("fair dispatcher policy: write slots proportional to node capacity") {
    val root = tempRoot("graft-sets4").toString
    val cat = new SetCatalog(spark, root)
    val nat = Tables.nation(spark, sfDir)
    cat.createSet("db4", "nations_fair", nat, None, numPartitions = 8,
      policy = "fair", nodeWeights = Seq(3.0, 1.0))
    val m = cat.meta("db4", "nations_fair").get
    assert(m.policy == "fair" && m.nodeShares == Seq(6, 2))
    assert(m.numPartitions == 8)
    assert(cat.scanSet("db4", "nations_fair").count() == 25)
    // every node gets at least one slot even when outweighed
    assert(graft.storage.SetCatalog.fairShares(Seq(100.0, 1.0), 4) == Seq(4, 1))
  }

  test("compactSet collapses appended small files, preserving data and layout") {
    import spark.implicits._
    import scala.jdk.CollectionConverters._
    val root = tempRoot("graft-compact").toString
    val cat = new SetCatalog(spark, root)
    val base = (1L to 100L).map(i => (i, s"v$i")).toDF("k", "v")
    cat.createSet("db", "log", base.limit(0), policy = "none")
    for (b <- 0 until 5)
      cat.appendToSet("db", "log", base.filter(col("k") % 5 === b))
    def files(set: String) =
      Files.walk(java.nio.file.Paths.get(s"$root/db.$set")).iterator().asScala
        .count(p => p.toString.endsWith(".parquet"))
    val before = files("log")
    assert(before >= 5, s"appends should fragment, got $before files")
    val want = cat.scanSet("db", "log").collect().map(_.toSeq).toSet
    cat.compactSet("db", "log")
    assert(files("log") < before)
    assert(cat.scanSet("db", "log").collect().map(_.toSeq).toSet == want)
    assert(cat.meta("db", "log").exists(m => m.rows == 100 && m.policy == "none"))

    // directory-partitioned variant: appends fragment inside partition
    // dirs; compaction restores ~one file per partition value
    cat.createPartitionedSet("db", "plog",
      base.withColumn("p", col("k") % 3), "p")
    for (b <- 0 until 3)
      cat.appendToPartitionedSet("db", "plog",
        base.withColumn("p", col("k") % 3).filter(col("k") % 5 === b), "p")
    val pBefore = files("plog")
    val pWant = cat.scanSet("db", "plog").collect().map(_.toSeq).toSet
    cat.compactSet("db", "plog")
    assert(files("plog") < pBefore && files("plog") <= 6)
    assert(cat.scanSet("db", "plog").collect().map(_.toSeq).toSet == pWant)
    assert(cat.meta("db", "plog").exists(_.policy == "dirpart"))

    // bucketed sets never fragment and are refused
    cat.createBucketedSet("db", "bset", base, "k", 2)
    intercept[IllegalArgumentException] { cat.compactSet("db", "bset") }
  }

  test("compactSet recovers a crash between the two swap renames") {
    import spark.implicits._
    val root = tempRoot("graft-compact-crash").toString
    val cat = new SetCatalog(spark, root)
    val base = (1L to 50L).map(i => (i, s"v$i")).toDF("k", "v")
    cat.createSet("db", "log", base, policy = "none")
    val want = cat.scanSet("db", "log").collect().map(_.toSeq).toSet
    // simulate a compact that died after `mv src src.old` but before
    // `mv src.compacting src`: src is GONE, .old holds the only data
    val src = java.nio.file.Paths.get(s"$root/db.log")
    Files.move(src, java.nio.file.Paths.get(s"$root/db.log.old"))
    // the next compact must restore, not delete, the surviving copy
    cat.compactSet("db", "log")
    assert(cat.scanSet("db", "log").collect().map(_.toSeq).toSet == want)
    // and the same for a crash before the FIRST rename completed with a
    // finished .compacting left behind and src gone (degenerate variant)
    Files.move(src, java.nio.file.Paths.get(s"$root/db.log.compacting"))
    cat.compactSet("db", "log")
    assert(cat.scanSet("db", "log").collect().map(_.toSeq).toSet == want)
  }

  test("renameSet swaps a staged set over the original; bucketed sets keep their buckets") {
    import spark.implicits._
    val root = tempRoot("graft-rename").toString
    val cat = new SetCatalog(spark, root)
    val base = (1L to 20L).map(i => (i, s"v$i")).toDF("k", "v")
    cat.createPartitionedSet("db", "tgt", base.withColumn("b", $"k" % 2), "b")
    // the staged-rebuild swap: the stage holds the SAME logical rows
    // under a NEW partitioning (an IVF rebuildIndex's sequence: stage,
    // remove original, rename over it)
    val want = cat.scanSet("db", "tgt")
      .select($"k", $"v").collect().map(_.toSeq).toSet
    cat.createPartitionedSet("db", "tgt_stage",
      base.withColumn("b", $"k" % 4), "b")
    intercept[IllegalArgumentException] {
      cat.renameSet("db", "tgt_stage", "tgt") // target still exists
    }
    cat.removeSet("db", "tgt")
    cat.renameSet("db", "tgt_stage", "tgt")
    assert(cat.scanSet("db", "tgt")
      .select($"k", $"v").collect().map(_.toSeq).toSet == want)
    assert(cat.meta("db", "tgt").exists(m =>
      m.policy == "dirpart" && m.rows == 20L))
    assert(cat.meta("db", "tgt_stage").isEmpty)
    // a bucketed set is its files (bucket ids in their names) plus its
    // sidecar (the spec): the move keeps both, so the renamed set still
    // self-joins on its key with no exchange
    cat.createBucketedSet("db", "bkt", base, "k", 2)
    cat.renameSet("db", "bkt", "bkt2")
    assert(cat.meta("db", "bkt").isEmpty)
    val renamed = cat.scanSet("db", "bkt2")
    val self = renamed.join(renamed.select($"k", $"v".as("v2")), "k")
    val prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      val plan = self.queryExecution.executedPlan.toString
      assert(!plan.contains("Exchange"),
        s"renamed bucketed set re-shuffles on its own bucket key:\n$plan")
      assert(self.count() == 20L)
    } finally spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
    cat.removeSet("db", "bkt2")
    cat.removeSet("db", "tgt")
  }

  test("compaction trigger: amortized over the compacted tiling, floored for small sets") {
    val adv = new PlacementAdvisor
    assert(adv.recommendCompactionTrigger(layoutFiles = 32) === 128)
    assert(adv.recommendCompactionTrigger(layoutFiles = 1000,
      growthFactor = 4) === 4000)
    // small sets hit the floor: compaction saves too little listing to
    // run every few batches
    assert(adv.recommendCompactionTrigger(layoutFiles = 4) === 64)
    assert(adv.recommendCompactionTrigger(layoutFiles = 0) === 64)
    intercept[IllegalArgumentException] {
      adv.recommendCompactionTrigger(layoutFiles = 4, growthFactor = 1)
    }
  }

  test("advised SemDeDup geometry matches the static sizing and remembers the largest corpus") {
    import graft.operators.{Dedup, SimilaritySearch}
    val adv = new PlacementAdvisor
    // parity with the hand-picked rule at four regimes: fixture-scale
    // flat (k ≤ 2048 → no routing), the two-level routed point, the
    // tree-routed points past treeRouteThreshold (routeCells 0: the
    // operator's own routed kernel takes the tree, as on the static
    // path), and the memory-bound cap where targetClusterSize grows
    for (n <- Seq(50000L, 1250000L, 5000000L, 30000000L)) {
      val g = adv.recommendSemGeometry(s"t$n", n)
      val k = Dedup.autoClusters(n)
      assert(g.clusters == k, s"advised k ${g.clusters} != static $k at n=$n")
      val cells =
        if (k > Dedup.routeThreshold && k <= SimilaritySearch.treeRouteThreshold)
          SimilaritySearch.sqrtCells(k)
        else 0
      assert(g.routeCells == cells,
        s"advised cells ${g.routeCells} != static $cells at n=$n")
    }
    // past the 200k-cluster memory bound the target grows with n — the
    // documented knob — and k pins at the cap
    val big = adv.recommendSemGeometry("huge", 50000000L)
    assert(big.clusters == 200000 && big.targetClusterSize == 250)
    // history: a later probe over a SLICE of an observed corpus still
    // sizes for the largest size seen — the advantage over static
    // sizing, which can only see the frame in front of it
    val first = adv.recommendSemGeometry("corpus", 5000000L)
    val replay = adv.recommendSemGeometry("corpus", 10000L)
    assert(replay == first,
      s"advisor forgot the observed corpus: $replay != $first")
  }

  test("bucketed sets register no session-catalog table; removeSet leaves a same-named unrelated table alone") {
    import spark.implicits._
    val root = tempRoot("graft-remove").toString
    val cat = new SetCatalog(spark, root)
    val base = (1L to 10L).map(i => (i, s"v$i")).toDF("k", "v")
    // an UNRELATED session-catalog table that happens to share the
    // db_set naming convention of a plain (non-bucketed) set
    spark.sql("DROP TABLE IF EXISTS dbx_plain")
    base.write.mode("overwrite")
      .option("path", s"$root/unrelated").saveAsTable("dbx_plain")
    cat.createSet("dbx", "plain", base, policy = "none")
    cat.removeSet("dbx", "plain")
    assert(spark.catalog.tableExists("dbx_plain"),
      "removing a non-bucketed set must not drop a same-named table")
    // a bucketed set lives in the root alone: creating it registers
    // nothing, and removing it leaves the same-named table standing
    spark.sql("DROP TABLE IF EXISTS dbx_bkt")
    base.write.mode("overwrite")
      .option("path", s"$root/unrelated_bkt").saveAsTable("dbx_bkt")
    cat.createBucketedSet("dbx", "bkt2", base, "k", 2)
    assert(!spark.catalog.tableExists("dbx_bkt2"))
    cat.createBucketedSet("dbx", "bkt", base, "k", 2)
    cat.removeSet("dbx", "bkt")
    assert(spark.catalog.tableExists("dbx_bkt") &&
      spark.table("dbx_bkt").count() == 10L,
      "removing a bucketed set must not drop a same-named table")
    spark.sql("DROP TABLE dbx_plain")
    spark.sql("DROP TABLE dbx_bkt")
  }
}
