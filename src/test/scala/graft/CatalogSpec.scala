package graft

import java.nio.file.{Files, Paths}
import org.apache.spark.sql.functions._
import graft.model.Tables
import graft.storage.{ParquetPaths, SetCatalog}

class CatalogSpec extends GraftSpecBase {

  private lazy val root = {
    val r = tempRoot("graft-cat").toString
    spark.conf.set("spark.sql.catalog.graft", "graft.storage.GraftCatalog")
    spark.conf.set("spark.sql.catalog.graft.root", r)
    r
  }

  /** The bucket count `df`'s file relation reads its files under. */
  private def bucketsOf(df: org.apache.spark.sql.DataFrame): Option[Int] = {
    import org.apache.spark.sql.execution.datasources.{HadoopFsRelation, LogicalRelation}
    df.queryExecution.analyzed.collectFirst {
      case LogicalRelation(fs: HadoopFsRelation, _, _, _, _) => fs.bucketSpec
    }.flatten.map(_.numBuckets)
  }

  test("sets stored by SetCatalog are queryable as graft.<db>.<set> SQL tables") {
    val sets = new SetCatalog(spark, root)
    sets.createSet("tpch", "nation", Tables.nation(spark, sfDir))
    val viaSql = spark.sql(
      "SELECT n_name FROM graft.tpch.nation WHERE n_regionkey = 0 ORDER BY n_name")
      .collect().map(_.getString(0)).toSeq
    val direct = Tables.nation(spark, sfDir)
      .filter(col("n_regionkey") === 0).orderBy("n_name").select("n_name")
      .collect().map(_.getString(0)).toSeq
    assert(viaSql == direct && viaSql.nonEmpty)
  }

  test("scans through the catalog keep parquet filter pushdown") {
    val sets = new SetCatalog(spark, root)
    sets.createSet("tpch", "customer", Tables.customer(spark, sfDir))
    val plan = spark.sql(
      "SELECT c_custkey FROM graft.tpch.customer WHERE c_custkey = 17")
      .queryExecution.executedPlan.toString
    assert(plan.contains("PushedFilters: [IsNotNull(c_custkey), EqualTo(c_custkey,17)]"),
      s"pushdown missing from plan:\n$plan")
  }

  test("declared tables accept INSERT INTO before and after first data") {
    spark.sql("CREATE NAMESPACE IF NOT EXISTS graft.scratch")
    spark.sql("CREATE TABLE graft.scratch.kv (k BIGINT, v STRING)")
    spark.sql("INSERT INTO graft.scratch.kv VALUES (1, 'a'), (2, 'b')")
    spark.sql("INSERT INTO graft.scratch.kv VALUES (3, 'c')")
    val rows = spark.sql("SELECT k, v FROM graft.scratch.kv ORDER BY k")
      .collect().map(r => (r.getLong(0), r.getString(1))).toSeq
    assert(rows == Seq((1L, "a"), (2L, "b"), (3L, "c")))
    spark.sql("DROP TABLE graft.scratch.kv")
  }

  test("bucketed SQL reads see a set overwritten in place (no stale listing)") {
    import spark.implicits._
    val sets = new SetCatalog(spark, root)
    val v1 = (1L to 10L).map(i => (i, s"v$i")).toDF("k", "v")
    sets.createBucketedSet("bk", "regen", v1, "k", 2)
    assert(spark.sql("SELECT sum(k) AS s FROM graft.bk.regen")
      .collect().head.getLong(0) == 55L)
    // overwrite IN PLACE: same path, same bucket layout, new generation
    // of files — the analyzer rewrite's cached relation must not serve
    // the previous generation's listing
    val v2 = (11L to 20L).map(i => (i, s"v$i")).toDF("k", "v")
    sets.createBucketedSet("bk", "regen", v2, "k", 2)
    assert(spark.sql("SELECT sum(k) AS s FROM graft.bk.regen")
      .collect().head.getLong(0) == 155L)
    sets.removeSet("bk", "regen")
  }

  test("co-bucketed sets joined THROUGH SQL plan with no shuffle exchange") {
    val sets = new SetCatalog(spark, root)
    sets.createBucketedSet("bk", "lineitem",
      Tables.lineitem(spark, sfDir), "l_orderkey", 4)
    sets.createBucketedSet("bk", "orders",
      Tables.orders(spark, sfDir), "o_orderkey", 4)
    val joined = spark.sql(
      """SELECT l.l_orderkey, o.o_orderdate
        |FROM graft.bk.lineitem l JOIN graft.bk.orders o
        |  ON l.l_orderkey = o.o_orderkey""".stripMargin)
    // disable broadcast so the join strategy must exploit bucketing
    val prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      val plan = joined.queryExecution.executedPlan.toString
      assert(!plan.contains("Exchange"),
        s"SQL join of co-bucketed graft.* sets must not shuffle:\n$plan")
      assert(joined.count() ==
        Tables.lineitem(spark, sfDir).count(),
        "inner join on FK preserves lineitems")
    } finally spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
  }

  test("composite-bucketed sets joined through SQL on both keys stay exchange-free") {
    val sets = new SetCatalog(spark, root)
    // the synthetic fixture's (orderkey, linenumber) is not unique —
    // dedupe so the self-join is 1:1 and the count is exact
    val li = Tables.lineitem(spark, sfDir)
      .select(col("l_orderkey"), col("l_linenumber"), col("l_quantity"))
      .dropDuplicates("l_orderkey", "l_linenumber")
    sets.createBucketedSet("bk3", "a", li, Seq("l_orderkey", "l_linenumber"), 4)
    sets.createBucketedSet("bk3", "b", li, Seq("l_orderkey", "l_linenumber"), 4)
    val joined = spark.sql(
      """SELECT a.l_orderkey, a.l_quantity, b.l_quantity AS q2
        |FROM graft.bk3.a a JOIN graft.bk3.b b
        |  ON a.l_orderkey = b.l_orderkey
        | AND a.l_linenumber = b.l_linenumber""".stripMargin)
    val prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      val plan = joined.queryExecution.executedPlan.toString
      assert(!plan.contains("Exchange"),
        s"composite-key SQL join of co-bucketed sets must not shuffle:\n$plan")
      assert(joined.count() == li.count())
    } finally spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
  }

  test("bucketed sets are read-only through SQL (INSERT would break the bucket layout)") {
    val sets = new SetCatalog(spark, root)
    sets.createBucketedSet("bk2", "nation",
      Tables.nation(spark, sfDir), "n_nationkey", 2)
    intercept[Exception] {
      spark.sql("INSERT INTO graft.bk2.nation SELECT * FROM graft.bk2.nation")
    }
    assert(spark.sql("SELECT COUNT(*) FROM graft.bk2.nation")
      .head().getLong(0) == 25L, "reads must survive the write guard")
  }

  test("two catalogs on different roots each read their own bucketed set") {
    import spark.implicits._
    val rootA = tempRoot("graft-bka").toString
    val a = new SetCatalog(spark, rootA)
    val b = new SetCatalog(spark, tempRoot("graft-bkb").toString)
    a.createBucketedSet("bk", "t", Seq(1L, 2L, 3L).toDF("k"), "k", 2)
    b.createBucketedSet("bk", "t", Seq(100L, 101L).toDF("k"), "k", 2)
    // each read is the bucket-aware one, over that catalog's own files
    def ks(c: SetCatalog) = {
      val t = c.scanSet("bk", "t")
      assert(bucketsOf(t).contains(2), s"not a bucketed read:\n${t.queryExecution.analyzed}")
      t.as[Long].collect().toSet
    }
    assert(ks(a) == Set(1L, 2L, 3L) && ks(b) == Set(100L, 101L))
    b.removeSet("bk", "t")
    assert(ks(a) == Set(1L, 2L, 3L), "removing B's set must leave A's readable")
    assert(ks(new SetCatalog(spark, rootA)) == Set(1L, 2L, 3L),
      "a second catalog on A's root reads A's set")
  }

  test("createBucketedSet registers no session-catalog table") {
    import spark.implicits._
    val before = spark.catalog.listTables().collect().map(_.name).toSet
    val sets = new SetCatalog(spark, tempRoot("graft-bknt").toString)
    sets.createBucketedSet("bknt", "t", Seq(1L, 2L).toDF("k"), "k", 2)
    graft.operators.Dedup.persistExactIndex(sets, "bknt", "ix",
      Seq("a b c", "d e f").toDF("text"), "text")
    assert(spark.catalog.listTables().collect().map(_.name).toSet == before)
  }

  test("bucketed files from the saveAsTable writer read through scanSet after their table is gone") {
    import spark.implicits._
    val r = tempRoot("graft-bkup").toString
    val sets = new SetCatalog(spark, r)
    val rows = (1L to 40L).map(i => (i, s"v$i")).toDF("k", "v")
    // the earlier writer: clustered, bucketed and sorted on k, saved as
    // a session-catalog table at the set's directory, with the sidecar
    // it wrote next to it
    spark.sql("DROP TABLE IF EXISTS bkup_t")
    rows.repartition(4, $"k").write.mode("overwrite")
      .bucketBy(4, "k").sortBy("k").option("path", sets.dir("bkup", "t"))
      .format("parquet").saveAsTable("bkup_t")
    val files = {
      val listing = Files.list(java.nio.file.Paths.get(sets.dir("bkup", "t")))
      try listing.filter(_.toString.endsWith(".parquet")).count()
      finally listing.close()
    }
    Files.writeString(java.nio.file.Paths.get(sets.dir("bkup", "t") + ".meta"),
      s"k\n4\n40\nbucket\n\n$files\n\n1\n")
    // a new application has no such table; the files stay
    spark.sql("DROP TABLE bkup_t")
    val t = new SetCatalog(spark, r).scanSet("bkup", "t")
    assert(t.collect().map(_.toSeq).toSet == rows.collect().map(_.toSeq).toSet)
    val self = t.join(t.select($"k", $"v".as("v2")), "k")
    val prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      val plan = self.queryExecution.executedPlan.toString
      assert(!plan.contains("Exchange"),
        s"upgraded bucketed set re-shuffles on its own bucket key:\n$plan")
      assert(self.count() == 40L)
    } finally spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
  }

  test("renameSet heals a half-moved rename on retry (crash between moves)") {
    val r = tempRoot("graft-ren").toString
    val sets = new SetCatalog(spark, r)
    sets.createSet("db", "a", Tables.nation(spark, sfDir), policy = "none")
    val rows = sets.scanSet("db", "a").count()
    // simulate a rename that died between its two moves: data directory
    // moved to the new name, sidecar still under the old name
    Files.move(java.nio.file.Paths.get(s"$r/db.a"),
      java.nio.file.Paths.get(s"$r/db.b"))
    assert(sets.meta("db", "b").isEmpty && sets.meta("db", "a").isDefined)
    // the retry of the SAME rename must complete the sidecar move
    // instead of throwing "target exists"
    sets.renameSet("db", "a", "b")
    assert(sets.meta("db", "b").isDefined && sets.meta("db", "a").isEmpty)
    assert(sets.scanSet("db", "b").count() == rows)
    // and the healed set is fully functional, not just scannable
    sets.appendToSet("db", "b", Tables.nation(spark, sfDir))
    assert(sets.meta("db", "b").get.rows == 2 * rows)
  }

  test("swapSetGroup replaces the target; recoverSwapGroup survives an interrupted remove") {
    import java.nio.file.Paths
    val r = tempRoot("graft-swap").toString
    val sets = new SetCatalog(spark, r)
    def mk(name: String, n: Int) = sets.createSet("db", name,
      Tables.nation(spark, sfDir).limit(n), policy = "none")
    // happy path: target's 25 rows replaced by staging's 5
    mk("t", 25); mk("t_rebuild", 5)
    sets.swapSetGroup("db", Seq("t_rebuild" -> "t"))
    assert(sets.scanSet("db", "t").count() == 5L)
    assert(sets.meta("db", "t_rebuild").isEmpty)
    assert(!Files.exists(Paths.get(s"$r/db.t.swapin")))
    // THE destructive window (round-14 review finding): the swap died
    // inside removeSet(target) — data tree deleted, sidecar still
    // present — leaving a live-LOOKING target. The sidecar-inference
    // recovery discarded the staging set here, destroying the only
    // copy; the marker must instead finish the swap.
    mk("u", 25); mk("u_rebuild", 5)
    Files.writeString(Paths.get(s"$r/db.u.swapin"), "u_rebuild")
    SetCatalog.deleteTree(Paths.get(s"$r/db.u")) // tree gone, sidecar kept
    assert(sets.meta("db", "u").isDefined, "fixture needs the stale sidecar")
    sets.recoverSwapGroup("db", Seq("u_rebuild" -> "u"))
    assert(sets.scanSet("db", "u").count() == 5L,
      "staging copy must survive the interrupted remove and become live")
    assert(!Files.exists(Paths.get(s"$r/db.u.swapin")))
    // pre-swap abort (no marker): the live target is authoritative and
    // the staging leftover is discarded — the old behavior, preserved
    mk("v", 25); mk("v_rebuild", 5)
    sets.recoverSwapGroup("db", Seq("v_rebuild" -> "v"))
    assert(sets.scanSet("db", "v").count() == 25L)
    assert(sets.meta("db", "v_rebuild").isEmpty)
  }

  test("sidecar file count: tracked across appends, compaction resets it, needsCompaction dials") {
    import java.nio.file.Paths
    val r = tempRoot("graft-files").toString
    val sets = new SetCatalog(spark, r)
    sets.createSet("db", "f", Tables.nation(spark, sfDir),
      partitionColumn = Some("n_nationkey"), numPartitions = 4)
    val created = sets.meta("db", "f").get.files
    assert(created >= 1L, "createSet must seed the file count")
    // each append advances by the batch's non-empty partitions — no
    // listing; verify against the actual directory
    (1 to 3).foreach { _ =>
      sets.appendToSet("db", "f", Tables.nation(spark, sfDir).limit(5))
    }
    def listed: Long = {
      import scala.jdk.CollectionConverters._
      val w = Files.walk(Paths.get(s"$r/db.f"))
      try w.iterator().asScala.count(p => Files.isRegularFile(p) &&
        p.getFileName.toString.endsWith(".parquet")).toLong
      finally w.close()
    }
    assert(sets.meta("db", "f").get.files == listed,
      "incremental count diverged from the directory")
    assert(sets.needsCompaction("db", "f", maxFiles = created))
    assert(!sets.needsCompaction("db", "f", maxFiles = 10000))
    val rows = sets.scanSet("db", "f").count()
    sets.compactSet("db", "f")
    assert(sets.meta("db", "f").get.files == listed,
      "compaction must refresh the count")
    assert(sets.meta("db", "f").get.files <= 4L + 1L,
      "compaction should restore the recorded tiling")
    assert(sets.scanSet("db", "f").count() == rows)
    // the auto-compaction valve: with the trigger conf set, the append
    // that crosses the line compacts before returning, so file count is
    // bounded by trigger + one batch regardless of append count
    val trigger = new graft.advisor.PlacementAdvisor()
      .recommendCompactionTrigger(layoutFiles = 4, floor = 8)
    spark.conf.set("spark.graft.catalog.autoCompact.files", trigger.toString)
    try {
      (1 to 12).foreach { _ =>
        sets.appendToSet("db", "f", Tables.nation(spark, sfDir).limit(3))
      }
      assert(sets.meta("db", "f").get.files <= trigger + 4L,
        s"auto-compaction failed to bound the file count at trigger=$trigger")
      assert(sets.scanSet("db", "f").count() == rows + 36L,
        "auto-compaction lost rows")
    } finally spark.conf.unset("spark.graft.catalog.autoCompact.files")
  }

  test("recoverAll heals a stranger's interrupted swaps at catalog open") {
    import java.nio.file.Paths
    val r = tempRoot("graft-recall").toString
    val sets = new SetCatalog(spark, r)
    def mk(name: String, n: Int) = sets.createSet("db", name,
      Tables.nation(spark, sfDir).limit(n), policy = "none")
    // 1. committed group marker from a crashed rebuild that will NEVER
    // re-run: target tree half-removed, staging intact — before
    // recoverAll, only the same-pairs rebuild could heal this
    mk("x", 25); mk("x_rebuild", 5)
    mk("y", 25); mk("y_rebuild", 7)
    Files.writeString(Paths.get(s"$r/db.x+y.swapin"),
      "x_rebuild -> x\ny_rebuild -> y")
    SetCatalog.deleteTree(Paths.get(s"$r/db.x")) // crash inside removeSet(x)
    // 2. pre-marker orphan: TAGGED staging leftover, live target — must
    // discard (the staged-rebuild creators tag at create; see
    // markStaging)
    mk("z", 25); mk("z_rebuild", 9); sets.markStaging("db", "z_rebuild")
    // 3. orphaned TAGGED recap staging whose target is GONE — must adopt
    mk("w_recap", 11); sets.markStaging("db", "w_recap")
    // 4. UNTAGGED user sets that merely share the staging suffix — the
    // convention sweep must leave both alone (ADVICE r15: a genuine
    // user set named *_rebuild was discarded / force-swapped before)
    mk("u", 25); mk("u_rebuild", 13)
    mk("v_recap", 17)
    // a DIFFERENT session (fresh catalog over the same root) opens and
    // heals everything without knowing who wrote what
    val other = new SetCatalog(spark, r)
    val healed = other.recoverAll("db")
    assert(healed.exists(_.startsWith("marker:")), s"marker not healed: $healed")
    assert(other.scanSet("db", "x").count() == 5L,
      "committed swap member x not finished by the stranger")
    assert(other.scanSet("db", "y").count() == 7L,
      "committed swap member y not finished by the stranger")
    assert(!Files.exists(Paths.get(s"$r/db.x+y.swapin")))
    assert(other.meta("db", "z_rebuild").isEmpty &&
      other.scanSet("db", "z").count() == 25L,
      "pre-marker staging leftover should be discarded, target kept")
    assert(other.meta("db", "w_recap").isEmpty &&
      other.scanSet("db", "w").count() == 11L,
      "orphaned staging with no live target should be adopted")
    // the adopted set is the LIVE generation now: its tag must be gone,
    // or the NEXT recoverAll would discard it as a leftover
    assert(other.meta("db", "w").exists(!_.staging),
      "adoption must clear the staging tag")
    // untagged conventional names are user sets: untouched, both ways
    assert(other.scanSet("db", "u_rebuild").count() == 13L &&
      other.scanSet("db", "u").count() == 25L,
      "untagged user set *_rebuild must survive recoverAll")
    assert(other.scanSet("db", "v_recap").count() == 17L,
      "untagged user set *_recap must survive recoverAll")
    // idempotent: a second open heals nothing
    assert(other.recoverAll("db").isEmpty)
    // the standing-pipeline posture: recovery AT construction (opt-in)
    mk("p_recap", 3); sets.markStaging("db", "p_recap")
    val auto = new SetCatalog(spark, r, recoverDbsOnOpen = Seq("db"))
    assert(auto.meta("db", "p_recap").isEmpty &&
      auto.scanSet("db", "p").count() == 3L,
      "recoverDbsOnOpen did not heal at construction")
  }

  test("production entry points heal interrupted swaps at open; opt-out respected") {
    import java.nio.file.Paths
    import scala.jdk.CollectionConverters._
    val r = tempRoot("graft-entryheal").toString
    val sets = new SetCatalog(spark, r)
    def mk(name: String, n: Int) = sets.createSet("db", name,
      Tables.nation(spark, sfDir).limit(n), policy = "none")
    def strand(t: String, n: Int): Unit = {
      // a committed marker from a crashed rebuild: the serving window a
      // driver restart must close without knowing who wrote it
      mk(t, 25); mk(s"${t}_rebuild", n)
      Files.writeString(Paths.get(s"$r/db.$t.swapin"),
        s"${t}_rebuild -> $t")
      SetCatalog.deleteTree(Paths.get(s"$r/db.$t"))
    }
    strand("x", 5)
    val gc = new graft.storage.GraftCatalog
    gc.initialize("gheal",
      new org.apache.spark.sql.util.CaseInsensitiveStringMap(
        Map("root" -> r).asJava))
    assert(sets.scanSet("db", "x").count() == 5L,
      "GraftCatalog open did not heal the committed swap")
    assert(!Files.exists(Paths.get(s"$r/db.x.swapin")))
    strand("y", 7)
    new graft.api.classic.QueryClient(spark, r)
    assert(sets.scanSet("db", "y").count() == 7L,
      "classic QueryClient construction did not heal")
    // the read-only-inspector opt-out leaves the window untouched
    strand("z", 9)
    val gc2 = new graft.storage.GraftCatalog
    gc2.initialize("gnoheal",
      new org.apache.spark.sql.util.CaseInsensitiveStringMap(
        Map("root" -> r, "recoverOnOpen" -> "false").asJava))
    new graft.api.classic.QueryClient(spark, r, recoverOnOpen = false)
    assert(Files.exists(Paths.get(s"$r/db.z.swapin")),
      "opt-out entry point healed anyway")
  }

  test("QueryClient open is reader-safe: markers replay, staging sweep is opt-in") {
    // ADVICE r16: a QueryClient is also how READERS open a root; its
    // open must not discard a live rebuilder's pre-marker staging sets
    // in another session. Markers are commit points (replaying one only
    // finishes a committed swap) — the destructive convention sweep
    // needs the owning pipeline's explicit opt-in.
    import java.nio.file.Paths
    val r = tempRoot("graft-readeropen").toString
    val sets = new SetCatalog(spark, r)
    def mk(name: String, n: Int) = sets.createSet("db", name,
      Tables.nation(spark, sfDir).limit(n), policy = "none")
    // a live rebuilder's in-flight footprint: target live, staging set
    // created and TAGGED, no marker yet (pre-commit)
    mk("w", 25); mk("w_rebuild", 11); sets.markStaging("db", "w_rebuild")
    // and a genuinely committed crashed swap next to it
    mk("m", 25); mk("m_rebuild", 7)
    Files.writeString(Paths.get(s"$r/db.m.swapin"), "m_rebuild -> m")
    SetCatalog.deleteTree(Paths.get(s"$r/db.m"))
    new graft.api.classic.QueryClient(spark, r)
    assert(sets.scanSet("db", "m").count() == 7L,
      "reader open must still replay committed markers")
    assert(sets.meta("db", "w_rebuild").isDefined &&
      sets.scanSet("db", "w_rebuild").count() == 11L,
      "reader open DISCARDED a live rebuilder's in-flight staging set")
    // the owning pipeline's posture sweeps it
    new graft.api.classic.QueryClient(spark, r, sweepStagingOnOpen = true)
    assert(sets.meta("db", "w_rebuild").isEmpty &&
      sets.scanSet("db", "w").count() == 25L,
      "owner open with sweepStagingOnOpen did not resolve the leftover")
  }

  test("maintenance lease: a live second writer fails loudly, a dead holder is broken") {
    // VERDICT r16 stretch #7: the single-writer contract was documented
    // only — two sessions interleaving inside swapSetGroup's window
    // corrupted silently. The advisory lease makes it loud.
    import java.nio.file.Paths
    val r = tempRoot("graft-lease").toString
    val sets = new SetCatalog(spark, r)
    sets.createSet("db", "t", Tables.nation(spark, sfDir).limit(5),
      policy = "none")
    sets.createSet("db", "t_rebuild", Tables.nation(spark, sfDir).limit(9),
      policy = "none")
    sets.markStaging("db", "t_rebuild")
    // a LIVE foreign holder (pid 1 is init — alive on any Linux host)
    Files.writeString(Paths.get(s"$r/db.maintlease"), "1")
    val e = intercept[IllegalStateException] {
      sets.swapSetGroup("db", Seq("t_rebuild" -> "t"))
    }
    assert(e.getMessage.contains("held by live process 1"),
      s"second-writer failure must name the holder: ${e.getMessage}")
    // open-time recovery SKIPS (no dead session to heal) instead of
    // racing the holder — and heals nothing
    assert(sets.recoverAll("db").isEmpty,
      "recovery must skip while a live writer holds the lease")
    assert(sets.meta("db", "t_rebuild").isDefined,
      "skipped recovery must not touch the staging set")
    // a DEAD holder's leftover lease is broken and the swap proceeds
    Files.writeString(Paths.get(s"$r/db.maintlease"), Long.MaxValue.toString)
    sets.swapSetGroup("db", Seq("t_rebuild" -> "t"))
    assert(sets.scanSet("db", "t").count() == 9L,
      "stale lease must be broken, not block the owning swap")
    assert(!Files.exists(Paths.get(s"$r/db.maintlease")),
      "lease must be released after the swap")
  }

  test("maintenance lease is host-aware: a foreign host's lease is never broken on local pid evidence") {
    // VERDICT r17 What's-wrong #1: ProcessHandle.of(pid) witnesses only
    // LOCAL processes. On a shared root mounted across hosts, a live
    // remote holder whose pid happens not to exist here must not be
    // judged dead — breaking its lease would let two live writers
    // interleave inside swapSetGroup's window, the exact silent
    // corruption the lease exists to make loud.
    import java.nio.file.Paths
    val r = tempRoot("graft-lease-host").toString
    val sets = new SetCatalog(spark, r)
    sets.createSet("db", "t", Tables.nation(spark, sfDir).limit(5),
      policy = "none")
    sets.createSet("db", "t_rebuild", Tables.nation(spark, sfDir).limit(9),
      policy = "none")
    sets.markStaging("db", "t_rebuild")
    val lease = Paths.get(s"$r/db.maintlease")
    val now = System.currentTimeMillis()
    // (a) foreign host + locally-dead pid + fresh stamp: NOT breakable,
    // failure names the host; the lease file is left untouched
    val foreign = s"otherhost.example:${Long.MaxValue}:$now"
    Files.writeString(lease, foreign)
    val e = intercept[IllegalStateException] {
      sets.swapSetGroup("db", Seq("t_rebuild" -> "t"))
    }
    assert(e.getMessage.contains("FOREIGN") &&
      e.getMessage.contains("otherhost.example"),
      s"foreign-host failure must name the holder host: ${e.getMessage}")
    assert(Files.readString(lease) == foreign,
      "a foreign live-window lease must be left untouched")
    // (b) open-time recovery treats the in-TTL foreign holder as LIVE:
    // skips, heals nothing
    assert(sets.recoverAll("db").isEmpty,
      "recovery must skip under an in-TTL foreign lease")
    assert(sets.meta("db", "t_rebuild").isDefined,
      "skipped recovery must not touch the staging set")
    // (c) an UNSTAMPED foreign lease is also never breakable
    Files.writeString(lease, s"otherhost.example:${Long.MaxValue}")
    val e2 = intercept[IllegalStateException] {
      sets.swapSetGroup("db", Seq("t_rebuild" -> "t"))
    }
    assert(e2.getMessage.contains("unstamped"),
      s"unstamped foreign lease must fail loudly: ${e2.getMessage}")
    // (d0) a TTL-expired STAMP on a FRESH file is a skewed-behind
    // remote clock, not a dead host — the mtime (shared-filesystem
    // clock) vetoes the break (ADVICE r18: min of stamp-age and
    // mtime-age)
    Files.writeString(lease, s"otherhost.example:${Long.MaxValue}:" +
      (now - SetCatalog.LeaseForeignTtlMillis - 60000L))
    val eSkew = intercept[IllegalStateException] {
      sets.swapSetGroup("db", Seq("t_rebuild" -> "t"))
    }
    assert(eSkew.getMessage.contains("FOREIGN"),
      "an expired stamp on a fresh file (skewed remote clock) must " +
        s"still block: ${eSkew.getMessage}")
    // (d1) a FAR-FUTURE stamp (skewed-AHEAD remote clock, or outright
    // corruption — Long.MaxValue) is never liveness evidence: on a
    // FRESH file it blocks like any in-TTL holder, but once the file
    // itself is TTL-old the mtime alone decides and the break proceeds
    // (ADVICE r19: min(negative stamp age, mtime age) kept the
    // negative side, making a corrupted stamp block maintenance
    // FOREVER)
    Files.writeString(lease,
      s"otherhost.example:${Long.MaxValue}:${Long.MaxValue}")
    val eFuture = intercept[IllegalStateException] {
      sets.swapSetGroup("db", Seq("t_rebuild" -> "t"))
    }
    assert(eFuture.getMessage.contains("FOREIGN"),
      "a future stamp on a fresh file must still block (mtime is " +
        s"fresh): ${eFuture.getMessage}")
    Files.setLastModifiedTime(lease, java.nio.file.attribute.FileTime
      .fromMillis(now - SetCatalog.LeaseForeignTtlMillis - 60000L))
    sets.swapSetGroup("db", Seq("t_rebuild" -> "t"))
    assert(sets.scanSet("db", "t").count() == 9L,
      "a corrupted far-future stamp on a TTL-old file must be " +
        "breakable via the mtime clock, not block forever")
    assert(!Files.exists(lease), "lease must be released after the swap")
    // re-stage for the remaining cases (the swap above consumed
    // t_rebuild)
    sets.createSet("db", "t_rebuild", Tables.nation(spark, sfDir).limit(9),
      policy = "none")
    sets.markStaging("db", "t_rebuild")
    Files.writeString(lease, s"otherhost.example:${Long.MaxValue}:" +
      (now - SetCatalog.LeaseForeignTtlMillis - 60000L))
    // (d) a foreign lease OLDER than the generous TTL — stamp AND file
    // mtime both expired — is a crashed host's leftover: broken, swap
    // proceeds
    Files.setLastModifiedTime(lease, java.nio.file.attribute.FileTime
      .fromMillis(now - SetCatalog.LeaseForeignTtlMillis - 60000L))
    sets.swapSetGroup("db", Seq("t_rebuild" -> "t"))
    assert(sets.scanSet("db", "t").count() == 9L,
      "TTL-expired foreign lease must be broken, not block the swap")
    assert(!Files.exists(lease), "lease must be released after the swap")
    // (e) a SAME-host dead pid in the new host:pid:ts format is still
    // broken directly (no TTL wait)
    sets.createSet("db", "t_rebuild", Tables.nation(spark, sfDir).limit(7),
      policy = "none")
    sets.markStaging("db", "t_rebuild")
    Files.writeString(lease,
      s"${SetCatalog.localHostName}:${Long.MaxValue}:$now")
    sets.swapSetGroup("db", Seq("t_rebuild" -> "t"))
    assert(sets.scanSet("db", "t").count() == 7L,
      "same-host dead holder must be broken as before")
  }

  test("lease break is tombstone-arbitrated: a breaker that loses the race restores the winner's lease and throws naming it") {
    // VERDICT r18 What's-wrong #1: delete+CREATE_NEW let two breakers
    // that both read the same dead holder interleave so B deleted A's
    // FRESH lease and both entered the maintenance window. The break is
    // now an ATOMIC rename to a breaker-unique tombstone + content
    // verification; these two cases stage the loser's interleaves
    // deterministically via the test seam between staleness-read and
    // rename.
    import java.nio.file.Paths
    val r = tempRoot("graft-lease-race").toString
    val sets = new SetCatalog(spark, r)
    sets.createSet("db", "t", Tables.nation(spark, sfDir).limit(5),
      policy = "none")
    sets.createSet("db", "t_rebuild", Tables.nation(spark, sfDir).limit(9),
      policy = "none")
    sets.markStaging("db", "t_rebuild")
    val lease = Paths.get(s"$r/db.maintlease")
    val stale = s"${SetCatalog.localHostName}:${Long.MaxValue}:1"
    def tombstones(): Seq[java.nio.file.Path] = {
      import scala.jdk.CollectionConverters._
      Files.list(Paths.get(r)).iterator().asScala
        .filter(_.getFileName.toString.contains(".tomb.")).toSeq
    }
    try {
      // (a) racing winner REPLACED the stale lease between our read and
      // our rename: we must detect the content mismatch, restore the
      // winner's lease byte-for-byte, and lose naming the winner
      Files.writeString(lease, stale)
      val fresh =
        s"winnerhost.example:77:${System.currentTimeMillis()}"
      SetCatalog.leaseBreakTestHook = () => {
        Files.deleteIfExists(lease)
        Files.writeString(lease, fresh)
        SetCatalog.leaseBreakTestHook = () => ()
      }
      val eA = intercept[IllegalStateException] {
        sets.swapSetGroup("db", Seq("t_rebuild" -> "t"))
      }
      assert(eA.getMessage.contains("winnerhost.example") &&
        eA.getMessage.contains("restored intact"),
        s"loser must name the winner and restore its lease: ${eA.getMessage}")
      assert(Files.readString(lease).trim == fresh,
        "the racing winner's fresh lease must be restored byte-for-byte")
      assert(tombstones().isEmpty,
        "no tombstone may be left behind on the restore path")
      assert(sets.meta("db", "t_rebuild").exists(_.staging),
        "the losing breaker must not have run the swap")
      // (b) racing winner DELETED the stale lease (mid-break) before
      // our rename: the rename loses with NoSuchFile and we fail loudly
      Files.deleteIfExists(lease)
      Files.writeString(lease, stale)
      SetCatalog.leaseBreakTestHook = () => {
        Files.deleteIfExists(lease)
        SetCatalog.leaseBreakTestHook = () => ()
      }
      val eB = intercept[IllegalStateException] {
        sets.swapSetGroup("db", Seq("t_rebuild" -> "t"))
      }
      assert(eB.getMessage.contains("broken by a concurrent session"),
        s"a vanished stale lease must lose loudly: ${eB.getMessage}")
      assert(tombstones().isEmpty, "no tombstone on the lost-rename path")
    } finally SetCatalog.leaseBreakTestHook = () => ()
  }

  test("two concurrent breakers of the same stale lease: exactly one wins, the loser throws") {
    // The live version of the race above: two "sessions" (distinct
    // lease identities via the test ThreadLocal — same-process threads
    // would otherwise read as reentrant) both judge the same holder
    // dead, rendezvous on a barrier AFTER the staleness read, then race
    // the tombstone rename. ATOMIC_MOVE guarantees exactly one wins the
    // observed file; the loser must throw, never silently proceed.
    import java.nio.file.Paths
    val r = tempRoot("graft-lease-2brk").toString
    val sets = new SetCatalog(spark, r)
    sets.createSet("db", "t", Tables.nation(spark, sfDir).limit(5),
      policy = "none")
    sets.createSet("db", "t_rebuild", Tables.nation(spark, sfDir).limit(9),
      policy = "none")
    sets.markStaging("db", "t_rebuild")
    val lease = Paths.get(s"$r/db.maintlease")
    Files.writeString(lease, s"${SetCatalog.localHostName}:${Long.MaxValue}:1")
    val barrier = new java.util.concurrent.CyclicBarrier(2)
    val failures = new java.util.concurrent.ConcurrentHashMap[String, Throwable]
    try {
      SetCatalog.leaseBreakTestHook =
        () => barrier.await(30, java.util.concurrent.TimeUnit.SECONDS)
      val threads = Seq("900001", "900002").map { pid =>
        val th = new Thread(() => {
          SetCatalog.leaseIdentityOverride.set(
            s"${SetCatalog.localHostName}:$pid")
          try sets.swapSetGroup("db", Seq("t_rebuild" -> "t"))
          catch { case t: Throwable => failures.put(pid, t) }
          finally SetCatalog.leaseIdentityOverride.remove()
        }, s"breaker-$pid")
        th.start(); th
      }
      threads.foreach(_.join(60000))
      assert(failures.size == 1,
        s"exactly one breaker must lose (got ${failures.size}: " +
          s"${failures.values}); both succeeding is the corruption " +
          "this protocol exists to prevent")
      val loss = failures.values.iterator().next()
      assert(loss.isInstanceOf[IllegalStateException] &&
        loss.getMessage.contains("concurrent session"),
        s"the loser must throw naming the race: $loss")
      assert(sets.scanSet("db", "t").count() == 9L,
        "the winning breaker's swap must have applied exactly once")
    } finally {
      SetCatalog.leaseBreakTestHook = () => ()
      SetCatalog.leaseIdentityOverride.remove()
    }
  }

  test("auto-compaction trigger re-seeds a drifted file count instead of trusting it") {
    import java.nio.file.Paths
    val r = tempRoot("graft-reseed").toString
    val sets = new SetCatalog(spark, r)
    sets.createSet("db", "f", Tables.nation(spark, sfDir).limit(20),
      numPartitions = 4, policy = "roundrobin")
    sets.appendToSet("db", "f",
      Tables.nation(spark, sfDir).limit(5).coalesce(1))
    def listed: Long = {
      import scala.jdk.CollectionConverters._
      val w = Files.walk(Paths.get(s"$r/db.f"))
      try w.iterator().asScala.count(p => Files.isRegularFile(p) &&
        p.getFileName.toString.endsWith(".parquet")).toLong
      finally w.close()
    }
    assert(sets.meta("db", "f").get.files == listed)
    // simulate incremental-count drift (the maxRecordsPerFile /
    // re-executed-cache footprint ADVICE r15 named): sidecar claims 99
    // files while the directory holds ~5
    val mp = Paths.get(s"$r/db.f.meta")
    val lines = Files.readString(mp).split("\n", -1)
    lines(5) = "99"
    Files.writeString(mp, lines.mkString("\n"))
    spark.conf.set("spark.graft.catalog.autoCompact.files", "8")
    try {
      sets.appendToSet("db", "f",
        Tables.nation(spark, sfDir).limit(5).coalesce(1))
      // tracked count (100) crossed the trigger, but the REAL count is
      // under it: the valve must re-seed from the listing and NOT pay
      // the rewrite (a compaction of this "none"-layout set would
      // coalesce it to one file — trusting the drifted increment did
      // exactly that before)
      val real = listed
      assert(real > 1 && real <= 8, s"fixture drifted: $real files")
      assert(sets.meta("db", "f").get.files == real,
        s"sidecar not re-seeded: ${sets.meta("db", "f").get.files} vs $real")
    } finally spark.conf.unset("spark.graft.catalog.autoCompact.files")
  }

  test("SHOW NAMESPACES IN an existing leaf namespace returns no children") {
    spark.sql("CREATE NAMESPACE IF NOT EXISTS graft.leafns")
    assert(spark.sql("SHOW NAMESPACES IN graft.leafns").collect().isEmpty)
    intercept[Exception] {
      spark.sql("SHOW NAMESPACES IN graft.no_such_ns").collect()
    }
  }

  test("CTAS, SHOW TABLES, rename, and DROP round-trip") {
    spark.sql("CREATE NAMESPACE IF NOT EXISTS graft.scratch")
    spark.sql(
      """CREATE TABLE graft.scratch.regions AS
        |SELECT r_regionkey, r_name FROM parquet.`""".stripMargin +
        s"$sfDir/region.parquet`")
    assert(spark.sql("SELECT COUNT(*) FROM graft.scratch.regions")
      .head().getLong(0) == 5L)
    val shown = spark.sql("SHOW TABLES IN graft.scratch")
      .collect().map(_.getString(1)).toSet
    assert(shown.contains("regions"))
    spark.sql("ALTER TABLE graft.scratch.regions RENAME TO scratch.regions2")
    assert(spark.sql("SELECT COUNT(*) FROM graft.scratch.regions2")
      .head().getLong(0) == 5L)
    spark.sql("DROP TABLE graft.scratch.regions2")
    assert(!spark.sql("SHOW TABLES IN graft.scratch")
      .collect().map(_.getString(1)).toSet.contains("regions2"))
  }

  test("scratch: a body that throws after a bucketed build leaves no root and no session-catalog table") {
    import spark.implicits._
    val boom = new IllegalStateException("body failed after its index build")
    var root: java.nio.file.Path = null
    var table: String = null
    val thrown = intercept[IllegalStateException] {
      SetCatalog.scratch(spark) { (cat, db) =>
        graft.operators.Dedup.persistExactIndex(cat, db, "corpus",
          Seq("a b c", "d e f").toDF("text"), "text")
        root = java.nio.file.Paths.get(cat.dir(db, "corpus_hashes")).getParent
        table = s"${db}_corpus_hashes"
        assert(!spark.catalog.tableExists(table), s"$table was registered")
        throw boom
      }
    }
    assert(thrown eq boom)
    assert(!Files.exists(root), s"scratch root $root survived the failure")
    assert(!spark.catalog.tableExists(table))
  }

  test("scratch: two concurrent calls each probe their own bucketed index") {
    import spark.implicits._
    val arrivals = Seq("alpha one", "alpha two", "beta one", "beta two")
      .zipWithIndex.map { case (t, i) => (i.toLong, t) }
    val built = new java.util.concurrent.CountDownLatch(2)
    def flags(corpus: Seq[String]): Set[(Long, Boolean)] =
      SetCatalog.scratch(spark) { (cat, db) =>
        // both builds are done before either probe resolves its table
        // (a failed build still releases the latch, so its error shows)
        try graft.operators.Dedup.persistExactIndex(cat, db, "corpus",
          corpus.toDF("text"), "text")
        finally built.countDown()
        require(built.await(2, java.util.concurrent.TimeUnit.MINUTES),
          "the other build never finished")
        graft.operators.Dedup.exactAgainstStoredIndex(
          arrivals.toDF("doc_id", "text"), cat, db, "corpus", "doc_id", "text")
      }.collect().map(r => (r.getLong(0), r.getBoolean(1))).toSet
    val pool = java.util.concurrent.Executors.newFixedThreadPool(2)
    try {
      implicit val ec: scala.concurrent.ExecutionContext =
        scala.concurrent.ExecutionContext.fromExecutorService(pool)
      val a = scala.concurrent.Future(flags(Seq("alpha one", "alpha two")))
      val b = scala.concurrent.Future(flags(Seq("beta one", "beta two")))
      val wait = scala.concurrent.duration.Duration(5, "min")
      assert(scala.concurrent.Await.result(a, wait) ==
        Set((0L, true), (1L, true), (2L, false), (3L, false)))
      assert(scala.concurrent.Await.result(b, wait) ==
        Set((0L, false), (1L, false), (2L, true), (3L, true)))
    } finally pool.shutdown()
  }

  test("createSet, createPartitionedSet and stampRows each run one Spark job") {
    val sets = new SetCatalog(spark, tempRoot("graft-onejob").toString)
    val rows = spark.range(20000).select(col("id"), (col("id") % 7).as("g"))
    // the write is the only job: rows and files come from its command,
    // and nothing re-reads, counts or lists the set
    assert(jobsOf(sets.createSet("db", "plain", rows, policy = "none")) == 1)
    assert(jobsOf(sets.createPartitionedSet("db", "part", rows, "g")) == 1)
    assert(jobsOf(sets.stampRows("db", "plain", "plain_stamp")) == 1)
    assert(sets.meta("db", "plain").get.rows == 20000L &&
      sets.meta("db", "part").get.rows == 20000L)
    assert(sets.growthSinceStamp("db", "plain", "plain_stamp") == 0.0)
  }

  test("every layout's sidecar rows and files equal a count and a listing") {
    val r = tempRoot("graft-layouts").toString
    val sets = new SetCatalog(spark, r)
    val nation = Tables.nation(spark, sfDir)
    sets.createSet("db", "none", nation, policy = "none")
    sets.createSet("db", "hash", nation,
      partitionColumn = Some("n_regionkey"), numPartitions = 3)
    sets.createSet("db", "roundrobin", nation, numPartitions = 3,
      policy = "roundrobin")
    sets.createSet("db", "fair", nation, policy = "fair",
      nodeWeights = Seq(2.0, 1.0))
    sets.createPartitionedSet("db", "dirpart", nation, "n_regionkey")
    sets.createBucketedSet("db", "bucket", nation, "n_nationkey", 4)
    for (set <- Seq("none", "hash", "roundrobin", "fair", "dirpart", "bucket")) {
      val m = sets.meta("db", set).get
      assert(m.policy == set)
      assert(m.rows == spark.read.parquet(s"$r/db.$set").count(), s"$set rows")
      assert(m.files == listedFiles(s"$r/db.$set"), s"$set files")
    }
  }

  test("a null appended into a set created from a non-null frame reads back as null") {
    import spark.implicits._
    val sets = new SetCatalog(spark, tempRoot("graft-null").toString)
    val created = Seq((1L, 10L), (2L, 20L)).toDF("k", "v")
    assert(!created.schema("v").nullable, "fixture needs a non-null column")
    sets.createSet("db", "t", created, policy = "none")
    sets.appendToSet("db", "t", Seq((3L, Option.empty[Long])).toDF("k", "v"))
    val t = sets.scanSet("db", "t")
    assert(t.schema("v").nullable)
    // a non-null read schema would let the optimizer fold this to 0
    assert(t.where(col("v").isNull).select("k").as[Long].collect().toSeq == Seq(3L))
  }

  test("replaceSets: a body that throws leaves the live sets; the next call discards its leftovers") {
    import java.nio.file.Paths
    val r = tempRoot("graft-replace").toString
    val sets = new SetCatalog(spark, r)
    val nation = Tables.nation(spark, sfDir)
    sets.createSet("db", "a", nation, policy = "none")
    sets.createSet("db", "b", nation.limit(10), policy = "none")
    def names = sets.listSets().collect { case ("db", s) => s }.toSet
    val boom = new IllegalStateException("stage failed")
    val thrown = intercept[IllegalStateException] {
      sets.replaceSets("db", Seq("a", "b")) { staged =>
        sets.createSet("db", staged("a"), nation.limit(3), policy = "none")
        throw boom
      }
    }
    assert(thrown eq boom)
    assert(sets.scanSet("db", "a").count() == 25L &&
      sets.scanSet("db", "b").count() == 10L, "a failed stage touched a live set")
    assert(names.size == 3, s"the failed stage left no staged set: $names")
    sets.replaceSets("db", Seq("a", "b")) { staged =>
      assert(sets.meta("db", staged("a")).isEmpty,
        "the leftover was not discarded before the body ran")
      sets.createSet("db", staged("a"), nation.limit(5), policy = "none")
      sets.createSet("db", staged("b"), nation.limit(7), policy = "none")
    }
    assert(sets.scanSet("db", "a").count() == 5L &&
      sets.scanSet("db", "b").count() == 7L)
    assert(names == Set("a", "b"))
    assert(Seq("a", "b").forall(t => sets.meta("db", t).exists(!_.staging)))
    assert(!Files.exists(Paths.get(s"$r/db.a+b.swapin")))
  }

  test("a partitioned set reads back under its seeded schema, typed as inference types it") {
    val r = tempRoot("graft-seed").toString
    val sets = new SetCatalog(spark, r)
    val rows = spark.range(40).select(col("id"), (col("id") % 4).as("bucket"),
      col("id").cast("string").as("s"))
    sets.createPartitionedSet("db", "ints", rows, "bucket")
    // non-int directory values seed nothing: the first scan infers
    sets.createPartitionedSet("db", "strs",
      rows.withColumn("bucket", concat(lit("b"), col("bucket"))), "bucket")
    var seeded: org.apache.spark.sql.DataFrame = null
    assert(jobsOf { seeded = sets.scanSet("db", "ints") } == 0)
    assert(seeded.schema("bucket").dataType == org.apache.spark.sql.types.IntegerType)
    for ((set, df) <- Seq("ints" -> seeded, "strs" -> sets.scanSet("db", "strs")))
      assert(df.schema == spark.read.parquet(s"$r/db.$set").schema, set)
    assert(seeded.where(col("bucket") === 3).count() == 10L)
  }

  /** `df` written as ONE parquet file at `path` (Spark writes a
    * directory; its single part file is moved over `path`).
    */
  private def writeFile(df: org.apache.spark.sql.DataFrame, path: String): Unit = {
    val tmp = s"$path.tmp"
    df.coalesce(1).write.mode("overwrite").parquet(tmp)
    val part = Files.list(Paths.get(tmp))
    try Files.move(part.filter(_.toString.endsWith(".parquet")).findFirst.get,
      Paths.get(path), java.nio.file.StandardCopyOption.REPLACE_EXISTING)
    finally part.close()
    SetCatalog.deleteTree(Paths.get(tmp))
  }

  test("a re-read of an unchanged parquet file runs no job and returns an equal schema") {
    val f = s"${tempRoot("graft-paths")}/t.parquet"
    writeFile(spark.range(10).select(col("id"), col("id").cast("string").as("s")), f)
    val first = ParquetPaths.read(spark, f)
    var again: org.apache.spark.sql.DataFrame = null
    assert(jobsOf { again = ParquetPaths.read(spark, f) } == 0)
    assert(again.schema == first.schema)
    assert(again.collect().toSeq == first.collect().toSeq)
  }

  test("a parquet file rewritten at the same path shows its added column") {
    val f = s"${tempRoot("graft-paths")}/t.parquet"
    val base = spark.range(10).select(col("id"))
    writeFile(base, f)
    assert(ParquetPaths.read(spark, f).columns.toSeq == Seq("id"))
    writeFile(base.withColumn("x", col("id") * 2), f)
    val reread = ParquetPaths.read(spark, f)
    assert(reread.columns.toSeq == Seq("id", "x"))
    assert(reread.where(col("id") === 3).head().getLong(1) == 6L)
  }

  test("flipping spark.sql.parquet.binaryAsString re-infers a binary column") {
    // written without a Spark schema in the footer: binaryAsString only
    // applies to plain parquet binaries
    import org.apache.parquet.example.data.simple.SimpleGroupFactory
    import org.apache.parquet.hadoop.example.ExampleParquetWriter
    import org.apache.parquet.schema.MessageTypeParser
    val f = s"${tempRoot("graft-paths")}/b.parquet"
    val schema = MessageTypeParser.parseMessageType("message m { required binary b; }")
    val w = ExampleParquetWriter.builder(new org.apache.hadoop.fs.Path(f))
      .withType(schema).build()
    try w.write(new SimpleGroupFactory(schema).newGroup().append("b", "x"))
    finally w.close()
    val key = "spark.sql.parquet.binaryAsString"
    def typeOfB() = ParquetPaths.read(spark, f).schema("b").dataType
    try {
      spark.conf.set(key, "false")
      assert(typeOfB() == org.apache.spark.sql.types.BinaryType)
      spark.conf.set(key, "true")
      assert(typeOfB() == org.apache.spark.sql.types.StringType)
      assert(ParquetPaths.read(spark, f).head().getString(0) == "x")
    } finally spark.conf.unset(key)
  }

  test("a second pathGlobFilter directory read hits the memo") {
    val d = tempRoot("graft-paths").toString
    writeFile(spark.range(5).select(col("id")), s"$d/a.parquet")
    writeFile(spark.range(5).select(col("id").cast("string").as("s")), s"$d/b.parquet")
    val glob = Map("pathGlobFilter" -> "a*")
    val first = ParquetPaths.read(spark, d, glob)
    assert(first.columns.toSeq == Seq("id"))
    var again: org.apache.spark.sql.DataFrame = null
    assert(jobsOf { again = ParquetPaths.read(spark, d, glob) } == 0)
    assert(again.schema == first.schema && again.count() == 5L)
  }

  test("a second q3_shipping_priority call reads its tables with no inference job") {
    val q3 = SparkEntry.queries("q3_shipping_priority")
    q3(spark, sfDir).collect()
    val sites = jobSitesOf(q3(spark, sfDir).collect())
    assert(sites.nonEmpty)
    assert(!sites.exists(_.contains("graft.model.Tables")),
      s"jobs started from Tables: ${sites.filter(_.contains("graft.model.Tables"))}")
  }
}
