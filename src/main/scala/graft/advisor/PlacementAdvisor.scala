package graft.advisor

import java.nio.file.{Files, Paths}
import scala.collection.mutable
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.plans.logical.{Join, LogicalPlan, Aggregate}
import org.apache.spark.sql.catalyst.expressions.{AttributeReference, EqualTo, Expression}
import org.apache.spark.sql.execution.datasources.LogicalRelation

/** Lachesis-lite: the self-learning data-placement layer, rule-based
  * variant (reference: src/selfLearning/headers/
  * RuleBasedDataPlacementOptimizerForLoadJob.h:14-29 — "most frequent /
  * selective join or agg key among consumers of the loaded type"; history
  * DB schema SelfLearningDB.cc:109-150; DRL variant out of scope per
  * SURVEY.md §4.3).
  *
  * Workflow: `observe(df)` after running a query logs which columns of
  * which source tables appeared as equi-join or group-by keys (the lambda
  * traversal role of Lambda.h:55 traverseForSelfLearning);
  * `recommend(table)` returns the most frequently used key — the column to
  * bucket/repartition the stored set by so those joins/aggs become local —
  * and [[recommendBuckets]] the bucket count (the reference's second
  * placement decision, page size: Configuration.h:18-19).
  *
  * Pass `historyPath` to persist observations: the reference records every
  * job's TCAP, lambdas, and stage timings in SQLite so placement learning
  * survives restarts (SelfLearningDB.cc:109-150); here the same facts —
  * key-use counts, join partnerships, set sizes, query latencies — live in
  * a line-oriented sidecar file, loaded on construct and rewritten after
  * each observation (driver-side only, tiny).
  */
final class PlacementAdvisor(historyPath: Option[String] = None) {

  /** (table, column) -> observed key-use count; join uses weigh double
    * (they save two exchanges when co-partitioned)
    */
  private val keyUse = mutable.Map.empty[(String, String), Long].withDefaultValue(0L)
  /** table pairs seen equi-joined — the co-partition groups whose members
    * must agree on a bucket count for the local join to hold */
  private val joinPartners = mutable.Set.empty[(String, String)]
  /** table -> largest observed row count (recorded on save) */
  private val setRows = mutable.Map.empty[String, Long]
  private val history = mutable.ListBuffer.empty[(String, Long)]
  /** (table, column) -> accumulated latency (ms) of observed queries using
    * that column as a join/agg key — the reward signal for
    * [[recommendByReward]] */
  private val keyReward = mutable.Map.empty[(String, String), Long].withDefaultValue(0L)

  historyPath.foreach(load)

  private def load(path: String): Unit = {
    val p = Paths.get(path)
    if (Files.exists(p)) {
      Files.readAllLines(p).forEach { line =>
        line.split("\t", -1) match {
          case Array("K", t, c, n) => keyUse((t, c)) = n.toLong
          case Array("R", t, c, r) => keyReward((t, c)) = r.toLong
          case Array("P", a, b)    => joinPartners += ((a, b))
          case Array("S", t, r)    => setRows(t) = r.toLong
          case Array("H", n, ms)   => history += ((n, ms.toLong))
          case _                   => ()
        }
      }
    }
  }

  /** Atomic rewrite (temp file + rename into place): a concurrent reader
    * or a second advisor sharing the path never sees a torn file. The
    * replayed per-query history is capped at [[PlacementAdvisor.MaxHistory]]
    * entries — the learned state (key counts, rewards, partners, sizes)
    * is already an aggregate and stays bounded by schema size, so only
    * the raw query log could grow without bound.
    */
  private def persist(): Unit = historyPath.foreach { path =>
    if (history.length > PlacementAdvisor.MaxHistory)
      history.remove(0, history.length - PlacementAdvisor.MaxHistory)
    val sb = new StringBuilder
    keyUse.toSeq.sortBy(_._1).foreach { case ((t, c), n) => sb ++= s"K\t$t\t$c\t$n\n" }
    keyReward.toSeq.sortBy(_._1).foreach { case ((t, c), r) => sb ++= s"R\t$t\t$c\t$r\n" }
    joinPartners.toSeq.sorted.foreach { case (a, b) => sb ++= s"P\t$a\t$b\n" }
    setRows.toSeq.sorted.foreach { case (t, r) => sb ++= s"S\t$t\t$r\n" }
    history.foreach { case (n, ms) => sb ++= s"H\t$n\t$ms\n" }
    val target = Paths.get(path)
    val dir = Option(target.toAbsolutePath.getParent).getOrElse(Paths.get("."))
    val tmp = Files.createTempFile(dir, ".advisor", ".tmp")
    Files.writeString(tmp, sb.toString)
    Files.move(tmp, target,
      java.nio.file.StandardCopyOption.REPLACE_EXISTING,
      java.nio.file.StandardCopyOption.ATOMIC_MOVE)
  }

  private def tableOf(attr: AttributeReference, plan: LogicalPlan): Option[String] = {
    var found: Option[String] = None
    plan.foreach {
      case r: LogicalRelation if r.output.exists(_.exprId == attr.exprId) =>
        found = r.relation match {
          case fs: org.apache.spark.sql.execution.datasources.HadoopFsRelation =>
            fs.location.rootPaths.headOption.map { p =>
              val name = p.getName
              if (name.endsWith(".parquet")) name.stripSuffix(".parquet") else name
            }
          case _ => None
        }
      case _ => ()
    }
    found
  }

  private def recordKeys(cond: Expression, plan: LogicalPlan, weight: Long): Unit =
    cond.foreach {
      case EqualTo(a: AttributeReference, b: AttributeReference) =>
        val tables = Seq(a, b).flatMap { attr =>
          tableOf(attr, plan).map { t =>
            keyUse((t, attr.name)) += weight
            t
          }
        }
        tables match {
          case Seq(x, y) if x != y =>
            joinPartners += (if (x < y) (x, y) else (y, x))
          case _ => ()
        }
      case _ => ()
    }

  /** log one executed query's analyzed plan + latency */
  def observe(df: DataFrame, latencyMs: Long = 0L): Unit = {
    val plan = df.queryExecution.analyzed
    plan.foreach {
      case j: Join =>
        j.condition.foreach(recordKeys(_, plan, weight = 2L))
        j.condition.foreach(_.foreach {
          case EqualTo(a: AttributeReference, b: AttributeReference) =>
            Seq(a, b).foreach { attr =>
              tableOf(attr, plan).foreach(t => keyReward((t, attr.name)) += latencyMs)
            }
          case _ => ()
        })
      case a: Aggregate =>
        a.groupingExpressions.foreach {
          case attr: AttributeReference =>
            tableOf(attr, plan).foreach { t =>
              keyUse((t, attr.name)) += 1L
              keyReward((t, attr.name)) += latencyMs
            }
          case _ => ()
        }
      case _ => ()
    }
    history += ((plan.nodeName, latencyMs))
    persist()
  }

  /** the partition/bucket column to use when saving `table`, if any
    * consumer pattern was observed (rule-based: most frequent key)
    */
  def recommend(table: String): Option[String] =
    keyUse.filter(_._1._1 == table) match {
      case m if m.isEmpty => None
      case m => Some(m.maxBy { case ((_, c), n) => (n, c) }._1._2)
    }

  /** Reward-driven variant: pick the key whose consuming queries
    * accumulated the most latency — co-partitioning on it removes
    * exchanges from the workload's most expensive queries. This is the
    * self-learning analogue of the reference's DRL chooser (reward =
    * end-to-end workload latency; reference: RLClient.h:16-28,
    * scripts/pangeaDeepRL/a3c.py) reduced to its greedy/bandit core — the
    * full A3C network stays out of scope (SURVEY.md §4.3). Falls back to
    * the frequency rule when no latencies were recorded.
    */
  def recommendByReward(table: String): Option[String] =
    keyReward.filter { case ((t, _), r) => t == table && r > 0 } match {
      case m if m.isEmpty => recommend(table)
      case m => Some(m.maxBy { case ((_, c), r) => (r, c) }._1._2)
    }

  /** Exploring chooser over the persisted rewards — the ε-greedy/bandit
    * reduction of the reference's DRL placement loop (reward = observed
    * workload latency; reference: RLClient.h:16-28,
    * scripts/pangeaDeepRL/a3c.py — the A3C network itself stays out of
    * scope, SURVEY.md §4.3). Samples between the top-2 candidate keys
    * with probability proportional to their accumulated reward, so a key
    * that keeps showing up in slow queries gradually takes over from the
    * incumbent instead of being starved by a pure argmax; falls back to
    * the frequency rule while total reward is below `minReward` (history
    * too thin to trust).
    *
    * The draw is a hash of (table, salt, history length) — deterministic
    * and replayable for a given advisor state (no RNG state to persist),
    * yet it re-rolls as observations accumulate; callers wanting varied
    * exploration within one state pass different `salt`s.
    */
  def chooseKey(table: String, salt: Long = 0L, minReward: Long = 1L): Option[String] = {
    val cands = keyReward.toSeq
      .collect { case ((t, c), r) if t == table && r > 0 => (c, r) }
      .sortBy { case (c, r) => (-r, c) }.take(2)
    val total = cands.map(_._2).sum
    if (cands.isEmpty || total < minReward) recommend(table)
    else if (cands.length == 1) Some(cands.head._1)
    else {
      val h = scala.util.hashing.MurmurHash3
        .stringHash(s"$table:$salt:${history.length}")
      val u = (h & 0x7fffffff).toDouble / Int.MaxValue
      Some(if (u < cands.head._2.toDouble / total) cands.head._1
           else cands(1)._1)
    }
  }

  /** tables transitively equi-joined with `table` in observed plans */
  def coPartitionGroup(table: String): Set[String] = {
    val seen = mutable.Set(table)
    var frontier = Set(table)
    while (frontier.nonEmpty) {
      val next = joinPartners.collect {
        case (a, b) if frontier(a) && !seen(b) => b
        case (a, b) if frontier(b) && !seen(a) => a
      }.toSet
      seen ++= next
      frontier = next
    }
    seen.toSet
  }

  /** Bucket count for `table`: sized from the LARGEST set in its
    * co-partition group (all members must agree on the count for the
    * shuffle-free join to plan), rounded up to a power of two so group
    * members converge on the same count as sizes drift. This is the
    * Spark analogue of the reference's page-size choice on load
    * (Configuration.h:18-19, RuleBasedDataPlacementOptimizerForLoadJob.h):
    * there the optimizer sizes pages; here it sizes buckets so each stays
    * near `targetRowsPerBucket` rows.
    */
  def recommendBuckets(
      table: String, rows: Long, targetRowsPerBucket: Long = 1L << 22): Int = {
    val groupMax = (coPartitionGroup(table).flatMap(setRows.get) + rows).max
    PlacementAdvisor.bucketCountFor(groupMax, targetRowsPerBucket)
  }

  /** The auto-compaction trigger for an appendable set whose COMPACTED
    * tiling is `layoutFiles` files (a hash set's recorded partition
    * count; ceil(bytes/target) for plain sets) — the advisor's sizing of
    * [[graft.storage.SetCatalog]]'s `spark.graft.catalog.autoCompact
    * .files` valve (VERDICT r14 next #5). Compaction rewrites the WHOLE
    * set, so the rule amortizes: let the file count drift to
    * `growthFactor`× the compacted tiling before paying — each rewrite
    * then buys at least (growthFactor−1)·layoutFiles appends of
    * headroom, keeping total compaction IO within
    * growthFactor/(growthFactor−1) ≈ 1.33× of the data ever written.
    * The floor keeps small sets from compacting every few micro-batches
    * when the listing cost they'd save is already negligible.
    */
  def recommendCompactionTrigger(
      layoutFiles: Int, growthFactor: Int = 4, floor: Int = 64): Int = {
    require(layoutFiles >= 0 && growthFactor >= 2,
      s"need layoutFiles >= 0 and growthFactor >= 2, got ($layoutFiles, $growthFactor)")
    math.max(floor, growthFactor * math.max(1, layoutFiles))
  }

  /** SemDeDup clustering geometry from an observed corpus size — the
    * same role [[recommendBuckets]] plays for index layouts, applied to
    * the semantic-dedup regime knobs (VERDICT r12 next #7: the operator
    * picked them statically; the advisor's history already records set
    * sizes, so let it recommend).
    *
    * The rule mirrors the operator's documented scaling story
    * ([[graft.operators.Dedup.autoClusters]]'s scaladoc): one cluster
    * per `baseTargetClusterSize` rows keeps the within-cluster pair
    * term at n·target (linear); `maxClusters` is the codebook-broadcast
    * MEMORY bound (~100 MB at 200k × 64 dims × 8 B), past which
    * `targetClusterSize` itself grows as ceil(n / maxClusters) — the
    * knob that extends the linear regime arbitrarily; and past
    * `routeThreshold` fine centroids the assignment routes through
    * ceil(√k) coarse cells (O(n·√k·d) instead of O(n·k·d)) — up to the
    * tree threshold ([[graft.operators.SimilaritySearch
    * .treeRouteThreshold]]), past which `routeCells` is 0 again: the
    * operator's own routed kernel then takes the assignment tree, the
    * same dispatch as the static path (a positive `routeCells` would
    * FORCE the two-level router). The corpus
    * size is remembered in the same `setRows` history the bucket sizing
    * uses, so a later call with a stale/smaller count still sizes for
    * the largest corpus this table has been observed at.
    */
  def recommendSemGeometry(
      table: String, rows: Long,
      baseTargetClusterSize: Int = 125,
      maxClusters: Int = 200000,
      routeThreshold: Int = 2048): SemGeometry = {
    val n = math.max(rows, setRows.getOrElse(table, 0L))
    setRows(table) = n
    persist()
    val target = math.max(baseTargetClusterSize.toLong,
      (n + maxClusters - 1) / maxClusters).toInt
    val k = math.min(
      math.max(4L, (n + target - 1) / target), maxClusters.toLong).toInt
    val cells =
      if (k > routeThreshold &&
          k <= graft.operators.SimilaritySearch.treeRouteThreshold)
        math.max(1, math.ceil(math.sqrt(k.toDouble)).toInt)
      else 0
    SemGeometry(target, k, cells)
  }

  def observedKeyUse: Map[(String, String), Long] = keyUse.toMap

  /** Save with the learned placement applied (the load-path hook — EP3 in
    * SURVEY.md §3, DispatcherServer + partition policy): bucketed by the
    * recommended column with the group-consistent bucket count when a
    * consumer pattern is known, plain set otherwise. Records the set's
    * size in the history so later group members size consistently.
    */
  def saveWithPlacement(
      catalog: graft.storage.SetCatalog, db: String, set: String,
      table: String, df: DataFrame,
      targetRowsPerBucket: Long = 1L << 22): Unit = {
    recommend(table) match {
      case Some(c) =>
        val rows = df.count()
        setRows(table) = math.max(setRows.getOrElse(table, 0L), rows)
        persist()
        catalog.createBucketedSet(db, set, df, c,
          recommendBuckets(table, rows, targetRowsPerBucket))
      case None =>
        catalog.createSet(db, set, df, None)
    }
  }
}

object PlacementAdvisor {
  /** Cap on replayed per-query history lines in the sidecar file. */
  val MaxHistory = 10000

  /** The pure sizing rule behind [[PlacementAdvisor.recommendBuckets]]
    * — power-of-two bucket count keeping each bucket near
    * `targetRowsPerBucket` rows — exposed statically so index builders
    * WITHOUT an advisor size their layout from the data too. The old
    * no-advisor fallback was the session's shuffle-partition count: a
    * constant tuned to the local core count that stays 32 at ANY corpus
    * size — the scale-blind constant guide §2 warns about (at 100 TB a
    * 32-bucket index packs ~3 TB per bucket file and caps every
    * co-partitioned probe join at 32-way parallelism).
    *
    * Deliberately NO parallelism floor (VERDICT r20 #4, the named
    * trade): a mid-size standing set (e.g. ~4M rows) gets 1 bucket, so
    * a co-partitioned probe of it runs 1 task. Flooring at the
    * cluster's default parallelism would re-introduce the fixture-scale
    * cost this rule removed (32 near-empty files per set, stamped and
    * listed on every build) and desynchronize the advisor's spec-pinned
    * power-of-two rule, while the protected case is thin: probes of a
    * one-bucket set carry candidate batches, not the corpus, and a
    * deployment that co-partitions probes against mid-size sets can
    * raise parallelism explicitly (`numBuckets`/`targetRowsPerBucket`
    * are caller knobs on every builder). Revisit only with a measured
    * probe-side stall, which fixture scale does not show.
    */
  def bucketCountFor(rows: Long, targetRowsPerBucket: Long = 1L << 22): Int = {
    val needed =
      math.max(1L, (rows + targetRowsPerBucket - 1) / targetRowsPerBucket)
    val pow2 = java.lang.Long.highestOneBit(needed) match {
      case h if h == needed => needed
      case h => h << 1
    }
    math.min(pow2, 65536L).toInt
  }
}

/** [[PlacementAdvisor.recommendSemGeometry]]'s recommendation: the
  * SemDeDup cluster-size knob, the codebook size it implies, and the
  * coarse routing cell count (0 = the operator's own kernel: flat below
  * the routing threshold, the assignment tree past the tree threshold).
  */
final case class SemGeometry(
    targetClusterSize: Int, clusters: Int, routeCells: Int)
