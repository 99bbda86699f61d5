package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import graft.functions.TextFunctions._

/** Approximate-nearest-neighbor search over an embedding column.
  * Brute-force cosine top-k is the exact baseline (O(q·n), fine when the
  * query set is small and broadcast); IVF is the scale path: a coarse
  * quantizer (k-means on a driver-side sample) buckets vectors, queries
  * probe only the nearest `nprobe` buckets — turning all-pairs into a
  * bucketed join that shuffles each partition once.
  */
object SimilaritySearch {

  /** Exact top-k neighbors for each query vector, by cosine. The query set
    * is broadcast (small side); ranks are made deterministic by rounding
    * the score to 1e-6 and tie-breaking on neighbor id.
    */
  def bruteForceTopK(
      emb: DataFrame, queries: DataFrame, k: Int,
      idCol: String = "vec_id", vecCol: String = "embedding"): DataFrame = {
    // norms precomputed per side — O((q+n)·d) instead of O(q·n·d) norm work
    val q = queriesWithNorm(queries, idCol, vecCol)
    val n = vectorsWithNorm(emb, idCol, vecCol)
      // spread the scan side so the broadcast probe runs wide (no-op when
      // the input is already wide)
      .transform(Parallelism.ensureWidth)
    cosineTopK(n.crossJoin(broadcast(q))
      .filter(col("query_id") =!= col("neighbor_id")), k)
  }

  /** The closing stage of every cosine search: score each (query,
    * neighbor) pair by cosine rounded to 1e-6, rank per query by
    * (cos desc, neighbor_id) and keep the first `k`. `pairs` carries
    * the [[queriesWithNorm]] and [[vectorsWithNorm]] columns. Mirrored
    * by every oracle's `scored` tail.
    */
  private def cosineTopK(pairs: DataFrame, k: Int): DataFrame = {
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("cos").desc, col("neighbor_id"))
    pairs
      .withColumn("cos",
        round(dot(col("q_vec"), col("n_vec")) / (col("q_nrm") * col("n_nrm")), 6))
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select(col("query_id"), col("rank"), col("neighbor_id"), col("cos"))
  }

  /** The (query_id, q_vec, q_nrm) query side of [[cosineTopK]], then
    * `extra` columns.
    */
  private def queriesWithNorm(
      queries: DataFrame, idCol: String, vecCol: String,
      extra: Column*): DataFrame =
    queries.select(Seq(col(idCol).as("query_id"), col(vecCol).as("q_vec"),
      l2Norm(col(vecCol)).as("q_nrm")) ++ extra: _*)

  /** The (neighbor_id, n_vec, n_nrm) neighbor side of [[cosineTopK]] —
    * also the stored row of every index's vector set — then `extra`
    * columns.
    */
  private def vectorsWithNorm(
      emb: DataFrame, idCol: String, vecCol: String,
      extra: Column*): DataFrame =
    emb.select(Seq(col(idCol).as("neighbor_id"), col(vecCol).as("n_vec"),
      l2Norm(col(vecCol)).as("n_nrm")) ++ extra: _*)

  /** `v` as doubles: the one float-to-double copy of every UDF kernel. */
  private def toDoubles(v: Seq[Float]): Array[Double] = {
    val arr = new Array[Double](v.length)
    var i = 0
    while (i < arr.length) { arr(i) = v(i).toDouble; i += 1 }
    arr
  }

  /** The shared deterministic training sample: the `sampleLimit` rows
    * with the smallest (md5(id), id), as raw double vectors — collected
    * ONCE and reusable by both the coarse quantizer and the PQ
    * sub-codebook trainers (an IVF-PQ build needs both; collecting the
    * identical sample twice doubles the most expensive training step, a
    * full corpus scan at scale).
    *
    * The md5 key is MATERIALIZED as a column before the orderBy:
    * `orderBy(md5(...)).limit(n)` plans as TakeOrderedAndProject, whose
    * bounded-heap comparator re-evaluates the ordering EXPRESSIONS on
    * every row-pair comparison (no radix-prefix shortcut like SortExec)
    * — a digest per comparison turns the one-scan O(n·log k) sample
    * into ~n·log k md5 calls (measured: the 10M-row / 160k-sample
    * collect sat >15 min where the materialized form takes seconds).
    * Projecting the key first makes the comparator a plain attribute
    * compare; the (key, id) order — hence the selected sample, the
    * centroids, and every oracle downstream — is byte-identical.
    *
    * Large samples take the PREFILTERED path: TakeOrdered ships every
    * partition's top-`sampleLimit` to the driver, so a wide sample on a
    * wide scan is a partitions×sampleLimit driver merge — the 25M-row /
    * 400k-sample collect breaches the default 1 GiB
    * spark.driver.maxResultSize outright, and at cluster partition
    * counts it would breach ANY driver bound. md5 keys are uniform on
    * the hex keyspace, so `key < T` with T at 4× the 1e9-row
    * expectation keeps a small certified superset: if the filtered
    * count covers `sampleLimit`, the global smallest (key, id) rows all
    * lie inside it (every excluded row keys ABOVE every included one)
    * and the exact top-k over the small set IS the corpus top-k —
    * verified by count, not assumed, with a 16× threshold relax loop
    * (terminates at the unfiltered exact path) covering any corpus
    * size. Small samples — every oracle-scale trainer, the 10k default
    * — stay on the direct one-scan plan unchanged.
    */
  private[graft] def sampleVectors(
      emb: DataFrame, idCol: String, vecCol: String,
      sampleLimit: Int, knownRowCount: Long = 0L): Array[Array[Double]] = {
    // a name provably fresh against the caller's schema: withColumn
    // would silently REPLACE a pre-existing column of the same name
    // (ADVICE r17) — only vecCol is selected out today, but the private
    // API shouldn't carry the shadowing hazard
    val key = Iterator.from(0)
      .map(i => if (i == 0) "__sample_key" else s"__sample_key$i")
      .find(n => !emb.columns.contains(n)).get
    val keyed = emb
      .withColumn(key, md5(col(idCol).cast("string").cast("binary")))
    def collectTop(df: DataFrame): Array[Array[Double]] =
      df.orderBy(col(key), col(idCol))
        .limit(sampleLimit)
        .select(col(vecCol)).collect()
        .map(_.getSeq[Float](0).map(_.toDouble).toArray)
    if (sampleLimit <= directSampleLimit) collectTop(keyed)
    else {
      // Seed the prefilter fraction from the corpus rowcount when the
      // caller already has one (sidecar rows, a paid-for count) — each
      // relax step that under-covers costs a full corpus scan + persist
      // + count (ADVICE r17: the hardcoded 1e9 seed made a 10M-row /
      // 160k-sample run pay 3 scans). Clamped to 0.4 so at least one
      // CERTIFIED prefilter attempt always runs before the unfiltered
      // fallback — at sampleLimit ≥ ~1.25e8 the raw seed is ≥ 0.5 and
      // the loop would silently skip straight to the partitions×limit
      // driver merge the prefilter exists to avoid.
      val n = if (knownRowCount > 0) knownRowCount.toDouble else 1e9
      var frac = math.min(0.4, 4.0 * sampleLimit / n)
      var out: Option[Array[Array[Double]]] = None
      while (out.isEmpty && frac < 0.5) {
        samplePrefilterAttempts.incrementAndGet()
        // 16 hex digits of the 128-bit keyspace: floor(frac·2⁶⁴) as a
        // zero-padded hex literal compares lexicographically against
        // the 32-char key exactly as the numeric prefix would
        val t = f"${(frac * math.pow(2.0, 64)).toLong}%016x"
        val filtered = keyed.filter(col(key) < t)
          .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
        try {
          if (filtered.count() >= sampleLimit) {
            samplePrefilterHits.incrementAndGet()
            out = Some(collectTop(filtered))
          } else frac *= 16
        } finally filtered.unpersist()
      }
      if (out.isEmpty)
        // loud: at wide limits the fallback is the exact driver-merge
        // shape the prefilter exists to avoid (ADVICE r17)
        System.err.println(
          s"[graft] sampleVectors: certified prefilter exhausted at " +
            s"sampleLimit=$sampleLimit — falling back to the direct " +
            "TakeOrdered plan (partitions×limit driver merge)")
      out.getOrElse(collectTop(keyed))
    }
  }

  /** Test hooks (ADVICE r17): IvfIndexSpec's wide-sample equivalence
    * cases assert the PREFILTERED branch actually produced the result —
    * byte-equality alone would also pass via the silent unfiltered
    * fallback, hiding a certification regression (e.g. a threshold
    * formatting bug failing every count).
    */
  private[graft] val samplePrefilterAttempts =
    new java.util.concurrent.atomic.AtomicLong(0L)
  private[graft] val samplePrefilterHits =
    new java.util.concurrent.atomic.AtomicLong(0L)

  /** Above this, [[sampleVectors]] prefilters by key prefix before the
    * top-k: the direct plan's driver merge is partitions×limit rows.
    * Package-visible so regime-aware callers (SemScale's prefilter
    * certification gate — ADVICE r19: requiring exactly one attempt
    * crashed every run whose sample fit the DIRECT path, which takes
    * zero attempts by design) can compute the expected attempt count
    * instead of hardcoding the wide regime's.
    */
  private[graft] val directSampleLimit = 65536

  /** Train a coarse quantizer: k-means over a collected sample (the
    * standard IVF recipe — the codebook is tiny and training data is a
    * bounded sample, so driver-side iteration is the scalable design,
    * mirroring how the reference runs iterative ML as client-side loops,
    * e.g. reference: src/tests/source/TestKMeans.cc).
    *
    * The sample is the `sampleLimit` rows with the SMALLEST md5(id) —
    * the same deterministic-hash kernel as [[Sampling.stratified]], so
    * it is uniform over the corpus (an id-prefix sample is whatever the
    * id assignment correlates with: crawl order, shard, tenant) yet
    * rerun-stable and oracle-reproducible. The plan is a
    * TakeOrderedAndProject (per-partition k-bounded heap + driver merge
    * of k-row slices — never a global sort), so the cost at 100 TB is
    * one scan of (id, vector), and the heap holds 10k rows.
    */
  def trainCentroids(
      emb: DataFrame, nCentroids: Int, iters: Int,
      idCol: String = "vec_id", vecCol: String = "embedding",
      sampleLimit: Int = 10000): Array[Array[Double]] =
    trainCentroidsFromSample(
      sampleVectors(emb, idCol, vecCol, sampleLimit), nCentroids, iters)

  private[graft] def trainCentroidsFromSample(
      sample: Array[Array[Double]], nCentroids: Int,
      iters: Int): Array[Array[Double]] = {
    var centroids = sample.take(nCentroids).map(_.clone())
    for (_ <- 1 to iters) {
      val sums = Array.fill(nCentroids)(new Array[Double](centroids(0).length))
      val counts = new Array[Long](nCentroids)
      sample.foreach { v =>
        val c = nearest(centroids, v)
        counts(c) += 1
        var i = 0
        while (i < v.length) { sums(c)(i) += v(i); i += 1 }
      }
      centroids = centroids.indices.map { c =>
        if (counts(c) == 0) centroids(c)
        else sums(c).map(_ / counts(c))
      }.toArray
    }
    centroids
  }

  /** Coarse router over a FINE codebook: train a small coarse quantizer
    * over the k fine centroids THEMSELVES (the [[ivfPqTopK]] cell shape
    * applied to codebook assignment — the fix named by
    * [[graft.operators.Dedup.autoClusters]]'s scaladoc since round 11),
    * then group each fine centroid under its nearest coarse cell. Empty
    * cells are dropped, so every routable cell has at least one fine
    * centroid to argmin over. Everything here is driver-side over the
    * codebook only — O(k·nCoarse·d), never touching the corpus.
    * Returns (non-empty coarse centroids ascending by original seed
    * index, member fine-centroid GLOBAL indices per cell, ascending).
    */
  private[graft] def coarseRouter(
      centroids: Array[Array[Double]], nCoarse: Int,
      iters: Int): (Array[Array[Double]], Array[Array[Int]]) = {
    val coarse = trainCentroidsFromSample(centroids, nCoarse, iters)
    val members =
      Array.fill(coarse.length)(scala.collection.mutable.ArrayBuffer.empty[Int])
    var c = 0
    while (c < centroids.length) {
      members(nearest(coarse, centroids(c))) += c
      c += 1
    }
    val nonEmpty = members.indices.filter(members(_).nonEmpty).toArray
    (nonEmpty.map(coarse), nonEmpty.map(members(_).toArray))
  }

  /** ceil(√k) — the standard two-level cell count: k/√k fine centroids
    * per cell in expectation, so a routed argmin costs O(2·√k·d) per row
    * instead of the flat O(k·d).
    */
  private[graft] def sqrtCells(k: Int): Int =
    math.max(1, math.ceil(math.sqrt(k.toDouble)).toInt)

  /** Node of a [[Codebook]]'s router: either an internal split (coarse
    * centers + matching children) or a leaf holding fine-centroid
    * GLOBAL indices, ascending. Plain serializable case classes — the
    * router rides in the UDF closure with the centroids, adding only
    * its interior centers (~k/(b−1) for a b-way tree).
    */
  private[graft] sealed trait RouteNode extends Serializable
  private[graft] final case class RouteBranch(
      centers: Array[Array[Double]],
      children: Array[RouteNode]) extends RouteNode
  private[graft] final case class RouteLeaf(members: Array[Int])
      extends RouteNode

  /** Branch factor of the assignment tree: ⌈k^(1/4)⌉, so a descent does
    * ~3 levels of b-way argmin plus one ≤b-member leaf scan — ~4·k^(1/4)
    * distance evaluations per row where the two-level router does
    * 2·√k (450 → ~85 at k = 200k) and the flat argmin does k. With
    * k ∝ n (SemDeDup's n/125 sizing) the corpus assignment pass drops
    * from O(n^1.5) to O(n^1.25).
    */
  private[graft] def treeRouteBranch(k: Int): Int =
    math.max(2, math.ceil(math.pow(k.toDouble, 0.25)).toInt)

  /** Recursive b-way split of a fine-centroid index set: train a b-way
    * coarse quantizer over the member centroids themselves (the
    * [[coarseRouter]] step applied per node), partition members by
    * nearest coarse center, recurse. Members keep ascending global
    * order through the stable partition, so leaf argmins tie-break to
    * the smallest global index exactly like the flat kernel — the tree
    * is a pure, deterministic function of the codebook. A node whose
    * members collapse into one coarse cell (duplicate centroids) stops
    * splitting and becomes a leaf.
    */
  private[graft] def buildRouteTree(
      centroids: Array[Array[Double]], idxs: Array[Int], branch: Int,
      iters: Int): RouteNode = {
    if (idxs.length <= branch) return RouteLeaf(idxs)
    val rows = idxs.map(centroids(_))
    val coarse = trainCentroidsFromSample(rows, branch, iters)
    val members =
      Array.fill(coarse.length)(scala.collection.mutable.ArrayBuffer.empty[Int])
    var i = 0
    while (i < idxs.length) {
      members(nearest(coarse, rows(i))) += idxs(i)
      i += 1
    }
    val nonEmpty = members.indices.filter(members(_).nonEmpty).toArray
    if (nonEmpty.length <= 1) RouteLeaf(idxs)
    else RouteBranch(
      nonEmpty.map(coarse),
      nonEmpty.map(c =>
        buildRouteTree(centroids, members(c).toArray, branch, iters)))
  }

  /** A codebook together with how rows route to it — the ONE
    * nearest-centroid assignment kernel of every similarity operator
    * (the reference's client-side KMeans assignment, e.g. reference:
    * src/tests/source/TestKMeans.cc). [[nearest]] descends the router's
    * branches with the trainers' argmin, then argmins over the reached
    * leaf's fine centroids. The regimes are router shapes:
    *  - flat: one leaf over `0 until k` — the exact argmin every SQL
    *    oracle mirrors;
    *  - two-level: one branch of ~√k coarse cells trained over the
    *    centroids themselves ([[coarseRouter]]) — O(√k·d) per row;
    *  - tree: the [[buildRouteTree]] hierarchy past
    *    [[treeRouteThreshold]] — ~4·k^(1/4) distance evaluations per row
    *    (SEMDEDUP_SCALE_r20 measured the two-level corpus pass as the
    *    lifecycle's asymptotic ceiling, assign_exp 1.69).
    * Routed shapes are approximate by design: the true nearest centroid
    * can live in a neighboring cell (the IVF recall trade). Leaves hold
    * ascending GLOBAL indices and the scan keeps the first strict
    * minimum, so every shape breaks ties to the smallest index exactly
    * like the flat argmin — deterministic and oracle-reproducible.
    * `kernel` names the regime a persisted index witnesses; the router
    * is built once with the value, so a memoized index codebook
    * ([[loadIndexCodebook]]) carries it across appends and probes.
    */
  final case class Codebook(
      centroids: Array[Array[Double]], kernel: RouteKernel,
      router: RouteNode) {

    /** GLOBAL index of the centroid `v` routes to. */
    def nearest(v: Array[Double]): Int = {
      var node = router
      while (node.isInstanceOf[RouteBranch]) {
        val b = node.asInstanceOf[RouteBranch]
        node = b.children(SimilaritySearch.nearest(b.centers, v))
      }
      val mem = node.asInstanceOf[RouteLeaf].members
      var best = mem(0)
      var bestD = Double.MaxValue
      var m = 0
      while (m < mem.length) {
        val c = centroids(mem(m))
        var d = 0.0
        var j = 0
        while (j < v.length) { val diff = c(j) - v(j); d += diff * diff; j += 1 }
        if (d < bestD) { bestD = d; best = mem(m) }
        m += 1
      }
      best
    }

    /** [[nearest]] as a scalar UDF over a float-array column: the
      * codebook rides in the closure (task-serialized like a
      * broadcast), one tight JVM loop per row. Same IEEE op order as the
      * SQL oracles' argmin (sequential diff² accumulation from 0.0,
      * first-min tiebreak), so assignment parity is preserved.
      */
    def assignUdf: org.apache.spark.sql.expressions.UserDefinedFunction =
      udf((v: Seq[Float]) => nearest(toDoubles(v)).toLong)

    /** The `nprobe` nearest centroid ids for a query vector, ascending by
      * (distance, bucket) — one distance pass over EVERY centroid (the
      * router is not consulted), same ordering as the SQL oracle's
      * array_sort over (d, b) structs. Only the centroids ride in the
      * closure.
      */
    def probeUdf(nprobe: Int): org.apache.spark.sql.expressions.UserDefinedFunction = {
      val cs = centroids
      udf((v: Seq[Float]) => {
        val arr = toDoubles(v)
        cs.map(sqDist(_, arr, 0)).zipWithIndex
          .sortBy { case (d, b) => (d, b) }.take(nprobe).map(_._2.toLong).toSeq
      })
    }
  }

  object Codebook {

    /** Lloyd iterations of every router's coarse trainer. */
    val routeIters = 2

    /** The exact argmin: one leaf over every centroid. */
    def flat(centroids: Array[Array[Double]]): Codebook =
      Codebook(centroids, FlatKernel, RouteLeaf(centroids.indices.toArray))

    /** Two-level routing through `nCoarse` coarse cells. */
    def twoLevel(centroids: Array[Array[Double]], nCoarse: Int): Codebook = {
      val (coarse, members) = coarseRouter(centroids, nCoarse, routeIters)
      Codebook(centroids, TwoLevelKernel,
        RouteBranch(coarse, members.map[RouteNode](RouteLeaf(_))))
    }

    /** The codebook assigning with `kernel`: two-level at ⌈√k⌉ coarse
      * cells, the tree at ⌈k^(1/4)⌉-way branches.
      */
    def of(kernel: RouteKernel, centroids: Array[Array[Double]]): Codebook =
      kernel match {
        case FlatKernel => flat(centroids)
        case TwoLevelKernel => twoLevel(centroids, sqrtCells(centroids.length))
        case TreeKernel => Codebook(centroids, TreeKernel,
          buildRouteTree(centroids, centroids.indices.toArray,
            treeRouteBranch(centroids.length), routeIters))
      }

    /** The routed regime of the unpersisted operators: two-level up to
      * [[treeRouteThreshold]], the tree past it — the boundary
      * [[routeKernelFor]] applies to a persisted index.
      */
    def routed(centroids: Array[Array[Double]]): Codebook =
      of(if (centroids.length > treeRouteThreshold) TreeKernel
        else TwoLevelKernel, centroids)
  }

  /** Squared distance from `c` to the slice of `v` starting at `off`:
    * `diff = c − v`, `d += diff²` from 0.0 in index order — the op order
    * every SQL oracle's distance mirrors.
    */
  private def sqDist(c: Array[Double], v: Array[Double], off: Int): Double = {
    var d = 0.0
    var i = 0
    while (i < c.length) { val diff = c(i) - v(off + i); d += diff * diff; i += 1 }
    d
  }

  /** Index of the centroid nearest the slice of `v` starting at `off`
    * (a PQ subspace; the whole vector at 0), first strict minimum.
    */
  private def nearest(
      centroids: Array[Array[Double]], v: Array[Double], off: Int = 0): Int = {
    var best = 0
    var bestD = Double.MaxValue
    var c = 0
    while (c < centroids.length) {
      val d = sqDist(centroids(c), v, off)
      if (d < bestD) { bestD = d; best = c }
      c += 1
    }
    best
  }

  /** Codebook size above which routed assignment dispatches from the
    * two-level router to the [[buildRouteTree]] hierarchy — the SAME
    * boundary as the trainer's [[treeTrainThreshold]], so the two
    * lifecycle dimensions (train, assign) switch regimes together.
    * Every oracle-scale (k ≤ 2048, flat) and spec-pinned mid-size
    * routed path (k ≤ 16384, two-level) is bit-identical to before;
    * only the multi-million-row semantic builds cross it.
    */
  private[graft] def treeRouteThreshold: Int = treeTrainThreshold

  /** The session-conf read of the routing threshold — the BUILD-time
    * authority. Probe/append stages of a PERSISTED index must NOT read
    * this: they derive the threshold from the index itself
    * ([[persistedRouteThreshold]]), because an index built in a session
    * with a non-default threshold and probed in one without it would
    * otherwise assign arrivals to different cells than the standing
    * vectors — identity pairs silently lost (ADVICE r15).
    */
  private[graft] def sessionRouteThreshold(spark: SparkSession): Int =
    spark.conf.get("spark.graft.ann.routeThreshold",
      graft.operators.Dedup.routeThreshold.toString).toInt

  /** The routing rule as a pure function of (threshold, k): routed
    * cells 0 (flat argmin) at or below the threshold, ⌈√k⌉ above it —
    * [[graft.operators.Dedup.semanticPairs]]' rule applied to the
    * persisted-index lifecycle, whose codebook grows with the corpus
    * (k ≈ n/125) so a flat O(n·k·d) pass in build/append/probe would
    * re-acquire the quadratic term routing removed. A pure function of
    * the persisted centroid count and threshold, so every lifecycle
    * stage derives the identical assignment with nothing extra to
    * crash-protect. `spark.graft.ann.routeThreshold` exists so tests can
    * exercise the routed lifecycle at fixture scale — an engine constant
    * in production.
    */
  private[graft] def routedCellsFor(threshold: Int, k: Int): Int =
    if (k > threshold) sqrtCells(k) else 0

  /** A persisted index's cell-assignment kernel. */
  sealed trait RouteKernel
  case object FlatKernel extends RouteKernel
  case object TwoLevelKernel extends RouteKernel
  case object TreeKernel extends RouteKernel

  /** Raised loading a standing index whose stored rows were assigned by
    * a kernel this engine no longer derives from the codebook alone: a
    * routed codebook past [[treeRouteThreshold]] built before the
    * `route_kernel_tree` witness existed was bucketed by the two-level
    * router, while every later append and probe would assign with the
    * tree — new rows and probes landing in different cells than the
    * standing ones. Rebuild the index (its rebuild writes the witness).
    */
  final class IndexRebuildRequiredException(msg: String)
    extends IllegalStateException(msg)

  /** The marker column a routed codebook past [[treeRouteThreshold]]
    * carries next to its `route_threshold_N` column: the stored rows
    * were assigned by the tree ([[Codebook.of]] with [[TreeKernel]]).
    */
  val TreeKernelMarker = "route_kernel_tree"

  /** The assignment kernel as a pure function of the persisted witness:
    * flat at or below the routing threshold, two-level routed up to
    * [[treeRouteThreshold]], the tree past it — and past it ONLY when
    * the codebook carries [[TreeKernelMarker]]; a marker-less codebook
    * there fails with [[IndexRebuildRequiredException]] rather than
    * assign arrivals with a kernel its standing rows never saw.
    */
  private[graft] def routeKernelFor(
      threshold: Int, k: Int, treeMarker: Boolean): RouteKernel =
    if (routedCellsFor(threshold, k) == 0) FlatKernel
    else if (k <= treeRouteThreshold) TwoLevelKernel
    else if (treeMarker) TreeKernel
    else throw new IndexRebuildRequiredException(
      s"index codebook of $k cells (route threshold $threshold) has no " +
        s"$TreeKernelMarker witness: its rows were assigned by the " +
        "two-level router, which this engine no longer uses past " +
        s"$treeRouteThreshold cells — rebuild the index")

  /** The kernel a fresh build assigns with (and witnesses). */
  private[graft] def builtKernel(threshold: Int, k: Int): RouteKernel =
    routeKernelFor(threshold, k, treeMarker = true)

  /** [[builtKernel]] under the session's routing threshold. */
  private[graft] def sessionKernel(spark: SparkSession, k: Int): RouteKernel =
    builtKernel(sessionRouteThreshold(spark), k)

  /** A persisted codebook as build/rebuild store it, its assignment
    * regime self-describing in marker COLUMNS (the grouped layout's
    * `cell_group_N` pattern): `route_threshold_N` names the threshold
    * the index was built under, and [[TreeKernelMarker]] is present
    * when that build assigned with the tree. Atomic with the codebook
    * by construction (the swap that replaces the codebook replaces its
    * markers), nothing extra to crash-protect, and a session-conf drift
    * after build cannot desynchronize assignment between the standing
    * vectors and later arrivals/probes.
    */
  private[graft] def codebookFrame(
      spark: SparkSession, centroids: Array[Array[Double]]): DataFrame = {
    import spark.implicits._
    val df = centroids.zipWithIndex
      .map { case (v, b) => (b.toLong, v.toSeq) }.toSeq
      .toDF("bucket", "centroid")
      .withColumn(s"route_threshold_${sessionRouteThreshold(spark)}", lit(true))
    if (sessionKernel(spark, centroids.length) == TreeKernel)
      df.withColumn(TreeKernelMarker, lit(true))
    else df
  }

  /** Parse the persisted threshold back out of a centroids frame's
    * schema; None for pre-marker (legacy) indexes, which fall back to
    * the session conf — their build sessions never set it either.
    */
  private[graft] def persistedRouteThreshold(
      centroidsDf: DataFrame): Option[Int] =
    centroidsDf.columns.find(_.startsWith("route_threshold_"))
      .map(_.stripPrefix("route_threshold_").toInt)

  /** Load a standing index's codebook through the catalog memo: one
    * collect per codebook GENERATION (the centroids sidecar's), shared
    * by every append, probe and search of the index. Appends never
    * change the codebook, so they and a live probe stream reuse it; a
    * rebuild swaps a new generation in and the next caller collects
    * once — and its router is built once with it. The kernel the
    * codebook witnesses is checked here (the routing threshold is the
    * persisted marker when present, else the session conf — legacy
    * indexes), so an index that needs a rebuild fails before anything
    * is assigned or written.
    */
  private[graft] def loadIndexCodebook(
      spark: SparkSession, catalog: graft.storage.SetCatalog,
      db: String, name: String): Codebook = {
    val set = s"${name}_centroids"
    catalog.memoized(db, set, "index.codebook") {
      val df = catalog.scanSet(db, set)
      val cents = collectCentroids(df)
      val threshold = persistedRouteThreshold(df).getOrElse {
        // an unmarked IVF-PQ coarse codebook (next to its `_codebooks`)
        // was assigned flat at any k, which the session threshold
        // reproduces only up to itself
        val session = sessionRouteThreshold(spark)
        if (cents.length > session &&
            catalog.meta(db, s"${name}_codebooks").isDefined)
          throw new IndexRebuildRequiredException(
            s"IVF-PQ index $db.$name: its ${cents.length}-cell coarse " +
              "codebook carries no route_threshold marker and was assigned " +
              s"flat, which this session's threshold $session would route " +
              "— rebuild the index")
        session
      }
      Codebook.of(routeKernelFor(threshold, cents.length,
        df.columns.contains(TreeKernelMarker)), cents)
    }
  }

  /** A persisted centroids set's vectors in bucket order. Collected
    * unordered and sorted on the driver: buckets are 0..k-1, and an
    * orderBy costs a sampling job plus a shuffle.
    */
  private def collectCentroids(centroidsDf: DataFrame): Array[Array[Double]] =
    centroidsDf.select(col("bucket"), col("centroid")).collect()
      .map(r => (r.getLong(0), r.getSeq[Double](1).toArray))
      .sortBy(_._1).map(_._2)

  /** Directory-fanout bound for the cell-partitioned vector set: one
    * directory PER CELL is the right layout at ANN-scale k (16-256
    * cells — pruning reads exactly the probed cells' directories), but a
    * semantic-scale codebook (k ≈ n/125 — 200k cells at 25M vectors)
    * would mean 200k directories of ~125 rows each: tiny files and a
    * listing/namenode bill that grows with k, the classic
    * over-partitioning failure. Above this bound the build partitions by
    * a CELL GROUP (bucket mod nGroups) instead — a probe of b cells
    * touches ≤ b group directories (same pruning bound), each holding
    * ~k/nGroups cells' rows, and the true cell id stays a normal column
    * for the in-group join. Conf for tests; an engine constant in
    * production.
    */
  private[graft] def maxCellDirs(spark: SparkSession): Int =
    spark.conf.get("spark.graft.ann.maxCellDirs", "1024").toInt

  /** The group column NAME carries its modulus (`cell_group_1024`), so
    * the layout is entirely self-describing: append and probe parse the
    * modulus back out of the schema they just read — atomic with the
    * data by construction, nothing extra to persist or crash-protect,
    * and a conf change after build cannot desynchronize them.
    */
  private[graft] def cellGroupColOf(vectors: DataFrame): Option[(String, Int)] =
    vectors.columns.find(_.startsWith("cell_group_"))
      .map(c => (c, c.stripPrefix("cell_group_").toInt))

  /** (partitionColumn, frame-with-layout-columns) for a freshly assigned
    * vector frame: per-cell directories at ANN-scale k, grouped
    * directories above [[maxCellDirs]].
    */
  private def cellLayout(
      spark: SparkSession, assigned: DataFrame, k: Int): (String, DataFrame) = {
    val nGroups = maxCellDirs(spark)
    if (k <= nGroups) ("bucket", assigned)
    else {
      val c = s"cell_group_$nGroups"
      // cluster by group before the partitioned write: an unclustered
      // partitionBy write emits one file per (task × group) — the
      // bucketed-write explosion createBucketedSet documents, ~32k tiny
      // files at 1024 groups × 32 tasks. Clustered, each group's rows
      // land in one shuffle partition → ~one file per directory.
      (c, assigned.withColumn(c, pmod(col("bucket"), lit(nGroups.toLong)))
        .repartition(col(c)))
    }
  }

  /** Add the standing layout's group column to a probe/append side whose
    * `bucket` is already computed, casting to the partition column's
    * Hive-inferred type. No-op for per-cell layouts.
    */
  private[graft] def withCellGroup(
      standing: DataFrame, df: DataFrame): DataFrame =
    cellGroupColOf(standing) match {
      case None => df
      case Some((c, n)) =>
        df.withColumn(c,
          pmod(col("bucket").cast("long"), lit(n.toLong))
            .cast(standing.schema(c).dataType))
    }

  /** Join keys for a probe against the standing vector set: the group
    * column first when the layout is grouped (directory pruning), then
    * the cell id (in-group row pruning).
    */
  private[graft] def cellJoinKeys(standing: DataFrame): Seq[String] =
    cellGroupColOf(standing).map(_._1).toSeq :+ "bucket"

  /** The probe side of a standing-index join, materialized ONCE: the
    * (small) probe frame is collected to the driver, the cells those
    * rows touch become LITERAL filters on the standing set's cell-layout
    * columns, and the same rows come back as a broadcast local relation
    * for the join — one job where a checkpoint, a touched-cell collect
    * and a broadcast used to be three passes over one frame. Returns
    * (pruned standing set, broadcast probe side).
    *
    * Static pruning holds under ANY probe-side plan shape; dynamic
    * partition pruning is heuristic — a streaming micro-batch arrives as
    * a LocalRelation/LogicalRDD whose default size estimate makes the
    * DPP benefit check decline, leaving the per-batch plan scanning
    * every cell directory (PlanSpec pins the literal form). Above
    * `maxLiterals` touched cells the filter is skipped whole: the probe
    * covers most of the codebook, pruning buys nothing, and a
    * 100k-literal IN would bloat the plan instead.
    *
    * The filter is one IN per key column, NOT per-tuple conjunctions —
    * and it is still EXACT on grouped layouts (ADVICE r16 raised the
    * cross-product worry), because the group column is a FUNCTION of
    * the cell id: every row and every probe was written/derived with
    * `cell_group_N = bucket mod N` ([[cellLayout]] / [[withCellGroup]]),
    * so a row passing `bucket IN T` necessarily has its group in
    * `{t mod N : t ∈ T}` — the conjunction admits exactly the rows with
    * `bucket IN T`, no stray (group, bucket) combinations exist to
    * admit. Directory pruning is group-granular (|touched groups| ≤ b,
    * so a probe of b cells still reads ≤ b directories); row pruning is
    * cell-exact. A per-tuple OR would buy nothing and bloat the plan at
    * 4096 touched cells. IvfIndexSpec pins the row-level exactness on a
    * grouped layout.
    */
  private[graft] def localProbe(
      standing: DataFrame, probeSide: DataFrame,
      maxLiterals: Int = 4096): (DataFrame, DataFrame) = {
    val rows = probeSide.collect()
    val local = probeSide.sparkSession.createDataFrame(
      java.util.Arrays.asList(rows: _*), probeSide.schema)
    val keys = cellJoinKeys(standing)
    val at = keys.map(local.schema.fieldIndex)
    val touched = rows.map(r => at.map(r.get)).distinct
    val pruned =
      if (touched.length > maxLiterals) standing
      else keys.indices.foldLeft(standing) { (df, i) =>
        df.filter(col(keys(i)).isin(touched.map(_(i)).distinct.toIndexedSeq: _*))
      }
    (pruned, broadcast(local))
  }

  /** Lloyd training with two-level routed assignment steps for LARGE k:
    * at or below `routeThreshold` this IS [[trainCentroidsFromSample]]
    * (bit-identical — the oracle-mirrored regime); above it, each
    * iteration re-derives a √k coarse router from the CURRENT centroids
    * and assigns sample rows through it, dropping the driver trainer
    * from O(sample·k·d) to O(sample·√k·d) per iteration — without this
    * the trainer, not the corpus pass, becomes the bottleneck once the
    * codebook outgrows the old 10k cap (hierarchical k-means, public
    * method — e.g. Nistér & Stewénius's vocabulary tree, CVPR 2006).
    * No oracle can reach this regime (k > 2048 needs n > 256k vectors);
    * its contract is pinned by ExtendedSpec instead: delegation below
    * the threshold, determinism and flat-agreement above it.
    */
  private[graft] def trainCentroidsRouted(
      sample: Array[Array[Double]], nCentroids: Int, iters: Int,
      routeThreshold: Int = 2048): Array[Array[Double]] = {
    if (nCentroids <= routeThreshold)
      return trainCentroidsFromSample(sample, nCentroids, iters)
    // HUGE codebooks (k above treeTrainThreshold — the 2M+-row semantic
    // builds) take the hierarchical trainer: the two-level routed Lloyd
    // below is O(sample·√k·d) per iteration with sample ∝ 2k, i.e.
    // ~O(k^1.5) single-threaded, and SEMDEDUP_SCALE_r19 measured it as
    // the build's asymptotic ceiling (train_s 10.49 → 89.98 for a 2.5×
    // row step, exp 2.35, while every other stage is cluster-parallel —
    // VERDICT r19 next #2). The tree is O(sample·b·log_b k·d) total and
    // parallel across driver cores. The two-level path stays untouched
    // in its regime: its bit-parity contract (delegation below the
    // threshold, flat agreement on separated blobs) is spec-pinned.
    if (nCentroids > treeTrainThreshold)
      return trainCentroidsTree(sample, nCentroids, iters)
    var centroids = sample.take(nCentroids).map(_.clone())
    for (_ <- 1 to iters) {
      val codebook = Codebook.twoLevel(centroids, sqrtCells(nCentroids))
      val sums = Array.fill(centroids.length)(new Array[Double](centroids(0).length))
      val counts = new Array[Long](centroids.length)
      sample.foreach { v =>
        val best = codebook.nearest(v)
        counts(best) += 1
        var i = 0
        while (i < v.length) { sums(best)(i) += v(i); i += 1 }
      }
      centroids = centroids.indices.map { c =>
        if (counts(c) == 0) centroids(c)
        else sums(c).map(_ / counts(c))
      }.toArray
    }
    centroids
  }

  /** Above this codebook size [[trainCentroidsRouted]] dispatches to
    * [[trainCentroidsTree]]. 16384 keeps every oracle-scale and
    * ANN-scale build (k ≤ a few thousand) and the spec-pinned
    * mid-size routed regime on their existing paths; only the
    * semantic-index builds over multi-million-row corpora (k = n/125)
    * cross it, and there the two-level trainer's ~O(k^1.5) driver cost
    * is the measured ceiling (SEMDEDUP_SCALE_r19: exp 2.35).
    */
  private[graft] val treeTrainThreshold = 16384

  /** Branch factor of the hierarchical trainer: per level each node
    * splits its rows across ≤256 children, so per-row routing work per
    * level is a flat 256-way argmin and depth is log₂₅₆ k (3 levels at
    * k = 2M). 256 balances per-level cost (∝ b) against depth (∝ 1/log b).
    */
  private[graft] val treeBranch = 256

  /** Hierarchical k-means ("vocabulary tree", Nistér & Stewénius CVPR
    * 2006 — the public method the routed trainer's scaladoc already
    * cites) for HUGE codebooks: recursively split the sample into ≤
    * [[treeBranch]] cells per level until a node's centroid budget fits
    * one flat Lloyd, apportioning each node's budget across its
    * children proportional to their row counts (largest remainder,
    * capped by rows — cells that attract more sample rows get more
    * centroids, which is what keeps corpus cells near the 125-row
    * target). Total driver work is O(sample·b·d·log_b k) — measured
    * exp ~1.0/decade where the two-level routed Lloyd reads 2.35 — and
    * every phase is parallel over driver cores: per-node coarse
    * training, per-chunk row assignment, per-leaf Lloyd all write
    * disjoint slots and merge in fixed index order, so the output is
    * DETERMINISTIC under any thread schedule. At the 250M-row
    * extrapolation (k = 2M, sample = 4M) the remaining driver bound is
    * ~5·10¹⁰ mults ≈ seconds-to-a-minute across 32 cores — no longer
    * the build's asymptotic ceiling (the cluster-parallel corpus
    * assignment is). A Spark fan-out of the same step would pay
    * broadcast+collect barriers per level for sub-minute work; the
    * driver tree keeps the build's only collect the sample itself.
    *
    * Output contract matches the flat/routed trainers: exactly
    * `nCentroids` rows when `sample.length > nCentroids` (leaf Lloyd
    * over ≥ kᵢ rows each), the flat trainer's own short-array
    * degenerate otherwise. Centroid ORDER is tree order (children in
    * coarse-cell index order) — a permutation of no significance to
    * any caller: every consumer treats the array index as an opaque
    * bucket id.
    */
  private[graft] def trainCentroidsTree(
      sample: Array[Array[Double]], nCentroids: Int,
      iters: Int): Array[Array[Double]] = {
    if (sample.length <= nCentroids || nCentroids <= treeBranch)
      return trainCentroidsFromSample(sample, nCentroids, iters)
    val out = new Array[Array[Double]](nCentroids)
    val cores = math.max(1, Runtime.getRuntime.availableProcessors())
    val pool = java.util.concurrent.Executors.newFixedThreadPool(cores)
    // phase-synchronous parallel map: tasks joined in ORDER before the
    // next phase starts — no nested submission, so a fixed pool cannot
    // deadlock, and results are position-stable regardless of schedule
    def parMap[A, B](items: IndexedSeq[A])(f: A => B): IndexedSeq[B] = {
      import scala.jdk.CollectionConverters._
      val futures = pool.invokeAll(
        items.map(a => new java.util.concurrent.Callable[B] {
          override def call(): B = f(a)
        }).asJava)
      futures.asScala.map(_.get()).toIndexedSeq
    }
    try {
      // (rows, k, offset): this node owns out[offset, offset + k)
      var frontier: IndexedSeq[(Array[Array[Double]], Int, Int)] =
        IndexedSeq((sample, nCentroids, 0))
      while (frontier.nonEmpty) {
        val (leaves, internal) =
          frontier.partition { case (rows, k, _) =>
            k <= treeBranch || rows.length <= k
          }
        parMap(leaves) { case (rows, k, off) =>
          val cs = trainCentroidsFromSample(rows, k, iters)
          System.arraycopy(cs, 0, out, off, cs.length)
        }
        // internal nodes: train a b-way coarse split on a hash-order
        // prefix subsample (the sample is md5-ordered, so any prefix —
        // of the node's rows, which inherit that order through stable
        // partitioning — is a uniform subsample of the node)
        val coarse = parMap(internal) { case (rows, _, _) =>
          trainCentroidsFromSample(
            rows.take(math.min(rows.length, 8 * treeBranch)),
            treeBranch, iters)
        }
        // row → coarse cell, chunk-parallel across ALL (node, chunk)
        // pairs so the single-node root level still uses every core
        val assigns = internal.map { case (rows, _, _) =>
          new Array[Int](rows.length)
        }
        val chunk = 8192
        parMap(for {
          ni <- internal.indices
          start <- 0 until internal(ni)._1.length by chunk
        } yield (ni, start)) { case (ni, start) =>
          val rows = internal(ni)._1
          val cs = coarse(ni)
          val idx = assigns(ni)
          var i = start
          val end = math.min(rows.length, start + chunk)
          while (i < end) { idx(i) = nearest(cs, rows(i)); i += 1 }
        }
        frontier = parMap(internal.indices) { ni =>
          val (rows, k, off) = internal(ni)
          val nCells = coarse(ni).length
          val counts = new Array[Int](nCells)
          assigns(ni).foreach(c => counts(c) += 1)
          val ks = apportion(k, counts)
          // stable partition: each cell's rows keep their relative
          // (hash) order, so deeper prefix subsamples stay uniform
          val cells = Array.tabulate(nCells)(c =>
            new scala.collection.mutable.ArrayBuffer[Array[Double]](counts(c)))
          rows.indices.foreach(i => cells(assigns(ni)(i)) += rows(i))
          val offs = ks.scanLeft(off)(_ + _)
          (0 until nCells).collect {
            case c if ks(c) > 0 => (cells(c).toArray, ks(c), offs(c))
          }
        }.flatten
      }
    } finally pool.shutdown()
    out
  }

  /** Largest-remainder apportionment of `k` centroids across cells
    * proportional to their row counts, each share capped by the cell's
    * own rows (a cell can never owe more centroids than it has rows to
    * train them on). Deterministic: remainders tie-break on cell
    * index. Requires Σcounts ≥ k; returns shares summing exactly to k.
    */
  private[graft] def apportion(k: Int, counts: Array[Int]): Array[Int] = {
    val total = counts.map(_.toLong).sum
    require(total >= k, s"cannot apportion $k centroids over $total rows")
    val ks = new Array[Int](counts.length)
    val frac = new Array[Double](counts.length)
    var placed = 0
    var c = 0
    while (c < counts.length) {
      val quota = k.toDouble * counts(c) / total
      ks(c) = math.min(counts(c), quota.toInt)
      frac(c) = quota - quota.toInt
      placed += ks(c)
      c += 1
    }
    // distribute the remainder by (fraction desc, index asc) among
    // cells with spare capacity; loop — caps can force extra rounds,
    // and Σcounts ≥ k guarantees termination
    while (placed < k) {
      val order = counts.indices
        .filter(c => ks(c) < counts(c))
        .sortBy(c => (-frac(c), c))
      var i = 0
      while (i < order.length && placed < k) {
        ks(order(i)) += 1
        placed += 1
        i += 1
      }
    }
    ks
  }

  /** IVF top-k: assign every vector to its nearest centroid (single JVM
    * pass, [[Codebook.flat]]), then for each query probe the `nprobe` nearest
    * buckets only. The per-bucket search is a hash join on bucket id
    * instead of a cross join.
    */
  def ivfTopK(
      spark: SparkSession, emb: DataFrame, queries: DataFrame, k: Int,
      nCentroids: Int = 16, nprobe: Int = 4,
      idCol: String = "vec_id", vecCol: String = "embedding"): DataFrame = {
    val codebook =
      Codebook.flat(trainCentroids(emb, nCentroids, iters = 3, idCol, vecCol))
    val bucketed = vectorsWithNorm(emb, idCol, vecCol,
      codebook.assignUdf(col(vecCol)).as("bucket"))
    val probes = queriesWithNorm(queries, idCol, vecCol,
      explode(codebook.probeUdf(nprobe)(col(vecCol))).as("bucket"))
    cosineTopK(bucketed.join(broadcast(probes), Seq("bucket"))
      .filter(col("query_id") =!= col("neighbor_id")), k)
  }

  /** Unit-normalize (sequential Σv² in index order, then sqrt — the
    * oracle computes the same sum); the zero vector stays zero and `v`
    * is not mutated. PQ here targets COSINE ranking: over unit vectors
    * ‖q−n‖² = 2 − 2·cos(q,n), so Euclidean ADC over normalized codes
    * orders candidates by cosine — without this, ADC ranks by raw
    * Euclidean distance, which disagrees with cosine whenever
    * magnitudes vary (measured: shortlist recall drops from ~0.9 to
    * ~0.2 on the fixture).
    */
  private def unitNormalized(v: Array[Double]): Array[Double] = {
    val arr = new Array[Double](v.length)
    var s = 0.0
    var i = 0
    while (i < arr.length) { val d = v(i); arr(i) = d; s += d * d; i += 1 }
    val nrm = math.sqrt(s)
    if (nrm > 0) { i = 0; while (i < arr.length) { arr(i) /= nrm; i += 1 } }
    arr
  }

  /** Product-quantization codebooks: the vector's `m` disjoint dim-slices
    * each get an independent k-means sub-codebook trained over the SAME
    * deterministic-hash sample as [[trainCentroids]] (smallest md5(id)
    * rows — uniform, rerun-stable, oracle-reproducible). Each subspace
    * trains with [[trainCentroidsFromSample]] over its unit-normalized
    * slices: seed = first `kSub` slices, sequential diff² accumulation,
    * first-min tiebreak, empty clusters keep their centroid. Returns
    * codebooks(sub)(centroid)(dimInSub).
    *
    * Why PQ at 100 TB: a 64-float embedding is 256 B; its PQ code is `m`
    * sub-centroid ids of log2(kSub) bits each — 8 B packed at the
    * 16×16 defaults, a 32× smaller table to scan.
    * ADC search reads ONLY the code table; full vectors are touched for
    * the shortlist re-rank alone. The compressed scan is what makes
    * corpus-wide candidate generation IO-feasible where the raw vectors
    * would be 100 TB (PQ per Jégou et al., "Product Quantization for
    * Nearest Neighbor Search", TPAMI 2011 — public method).
    */
  def trainPqCodebooks(
      emb: DataFrame, m: Int, kSub: Int, iters: Int,
      idCol: String = "vec_id", vecCol: String = "embedding",
      sampleLimit: Int = 10000,
      knownRowCount: Long = 0L): Array[Array[Array[Double]]] =
    trainPqCodebooksFromSample(
      sampleVectors(emb, idCol, vecCol, sampleLimit, knownRowCount),
      m, kSub, iters)

  private[operators] def trainPqCodebooksFromSample(
      rawSample: Array[Array[Double]], m: Int, kSub: Int,
      iters: Int): Array[Array[Array[Double]]] = {
    val sample = rawSample.map(unitNormalized)
    require(sample.nonEmpty, "PQ training sample is empty")
    val dim = sample(0).length
    require(dim % m == 0, s"dim $dim not divisible into $m subspaces")
    val dsub = dim / m
    Array.tabulate(m) { j =>
      val lo = j * dsub
      trainCentroidsFromSample(
        sample.map(v => java.util.Arrays.copyOfRange(v, lo, lo + dsub)),
        kSub, iters)
    }
  }

  /** Encode a vector as its `m` sub-centroid ids — one tight JVM pass,
    * the [[nearest]] argmin per subspace. The code column
    * IS the compressed index.
    */
  def pqEncodeUdf(codebooks: Array[Array[Array[Double]]]): org.apache.spark.sql.expressions.UserDefinedFunction = {
    val m = codebooks.length
    udf((v: Seq[Float]) => {
      val dsub = codebooks(0)(0).length
      // mirror trainPqCodebooksFromSample's divisibility require: a
      // mismatched vector would otherwise surface as an opaque
      // ArrayIndexOutOfBounds inside the executor (or silently ignore
      // trailing dims when the vector is longer than the codebooks)
      require(v.length == m * dsub,
        s"PQ encode: vector dim ${v.length} != m*dsub = ${m * dsub}")
      val nv = unitNormalized(toDoubles(v))
      Array.tabulate(m)(j => nearest(codebooks(j), nv, j * dsub)).toSeq
    })
  }

  /** Per-query ADC lookup table: lut(sub)(centroid) = squared distance
    * from the query's dim-slice to that sub-centroid. Computed ON THE
    * EXECUTORS as a column of the (broadcast-small) query frame — no
    * driver-side gather of query vectors.
    */
  def pqLutUdf(codebooks: Array[Array[Array[Double]]]): org.apache.spark.sql.expressions.UserDefinedFunction =
    udf((v: Seq[Float]) => {
      val m = codebooks.length
      val dsub = codebooks(0)(0).length
      require(v.length == m * dsub,
        s"PQ LUT: query dim ${v.length} != m*dsub = ${m * dsub}")
      val nv = unitNormalized(toDoubles(v))
      Seq.tabulate(m) { j =>
        val cb = codebooks(j)
        Seq.tabulate(cb.length)(c => sqDist(cb(c), nv, j * dsub))
      }
    })

  /** ADC shortlist cut shared by every PQ search form: candidate
    * (query_id, neighbor_id, codes, lut) pairs → the `shortlist`·k best
    * per query by rounded ADC with an id tiebreak. How the candidates
    * were generated (full code-table cross vs bucket-pruned join) is the
    * caller's choice; the cut contract — round to 1e-6 BEFORE ranking so
    * the boundary is FP-associativity-proof, first-id tiebreak — lives
    * here once, mirrored by every oracle's `short` CTE.
    */
  private def adcShortlist(pairs: DataFrame, shortlist: Int, k: Int): DataFrame = {
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("adc").asc, col("neighbor_id"))
    pairs
      .filter(col("query_id") =!= col("neighbor_id"))
      .withColumn("adc", round(
        graft.functions.VectorExpressions.adcNative(col("codes"), col("lut")), 6))
      .withColumn("rk", row_number().over(w))
      .filter(col("rk") <= shortlist * k)
      .select(col("query_id"), col("neighbor_id"))
  }

  /** Exact rounded-cosine re-rank of a (query_id, neighbor_id) shortlist
    * against a [[vectorsWithNorm]] vector frame — the shared closing
    * stage of every PQ search form (id-equi joins only; the query side
    * broadcasts).
    */
  private def rerankExact(
      short: DataFrame, vectors: DataFrame, queries: DataFrame, k: Int,
      idCol: String, vecCol: String): DataFrame =
    cosineTopK(short.join(vectors, Seq("neighbor_id"))
      .join(broadcast(queriesWithNorm(queries, idCol, vecCol)),
        Seq("query_id")), k)

  /** Asymmetric-distance top-k with exact re-rank: encode the corpus once
    * (the compressed code table), broadcast the queries WITH their LUTs,
    * shortlist the `shortlist`·k best codes per query by ADC (sum of `m`
    * table lookups per pair — no per-pair float dot product), then
    * re-rank the shortlist alone by exact rounded cosine against the full
    * vectors. ADC is rounded to 1e-6 with an id tiebreak before the
    * shortlist cut so the cut is FP-associativity-proof — the oracle
    * computes the same sums in SQL grouping order.
    *
    * Scale shape: the expensive corpus-wide pass touches only
    * (id, m-byte code); the full-vector table is hash-joined for
    * shortlist·k·|queries| rows only. Composes with IVF (probe buckets,
    * then ADC within them) when even the code table warrants pruning.
    */
  def pqTopK(
      spark: SparkSession, emb: DataFrame, queries: DataFrame, k: Int,
      m: Int = 16, kSub: Int = 16, iters: Int = 2, shortlist: Int = 10,
      idCol: String = "vec_id", vecCol: String = "embedding"): DataFrame = {
    val codebooks = trainPqCodebooks(emb, m, kSub, iters, idCol, vecCol)
    val encode = pqEncodeUdf(codebooks)
    val lut = pqLutUdf(codebooks)
    val codes = emb.select(col(idCol).as("neighbor_id"), encode(col(vecCol)).as("codes"))
      .transform(Parallelism.ensureWidth)
    val q = queries.select(col(idCol).as("query_id"), lut(col(vecCol)).as("lut"))
    val short = adcShortlist(codes.crossJoin(broadcast(q)), shortlist, k)
    rerankExact(short, vectorsWithNorm(emb, idCol, vecCol), queries, k, idCol, vecCol)
  }

  /** IVF-PQ: the production ANN shape at corpus scale — coarse cells
    * prune the candidate set (each query touches `nprobe` of
    * `nCentroids` buckets), and WITHIN the probed buckets ranking runs
    * on the compressed codes (ADC), with the full vectors touched only
    * for the exact re-rank of the shortlist. Both stages reuse the
    * standalone kernels unchanged: the coarse quantizer is [[ivfTopK]]'s
    * (raw-vector cells), the code stage is [[pqTopK]]'s (unit-sphere
    * codebooks), so the oracle is their two CTE chains composed.
    *
    * Plan shape: one hash join (bucket) between the code table and the
    * broadcast probes — no cross join anywhere — then the windowed
    * ADC cut and the id-equi re-rank joins. At 100 TB: the bucket join
    * reads nprobe/nCentroids of the CODE table (compressed AND pruned);
    * nothing scans the raw vectors but the final shortlist join.
    */
  def ivfPqTopK(
      spark: SparkSession, emb: DataFrame, queries: DataFrame, k: Int,
      nCentroids: Int = 16, nprobe: Int = 4,
      m: Int = 16, kSub: Int = 16, iters: Int = 2, shortlist: Int = 10,
      idCol: String = "vec_id", vecCol: String = "embedding"): DataFrame = {
    // ONE sample scan feeds both trainers (see sampleVectors)
    val sample = sampleVectors(emb, idCol, vecCol, 10000)
    val centroids = trainCentroidsFromSample(sample, nCentroids, iters = 3)
    val codebooks = trainPqCodebooksFromSample(sample, m, kSub, iters)
    val codebook = Codebook.flat(centroids)
    val assign = codebook.assignUdf
    val probe = codebook.probeUdf(nprobe)
    val encode = pqEncodeUdf(codebooks)
    val lut = pqLutUdf(codebooks)
    val codes = emb.select(col(idCol).as("neighbor_id"),
      assign(col(vecCol)).as("bucket"), encode(col(vecCol)).as("codes"))
      .transform(Parallelism.ensureWidth)
    val probes = queries.select(col(idCol).as("query_id"),
      explode(probe(col(vecCol))).as("bucket"), lut(col(vecCol)).as("lut"))
    // a vector lives in exactly one cell, so the bucket join emits each
    // (query, neighbor) pair at most once — no dedup stage needed
    val short = adcShortlist(codes.join(broadcast(probes), Seq("bucket")), shortlist, k)
    rerankExact(short, vectorsWithNorm(emb, idCol, vecCol), queries, k, idCol, vecCol)
  }

  /** Lloyd iterations of a standing index's coarse codebook. */
  private val coarseIters = 3

  /** Lloyd iterations of a standing index's PQ sub-codebooks. */
  private val pqIters = 2

  /** The models of a standing index: a coarse codebook (IVF cells), PQ
    * sub-codebooks, or both (IVF-PQ). Which ones an index has is which
    * of `<name>_centroids` and `<name>_codebooks` exist; the rest of the
    * lifecycle follows from that.
    */
  private final case class IndexModels(
      coarse: Option[Codebook], books: Option[Array[Array[Array[Double]]]]) {

    /** The set holding each vector's model output: its PQ codes under
      * sub-codebooks, else its assigned vector.
      */
    def outputSet(name: String): String =
      if (books.isDefined) s"${name}_codes" else s"${name}_vectors"

    /** `emb` as [[outputSet]] rows: (neighbor_id, codes) under PQ
      * sub-codebooks, else the [[vectorsWithNorm]] row; then the coarse
      * `bucket`. A row depends only on (vector, models), so build(A) +
      * append(B) is byte-identical to one pass over A∪B under A's models.
      */
    def output(emb: DataFrame, idCol: String, vecCol: String): DataFrame = {
      val bucket = coarse.map(_.assignUdf(col(vecCol)).as("bucket")).toSeq
      books.fold(vectorsWithNorm(emb, idCol, vecCol, bucket: _*)) { cb =>
        emb.select(Seq(col(idCol).as("neighbor_id"),
          pqEncodeUdf(cb)(col(vecCol)).as("codes")) ++ bucket: _*)
      }
    }
  }

  /** Train a standing index's models over ONE md5-ordered sample
    * ([[sampleVectors]]): the coarse codebook when `nCentroids > 0`, PQ
    * sub-codebooks when `m > 0`. The sample holds max(10000, 2k) rows —
    * coarse seeds are sample rows, so it widens once k outgrows the
    * default (a 200k-cell semantic codebook would otherwise cap at the
    * 10000-row sample) — and past the routing threshold the coarse Lloyd
    * steps route ([[trainCentroidsRouted]]: O(sample·√k·d) per
    * iteration, not O(sample·k·d)). The coarse codebook assigns with the
    * session's kernel, which [[codebookFrame]]'s markers witness. At
    * ANN-scale k (≤ the threshold, sample ≤ the default) this IS
    * [[trainCentroids]] and [[trainPqCodebooks]] bit for bit — the
    * regime every index oracle pins. `knownRowCount` seeds the wide
    * sample's prefilter when the caller already paid for a count.
    */
  private def trainIndexModels(
      spark: SparkSession, emb: DataFrame, idCol: String, vecCol: String,
      knownRowCount: Long, nCentroids: Int, m: Int, kSub: Int): IndexModels = {
    val sample = sampleVectors(emb, idCol, vecCol,
      math.max(10000, 2 * nCentroids), knownRowCount)
    IndexModels(
      Option.when(nCentroids > 0) {
        val centroids = trainCentroidsRouted(sample, nCentroids, coarseIters,
          sessionRouteThreshold(spark))
        Codebook.of(sessionKernel(spark, centroids.length), centroids)
      },
      Option.when(m > 0)(trainPqCodebooksFromSample(sample, m, kSub, pqIters)))
  }

  /** The standing models of index `name`, each through the catalog memo
    * ([[loadIndexCodebook]], [[loadPqCodebooks]]) when its set exists.
    */
  private def loadIndexModels(
      spark: SparkSession, catalog: graft.storage.SetCatalog,
      db: String, name: String): IndexModels = {
    val models = IndexModels(
      Option.when(catalog.meta(db, s"${name}_centroids").isDefined)(
        loadIndexCodebook(spark, catalog, db, name)),
      Option.when(catalog.meta(db, s"${name}_codebooks").isDefined)(
        loadPqCodebooks(catalog, db, name)))
    require(models.coarse.isDefined || models.books.isDefined,
      s"no standing index $db.$name")
    models
  }

  /** Write one generation of an index: `out` as the output set — in the
    * cell layout ([[cellLayout]]) under a coarse codebook, else
    * hash-placed on id over `buckets` partitions — then the models, the
    * PQ sub-codebooks as one (sub, centroid, components) row each. Every
    * set is written under the name `set` gives it (its staging name in
    * a rebuild).
    */
  private def writeGeneration(
      spark: SparkSession, catalog: graft.storage.SetCatalog,
      db: String, name: String, models: IndexModels, out: DataFrame,
      buckets: => Int, set: String => String): Unit = {
    import spark.implicits._
    val output = set(models.outputSet(name))
    models.coarse match {
      case Some(cb) =>
        val (partCol, laidOut) = cellLayout(spark, out, cb.centroids.length)
        catalog.createPartitionedSet(db, output, laidOut, partCol)
      case None =>
        catalog.createSet(db, output, out,
          partitionColumn = Some("neighbor_id"), numPartitions = buckets)
    }
    models.coarse.foreach(cb => catalog.createSet(db, set(s"${name}_centroids"),
      codebookFrame(spark, cb.centroids), policy = "none"))
    models.books.foreach(cb => catalog.createSet(db, set(s"${name}_codebooks"),
      cb.zipWithIndex.flatMap { case (sub, j) =>
        sub.zipWithIndex.map { case (v, c) => (j, c.toLong, v.toSeq) }
      }.toSeq.toDF("sub", "centroid", "components"),
      policy = "none"))
  }

  /** Persist a standing ANN index into the set catalog — build once,
    * search many times; the corpus is scanned here, and every later
    * search reads only what its models select. The index trains a coarse
    * codebook of `nCentroids` cells (IVF), `m` PQ sub-codebooks of
    * `kSub` centroids (PQ), or both (IVF-PQ), each a tiny set
    * (`<name>_centroids`, `<name>_codebooks`). Each vector's model
    * output lands in one set:
    *  - IVF: the assigned vectors (id, vector, norm, bucket) as
    *    `<name>_vectors`;
    *  - PQ and IVF-PQ: the codes as `<name>_codes` (the compressed scan
    *    table — at 100 TB of vectors the ~1.5 TB ADC actually reads,
    *    per Jégou et al., TPAMI 2011), next to the full vectors as
    *    `<name>_vectors`, hash-placed on id and touched only by the
    *    shortlist re-rank.
    * Under a coarse codebook the output set is PARTITIONED BY cell
    * ([[cellLayout]]) — a probe lists only its cells' directories, the
    * placement thesis applied to ANN: the layout, not the operator, makes
    * the query cheap. Otherwise it is hash-placed on id, and every
    * hash-placed set takes one bucket count — [[Dedup.indexBuckets]]
    * (the advisor's sizing when one is given) over the corpus rowcount.
    * Pass `knownRowCount` when the caller already paid for a count; it
    * also seeds the trainer's wide-sample prefilter.
    */
  def buildIndex(
      spark: SparkSession, catalog: graft.storage.SetCatalog,
      db: String, name: String, emb: DataFrame,
      nCentroids: Int = 0, m: Int = 0, kSub: Int = 16,
      idCol: String = "vec_id", vecCol: String = "embedding",
      advisor: Option[graft.advisor.PlacementAdvisor] = None,
      targetRowsPerBucket: Long = 1L << 22,
      knownRowCount: Long = 0L): Unit = {
    require(nCentroids > 0 || m > 0,
      "an index trains a coarse codebook (nCentroids), PQ sub-codebooks (m) or both")
    val models = trainIndexModels(spark, emb, idCol, vecCol, knownRowCount,
      nCentroids, m, kSub)
    val out = models.outputSet(name)
    val vectors = s"${name}_vectors"
    // sized under the first hash-placed set's name; a cell-laid-out code
    // set is written first, and its sidecar carries the corpus rowcount
    // (one code row per vector) — no extra count of the corpus
    lazy val buckets = Dedup.indexBuckets(0, advisor,
      s"$db.${if (models.coarse.isDefined) vectors else out}",
      if (knownRowCount > 0) knownRowCount
      else if (models.coarse.isDefined) catalog.meta(db, out).get.rows
      else emb.count(),
      targetRowsPerBucket)
    writeGeneration(spark, catalog, db, name, models,
      models.output(emb, idCol, vecCol), buckets, identity)
    if (out != vectors)
      catalog.createSet(db, vectors, vectorsWithNorm(emb, idCol, vecCol),
        partitionColumn = Some("neighbor_id"), numPartitions = buckets)
    persistBuiltRows(catalog, db, name)
  }

  /** An append side in the cell layout of a set partitioned by `partCol`
    * (`bucket`, or `cell_group_N` above [[maxCellDirs]] — the sidecar
    * names it): the group column on a grouped layout, and the partition
    * column cast to int, the type directory inference reads it back as,
    * so the set's schema memo carries over the append.
    */
  private def inCellLayout(partCol: String, df: DataFrame): DataFrame = {
    val groups = partCol.stripPrefix("cell_group_")
    val laidOut =
      if (groups == partCol) df
      else df.withColumn(partCol, pmod(col("bucket"), lit(groups.toLong)))
    laidOut.withColumn(partCol, col(partCol).cast("int"))
  }

  /** Incrementally extend a persisted index: the NEW vectors take their
    * model output under the STANDING models ([[IndexModels.output]]) and
    * are appended — into their cell directories under a coarse codebook,
    * with the full vectors beside PQ codes. No retrain, no rewrite of
    * standing data, one scan of the batch: how a standing index keeps up
    * with a continuously-embedding ingest pipeline. Arrivals assign with
    * the kernel the persisted codebook witnesses, never the session
    * conf. Stale models serve drifted vectors badly (at sf0.1,
    * append-only IVF-PQ recall sank to 0.34 at 16 rotated replicas), so
    * a standing pipeline calls [[rebuildIndex]] once
    * [[appendedDriftFraction]] grows large.
    */
  def appendToIndex(
      spark: SparkSession, catalog: graft.storage.SetCatalog,
      db: String, name: String, newEmb: DataFrame,
      idCol: String = "vec_id", vecCol: String = "embedding"): Unit = {
    val models = loadIndexModels(spark, catalog, db, name)
    val out = models.outputSet(name)
    val rows = models.output(newEmb, idCol, vecCol)
    if (models.coarse.isEmpty) catalog.appendToSet(db, out, rows)
    else {
      val partCol =
        catalog.meta(db, out).flatMap(_.partitionColumn).getOrElse("bucket")
      catalog.appendToPartitionedSet(db, out, inCellLayout(partCol, rows),
        partCol)
    }
    if (models.books.isDefined)
      catalog.appendToSet(db, s"${name}_vectors",
        vectorsWithNorm(newEmb, idCol, vecCol))
  }

  /** Stamp the rows the standing models were trained over as the
    * one-row `<name>_built` set at build/rebuild time — the denominator
    * of [[appendedDriftFraction]].
    */
  private def persistBuiltRows(
      catalog: graft.storage.SetCatalog, db: String, name: String): Unit =
    catalog.stampRows(db, s"${name}_vectors", s"${name}_built")

  /** Fraction of the index appended since its models were last
    * (re)trained. 0.0 for indexes built before the `<name>_built`
    * marker existed (they opt in at their first rebuild).
    */
  def appendedDriftFraction(
      catalog: graft.storage.SetCatalog, db: String, name: String): Double =
    catalog.growthSinceStamp(db, s"${name}_vectors", s"${name}_built")

  /** Retrain a persisted index's models from its OWN standing vectors set
    * and rewrite its output set under them — the answer once drift
    * bites. The models an index has, PQ's (m, kSub) and the output set's
    * hash layout are read off the standing sets, so the call needs
    * nothing but the index name. Because [[sampleVectors]] orders by
    * md5(id), not physical row order, the retrain sample equals a
    * from-scratch build's over the same corpus, so a rebuild of an
    * unchanged corpus reproduces its models exactly.
    *
    * Exactly the models and the output set are rewritten — for IVF that
    * is the whole vector set, since the cells ARE the corpus layout; the
    * vectors beside PQ codes are untouched. They are staged while
    * searches still read the consistent old generation and swap in as
    * ONE [[graft.storage.SetCatalog.replaceSets]] group, so a crash
    * between them never leaves new output under old models. A swap an
    * interrupted rebuild committed is finished first, so the sets present
    * say which models the index has.
    *
    * `nCentroids = 0` (the default) keeps the standing codebook's size,
    * read off its sidecar; a positive value RE-SIZES the coarse codebook
    * — the semantic index's need, where k tracks corpus growth
    * ([[graft.operators.Dedup.rebuildSemanticIndex]]).
    */
  def rebuildIndex(
      spark: SparkSession, catalog: graft.storage.SetCatalog,
      db: String, name: String, nCentroids: Int = 0): Unit = {
    catalog.recoverAll(db, conventionSweep = false)
    val vectors = s"${name}_vectors"
    val cents = catalog.meta(db, s"${name}_centroids")
    val books = catalog.meta(db, s"${name}_codebooks")
    val out = if (books.isDefined) s"${name}_codes" else vectors
    val modelSets = cents.map(_ => s"${name}_centroids").toSeq ++
      books.map(_ => s"${name}_codebooks")
    require(modelSets.nonEmpty, s"rebuildIndex: no standing index $db.$name")
    catalog.replaceSets(db, out +: modelSets) { staged =>
      val old = books.map(_ => loadPqCodebooks(catalog, db, name))
      val vecs = catalog.scanSet(db, vectors)
        .select(col("neighbor_id"), col("n_vec"))
      val models = trainIndexModels(spark, vecs, "neighbor_id", "n_vec",
        catalog.meta(db, vectors).map(_.rows).getOrElse(0L),
        cents.fold(0)(c => if (nCentroids > 0) nCentroids else c.rows.toInt),
        old.fold(0)(_.length), old.fold(0)(_(0).length))
      writeGeneration(spark, catalog, db, name, models,
        models.output(vecs, "neighbor_id", "n_vec"),
        catalog.meta(db, out).get.numPartitions, staged)
    }
    persistBuiltRows(catalog, db, name)
  }

  /** Search a persisted index: load its models (tiny, through the catalog
    * memo), pick candidates, then rank them.
    *  - Candidates: under a coarse codebook, each query's `nprobe`
    *    nearest cells, joined against the cell-partitioned output set
    *    with STATIC pruning ([[localProbe]]: deterministic listing-level
    *    pruning for any query-frame shape — DPP declines on local or
    *    RDD-backed query frames); otherwise a broadcast cross join with
    *    the whole code table.
    *  - Ranking: under PQ sub-codebooks, the ADC shortlist of
    *    `shortlist`·k codes per query ([[adcShortlist]]) re-ranked by
    *    exact cosine against the vector set ([[rerankExact]]); otherwise
    *    exact cosine over the candidates.
    * Results equal [[ivfTopK]], [[pqTopK]] and [[ivfPqTopK]] over the
    * same corpus: training, assignment, encoding, probing and scoring
    * share the same deterministic kernels.
    */
  def searchIndex(
      spark: SparkSession, catalog: graft.storage.SetCatalog,
      db: String, name: String, queries: DataFrame, k: Int,
      nprobe: Int = 4, shortlist: Int = 10,
      idCol: String = "vec_id", vecCol: String = "embedding"): DataFrame = {
    val models = loadIndexModels(spark, catalog, db, name)
    val out = catalog.scanSet(db, models.outputSet(name))
    val probe = models.coarse
      .map(cb => explode(cb.probeUdf(nprobe)(col(vecCol))).as("bucket")).toSeq
    val lut = models.books.map(cb => pqLutUdf(cb)(col(vecCol)).as("lut")).toSeq
    val side =
      if (models.books.isDefined)
        queries.select(col(idCol).as("query_id") +: (probe ++ lut): _*)
      else queriesWithNorm(queries, idCol, vecCol, probe: _*)
    val pairs =
      if (models.coarse.isEmpty) out.crossJoin(broadcast(side))
      else {
        // a directory-partition column reads back as inference types it
        // (int), not as written (long): the probe side takes its type
        val (pruned, probes) = localProbe(out, withCellGroup(out,
          side.withColumn("bucket", col("bucket").cast(out.schema("bucket").dataType))))
        pruned.join(probes, cellJoinKeys(out))
      }
    if (models.books.isEmpty)
      cosineTopK(pairs.filter(col("query_id") =!= col("neighbor_id")), k)
    else rerankExact(adcShortlist(pairs, shortlist, k),
      catalog.scanSet(db, s"${name}_vectors"), queries, k, idCol, vecCol)
  }

  /** The PQ sub-codebooks of an index, (sub, centroid) ordered, through
    * the catalog memo: one collect per codebooks generation, shared by
    * every append, search and stream batch (as [[loadIndexCodebook]] is
    * for the coarse codebook). Collected unordered and sorted on the
    * driver — an orderBy costs a sampling job plus a shuffle.
    */
  private def loadPqCodebooks(
      catalog: graft.storage.SetCatalog, db: String,
      name: String): Array[Array[Array[Double]]] = {
    val set = s"${name}_codebooks"
    catalog.memoized(db, set, "pq.codebooks") {
      catalog.scanSet(db, set)
        .select(col("sub"), col("centroid"), col("components")).collect()
        .map(r => (r.getInt(0), r.getLong(1), r.getSeq[Double](2).toArray))
        .sortBy(r => (r._1, r._2))
        .groupBy(_._1).toSeq.sortBy(_._1)
        .map(_._2.map(_._3)).toArray
    }
  }
}
