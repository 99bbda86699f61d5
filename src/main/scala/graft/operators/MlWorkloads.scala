package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Iterative ML workloads built on the relational algebra, mirroring how
  * the reference runs them: the client loops, each iteration is a plain
  * query over the same sets (reference: src/tests/source/PageRank.cc,
  * TestKMeans.cc; SURVEY.md §2.6 "driver-side iterative loops").
  *
  * Scale design: each PageRank iteration is one shuffle join (edges ⋈
  * ranks on src) + one aggregation by dst. The rank frame is re-used
  * across iterations; `checkpointEvery` truncates the lineage so the plan
  * does not grow linearly with iterations (the reference re-submits jobs
  * per iteration, which implicitly does the same).
  */
object MlWorkloads {

  /** PageRank over an edge list (src, dst). Dangling mass is redistributed
    * uniformly so ranks sum to n every iteration (the standard formulation).
    *
    * Lineage control: `localCheckpoint(eager = true)` every
    * `checkpointEvery` iterations — one job per checkpoint, the same
    * job-per-iteration shape as the reference's client loop
    * (PageRank.cc re-submits per iteration). Measured fastest at fixture
    * scale: lazy checkpoints (per 1 and per 2 iterations), eager per 2
    * and no truncation were 12-47% slower, because deferring
    * materialization makes the shared persisted invariants below
    * materialize redundantly inside one action. localCheckpoint blocks
    * are executor-local, so on a cluster with executor churn a lost
    * executor fails the next action that reads them.
    */
  def pageRank(
      spark: SparkSession, edges: DataFrame, iterations: Int = 10,
      damping: Double = 0.85, checkpointEvery: Int = 1): DataFrame = {
    // loop invariants, persisted: every iteration references them, and an
    // unpersisted frame would re-execute its whole upstream plan per
    // iteration per reference. The edge lineage is truncated outright
    // (localCheckpoint): a live
    // upstream plan (scan ⋈ scan → distinct) kept re-entering the
    // per-iteration jobs through plan fragments the cache substitution
    // does not cover — profiled at sf0.1 as ~2.5× the loop's whole CPU.
    val e = edges.select(col("src"), col("dst")).localCheckpoint(eager = true)
    val outDeg = e.groupBy(col("src")).agg(count(lit(1)).as("out_deg")).persist()
    val nodes = e.select(col("src").as("node"))
      .union(e.select(col("dst").as("node"))).distinct().persist()
    // node count as a 1-row frame, NOT a driver-side count(): n stays in
    // the per-iteration plans as a broadcast scalar
    val nn = nodes.agg(count(lit(1)).cast("double").as("n"))

    // loop invariants hoisted and persisted: the edge⋈degree join and the
    // sink-node set do not change across iterations — re-deriving them
    // per iteration would add two joins to every pass
    val ew = e.join(outDeg, Seq("src"))
      .select(col("src"), col("dst"), col("out_deg")).persist()
    val sinks = nodes.join(outDeg.withColumnRenamed("src", "node"),
      Seq("node"), "left_anti").persist() // nodes with no outgoing edges
    // the invariant caches are materialized with one action before the
    // loop: iteration 1 otherwise computes them inside a multi-job step
    // (the scalars broadcast build and the checkpoint job race into the
    // same cold cache and each re-derive the uncached subtrees) —
    // profiled at sf0.1 as ~3x the whole loop's CPU
    sinks.count(); ew.count()
    var ranks = nodes.withColumn("rank", lit(1.0))
    for (i <- 1 to iterations) {
      val contribs = ew
        .join(ranks.withColumnRenamed("node", "src"), Seq("src"))
        .select(col("dst").as("node"), (col("rank") / col("out_deg")).as("c"))
        .groupBy(col("node")).agg(sum(col("c")).as("in_sum"))
      // dangling mass and n stay IN the plan (1-row broadcast) — a
      // per-iteration driver action would serialize the loop into
      // iterations×jobs
      val scalars = ranks.join(sinks, Seq("node"), "left_semi")
        .agg(coalesce(sum(col("rank")), lit(0.0)).as("dangling_sum"))
        .crossJoin(nn)
      ranks = nodes
        .join(contribs, Seq("node"), "left_outer")
        .crossJoin(broadcast(scalars))
        .select(col("node"),
          (lit(1 - damping) + lit(damping) *
            (coalesce(col("in_sum"), lit(0.0)) +
              col("dangling_sum") / col("n"))).as("rank"))
      if (i % checkpointEvery == 0)
        ranks = ranks.localCheckpoint(eager = true)
    }
    // the final ranks are materialized (checkpoint the tail iterations if
    // the loop didn't land on a checkpoint boundary), so the loop
    // invariants can be released here — repeated calls in one session
    // (bench loops, notebooks) otherwise accumulate cached blocks until
    // eviction pressure distorts the latencies being measured
    if (iterations % checkpointEvery != 0)
      ranks = ranks.localCheckpoint(eager = true)
    Seq(e, outDeg, nodes, ew, sinks).foreach(_.unpersist(blocking = false))
    ranks
  }

  /** L2 (ridge-free) linear regression via the normal equations — the
    * reference's sample02_L2.pdml workload: beta = (X'X)⁻¹ X'y. The gram
    * and X'y are distributed passes; only the (d×d) solve runs on the
    * driver. The reference gathers the gram for a full inverse
    * (LASillyInverse*.h) then multiplies; here the gathered system is
    * solved directly by natural-order Gauss-Jordan
    * ([[graft.la.Kernels.solveAugmented]]) — one fewer pass, and the
    * fixed elimination order makes the betas reproducible by an unrolled
    * SQL oracle.
    */
  def l2Fit(x: graft.la.BlockMatrix, y: graft.la.BlockMatrix): graft.la.BlockMatrix = {
    val a = x.gram
    val b = x.tmultiply(y)
    val n = a.nRows.toInt
    val m = y.nCols.toInt
    val aL = a.toLocal()
    val bL = b.toLocal()
    val w = n + m
    val aug = new Array[Double](n * w)
    var i = 0
    while (i < n) {
      System.arraycopy(aL, i * n, aug, i * w, n)
      var j = 0
      while (j < m) { aug(i * w + n + j) = bL(i * m + j); j += 1 }
      i += 1
    }
    graft.la.Kernels.solveAugmented(n, w, aug)
    val out = Array.tabulate(n * m)(idx => aug((idx / m) * w + n + idx % m))
    graft.la.BlockMatrix.fromLocal(
      x.blocks.sparkSession, out, n, m, a.rowsPerBlock, y.colsPerBlock)
  }

  /** Feed-forward NN inference (reference: src/FF/headers/SimpleFF.h):
    * argmax(relu(X·W1)·W2) batch-scored as two distributed matrix
    * multiplies. Weights are small and dense — they ride along as blocked
    * matrices built from local arrays (at scale: broadcast).
    */
  def ffInference(
      x: graft.la.BlockMatrix,
      w1: graft.la.BlockMatrix,
      w2: graft.la.BlockMatrix): DataFrame = {
    val hidden = x.multiply(w1).mapElements(v => math.max(v, 0.0)) // relu
    val logits = hidden.multiply(w2)
    // argmax per row over the (small) class dimension
    val spark = logits.blocks.sparkSession
    import spark.implicits._
    logits.toCells
      .groupByKey(_._1)
      .mapGroups { (row, cells) =>
        val best = cells.maxBy { case (_, j, v) => (v, -j) }
        (row, best._2)
      }
      .toDF("row", "predicted_class")
  }
}
