package graft

import org.apache.spark.sql.{Dataset, SparkSession}
import org.apache.spark.sql.functions._

import graft.la.{BlockMatrix, Kernels, MatrixBlock}

/** Reference-scale LA benchmark — the ONLY baseline numbers comparable at
  * identical data scale (reference: documentation.md:5-11).
  *
  * Workload shapes reproduce the reference's experiments exactly:
  *  - gram:     X'X with X = 200000×1000 uniform(0,1), 1000×1000 blocks
  *              (GramTestDataGenerator.py 200000 1000 1000 1000;
  *              Task01_Gram_200000_1000_1000_1000.pdml). Ref: 41.27 s
  *              baseline / 22.78 s with self-learned placement.
  *  - l2:       beta = (X'X)⁻¹(X'y), same X family plus y = 200000×1
  *              (L2TestDataGenerator.py; sample02_L2.pdml). Ref: 83.45 s
  *              / 43.94 s.
  *  - multiply: A %*% B with A = 1000×5,000,000 (1×5000 block grid) and
  *              B = 5,000,000×1000 (5000×1), every block 1000×1000 with
  *              value blockRow+blockCol+i+j (TestLA04_Multiply.cc:29-56,
  *              :185-193) — 80 GB of input, 10 TFLOP. Ref: 42.21 s /
  *              11.41 s.
  *
  * Methodology mirrors the reference's load-then-query split: matrices
  * are generated and materialized into the storage layer first (cached
  * datasets = its buffer pool; the multiply inputs are additionally
  * hash-co-partitioned on the join key = its learned block placement),
  * then the query alone is timed, forced through a full scan of the
  * result blocks. Each workload reports every run's wall seconds; the
  * headline is the min (the reference table likewise lists per-run
  * numbers).
  *
  * Usage: runMain graft.LaScale [gram|l2|multiply|kernel|all] [runs]
  * with SPARK_DRIVER_MEM sized for the workload (multiply caches 80 GB —
  * use ~105g; gram/l2 fit anywhere).
  */
object LaScale {

  /** splitmix64 → uniform [0,1) — deterministic stand-in for the
    * generator scripts' random.random().
    */
  private def u01(x0: Long): Double = {
    var x = x0 + 0x9e3779b97f4a7c15L
    x = (x ^ (x >>> 30)) * 0xbf58476d1ce4e5b9L
    x = (x ^ (x >>> 27)) * 0x94d049bb133111ebL
    x = x ^ (x >>> 31)
    (x >>> 11).toDouble / (1L << 53).toDouble
  }

  /** Uniform(0,1) blocked matrix, generated distributed (one task per
    * ~block), cached by the caller.
    */
  private def genUniform(
      spark: SparkSession, nRows: Long, nCols: Long,
      rpb: Int, cpb: Int, seed: Long): BlockMatrix = {
    import spark.implicits._
    val nbc = ((nCols + cpb - 1) / cpb).toInt
    val nbr = ((nRows + rpb - 1) / rpb).toInt
    val cellsPerBlock = rpb.toLong * cpb
    val blocks = spark.range(nbr.toLong * nbc).repartition(32).map { id =>
      val br = (id / nbc).toInt
      val bc = (id % nbc).toInt
      val h = math.min(rpb.toLong, nRows - br.toLong * rpb).toInt
      val w = math.min(cpb.toLong, nCols - bc.toLong * cpb).toInt
      val data = new Array[Double](h * w)
      val base = seed + id * cellsPerBlock
      var t = 0
      while (t < data.length) { data(t) = u01(base + t); t += 1 }
      MatrixBlock(br, bc, h, w, data)
    }
    BlockMatrix(blocks, nRows, nCols, rpb, cpb)
  }

  /** The TestLA04 fill (value = blockRow+blockCol+i+j), generated as an
    * UNTYPED plan so `repartition(32, key)` survives into the cache and
    * the multiply join runs exchange-free on the co-partitioned sets
    * (the Spark rendition of the reference's learned block placement;
    * our SetCatalog bucketed sets give the same property on disk).
    */
  private def genFormulaCoPart(
      spark: SparkSession, brCount: Int, bcCount: Int,
      rpb: Int, cpb: Int, key: String, parts: Int = 32): Dataset[MatrixBlock] = {
    import spark.implicits._
    val fill = udf { (br: Int, bc: Int, h: Int, w: Int) =>
      val d = new Array[Double](h * w)
      var i = 0
      while (i < h) {
        var j = 0
        while (j < w) { d(i * w + j) = (br + bc + i + j).toDouble; j += 1 }
        i += 1
      }
      d
    }
    spark.range(brCount.toLong * bcCount)
      .select(
        (col("id") / bcCount).cast("int").as("blockRow"),
        (col("id") % bcCount).cast("int").as("blockCol"),
        lit(rpb).as("rows"), lit(cpb).as("cols"))
      .repartition(parts, col(key))
      .withColumn("data", fill(col("blockRow"), col("blockCol"), col("rows"), col("cols")))
      .as[MatrixBlock]
  }

  /** Force every result block's payload through an action. */
  private def force(m: BlockMatrix): Double = {
    implicit val enc = org.apache.spark.sql.Encoders.scalaDouble
    m.blocks.map(b => b.data(b.data.length - 1)).reduce(_ + _)
  }

  private def timed(body: => Unit): Double = {
    val t0 = System.nanoTime()
    body
    (System.nanoTime() - t0) / 1e9
  }

  /** Warm C2 on the matmul kernel before any timed section. */
  private def warmKernel(): Unit = {
    val n = 256
    val a = MatrixBlock(0, 0, n, n, Array.tabulate(n * n)(i => u01(i.toLong)))
    var r = 0
    var sink = 0.0
    while (r < 6) { sink += Kernels.matmul(a, a)(0); r += 1 }
    require(!sink.isNaN)
  }

  def main(args: Array[String]): Unit = {
    val mode = args.headOption.getOrElse("all")
    val runs = args.lift(1).map(_.toInt).getOrElse(2)

    if (mode == "kernel") { kernelBench(); return }

    val spark = SparkSession.builder()
      .master("local[32]")
      .appName("graft-la-scale")
      .config("spark.sql.shuffle.partitions", 32)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      // 8 MB dense rows: keep columnar cache batches bounded (~128 MB)
      .config("spark.sql.inMemoryColumnarStorage.batchSize", 16)
      // cache blocks that overflow to disk compress extremely well for
      // blocked matrices (row r+1 of a block is nearly row r shifted one
      // element) — without this the 80 GB multiply working set is
      // disk-read-bound, with it the spill is a few GB
      .config("spark.rdd.compress", "true")
      .config("spark.driver.maxResultSize", "4g")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    warmKernel()

    val results = scala.collection.mutable.LinkedHashMap[String, Seq[Double]]()

    if (mode == "gram" || mode == "l2" || mode == "all") {
      val x = genUniform(spark, 200000L, 1000L, 1000, 1000, seed = 11L)
      val xc = x.copy(blocks = x.blocks.cache())
      val loadSec = timed(xc.blocks.count())
      System.err.println(f"[la-scale] X 200000x1000 loaded in $loadSec%.1f s")

      if (mode == "gram" || mode == "all")
        results("gram") = (1 to runs).map(_ => timed(force(xc.gram)))

      if (mode == "l2" || mode == "all") {
        val y = genUniform(spark, 200000L, 1L, 1000, 1, seed = 77L)
        val yc = y.copy(blocks = y.blocks.cache())
        yc.blocks.count()
        results("l2") = (1 to runs).map(_ =>
          timed(force(graft.operators.MlWorkloads.l2Fit(xc, yc))))
        yc.blocks.unpersist()
      }
      xc.blocks.unpersist()
    }

    if (mode == "multiply" || mode == "all") {
      // A: 1×5000 blocks (1000 × 5M), key = blockCol; B: 5000×1, key = blockRow
      // 160 co-partitions: bounds each SMJ task's sort footprint to
      // ~312 MB/side while the cache holds the 80 GB working set
      val aBlocks = genFormulaCoPart(spark, 1, 5000, 1000, 1000, "blockCol", 160).cache()
      val bBlocks = genFormulaCoPart(spark, 5000, 1, 1000, 1000, "blockRow", 160).cache()
      val loadSec = timed { aBlocks.count(); bBlocks.count() }
      System.err.println(f"[la-scale] A+B 2x40 GB materialized in $loadSec%.1f s")
      val a = BlockMatrix(aBlocks, 1000L, 5000000L, 1000, 1000)
      val b = BlockMatrix(bBlocks, 5000000L, 1000L, 1000, 1000)
      results("multiply") = (1 to runs).map(_ => timed(force(a.multiply(b))))
      aBlocks.unpersist(); bBlocks.unpersist()
    }

    if (mode == "explain") {
      // small-shape plan check: the co-partitioned multiply must be
      // exchange-free up to the partial-product aggregation (broadcast
      // disabled to surface the plan the 80 GB shapes would get)
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      val aB = genFormulaCoPart(spark, 1, 50, 100, 100, "blockCol").cache()
      val bB = genFormulaCoPart(spark, 50, 1, 100, 100, "blockRow").cache()
      aB.count(); bB.count()
      val a = BlockMatrix(aB, 100L, 5000L, 100, 100)
      val b = BlockMatrix(bB, 5000L, 100L, 100, 100)
      val joined = aB.joinWith(bB, aB("blockCol") === bB("blockRow"))
      joined.explain("formatted")
      force(a.multiply(b))
    }

    val json = results.map { case (k, v) =>
      s""""$k":{"runs":[${v.map(s => f"$s%.2f").mkString(",")}],"min":${f"${v.min}%.2f"}}"""
    }.mkString(",")
    println(s"""{"metric":"la_scale","unit":"sec","workloads":{$json}}""")
    spark.stop()
  }

  /** Single-thread kernel micro-benchmark (1000³ block matmul). */
  private def kernelBench(): Unit = {
    val n = 1000
    val a = MatrixBlock(0, 0, n, n, Array.tabulate(n * n)(i => u01(i.toLong)))
    val b = MatrixBlock(0, 0, n, n, Array.tabulate(n * n)(i => u01(i + 7L)))
    warmKernel()
    val flops = 2.0 * n * n * n
    def bench(name: String, reps: Int)(body: => Array[Double]): Unit = {
      var best = Double.MaxValue
      var r = 0
      var sink = 0.0
      while (r < reps) {
        val t0 = System.nanoTime()
        sink += body(0)
        best = math.min(best, (System.nanoTime() - t0) / 1e9)
        r += 1
      }
      println(f"$name%-10s ${best}%.3f s  ${flops / best / 1e9}%.2f GFLOP/s  (sink $sink%.1f)")
    }
    bench("naive", 2) { Kernels.matmulNaive(a, b) }
    bench("regtile", 4) { Kernels.matmul(a, b) }
  }
}
