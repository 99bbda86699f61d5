package graft.la

import org.apache.spark.sql.{Dataset, Encoders, SparkSession}
import org.apache.spark.sql.functions._

/** Dense double block of a blocked matrix
  * (reference: src/sharedLibraries/headers/MatrixBlock.h:32 — block meta +
  * row-major data). Row-major `data` of size rows×cols.
  */
final case class MatrixBlock(
    blockRow: Int, blockCol: Int, rows: Int, cols: Int, data: Array[Double])

/** Tiny row-major kernels (the reference calls Eigen inside join/agg
  * projections — reference: src/sharedLibraries/headers/LASillyMultiply1Join.h:17-35;
  * Eigen is unavailable here so these are hand-rolled, SURVEY.md §7.4 risk 6).
  */
object Kernels {
  /** Baseline ikj axpy matmul. Kept as the semantic reference for
    * [[matmul]] (KernelsSpec pins elementwise equality) and for its
    * exact-skip behavior on zero a-elements.
    */
  private[graft] def matmulNaive(a: MatrixBlock, b: MatrixBlock): Array[Double] = {
    require(a.cols == b.rows, s"inner dim ${a.cols} != ${b.rows}")
    val out = new Array[Double](a.rows * b.cols)
    var i = 0
    while (i < a.rows) {
      var k = 0
      while (k < a.cols) {
        val aik = a.data(i * a.cols + k)
        if (aik != 0.0) {
          var j = 0
          while (j < b.cols) {
            out(i * b.cols + j) += aik * b.data(k * b.cols + j)
            j += 1
          }
        }
        k += 1
      }
      i += 1
    }
    out
  }

  /** True when the JVM was launched with `--add-modules
    * jdk.incubator.vector` (build.sbt does; a cluster deploy should too).
    * Probed once; a missing module falls back to the scalar kernel.
    */
  private val simdOk: Boolean =
    try { SimdKernel.vectorLanes >= 2 }
    catch { case _: LinkageError => false }

  /** The production block-matmul: the register-tiled SIMD micro-kernel
    * (12-13 GFLOP/s single-thread against the scalar kernel's 2.9 on a
    * 1000³ block; LaScale `kernel` re-measures), scalar fallback without
    * the vector module. Results are bit-identical to [[matmulNaive]] on
    * finite inputs (KernelsSpec).
    */
  def matmul(a: MatrixBlock, b: MatrixBlock): Array[Double] =
    if (simdOk) SimdKernel.matmulRegTile(a, b) else matmulScalar(a, b)

  /** Cache-tiled matmul: k is chunked so the active panel of b
    * (KC rows ≈ 1 MB at n=1000) stays L2-resident across the whole
    * i-sweep, and the axpy is unrolled 4× over k so each out-row
    * load/store amortizes 8 flops. Without the chunking the ikj form
    * streams ALL of b from RAM once per output row (~8 GB of traffic
    * per 1000³ block matmul), which at 32 concurrent tasks saturates
    * memory bandwidth long before the ALUs — the round-11 reference-
    * scale LA run (LA_SCALE_r11.json) is the motivating workload.
    *
    * Accumulation ORDER is unchanged: for every (i,j) the products are
    * added in ascending k (chunks ascend, k ascends within a chunk,
    * and the 4-term unroll uses sequential `acc +=`), so results are
    * bit-identical to [[matmulNaive]] for finite inputs — the property
    * the unrolled SQL oracles rely on. (Sole caveat: a zero a-element
    * inside a partially-nonzero quad contributes an explicit +0.0 here
    * where the naive form skips it — indistinguishable except under
    * NaN/Inf/signed-zero inputs, which the LA surface never produces.)
    */
  private[graft] def matmulScalar(a: MatrixBlock, b: MatrixBlock): Array[Double] = {
    require(a.cols == b.rows, s"inner dim ${a.cols} != ${b.rows}")
    val m = a.rows
    val kk = a.cols
    val n = b.cols
    val ad = a.data
    val bd = b.data
    val out = new Array[Double](m * n)
    val KC = 128
    val MI = 4
    var k0 = 0
    while (k0 < kk) {
      val kEnd = math.min(k0 + KC, kk)
      var i0 = 0
      while (i0 < m) {
        if (i0 + MI <= m) {
          // 4 output rows (32 KB at n=1000) stay L1-resident across the
          // k-chunk; b is loaded once per j and feeds 4 independent fma
          // chains
          val ao0 = i0 * kk; val ao1 = ao0 + kk
          val ao2 = ao1 + kk; val ao3 = ao2 + kk
          val oo0 = i0 * n; val oo1 = oo0 + n
          val oo2 = oo1 + n; val oo3 = oo2 + n
          var k = k0
          while (k < kEnd) {
            val a0 = ad(ao0 + k); val a1 = ad(ao1 + k)
            val a2 = ad(ao2 + k); val a3 = ad(ao3 + k)
            if (a0 != 0.0 || a1 != 0.0 || a2 != 0.0 || a3 != 0.0) {
              val bo = k * n
              var j = 0
              while (j < n) {
                val bv = bd(bo + j)
                out(oo0 + j) += a0 * bv
                out(oo1 + j) += a1 * bv
                out(oo2 + j) += a2 * bv
                out(oo3 + j) += a3 * bv
                j += 1
              }
            }
            k += 1
          }
        } else {
          var i = i0
          while (i < m) {
            val ao = i * kk
            val oo = i * n
            var k = k0
            while (k < kEnd) {
              val av = ad(ao + k)
              if (av != 0.0) {
                val bo = k * n
                var j = 0
                while (j < n) { out(oo + j) += av * bd(bo + j); j += 1 }
              }
              k += 1
            }
            i += 1
          }
        }
        i0 += MI
      }
      k0 += KC
    }
    out
  }

  def zip(a: Array[Double], b: Array[Double], f: (Double, Double) => Double): Array[Double] = {
    val out = new Array[Double](a.length)
    var i = 0
    while (i < a.length) { out(i) = f(a(i), b(i)); i += 1 }
    out
  }

  def transpose(m: MatrixBlock): MatrixBlock = {
    val out = new Array[Double](m.data.length)
    var i = 0
    while (i < m.rows) {
      var j = 0
      while (j < m.cols) { out(j * m.rows + i) = m.data(i * m.cols + j); j += 1 }
      i += 1
    }
    MatrixBlock(m.blockCol, m.blockRow, m.cols, m.rows, out)
  }

  /** In-place Gauss-Jordan solve of the augmented system [A|B] (n rows ×
    * m cols row-major, m > n; on return columns n..m-1 hold A⁻¹B).
    * NATURAL pivot order — no row swaps — so the elimination is a fixed
    * sequence of IEEE ops that an unrolled SQL oracle can reproduce
    * bit-for-bit: step k computes a_kj/p once and every other row does
    * a_ij − a_ik·(a_kj/p) on pre-step values. Valid without pivoting for
    * SPD systems (normal-equation grams); rejects a vanishing pivot.
    */
  def solveAugmented(n: Int, m: Int, aug: Array[Double]): Unit = {
    var k = 0
    while (k < n) {
      val p = aug(k * m + k)
      require(math.abs(p) > 1e-12, "zero pivot: matrix not SPD / singular")
      var j = 0
      while (j < m) { aug(k * m + j) = aug(k * m + j) / p; j += 1 }
      var i = 0
      while (i < n) {
        if (i != k) {
          val f = aug(i * m + k)
          var j2 = 0
          while (j2 < m) {
            aug(i * m + j2) = aug(i * m + j2) - f * aug(k * m + j2); j2 += 1
          }
        }
        i += 1
      }
      k += 1
    }
  }

  /** Gauss-Jordan inverse with partial pivoting, n×n row-major */
  def inverse(n: Int, a0: Array[Double]): Array[Double] = {
    val a = a0.clone()
    val inv = Array.tabulate(n * n)(i => if (i / n == i % n) 1.0 else 0.0)
    var col = 0
    while (col < n) {
      var piv = col
      var i = col + 1
      while (i < n) { if (math.abs(a(i * n + col)) > math.abs(a(piv * n + col))) piv = i; i += 1 }
      require(math.abs(a(piv * n + col)) > 1e-12, "singular matrix")
      if (piv != col) {
        var j = 0
        while (j < n) {
          val t = a(col * n + j); a(col * n + j) = a(piv * n + j); a(piv * n + j) = t
          val t2 = inv(col * n + j); inv(col * n + j) = inv(piv * n + j); inv(piv * n + j) = t2
          j += 1
        }
      }
      val d = a(col * n + col)
      var j = 0
      while (j < n) { a(col * n + j) /= d; inv(col * n + j) /= d; j += 1 }
      i = 0
      while (i < n) {
        if (i != col) {
          val f = a(i * n + col)
          if (f != 0.0) {
            var j2 = 0
            while (j2 < n) {
              a(i * n + j2) -= f * a(col * n + j2)
              inv(i * n + j2) -= f * inv(col * n + j2)
              j2 += 1
            }
          }
        }
        i += 1
      }
      col += 1
    }
    inv
  }
}

/** AVX-width matmul via the JDK17 incubator Vector API. Isolated in its
  * own object so [[Kernels]] loads (and falls back to the scalar kernel)
  * on JVMs launched without `--add-modules jdk.incubator.vector`.
  *
  * Element semantics are IDENTICAL to the scalar kernel: the update is an
  * explicit vector mul followed by a vector add (two roundings, exactly
  * Java's `out += a*b`), lanes are distinct j's of the same output row,
  * and k ascends — so every output element sees the same IEEE operation
  * sequence as [[Kernels.matmulNaive]].
  */
private object SimdKernel {
  import jdk.incubator.vector.{DoubleVector, VectorSpecies}

  private val SP: VectorSpecies[java.lang.Double] = DoubleVector.SPECIES_PREFERRED

  def vectorLanes: Int = SP.length()

  /** The 2-row × 4-vector micro-kernel body as its OWN method, on
    * purpose: called once per (i-pair, j-tile, k-chunk) — hundreds of
    * thousands of times per 1000³ block — it crosses C2's invocation
    * threshold and gets METHOD-entry compiled with the Vector API
    * intrinsics. Inlined into the driver loop it only ever ran as an
    * OSR compilation, and a first call on a SMALL block (e.g. a 256³
    * warmup, or a pdml test matrix) locked in an OSR form with the
    * vector ops un-intrinsified for the JVM's lifetime — measured 13×
    * slower (1.0 vs 13.2 GFLOP/s), reproducibly, depending only on
    * which SHAPE ran first. Do not inline this back.
    */
  private def tile2x4(
      ad: Array[Double], bd: Array[Double], out: Array[Double],
      ao0: Int, ao1: Int, oo0j: Int, oo1j: Int, jOff: Int, n: Int,
      k0: Int, kEnd: Int): Unit = {
    val vlen = SP.length()
    var acc00 = DoubleVector.fromArray(SP, out, oo0j)
    var acc01 = DoubleVector.fromArray(SP, out, oo0j + vlen)
    var acc02 = DoubleVector.fromArray(SP, out, oo0j + 2 * vlen)
    var acc03 = DoubleVector.fromArray(SP, out, oo0j + 3 * vlen)
    var acc10 = DoubleVector.fromArray(SP, out, oo1j)
    var acc11 = DoubleVector.fromArray(SP, out, oo1j + vlen)
    var acc12 = DoubleVector.fromArray(SP, out, oo1j + 2 * vlen)
    var acc13 = DoubleVector.fromArray(SP, out, oo1j + 3 * vlen)
    var k = k0
    while (k < kEnd) {
      val bo = k * n + jOff
      val va0 = DoubleVector.broadcast(SP, ad(ao0 + k))
      val va1 = DoubleVector.broadcast(SP, ad(ao1 + k))
      val vb0 = DoubleVector.fromArray(SP, bd, bo)
      val vb1 = DoubleVector.fromArray(SP, bd, bo + vlen)
      val vb2 = DoubleVector.fromArray(SP, bd, bo + 2 * vlen)
      val vb3 = DoubleVector.fromArray(SP, bd, bo + 3 * vlen)
      acc00 = acc00.add(vb0.mul(va0))
      acc01 = acc01.add(vb1.mul(va0))
      acc02 = acc02.add(vb2.mul(va0))
      acc03 = acc03.add(vb3.mul(va0))
      acc10 = acc10.add(vb0.mul(va1))
      acc11 = acc11.add(vb1.mul(va1))
      acc12 = acc12.add(vb2.mul(va1))
      acc13 = acc13.add(vb3.mul(va1))
      k += 1
    }
    acc00.intoArray(out, oo0j)
    acc01.intoArray(out, oo0j + vlen)
    acc02.intoArray(out, oo0j + 2 * vlen)
    acc03.intoArray(out, oo0j + 3 * vlen)
    acc10.intoArray(out, oo1j)
    acc11.intoArray(out, oo1j + vlen)
    acc12.intoArray(out, oo1j + 2 * vlen)
    acc13.intoArray(out, oo1j + 3 * vlen)
  }

  /** Register-tiled micro-kernel: 2 output rows × 4 j-vectors (8 live
    * accumulator vectors — inside C2's register budget, where a
    * >8-accumulator tile spilled and ran 6× slower) held in registers
    * across the whole k-chunk (128 b-rows ≈ 1 MB, L2-resident across
    * the i-sweep), so out is touched once per chunk per tile instead
    * of once per k — the per-k out-row load/store chain of a plain
    * axpy loop is its throughput ceiling. Accumulation stays
    * `acc.add(vb.mul(va))` (two roundings, exactly `out += a*b`) with k
    * ascending per (i,j) across ascending chunks — the same IEEE
    * sequence as [[Kernels.matmulNaive]], so KernelsSpec's bit-parity
    * pin holds (the tile adds an explicit +0.0 for a zero a-element
    * where the naive form skips it; indistinguishable outside
    * NaN/Inf/signed-zero inputs, which the LA surface never produces).
    * Edges (row remainder, j past the last full tile) fall through to
    * a scalar axpy update with identical ordering.
    */
  def matmulRegTile(a: MatrixBlock, b: MatrixBlock): Array[Double] = {
    require(a.cols == b.rows, s"inner dim ${a.cols} != ${b.rows}")
    val m = a.rows
    val kk = a.cols
    val n = b.cols
    val ad = a.data
    val bd = b.data
    val out = new Array[Double](m * n)
    val KC = 128
    val vlen = SP.length()
    val tileJ = 4 * vlen
    val jb = n - n % tileJ
    var k0 = 0
    while (k0 < kk) {
      val kEnd = math.min(k0 + KC, kk)
      var i0 = 0
      while (i0 + 2 <= m) {
        val ao0 = i0 * kk; val ao1 = ao0 + kk
        val oo0 = i0 * n; val oo1 = oo0 + n
        var j0 = 0
        while (j0 < jb) {
          tile2x4(ad, bd, out, ao0, ao1, oo0 + j0, oo1 + j0, j0, n, k0, kEnd)
          j0 += tileJ
        }
        // j remainder: axpy update, ascending k — same per-(i,j) order
        if (jb < n) {
          var k = k0
          while (k < kEnd) {
            val a0 = ad(ao0 + k); val a1 = ad(ao1 + k)
            val bo = k * n
            var j = jb
            while (j < n) {
              val bv = bd(bo + j)
              out(oo0 + j) += a0 * bv
              out(oo1 + j) += a1 * bv
              j += 1
            }
            k += 1
          }
        }
        i0 += 2
      }
      // row remainder (odd m): single-row axpy
      if (i0 < m) {
        val ao = i0 * kk
        val oo = i0 * n
        var k = k0
        while (k < kEnd) {
          val av = ad(ao + k)
          if (av != 0.0) {
            val bo = k * n
            val va = DoubleVector.broadcast(SP, av)
            val ub2 = SP.loopBound(n)
            var j = 0
            while (j < ub2) {
              val vb = DoubleVector.fromArray(SP, bd, bo + j)
              DoubleVector.fromArray(SP, out, oo + j)
                .add(vb.mul(va)).intoArray(out, oo + j)
              j += vlen
            }
            while (j < n) { out(oo + j) += av * bd(bo + j); j += 1 }
          }
          k += 1
        }
      }
      k0 += KC
    }
    out
  }
}

/** Distributed blocked matrix over a Dataset[MatrixBlock] — the Spark
  * rendition of the reference's LA library (reference:
  * src/linearAlgebraDSL/ (kernels in src/sharedLibraries/headers/LASilly&lowast;.h).
  *
  * Scale notes: multiply is the standard SUMMA-style plan — shuffle join on
  * the inner block index, local matmul per pair, shuffle-aggregate partial
  * products by output block. Elementwise ops co-partition on (blockRow,
  * blockCol). Inverse gathers to the driver — gated by size (§7.4 risk 5).
  */
final case class BlockMatrix(
    blocks: Dataset[MatrixBlock],
    nRows: Long, nCols: Long, rowsPerBlock: Int, colsPerBlock: Int) {

  private implicit val enc: org.apache.spark.sql.Encoder[MatrixBlock] =
    Encoders.product[MatrixBlock]
  import blocks.sparkSession.implicits._

  def transpose: BlockMatrix =
    copy(blocks = blocks.map(Kernels.transpose), nRows = nCols, nCols = nRows,
      rowsPerBlock = colsPerBlock, colsPerBlock = rowsPerBlock)

  /** Dense payload bytes, known from metadata alone — lets join planning
    * choose broadcast without touching the data. */
  private def denseBytes: Long = nRows * nCols * 8

  /** Hint the other side for broadcast when its dense size is small
    * (mirrors the reference's broadcast-vs-partitioned join threshold,
    * TCAPAnalyzer.cc:13-14 — here keyed on exact metadata, not stats).
    * Falls back to the plain shuffle join at scale.
    */
  private def maybeBroadcast(ds: Dataset[MatrixBlock], bytes: Long): Dataset[MatrixBlock] =
    if (bytes <= (10L << 20)) broadcast(ds) else ds

  private def elementwise(other: BlockMatrix, f: (Double, Double) => Double): BlockMatrix = {
    require(nRows == other.nRows && nCols == other.nCols, "dim mismatch")
    val joined = blocks.joinWith(maybeBroadcast(other.blocks, other.denseBytes),
      blocks("blockRow") === other.blocks("blockRow") &&
        blocks("blockCol") === other.blocks("blockCol"))
    copy(blocks = joined.map { case (a, b) =>
      MatrixBlock(a.blockRow, a.blockCol, a.rows, a.cols, Kernels.zip(a.data, b.data, f))
    })
  }

  def add(other: BlockMatrix): BlockMatrix = elementwise(other, _ + _)
  def subtract(other: BlockMatrix): BlockMatrix = elementwise(other, _ - _)
  def elemMultiply(other: BlockMatrix): BlockMatrix = elementwise(other, _ * _)

  def scale(s: Double): BlockMatrix =
    copy(blocks = blocks.map(b => b.copy(data = b.data.map(_ * s))))

  /** elementwise unary map (relu, abs, …) — a narrow, shuffle-free pass */
  def mapElements(f: Double => Double): BlockMatrix =
    copy(blocks = blocks.map(b => b.copy(data = b.data.map(f))))

  /** A %*% B: join on inner index + aggregate partial products
    * (reference plan: LASillyMultiply1Join.h + LASillyMultiply2Aggregate.h).
    */
  def multiply(other: BlockMatrix): BlockMatrix = {
    require(nCols == other.nRows, "inner dim mismatch")
    val joined = blocks.joinWith(maybeBroadcast(other.blocks, other.denseBytes),
      blocks("blockCol") === other.blocks("blockRow"))
    val partials = joined.map { case (a, b) =>
      MatrixBlock(a.blockRow, b.blockCol, a.rows, b.cols, Kernels.matmul(a, b))
    }
    val summed = partials
      .groupByKey(m => (m.blockRow, m.blockCol))
      .reduceGroups((x, y) => x.copy(data = Kernels.zip(x.data, y.data, _ + _)))
      .map(_._2)
    BlockMatrix(summed, nRows, other.nCols, rowsPerBlock, other.colsPerBlock)
  }

  /** X'X. When the matrix is a single block-column wide (the tall-skinny
    * design-matrix shape of the reference's Gram/L2 experiments — 200000×
    * 1000 at 1000×1000 blocks), X'X = Σₖ Xₖ'Xₖ over row-blocks, which is
    * a map-side partial aggregate: each partition reduces its local
    * row-blocks into ONE cpb×cpb partial and only the ~32 partials
    * shuffle. The generic join path instead shuffles the ENTIRE matrix
    * twice (transpose side + join side) — at 100 TB that is the whole
    * cost, and even at the reference scale it was 10× the matmul time.
    * Partial-merge order differs from the join path's, which the la_*
    * oracles already absorb by rounding (block-partial sums were never
    * cell-ordered). Wider matrices fall back to the join plan, whose
    * shape matches the reference's (LASillyMultiply1Join/2Aggregate).
    */
  def gram: BlockMatrix = {
    val singleBlockCol = nCols <= colsPerBlock
    if (!singleBlockCol) transpose.multiply(this)
    else {
      val partials = blocks.mapPartitions { it =>
        var acc: Array[Double] = null
        var w = 0
        it.foreach { b =>
          val p = Kernels.matmul(Kernels.transpose(b), b)
          if (acc == null) { acc = p; w = b.cols }
          else {
            var i = 0
            while (i < acc.length) { acc(i) += p(i); i += 1 }
          }
        }
        if (acc == null) Iterator.empty
        else Iterator.single(MatrixBlock(0, 0, w, w, acc))
      }
      val summed = partials
        .groupByKey(_ => 0)
        .reduceGroups((x, y) => x.copy(data = Kernels.zip(x.data, y.data, _ + _)))
        .map(_._2)
      BlockMatrix(summed, nCols, nCols, colsPerBlock, colsPerBlock)
    }
  }

  /** X'Y without materializing X' — joins on the shared row-block index.
    * When Y is broadcast-small (the X'y of the L2 normal equations: a
    * 200000×1 label vector against 1.6 GB of X), Y rides along as a task
    * broadcast keyed by blockRow and each partition reduces its local
    * (Xₖ'Yₖ) partials, so X never shuffles at all — the same partial-
    * aggregate shape as [[gram]]. Large Y falls back to
    * transpose.multiply. NOTE: the broadcast path gathers Y eagerly
    * (bounded by the 64 MB gate).
    */
  def tmultiply(other: BlockMatrix): BlockMatrix = {
    require(nRows == other.nRows, "row dim mismatch for X'Y")
    if (other.denseBytes > (64L << 20)) transpose.multiply(other)
    else {
      val spark = blocks.sparkSession
      val yByRow = spark.sparkContext.broadcast(
        other.blocks.collect().groupBy(_.blockRow))
      val cpbL = colsPerBlock
      val cpbR = other.colsPerBlock
      val partials = blocks.mapPartitions { it =>
        val acc = scala.collection.mutable.HashMap.empty[(Int, Int), MatrixBlock]
        it.foreach { a =>
          val at = Kernels.transpose(a)
          yByRow.value.getOrElse(a.blockRow, Array.empty).foreach { y =>
            val p = Kernels.matmul(at, y)
            acc.get((a.blockCol, y.blockCol)) match {
              case Some(m) =>
                var i = 0
                while (i < m.data.length) { m.data(i) += p(i); i += 1 }
              case None =>
                acc((a.blockCol, y.blockCol)) =
                  MatrixBlock(a.blockCol, y.blockCol, a.cols, y.cols, p)
            }
          }
        }
        acc.valuesIterator
      }
      val summed = partials
        .groupByKey(m => (m.blockRow, m.blockCol))
        .reduceGroups((x, y) => x.copy(data = Kernels.zip(x.data, y.data, _ + _)))
        .map(_._2)
      BlockMatrix(summed, nCols, other.nCols, cpbL, cpbR)
    }
  }

  /** column vector of per-row sums (block-level partial + reduce over
    * block columns)
    */
  def rowAgg(seed: Double, f: (Double, Double) => Double): BlockMatrix = {
    val partial = blocks.map { m =>
      val out = new Array[Double](m.rows)
      var i = 0
      while (i < m.rows) {
        var acc = seed
        var j = 0
        while (j < m.cols) { acc = f(acc, m.data(i * m.cols + j)); j += 1 }
        out(i) = acc
        i += 1
      }
      MatrixBlock(m.blockRow, 0, m.rows, 1, out)
    }
    val reduced = partial.groupByKey(_.blockRow)
      .reduceGroups((x, y) => x.copy(data = Kernels.zip(x.data, y.data, f)))
      .map(_._2)
    BlockMatrix(reduced, nRows, 1, rowsPerBlock, 1)
  }

  def rowSum: BlockMatrix = rowAgg(0.0, _ + _)
  def rowMax: BlockMatrix = rowAgg(Double.NegativeInfinity, math.max)
  def rowMin: BlockMatrix = rowAgg(Double.PositiveInfinity, math.min)
  def colSum: BlockMatrix = transpose.rowSum.transpose
  def colMax: BlockMatrix = transpose.rowMax.transpose
  def colMin: BlockMatrix = transpose.rowMin.transpose

  /** global max/min element (single-group aggregate, like TopKComp with k=1) */
  def maxElement: Double = blocks.map(_.data.max).reduce(math.max)
  def minElement: Double = blocks.map(_.data.min).reduce(math.min)

  /** Gather the full dense matrix to the driver (size-gated). ONE plan
    * execution; used by inverse and by rewrites that need the same
    * matrix on the driver more than once.
    */
  def toLocal(maxCells: Long = 4096L * 4096): Array[Double] = {
    require(nRows * nCols <= maxCells,
      s"toLocal gathers to driver; ${nRows}x$nCols > $maxCells cells")
    val nc = nCols.toInt
    val full = new Array[Double]((nRows * nCols).toInt)
    blocks.collect().foreach { m =>
      val r0 = m.blockRow * rowsPerBlock
      val c0 = m.blockCol * colsPerBlock
      var i = 0
      while (i < m.rows) {
        var j = 0
        while (j < m.cols) {
          full((r0 + i) * nc + (c0 + j)) = m.data(i * m.cols + j); j += 1
        }
        i += 1
      }
    }
    full
  }

  /** Driver-side inverse (reference gathers the whole matrix into one
    * aggregate too — LASillyInverse*.h). Gated: refuses matrices that
    * cannot sensibly sit on the driver.
    */
  def inverse(maxN: Int = 4096): BlockMatrix = {
    require(nRows == nCols, "inverse needs square")
    require(nRows <= maxN, s"inverse gathers to driver; n=$nRows > $maxN")
    val n = nRows.toInt
    // maxN is the gate here — pass the matching cell budget through so a
    // caller-raised maxN is not silently re-capped by toLocal's default
    val inv = Kernels.inverse(n, toLocal(nRows * nRows))
    BlockMatrix.fromLocal(blocks.sparkSession, inv, n, n, rowsPerBlock, colsPerBlock)
  }

  /** flatten to (i, j, v) cells — the oracle-comparable form */
  def toCells: Dataset[(Long, Long, Double)] = {
    val rpb = rowsPerBlock
    val cpb = colsPerBlock
    blocks.flatMap { m =>
      val r0 = m.blockRow.toLong * rpb
      val c0 = m.blockCol.toLong * cpb
      for {
        i <- 0 until m.rows
        j <- 0 until m.cols
      } yield (r0 + i, c0 + j, m.data(i * m.cols + j))
    }
  }
}

object BlockMatrix {

  /** build from (rowIndex, values) rows, e.g. the embeddings table */
  def fromRowVectors(
      spark: SparkSession, rows: Dataset[(Long, Array[Double])],
      nRows: Long, nCols: Long, rowsPerBlock: Int, colsPerBlock: Int): BlockMatrix = {
    import spark.implicits._
    val nBlockCols = ((nCols + colsPerBlock - 1) / colsPerBlock).toInt
    val blocks = rows.flatMap { case (r, vec) =>
      // fail FAST on a sparse/out-of-range row id: a row beyond nRows
      // would otherwise flow into a block whose height computes negative
      // (NegativeArraySizeException deep in mapGroups, surfaced by the
      // round-10 synthesized-fixture scale run) — callers must densify
      // ids before building the matrix
      require(r >= 0 && r < nRows,
        s"fromRowVectors: row index $r outside [0, $nRows) — " +
          "row indices must be dense; re-key sparse ids first")
      val br = (r / rowsPerBlock).toInt
      val lr = (r % rowsPerBlock).toInt
      (0 until nBlockCols).map { bc =>
        val c0 = bc * colsPerBlock
        val w = math.min(colsPerBlock, (nCols - c0).toInt)
        val slice = new Array[Double](w)
        var j = 0
        while (j < w) { slice(j) = vec(c0 + j); j += 1 }
        ((br, bc), (lr, slice))
      }
    }.groupByKey((x: ((Int, Int), (Int, Array[Double]))) => x._1).mapGroups {
      (key: (Int, Int), it: Iterator[((Int, Int), (Int, Array[Double]))]) =>
      val (br, bc) = key
      val c0 = bc.toLong * colsPerBlock
      val w = math.min(colsPerBlock.toLong, nCols - c0).toInt
      val r0 = br.toLong * rowsPerBlock
      val h = math.min(rowsPerBlock.toLong, nRows - r0).toInt
      val data = new Array[Double](h * w)
      it.foreach { case (_, (lr, slice)) =>
        System.arraycopy(slice, 0, data, lr * w, w)
      }
      MatrixBlock(br, bc, h, w, data)
    }
    BlockMatrix(blocks, nRows, nCols, rowsPerBlock, colsPerBlock)
  }

  def fromLocal(
      spark: SparkSession, data: Array[Double], nRows: Int, nCols: Int,
      rowsPerBlock: Int, colsPerBlock: Int): BlockMatrix = {
    import spark.implicits._
    val nbr = (nRows + rowsPerBlock - 1) / rowsPerBlock
    val nbc = (nCols + colsPerBlock - 1) / colsPerBlock
    val blocks = for {
      br <- 0 until nbr
      bc <- 0 until nbc
    } yield {
      val h = math.min(rowsPerBlock, nRows - br * rowsPerBlock)
      val w = math.min(colsPerBlock, nCols - bc * colsPerBlock)
      val d = new Array[Double](h * w)
      var i = 0
      while (i < h) {
        var j = 0
        while (j < w) {
          d(i * w + j) = data((br * rowsPerBlock + i) * nCols + (bc * colsPerBlock + j))
          j += 1
        }
        i += 1
      }
      MatrixBlock(br, bc, h, w, d)
    }
    BlockMatrix(spark.createDataset(blocks), nRows, nCols, rowsPerBlock, colsPerBlock)
  }

  /** zeros/ones/identity constructors (pdml initializers) */
  def constant(
      spark: SparkSession, v: Double, nRows: Long, nCols: Long,
      rowsPerBlock: Int, colsPerBlock: Int): BlockMatrix = {
    import spark.implicits._
    val nbr = ((nRows + rowsPerBlock - 1) / rowsPerBlock).toInt
    val nbc = ((nCols + colsPerBlock - 1) / colsPerBlock).toInt
    val coords = spark.createDataset(
      for { br <- 0 until nbr; bc <- 0 until nbc } yield (br, bc))
    val blocks = coords.map { case (br, bc) =>
      val h = math.min(rowsPerBlock.toLong, nRows - br.toLong * rowsPerBlock).toInt
      val w = math.min(colsPerBlock.toLong, nCols - bc.toLong * colsPerBlock).toInt
      MatrixBlock(br, bc, h, w, Array.fill(h * w)(v))
    }
    BlockMatrix(blocks, nRows, nCols, rowsPerBlock, colsPerBlock)
  }

  /** Dense identity (off-diagonal blocks are explicit zeros so that
    * elementwise joins see every coordinate — matching the reference's
    * dense-block model).
    */
  def identity(spark: SparkSession, n: Long, blockSize: Int): BlockMatrix = {
    import spark.implicits._
    val nb = ((n + blockSize - 1) / blockSize).toInt
    val coords = spark.createDataset(
      for { br <- 0 until nb; bc <- 0 until nb } yield (br, bc))
    val blocks = coords.map { case (br, bc) =>
      val h = math.min(blockSize.toLong, n - br.toLong * blockSize).toInt
      val w = math.min(blockSize.toLong, n - bc.toLong * blockSize).toInt
      val d = new Array[Double](h * w)
      if (br == bc) {
        var i = 0
        while (i < h) { d(i * w + i) = 1.0; i += 1 }
      }
      MatrixBlock(br, bc, h, w, d)
    }
    BlockMatrix(blocks, n, n, blockSize, blockSize)
  }
}
