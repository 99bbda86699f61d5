package graft.operators

import org.apache.spark.sql.{DataFrame, Dataset, Encoders, SparkSession}
import org.apache.spark.sql.functions._

/** Remaining iterative ML workloads from the reference corpus: GMM
  * (reference: src/tests/source/TestGmmLazy.cc), LDA-style topic model
  * (TestLDA.cc), LSTM cell (src/sharedLibraries LSTM kernels). All follow
  * the reference's execution shape — client-side iteration, each step a
  * distributed pass (SURVEY.md §2.6) — with deterministic initialization
  * (no RNG, so results are reproducible run-to-run).
  */
object MlWorkloads2 {

  // ---------------- GMM (diagonal covariance, EM) ----------------

  final case class GmmModel(
      weights: Array[Double],         // K
      means: Array[Array[Double]],    // K × d
      vars: Array[Array[Double]])     // K × d (diagonal)

  /** EM for a diagonal-covariance Gaussian mixture. E+M fused into one
    * distributed pass per iteration: mapPartitions emits per-partition
    * sufficient statistics (resp sums, weighted x, weighted x²), reduced to
    * the driver (K·d doubles — tiny), which closes the loop. Deterministic
    * init: first K vectors as means, unit variance, uniform weights.
    */
  def gmmFit(
      data: Dataset[(Long, Array[Double])], k: Int, iterations: Int): GmmModel = {
    val spark = data.sparkSession
    val first = data.orderBy(col("_1")).limit(k).collect().map(_._2)
    val d = first(0).length
    var model = GmmModel(
      Array.fill(k)(1.0 / k),
      first.map(_.clone()),
      Array.fill(k)(Array.fill(d)(1.0)))

    implicit val statsEnc = Encoders.kryo(
      scala.reflect.ClassTag(classOf[(Array[Double], Array[Array[Double]], Array[Array[Double]])])
        .asInstanceOf[scala.reflect.ClassTag[(Array[Double], Array[Array[Double]], Array[Array[Double]])]])

    for (_ <- 1 to iterations) {
      val bc = spark.sparkContext.broadcast(model)
      val stats = data.mapPartitions { rows =>
        val m = bc.value
        val rs = Array.fill(k)(0.0)
        val xs = Array.fill(k)(new Array[Double](d))
        val x2s = Array.fill(k)(new Array[Double](d))
        rows.foreach { case (_, x) =>
          val logp = Array.tabulate(k) { c =>
            var acc = math.log(m.weights(c))
            var j = 0
            while (j < d) {
              val diff = x(j) - m.means(c)(j)
              acc += -0.5 * (math.log(2 * math.Pi * m.vars(c)(j)) +
                diff * diff / m.vars(c)(j))
              j += 1
            }
            acc
          }
          val mx = logp.max
          val probs = logp.map(lp => math.exp(lp - mx))
          val z = probs.sum
          var c = 0
          while (c < k) {
            val r = probs(c) / z
            rs(c) += r
            var j = 0
            while (j < d) {
              xs(c)(j) += r * x(j); x2s(c)(j) += r * x(j) * x(j); j += 1
            }
            c += 1
          }
        }
        Iterator.single((rs, xs, x2s))
      }.reduce { (a, b) =>
        var c = 0
        while (c < k) {
          a._1(c) += b._1(c)
          var j = 0
          while (j < d) { a._2(c)(j) += b._2(c)(j); a._3(c)(j) += b._3(c)(j); j += 1 }
          c += 1
        }
        a
      }
      val (rs, xs, x2s) = stats
      val total = rs.sum
      model = GmmModel(
        rs.map(_ / total),
        Array.tabulate(k)(c => xs(c).map(_ / math.max(rs(c), 1e-12))),
        Array.tabulate(k) { c =>
          Array.tabulate(d) { j =>
            val mu = xs(c)(j) / math.max(rs(c), 1e-12)
            math.max(x2s(c)(j) / math.max(rs(c), 1e-12) - mu * mu, 1e-6)
          }
        })
      bc.destroy()
    }
    model
  }

  /** hard-assign each vector to its most probable component */
  def gmmAssign(
      data: Dataset[(Long, Array[Double])], model: GmmModel): DataFrame = {
    val spark = data.sparkSession
    import spark.implicits._
    val bc = spark.sparkContext.broadcast(model)
    data.map { case (id, x) =>
      val m = bc.value
      val k = m.weights.length
      val best = (0 until k).maxBy { c =>
        var acc = math.log(m.weights(c))
        var j = 0
        while (j < x.length) {
          val diff = x(j) - m.means(c)(j)
          acc += -0.5 * (math.log(2 * math.Pi * m.vars(c)(j)) +
            diff * diff / m.vars(c)(j))
          j += 1
        }
        acc
      }
      (id, best)
    }.toDF("vec_id", "component")
  }

  // ---------------- LDA-style topic model (PLSA EM) ----------------

  /** Out-of-vocabulary bucket for words past the modeled top-`maxVocab`;
    * the control-char prefix keeps it disjoint from any tokenized word.
    */
  val OovToken = "\u0001OOV"

  /** PLSA-style EM over (doc, word, count) rows, fully distributed
    * (reference: src/tests/source/TestLDA.cc runs the same E/M passes as
    * engine jobs per iteration).
    *
    * Scale design: the (doc, word) count rows and θ (doc-topic) never
    * leave the cluster — the E-step is counts ⋈ broadcast(φ) ⋈ θ with the
    * per-(doc,word) responsibility normalization as a window sum, and the
    * M-step is two groupBy-sums: (word, topic) → next φ, (doc, topic) →
    * next θ, the latter re-normalized per doc and kept as a DataFrame
    * keyed by doc (a shuffle join next iteration). Only φ is gathered to
    * the driver for broadcast — |vocab| × nTopics doubles, the same
    * O(model) footprint as [[gmmFit]]'s sufficient statistics. The
    * sin-seeded θ init derives each doc's seed from its own id (a
    * modular residue — no global rank, no single-partition window), so
    * every stage of the fit is partition-parallel.
    *
    * Returns the word-topic matrix as (word, topic, phi) rows.
    */
  def ldaFit(
      docWordCounts: Dataset[(Long, String, Long)], nTopics: Int,
      iterations: Int, maxVocab: Int = 1 << 16): DataFrame = {
    val spark = docWordCounts.sparkSession
    import spark.implicits._
    val raw = docWordCounts.toDF("d", "word", "cnt")

    // The modeled vocabulary is bounded BY CONSTRUCTION: top-`maxVocab`
    // words by corpus frequency via one distributed groupBy-sum and a
    // k-bounded TakeOrderedAndProject (never a full collect of distinct
    // words — a web-scale corpus has 10^8+ terms); everything past the
    // cap is re-bucketed to one OOV token before the EM loop, so φ stays
    // ≤ (maxVocab+1) × nTopics no matter the corpus. Ties break on word
    // so the cap is deterministic; one extra row detects truncation.
    val top = raw.groupBy(col("word")).agg(sum(col("cnt")).as("f"))
      .orderBy(desc("f"), col("word")).limit(maxVocab + 1)
      .select(col("word")).as[String].collect()
    val truncated = top.length > maxVocab
    val counts = (if (!truncated) raw
      else {
        val keep = broadcast(top.take(maxVocab).toSeq.toDF("word")
          .withColumn("__kept", lit(1)))
        raw.join(keep, Seq("word"), "left")
          .withColumn("w2",
            when(col("__kept").isNotNull, col("word")).otherwise(lit(OovToken)))
          .groupBy(col("d"), col("w2").as("word"))
          .agg(sum(col("cnt")).as("cnt"))
          .select(col("d"), col("word"), col("cnt"))
      }).persist()

    // vocab is the bounded model dimension; its index seeds the init and
    // addresses the driver-side φ array
    val words =
      (if (truncated) top.take(maxVocab) :+ OovToken else top).sorted
    val wIdx = words.zipWithIndex.toMap

    def detInit(a: Int, b: Int): Double =
      0.5 + 0.5 * math.abs(math.sin(a * 31 + b * 17))
    var phi = Array.tabulate(words.length, nTopics)((w, t) => detInit(w, t))
    normalizeCols(phi)

    // θ₀: sin-seeded PER DOC from a modular residue of the doc id,
    // row-normalized. Partition-free by construction — the earlier
    // rank-based seed (row_number over a global order-only window) moved
    // every doc id through ONE partition, the only all-rows
    // single-partition stage in the engine. A residue of d is the same
    // deterministic per-doc seed without any exchange, and unlike a
    // builtin 64-bit hash it is integer-exact to mirror in the DuckDB
    // oracle (the modulus keeps the sin argument ≤ ~3e7, where both
    // libms' argument reduction agrees).
    //
    // θ rides as ONE ROW PER DOC carrying the nTopics values as an
    // array (`tvs`), not nTopics rows keyed (d, t): the per-(doc,word)
    // responsibility normalization then needs NO window at all — the
    // t-sum is row-local arithmetic over array slots — and the θ
    // re-normalization after the M-step groupBy is row-local too. The
    // (d, t)-row shape paid one exchange+sort for the (d, word) window
    // and another exchange+sort for the per-doc window EVERY iteration
    // (plan-verified: 5 exchanges + 2 sorts per EM step → 3 exchanges,
    // 0 sorts). Float association: the t-sums run in fixed topic order
    // (t = 0,1,…), the same 3-term additions the window summed in
    // partition row order; the doc/word-dimension sums keep their
    // arbitrary combine order exactly as before, and the final φ is
    // rounded to 1e-6 like the kernel always was (oracle-verified).
    val tIdx = 0 until nTopics
    var theta = counts.select(col("d")).distinct()
      .withColumn("dI", col("d") % 1000003)
      .withColumn("raws", array(tIdx.map(t =>
        lit(0.5) + lit(0.5) *
          abs(sin(((col("dI") + 7) * 31 + lit(t) * 17).cast("double")))): _*))
      .withColumn("rsum", tIdx.map(t => col("raws").getItem(t)).reduce(_ + _))
      .select(col("d"),
        array(tIdx.map(t => col("raws").getItem(t) / col("rsum")): _*)
          .as("tvs"))

    var prevResp: DataFrame = null
    for (_ <- 1 to iterations) {
      // φ broadcast: one row per word carrying its nTopics values
      val phiDf = words.indices.map { w =>
        (words(w), tIdx.map(t => phi(w)(t)))
      }.toDF("word", "pvs")
      val resp = counts
        .join(broadcast(phiDf), Seq("word"))
        .join(theta, Seq("d"))
        .withColumn("ps", array(tIdx.map(t =>
          col("pvs").getItem(t) * col("tvs").getItem(t)): _*))
        .withColumn("psum", tIdx.map(t => col("ps").getItem(t)).reduce(_ + _))
        .select(col("d"), col("word"), array(tIdx.map(t =>
          col("cnt") * col("ps").getItem(t) / col("psum")): _*).as("rs"))
        .persist()
      // M-step φ: vocab × topics rows gathered for next iteration's broadcast
      val tSums = tIdx.map(t => sum(col("rs").getItem(t)).as(s"v$t"))
      val phiAcc = Array.fill(words.length, nTopics)(0.0)
      resp.groupBy(col("word"))
        .agg(tSums.head, tSums.tail: _*)
        .collect().foreach { row =>
          val w = wIdx(row.getString(0))
          tIdx.foreach(t => phiAcc(w)(t) = row.getDouble(1 + t))
        }
      phi = phiAcc
      normalizeCols(phi)
      // M-step θ: stays distributed; its lineage is cut at the persisted
      // resp (already materialized by the φ gather above), so plans stay
      // constant-size across iterations. The groupBy(d) output is
      // hash-partitioned on d — next iteration's join on d reuses that
      // partitioning instead of re-exchanging θ.
      val thetaAgg = resp.groupBy(col("d"))
        .agg(tSums.head, tSums.tail: _*)
      theta = thetaAgg
        .withColumn("vsum", tIdx.map(t => col(s"v$t")).reduce(_ + _))
        .select(col("d"),
          array(tIdx.map(t => col(s"v$t") / col("vsum")): _*).as("tvs"))
      if (prevResp != null) prevResp.unpersist(blocking = false)
      prevResp = resp
    }
    if (prevResp != null) prevResp.unpersist(blocking = false)
    counts.unpersist(blocking = false)
    words.indices.flatMap { w =>
      (0 until nTopics).map(t => (words(w), t, math.rint(phi(w)(t) * 1e6) / 1e6))
    }.toDF("word", "topic", "phi")
  }

  private def normalizeCols(m: Array[Array[Double]]): Unit = {
    val nT = m(0).length
    var t = 0
    while (t < nT) {
      var s = 0.0
      m.foreach(r => s += r(t))
      if (s > 0) m.foreach(r => r(t) /= s)
      t += 1
    }
  }

  // ---------------- LSTM cell (inference kernel) ----------------

  final case class LstmWeights(
      wi: Array[Double], ui: Array[Double], bi: Array[Double],
      wf: Array[Double], uf: Array[Double], bf: Array[Double],
      wo: Array[Double], uo: Array[Double], bo: Array[Double],
      wc: Array[Double], uc: Array[Double], bc: Array[Double],
      inDim: Int, hidden: Int)

  private def sigmoid(x: Double) = 1.0 / (1.0 + math.exp(-x))

  /** one LSTM step: gates = σ/tanh(W x + U h + b) */
  def lstmStep(
      w: LstmWeights, x: Array[Double], h: Array[Double], c: Array[Double])
      : (Array[Double], Array[Double]) = {
    val hN = w.hidden
    def affine(wm: Array[Double], um: Array[Double], b: Array[Double], j: Int): Double = {
      var acc = b(j)
      var i = 0
      while (i < w.inDim) { acc += wm(j * w.inDim + i) * x(i); i += 1 }
      i = 0
      while (i < hN) { acc += um(j * hN + i) * h(i); i += 1 }
      acc
    }
    val cNew = new Array[Double](hN)
    val hNew = new Array[Double](hN)
    var j = 0
    while (j < hN) {
      val ig = sigmoid(affine(w.wi, w.ui, w.bi, j))
      val fg = sigmoid(affine(w.wf, w.uf, w.bf, j))
      val og = sigmoid(affine(w.wo, w.uo, w.bo, j))
      val cand = math.tanh(affine(w.wc, w.uc, w.bc, j))
      cNew(j) = fg * c(j) + ig * cand
      hNew(j) = og * math.tanh(cNew(j))
      j += 1
    }
    (hNew, cNew)
  }

  /** batch-score sequences: each row = (id, sequence of input vectors);
    * partition-parallel map, no shuffle — the reference's LSTM inference
    * shape.
    */
  def lstmScore(
      seqs: Dataset[(Long, Array[Array[Double]])], w: LstmWeights): DataFrame = {
    val spark = seqs.sparkSession
    import spark.implicits._
    val bc = spark.sparkContext.broadcast(w)
    seqs.map { case (id, seq) =>
      val wts = bc.value
      var h = new Array[Double](wts.hidden)
      var c = new Array[Double](wts.hidden)
      seq.foreach { x =>
        val (h2, c2) = lstmStep(wts, x, h, c)
        h = h2; c = c2
      }
      (id, h.sum / wts.hidden) // pooled score
    }.toDF("id", "score")
  }
}
