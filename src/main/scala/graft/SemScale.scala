package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.operators.{Dedup, SimilaritySearch}

/** Beyond-the-old-cap SemDeDup assignment benchmark — the measurement the
  * two-level router exists for. The fixtures top out at 50k vectors, so
  * the regime where the corpus-sized codebook used to hit the
  * `maxClusters = 10000` cap (n > 1.25M vectors at target 125) is
  * exercised here on a synthesized deterministic corpus: n vectors of
  * dim 16, every component a Murmur3 hash of (vec_id, dim) — no RNG, so
  * runs are byte-reproducible.
  *
  * Per scale step this measures the stages that used to be super-linear:
  *  - sample:  the trainer's hash-ordered 2k-row sample collect
  *  - train:   the driver trainer over that sample
  *             ([[SimilaritySearch.trainCentroidsRouted]]: two-level
  *             routed Lloyd up to k = 16384, the parallel hierarchical
  *             tree above — [[SimilaritySearch.trainCentroidsTree]],
  *             VERDICT r19 next #2)
  *  - assign:  the FULL-CORPUS routed assignment
  *             ([[SimilaritySearch.Codebook.routed]]: two-level √k
  *             router up to k = 16384, the hierarchical assignment tree
  *             past it, ~4·k^0.25 distance evals per row, VERDICT r20
  *             next #3) forced through a groupBy count; the flat argmin
  *             is O(n·k·d). The step reports the regime it measured,
  *             read from that codebook: `kernel` and `cells`, the
  *             router's root fan-out (non-empty coarse cells, or the
  *             tree's top-level branches)
  *  - flat:    at the smallest step only, the flat assignment over the
  *             same centroids, for the measured speedup factor
  * plus sum(|cluster|²)/n — the within-cluster candidate-pair bound per
  * corpus row, which the k = n/125 sizing must hold ~constant (≲2·target)
  * for the verify stage to stay linear.
  *
  * Usage: runMain graft.SemScale [nList]   (default 1250000,2500000,5000000)
  * Prints one JSON line; committed per round as SEMDEDUP_SCALE_r{N}.json.
  */
object SemScale {

  private val dim = 16

  private def corpus(spark: SparkSession, n: Long): DataFrame =
    spark.range(0L, n).toDF("vec_id")
      .select(col("vec_id"),
        transform(sequence(lit(0), lit(dim - 1)),
          i => (pmod(hash(col("vec_id") * dim + i), lit(1000)).cast("double")
            / 1000.0).cast("float")).as("embedding"))

  def main(args: Array[String]): Unit = {
    val ns = args.headOption.getOrElse("1250000,2500000,5000000")
      .split(",").map(_.trim.toLong).toSeq
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")

    def timed[T](body: => T): (T, Double) = {
      val t0 = System.nanoTime()
      val r = body
      (r, (System.nanoTime() - t0) / 1e9)
    }

    // JIT/codegen/scheduler warmup on the smallest shape, untimed
    corpus(spark, 100000L).agg(count(lit(1))).collect()

    // advised-geometry parity (VERDICT r12 next #7): the advisor's
    // history-backed recommendation must land on the same configuration
    // the hand-picked rule computes at every measured scale
    val adv = new graft.advisor.PlacementAdvisor

    val rows = ns.map { n =>
      val emb = corpus(spark, n)
      val k = Dedup.autoClusters(n)
      val g = adv.recommendSemGeometry(s"semscale_$n", n)
      // two-level cells in the two-level regime; 0 (the operator's own
      // kernel) when flat and past the tree threshold
      val advisedCells = if (k > Dedup.routeThreshold &&
          k <= SimilaritySearch.treeRouteThreshold)
        SimilaritySearch.sqrtCells(k) else 0
      val advisedMatch = g.clusters == k && g.routeCells == advisedCells
      require(advisedMatch,
        s"advised geometry (k=${g.clusters}, cells=${g.routeCells}) diverged " +
          s"from the static sizing (k=$k, cells=$advisedCells) at n=$n")
      // n is known by construction — seed the wide-sample prefilter
      // with it (VERDICT r18 next #4: re-certify the lifecycle on the
      // r18 sampler with the rowcount passed, first attempt certified)
      val attempts0 = SimilaritySearch.samplePrefilterAttempts.get()
      val hits0 = SimilaritySearch.samplePrefilterHits.get()
      val (sample, sampleS) = timed {
        SimilaritySearch.sampleVectors(
          emb, "vec_id", "embedding", math.max(10000, 2 * k),
          knownRowCount = n)
      }
      val sampleAttempts =
        SimilaritySearch.samplePrefilterAttempts.get() - attempts0
      val sampleHits = SimilaritySearch.samplePrefilterHits.get() - hits0
      require(sampleAttempts == sampleHits,
        s"seeded prefilter must certify with no relax steps at n=$n: " +
          s"$sampleAttempts attempts, $sampleHits hits")
      val (centroids, trainS) = timed {
        SimilaritySearch.trainCentroidsRouted(sample, k, iters = 3)
      }
      val codebook = SimilaritySearch.Codebook.routed(centroids)
      val regime = (codebook.kernel.toString, codebook.router match {
        case SimilaritySearch.RouteBranch(centers, _) => centers.length
        case _ => 1
      })
      val assign = codebook.assignUdf
      val (sizes, assignS) = timed {
        emb.select(assign(col("embedding")).as("c"))
          .groupBy(col("c")).agg(count(lit(1)).as("cnt"))
          .agg(sum(col("cnt") * col("cnt")).as("ss"),
            count(lit(1)).as("used"))
          .collect()(0)
      }
      val pairBound = sizes.getLong(0).toDouble / n
      val usedCells = sizes.getLong(1)
      // flat comparison at the smallest step only (k=10k is the old cap
      // boundary; at 40k the flat pass is the quadratic term this tool
      // exists to show gone — running it at every step would just burn
      // the wall clock re-proving O(n·k·d)), and only while n·k stays
      // under ~1e11 (the 2.5M×20k step measured 35 s; a 10M×80k flat
      // pass is 16× that — the 200k-cell runs start past this bound,
      // where the flat regime is exactly what they exist to avoid)
      val flatS =
        if (n == ns.min && n.toDouble * k <= 1.0e11) {
          val flat = SimilaritySearch.Codebook.flat(centroids).assignUdf
          Some(timed {
            emb.select(flat(col("embedding")).as("c"))
              .groupBy(col("c")).agg(count(lit(1)))
              .agg(count(lit(1))).collect()
          }._2)
        } else None
      // the PERSISTED-index lifecycle at the same scale (round 15: the
      // routed assignment + grouped cell directories now extend to
      // build/append/probe — this measures that path where it matters):
      // build the standing semantic index over the full corpus, append
      // a 1% arrival slice under the frozen codebook, probe a
      // 1000-arrival batch within its cells
      val root = java.nio.file.Files.createTempDirectory("graft-semscale-idx")
      val cat = new graft.storage.SetCatalog(spark, root.toString)
      // the build pays its own count (auto-k) and now threads it into
      // the trainer's prefilter seed — the r17 run started from the 1e9
      // default and paid ~2 extra full-corpus relax scans here
      val bAttempts0 = SimilaritySearch.samplePrefilterAttempts.get()
      val (_, buildS) = timed {
        Dedup.persistSemanticIndex(cat, "ss", "idx", emb,
          "vec_id", "embedding")
      }
      val buildAttempts =
        SimilaritySearch.samplePrefilterAttempts.get() - bAttempts0
      // expected attempts are REGIME-dependent (ADVICE r19): the
      // build's trainer sample is max(10000, 2k), and at or below
      // directSampleLimit sampleVectors takes the direct one-scan path
      // with ZERO prefilter attempts by design — requiring exactly one
      // crashed the default small-n steps (k ≤ 32768) outright. Wide
      // samples must still certify on the FIRST attempt (the seeded
      // prefilter's whole point); direct samples must take none.
      val expectedBuildAttempts =
        if (math.max(10000, 2 * k) > SimilaritySearch.directSampleLimit) 1
        else 0
      require(buildAttempts == expectedBuildAttempts,
        s"seeded build prefilter must take exactly " +
          s"$expectedBuildAttempts attempt(s) at n=$n (sample " +
          s"${math.max(10000, 2 * k)} vs direct limit " +
          s"${SimilaritySearch.directSampleLimit}): took $buildAttempts")
      val nDirs = {
        import scala.jdk.CollectionConverters._
        val s = java.nio.file.Files.list(
          java.nio.file.Paths.get(cat.dir("ss", "idx_vectors")))
        try s.iterator().asScala.count(p =>
          java.nio.file.Files.isDirectory(p))
        finally s.close()
      }
      val (_, appendS) = timed {
        Dedup.appendToSemanticIndex(cat, "ss", "idx",
          corpus(spark, n / 100).select(
            (col("vec_id") + n).as("vec_id"), col("embedding")),
          "vec_id", "embedding")
      }
      val standing = SimilaritySearch.loadIndexCodebook(spark, cat, "ss", "idx")
      val (probed, probeS) = timed {
        Dedup.semanticBatchPairs(
          corpus(spark, 1000L).select(
            (col("vec_id") + 2 * n).as("vec_id"), col("embedding")),
          standing, cat.scanSet("ss", "idx_vectors"),
          "vec_id", "embedding", threshold = 0.999).count()
      }
      // every probe row IS a corpus vector — its identity pair is in its
      // own cell by construction, so a shortfall is a lifecycle
      // assignment mismatch
      require(probed >= 1000L,
        s"index probe found $probed pairs for 1000 identity arrivals at n=$n")
      graft.storage.SetCatalog.deleteTree(root)
      System.err.println(f"[semscale] n=$n k=$k kernel=${regime._1} " +
        f"cells=${regime._2} " +
        f"sample=$sampleS%.1f train=$trainS%.1f assign=$assignS%.1f " +
        f"flat=${flatS.getOrElse(Double.NaN)}%.1f ssOverN=$pairBound%.1f " +
        f"idx_build=$buildS%.1f idx_dirs=$nDirs idx_append=$appendS%.1f " +
        f"idx_probe=$probeS%.1f")
      (n, k, regime, usedCells, sampleS, trainS, assignS, flatS, pairBound,
        buildS, nDirs, appendS, probeS, buildAttempts)
    }

    def r2(d: Double) = "%.2f".formatLocal(java.util.Locale.ROOT, d)
    val steps = rows.map {
      case (n, k, (kernel, cells), used, sa, tr, as, fl, pb, ib, nd, ia, ip, ba) =>
        s"""{"n":$n,"k":$k,"kernel":"$kernel","cells":$cells,""" +
          s""""cells_used":$used,""" +
          s""""advised_match":true,""" +
          s""""sample_s":${r2(sa)},"train_s":${r2(tr)},"assign_s":${r2(as)},""" +
          s""""flat_assign_s":${fl.map(r2).getOrElse("null")},""" +
          s""""pairs_per_row_bound":${r2(pb)},""" +
          s""""index_build_s":${r2(ib)},"index_dirs":$nd,""" +
          s""""index_append_s":${r2(ia)},"index_probe_s":${r2(ip)},""" +
          s""""build_prefilter_attempts":$ba}"""
    }.mkString("[", ",", "]")
    // growth exponents between consecutive steps: log(time ratio)/log(n
    // ratio) — ~1.0 is linear, the flat regime this replaces measures ~2
    val exps = rows.sliding(2).collect {
      case Seq((n1, _, _, _, _, t1, a1, _, _, b1, _, _, _, _),
          (n2, _, _, _, _, t2, a2, _, _, b2, _, _, _, _)) =>
        val ln = math.log(n2.toDouble / n1)
        s"""{"n_ratio":${r2(n2.toDouble / n1)},""" +
          s""""assign_exp":${r2(math.log(a2 / a1) / ln)},""" +
          s""""train_exp":${r2(math.log(t2 / t1) / ln)},""" +
          s""""index_build_exp":${r2(math.log(b2 / b1) / ln)}}"""
    }.mkString("[", ",", "]")
    println(s"""{"metric":"semdedup_scale","unit":"sec","dim":$dim,""" +
      s""""target_cluster_size":125,"steps":$steps,"growth":$exps}""")
    spark.stop()
  }
}
