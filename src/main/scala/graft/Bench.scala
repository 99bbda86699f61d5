package graft
import org.apache.spark.sql.SparkSession

/** Registry-floor timer: runs every registered query against
  * SPARK_GRAFT_SF_DIR and reports each query's minimum wall seconds.
  * Results are forced through the noop DSv2 sink so the whole plan
  * executes (a bare count() would let Spark prune projections).
  *
  * Settable values: SPARK_GRAFT_SF_DIR (fixture directory),
  * SPARK_GRAFT_CPUS (`local[N]` and shuffle partitions), SPARK_GRAFT_ONLY
  * (comma-separated query subset), SPARK_GRAFT_PREV_PREFIX (artifact
  * family, default `BENCH_r`) and SPARK_GRAFT_ROUND (round number of the
  * committed artifact).
  *
  * Output:
  *  - two `{"metric":"total",…}` stdout lines: the full per-query line,
  *    then a summary line with the ten most expensive queries only, so the
  *    final line stays JSON-parseable inside the driver's ~2,000-char log
  *    tail at any registry size;
  *  - `target/bench_latest.json`: every pass at full precision plus the
  *    operator diagnostics;
  *  - the committed `BENCH_full_{family}{N}.json`, the same shape,
  *    min-merged across runs of the same round.
  *
  * The calibration probe timed at run start and end measures the host's
  * regime, not any plan: a slow probe means the host was slow. Per-layer
  * cost (CPU, shuffle, deserialization and GC by stage tag) is measured by
  * `benchmark/run.py --trace 1`, not here.
  */
object Bench {

  /** Timed passes per query. The host swings 1.5-3× between IO regimes,
    * so one pass cannot tell a plan regression from a slow window; the
    * reported figure is the minimum, and every pass is kept under
    * "passes" so the regime stays visible.
    */
  private val Passes = 2

  /** Fixed synthetic workload used both as untimed warmup and as the
    * timed calibration probe: agg + join + sort + a small parquet
    * round-trip, touching the scheduler, whole-stage codegen, shuffle,
    * and file-commit paths whose contention is exactly what skews the
    * query timings. No fixture data — a timed probe gives no query a
    * data head start.
    */
  private def probe(spark: SparkSession): Unit = {
    import org.apache.spark.sql.functions._
    val w = spark.range(0, 200000).toDF("id")
      .withColumn("k", col("id") % 97)
      .withColumn("s", concat(lit("w"), col("id") % 31))
    val agg = w.groupBy("k").agg(count(lit(1)).as("c"), sum("id").as("s"))
    val j = agg.join(w.select(col("k"), col("s")).distinct(), "k")
      .orderBy(desc("c")).limit(100)
    j.write.format("noop").mode("overwrite").save()
    val tmp = java.nio.file.Files.createTempDirectory("graft-warm").toString
    w.limit(1000).write.mode("overwrite").parquet(tmp)
    graft.storage.ParquetPaths.read(spark, tmp).filter(col("k") > 3).select(col("s"))
      .write.format("noop").mode("overwrite").save()
    graft.storage.SetCatalog.deleteTree(java.nio.file.Paths.get(tmp))
  }

  private def timed(body: => Unit): Double = {
    val t0 = System.nanoTime()
    body
    (System.nanoTime() - t0) / 1e9
  }

  private def r3(d: Double): String = "%.3f".formatLocal(java.util.Locale.ROOT, d)

  /** A query's reported figure: the minimum over its passes, ignoring
    * failed (NaN) passes; None when every pass failed. */
  private def minOk(v: Seq[Double]): Option[Double] = {
    val ok = v.filterNot(_.isNaN)
    if (ok.isEmpty) None else Some(ok.min)
  }

  /** One `{"metric":"total",…}` object. Keys in this order: metric, unit,
    * sf, [summary_of,] queries, failed, calibration, `extra`'s keys, value.
    * `value` is LAST so the total survives any front truncation of the
    * line; `queries` is rendered in the order given, null for a query
    * whose passes all failed.
    */
  private[graft] def renderTotal(
      sf: String, summaryOf: Option[Int], queries: Seq[(String, Option[Double])],
      failed: Seq[String], calibration: (Double, Double), total: Double,
      extra: String = ""): String = {
    val qs = queries.map { case (k, v) => "\"" + k + "\":" + v.map(r3).getOrElse("null") }
      .mkString("{", ",", "}")
    val fs = failed.map("\"" + _ + "\"").mkString("[", ",", "]")
    s"""{"metric":"total","unit":"sec","sf":"$sf",""" +
      summaryOf.fold("")(n => s""""summary_of":$n,""") +
      s""""queries":$qs,"failed":$fs,""" +
      s""""calibration":{"start":${r3(calibration._1)},"end":${r3(calibration._2)}}""" +
      s"""$extra,"value":${r3(total)}}"""
  }

  /** The full-precision artifact (`target/bench_latest.json` and the
    * committed `BENCH_full_*`): the total line's keys plus `merged_runs`
    * (merged artifacts only), the diagnostics block and every pass (a
    * failed pass is null). Minima, failed list and total are recomputed
    * from `passes`, so a merged artifact is consistent by construction.
    */
  private[graft] def renderFull(
      sf: String, passes: Map[String, Seq[Double]], calibration: (Double, Double),
      mergedRuns: Option[Int], diagnostics: String): String = {
    val byCost = passes.toSeq
      .map { case (k, v) => k -> minOk(v) }
      .sortBy { case (k, m) => (m.getOrElse(-1.0), k) }
    val ps = passes.toSeq.sortBy(_._1).map { case (k, v) =>
      "\"" + k + "\":" + v.map(d => if (d.isNaN) "null" else d.toString)
        .mkString("[", ",", "]")
    }.mkString("{", ",", "}")
    renderTotal(sf, None, byCost, byCost.collect { case (k, None) => k },
      calibration, byCost.flatMap(_._2).sum,
      mergedRuns.fold("")(n => s""","merged_runs":$n""") +
        s""",$diagnostics,"passes":$ps""")
  }

  /** Operator-internals diagnostics for the committed artifact
    * (VERDICT r18 stretch #8): the distributed union-find's pass count
    * (bounded O(log diameter); −1 = driver regime / not exercised) and
    * the wide-sample prefilter's attempt/hit counters (a
    * certification-rate regression — hits falling behind attempts —
    * shows up in the artifact diff).
    * Counters cover THIS run's queries, cumulative across the JVM.
    * Shape pinned by BenchScrapeSpec.
    */
  private[graft] def renderDiagnostics(): String =
    s""""diagnostics":{"cc_passes":${
      graft.operators.Dedup.lastCcPasses},""" +
      s""""sampler_attempts":${
        graft.operators.SimilaritySearch.samplePrefilterAttempts.get()},""" +
      s""""sampler_hits":${
        graft.operators.SimilaritySearch.samplePrefilterHits.get()}}"""

  /** Per-query per-pass seconds out of a committed full artifact's
    * "passes" block (nulls — failed passes — become NaN, preserving the
    * pass count), plus its merged-runs stamp (1 when absent). Unreadable
    * text yields no passes, so the caller overwrites it. The merge reader
    * for [[mergeFullPasses]]; package-visible for BenchScrapeSpec.
    */
  private[graft] def parseFullPasses(
      text: String): (Map[String, Seq[Double]], Int) = {
    import org.json4s._
    try {
      val root = org.json4s.jackson.JsonMethods.parse(text)
      val passes = root \ "passes" match {
        case JObject(fields) => fields.flatMap { case (k, v) =>
          v match {
            case JArray(vs) => Some(k -> vs.map {
              case JDouble(d) => d
              case JInt(i) => i.toDouble
              case JDecimal(d) => d.toDouble
              case JLong(l) => l.toDouble
              case _ => Double.NaN
            })
            case _ => None
          }
        }.toMap
        case _ => Map.empty[String, Seq[Double]]
      }
      val runs = root \ "merged_runs" match {
        case JInt(i) => i.toInt
        case JLong(l) => l.toInt
        case JDouble(d) => d.toInt
        case _ => 1
      }
      (passes, runs)
    } catch {
      case scala.util.control.NonFatal(_) => (Map.empty[String, Seq[Double]], 1)
    }
  }

  /** Min-merge a new run's passes into an existing same-round full
    * artifact's (VERDICT r16 next #3): per query, the pass lists
    * CONCATENATE (minima and regime detail both survive); queries only
    * in the old artifact keep their passes (a post-commit subset run
    * must not shrink the round's record), queries only in the new run
    * join it. The committed three-run min-merge convention, in code —
    * a post-commit driver run folds into the round's artifact instead
    * of overwriting a better-windowed merge.
    */
  private[graft] def mergeFullPasses(
      old: Map[String, Seq[Double]],
      next: Map[String, Seq[Double]]): Map[String, Seq[Double]] =
    (old.keySet ++ next.keySet).iterator.map { k =>
      k -> (old.getOrElse(k, Seq.empty) ++ next.getOrElse(k, Seq.empty))
    }.toMap

  /** Write (or merge into) `BENCH_full_{family}{N}.json` in the working
    * directory. N is `round` when the caller names it (tools/sf1bench.sh
    * passes its ROUND through, so both of a round's artifacts share the
    * number), else the newest `{family}{M}.json` + 1. An existing file of
    * the same round is merged, not overwritten; one with no readable
    * passes is overwritten.
    */
  private def writeCommitted(
      family: String, round: Option[Int], sf: String,
      passes: Map[String, Seq[Double]], calibration: (Double, Double),
      diagnostics: String): Unit = {
    import java.nio.file.{Files, Paths}
    import java.nio.charset.StandardCharsets.UTF_8
    val n = round.getOrElse {
      val re = (java.util.regex.Pattern.quote(family) + """(\d+)\.json""").r
      Option(new java.io.File(".").listFiles()).getOrElse(Array.empty)
        .flatMap(_.getName match {
          case re(m) => Some(m.toInt)
          case _ => None
        }).foldLeft(0)(math.max) + 1
    }
    val target = Paths.get(family.replaceFirst("^BENCH_", "BENCH_full_") + n + ".json")
    val (oldPasses, oldRuns) =
      if (Files.exists(target)) parseFullPasses(new String(Files.readAllBytes(target), UTF_8))
      else (Map.empty[String, Seq[Double]], 0)
    val text =
      if (oldPasses.isEmpty) renderFull(sf, passes, calibration, None, diagnostics)
      else renderFull(sf, mergeFullPasses(oldPasses, passes), calibration,
        Some(oldRuns + 1), diagnostics)
    Files.write(target, (text + "\n").getBytes(UTF_8))
  }

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    // comma-separated subset filter (whitespace-tolerant; a blank value
    // means "no filter")
    val only = sys.env.get("SPARK_GRAFT_ONLY")
      .map(_.split(",").map(_.trim).filter(_.nonEmpty).toSet)
      .filter(_.nonEmpty)
    val family = sys.env.getOrElse("SPARK_GRAFT_PREV_PREFIX", "BENCH_r")
    val round = sys.env.get("SPARK_GRAFT_ROUND")
      .flatMap(s => scala.util.Try(s.trim.toInt).toOption)
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.extensions", "graft.GraftExtensions")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    // Untimed JIT/codegen/reader warmup on SYNTHETIC data (JMH practice;
    // measured elsewhere at ~10 s of first-query cost otherwise). No
    // fixture data is read or cached, so no timed query gets a data head
    // start; this only stops the alphabetically-first query from carrying
    // the JVM's one-time startup cost.
    probe(spark)
    val calibStart = timed(probe(spark))
    // A pass that throws records NaN, not its (fast-failure) wall time —
    // otherwise an instant plan error would become the reported minimum
    // and a broken query would read as a speedup.
    val results = SparkEntry.queries.toSeq.sortBy(_._1)
      .filter { case (n, _) => only.forall(_.contains(n)) }
      .map { case (name, fn) =>
        name -> (1 to Passes).map { _ =>
          try timed(fn(spark, sfDir).write.format("noop").mode("overwrite").save())
          catch { case e: Throwable =>
            System.err.println(s"[bench] $name failed: ${e.getMessage}")
            Double.NaN
          }
        }
      }
    val calibration = (calibStart, timed(probe(spark)))
    val minima = results.map { case (n, v) => n -> minOk(v) }
    val failed = minima.collect { case (n, None) => n }
    val total = minima.flatMap(_._2).sum
    // The full line is ordered ASCENDING by cost: when the driver's
    // bounded log tail cuts its front, only the sub-second floor is lost.
    println(renderTotal(sfDir, None, minima.sortBy(_._2.getOrElse(-1.0)),
      failed, calibration, total))
    // Printed LAST: the driver JSON-parses the final stdout line, and the
    // full line outgrew the tail window at the r10 registry size.
    // BenchScrapeSpec pins that this line fits it whole.
    val top10 = minima.collect { case (n, Some(s)) => (n, s) }
      .sortBy(-_._2).take(10).map { case (n, s) => n -> Some(s) }
    println(renderTotal(sfDir, Some(results.size), top10, failed, calibration, total))
    val diagnostics = renderDiagnostics()
    val out = java.nio.file.Paths.get("target", "bench_latest.json")
    java.nio.file.Files.createDirectories(out.getParent)
    java.nio.file.Files.write(out,
      (renderFull(sfDir, results.toMap, calibration, None, diagnostics) + "\n")
        .getBytes(java.nio.charset.StandardCharsets.UTF_8))
    // Only a full-registry run, or a run that names its round, may write
    // the committed artifact: an ad-hoc SPARK_GRAFT_ONLY probe would
    // otherwise clobber the round's record with a 3-query subset.
    if (only.isEmpty || round.isDefined) try {
      writeCommitted(family, round, sfDir, results.toMap, calibration, diagnostics)
    } catch { case scala.util.control.NonFatal(e) =>
      System.err.println(s"[bench] committed full artifact not written: $e")
    }
    spark.stop()
  }
}
