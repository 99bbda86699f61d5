package graft.benchmark

import java.lang.management.ManagementFactory
import java.nio.file.{Files, Paths}

import scala.collection.mutable
import scala.util.Random

import org.apache.spark.ListenerDrain
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.col

import graft.SparkEntry
import graft.operators.Dedup
import graft.storage.SetCatalog

/** One benchmark process: set up, run the workload's mix closed-loop with
  * one client, and write every raw measurement to `<work>/run.json`.
  *
  * Arguments are `key=value` pairs: `work`, `inputs` (parquet tables),
  * `queries` (comma-separated registry names), `seed`, `warm` and
  * `passes` (untimed and measured passes of the mix), `trace`
  * (0|1), `cpus`, and for a standing index `corpus`, `index_rows`,
  * `index_k`, `append_rows`, `probe_rows`, `slices`.
  * Correctness of the registry results is judged by the caller against
  * DuckDB; the identity-arrival check of the probes is judged here.
  */
object Runner {
  private val t0Nanos = System.nanoTime()
  private val t0Ms = System.currentTimeMillis().toDouble
  /** Epoch milliseconds with sub-millisecond resolution, comparable with
    * the listener's event times. */
  def nowMs: Double = t0Ms + (System.nanoTime() - t0Nanos) / 1e6

  def main(args: Array[String]): Unit = {
    val jvmStartMs = ManagementFactory.getRuntimeMXBean.getStartTime.toDouble
    val a = args.map { kv =>
      val i = kv.indexOf('=')
      kv.take(i) -> kv.drop(i + 1)
    }.toMap
    val cfg = Cfg(a)
    Files.createDirectories(Paths.get(cfg.work))
    Files.writeString(Paths.get(cfg.work, "oracles.json"), Json.obj(
      cfg.queries.map(q => q -> SparkEntry.oracleSql.get(q).orNull): _*))

    // Setup: JVM start, session, (standing index build), untimed warm passes.
    val run = new Run(cfg, newSession(cfg))
    run.window("warm", -cfg.warm, cfg.warm)
    val setupSecs = (nowMs - jvmStartMs) / 1000
    val calibStart = run.calibrate()
    run.window("main", 0, cfg.passes)
    if (cfg.trace) run.tracedWindow()
    val calibEnd = run.calibrate()
    Files.writeString(Paths.get(cfg.work, "run.json"), Json.obj(
      "setup_s" -> setupSecs,
      "calib" -> Seq(calibStart, calibEnd),
      "rss_peak_mb" -> vmHwmMb,
      "passes" -> Json.raw(run.passes.mkString("[", ",", "]")),
      "ops" -> Json.raw(run.ops.mkString("[", ",", "]")),
      "trace" -> Json.raw(run.traceJson)))
    run.spark.stop()
  }

  final case class Cfg(a: Map[String, String]) {
    val work: String = a("work")
    val inputs: String = a("inputs")
    val queries: Seq[String] = a("queries").split(",").toSeq.filter(_.nonEmpty)
    val seed: Long = a("seed").toLong
    val warm: Int = a("warm").toInt
    val passes: Int = a("passes").toInt
    val trace: Boolean = a("trace") == "1"
    val cpus: Int = a("cpus").toInt
    val corpus: Option[String] = a.get("corpus")
    def int(k: String): Int = a(k).toInt
  }

  def newSession(cfg: Cfg): SparkSession = {
    val b = SparkSession.builder()
      .master(s"local[${cfg.cpus}]")
      .config("spark.sql.shuffle.partitions", cfg.cpus.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.extensions", "graft.GraftExtensions")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", s"${cfg.work}/spark-local")
      .config("spark.sql.warehouse.dir", s"${cfg.work}/warehouse")
    if (cfg.trace)
      b.config("spark.sql.streaming.streamingQueryListeners",
        classOf[StreamListener].getName)
    val s = b.getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }

  /** Peak resident set of this process (Linux `VmHWM`), in MB. */
  def vmHwmMb: Double = {
    val line = scala.io.Source.fromFile("/proc/self/status").getLines()
      .find(_.startsWith("VmHWM:")).getOrElse("VmHWM: 0 kB")
    line.split("\\s+")(1).toDouble / 1024
  }
}

/** The state of one session: the mix, the standing index and the records. */
final class Run(cfg: Runner.Cfg, val spark: SparkSession) {
  import Runner.nowMs

  val ops = mutable.ArrayBuffer.empty[String]
  val passes = mutable.ArrayBuffer.empty[String]
  private val spans = mutable.ArrayBuffer.empty[Trace.Span]
  private var tracing = false
  private var opSeq = 0
  private var listener: StageListener = null
  private val registry = SparkEntry.queries

  /** A span around one call into graft; while tracing, its tag rides into
    * every job the call submits from this thread. */
  private def span[T](kind: String)(body: => T): T =
    if (!tracing) body
    else {
      val tag = s"$opSeq:$kind"
      val sc = spark.sparkContext
      sc.setLocalProperty(Trace.TagKey, tag)
      val t0 = nowMs
      try body
      finally {
        spans += Trace.Span(tag, kind, t0, nowMs)
        sc.setLocalProperty(Trace.TagKey, null)
      }
    }

  private def record(window: String, pass: Int, name: String, kind: String,
      secs: Double, rows: Long, err: String, out: String): Unit = {
    System.err.println(f"[bench] $window%s pass $pass%d $name%s $secs%.3f s" +
      Option(err).fold("")(" FAILED " + _))
    if (window != "warm")
      ops += Json.arr(window, pass, name, kind, secs, rows, err, out)
  }

  private def timed(body: => Unit): (Double, String) = {
    opSeq += 1
    val t0 = nowMs
    val err = try { body; null } catch {
      case e: Throwable => s"${e.getClass.getName}: ${e.getMessage}".take(500)
    }
    ((nowMs - t0) / 1000, err)
  }

  def runQuery(window: String, pass: Int, name: String): Unit = {
    val out = s"${cfg.work}/out/$window/$pass/$name"
    val (secs, err) = timed {
      val df = span("queries.build")(registry(name)(spark, cfg.inputs))
      if (tracing) span("plans.plan")(df.queryExecution.executedPlan)
      span("sink.run")(df.write.mode("overwrite").parquet(out))
    }
    record(window, pass, name, "query", secs, -1, err, out)
  }

  /** Runs `n` whole passes of the mix, so every run measures the same mix
    * the same number of times. */
  def window(window: String, firstPass: Int, n: Int): Unit =
    for (pass <- firstPass until firstPass + n) {
      val tp = nowMs
      onePass(window, pass)
      if (window != "warm")
        passes += Json.arr(window, pass, (nowMs - tp) / 1000)
    }

  /** A second window with tracing on; the first ("main") ran with it off. */
  def tracedWindow(): Unit = {
    listener = new StageListener
    spark.sparkContext.addSparkListener(listener)
    StreamListener.enabled = true
    tracing = true
    window("traced", 1000, cfg.passes)
    tracing = false
    ListenerDrain(spark.sparkContext)
    StreamListener.enabled = false
    spark.sparkContext.removeSparkListener(listener)
  }

  def traceJson: String =
    if (listener == null) "null"
    else Json.obj(
      "spans" -> spans.map(s => Json.raw(Json.arr(s.tag, s.kind, s.startMs, s.endMs))),
      "listener" -> Json.raw(listener.json),
      "streaming" -> Json.raw(StreamListener.json))

  /** Best of three runs of a fixed synthetic job: the host's current speed. */
  def calibrate(): Double = (0 until 3).map { _ =>
    val t0 = nowMs
    spark.range(0L, 20000000L, 1L, cfg.cpus).selectExpr("sum(hash(id) % 1000)").collect()
    (nowMs - t0) / 1000
  }.min

  /** One pass of the mix in seeded order; with a standing index, one
    * append and probe at a seeded point of the pass. */
  private def onePass(window: String, pass: Int): Unit = {
    val rnd = new Random(cfg.seed * 1000003L + pass)
    val order = rnd.shuffle(cfg.queries)
    val at = rnd.nextInt(order.size)
    order.zipWithIndex.foreach { case (q, j) =>
      runQuery(window, pass, q)
      if (j == at) index.foreach(_.appendAndProbe(window, pass))
    }
  }

  /** The ingest workload's standing semantic index, built during setup. A
    * pass appends one slice and then probes the index with identity
    * arrivals: exact copies, under new ids, of standing vectors from the
    * base corpus and from the slice just appended, each of which must find
    * its own pair. */
  final class StandingIndex(path: String) {
    private val n0 = cfg.int("index_rows")
    private val sliceRows = cfg.int("append_rows")
    private val probeRows = cfg.int("probe_rows")
    private val slices = cfg.int("slices")
    private val corpus = spark.read.parquet(path)
    private val catalog = new SetCatalog(spark, s"${cfg.work}/sets")
    private val name = "standing"
    private var appended = 0

    {
      val (secs, err) = timed(span("index.build")(
        Dedup.persistSemanticIndex(catalog, "bench", name,
          corpus.where(col("id") < n0), "id", "vec", nClusters = cfg.int("index_k"))))
      record("setup", 0, "index_build", "build", secs, n0, err, null)
      if (err != null) throw new IllegalStateException(err)
    }
    private val probe = Dedup.semanticProbeFn(catalog, "bench", name, "id", "vec", 0.9)

    def appendAndProbe(window: String, pass: Int): Unit = {
      val lo = n0 + (appended % slices) * sliceRows
      val shift = (appended / slices).toLong * Run.ArrivalOffset / 100
      appended += 1
      val slice = corpus.where(col("id") >= lo && col("id") < lo + sliceRows)
        .select((col("id") + shift).as("id"), col("vec"))
      val (appSecs, appErr) = timed(span("index.append")(
        Dedup.appendToSemanticIndex(catalog, "bench", name, slice, "id", "vec")))
      record(window, pass, "index_append", "append", appSecs, sliceRows, appErr, null)
      val rnd = new Random(cfg.seed * 7919L + appended)
      val sources = (Seq.fill(probeRows / 2)(rnd.nextInt(n0).toLong) ++
        Seq.fill(probeRows - probeRows / 2)((lo + rnd.nextInt(sliceRows)).toLong)).distinct
      val arrivals = corpus.where(col("id").isin(sources: _*))
        .select((col("id") + Run.ArrivalOffset).as("id"), col("vec"))
      var pairs = Set.empty[(Long, Long)]
      val (probeSecs, probeErr) = timed(span("index.probe") {
        pairs = probe(arrivals).select("id_a", "id_b").collect()
          .map(r => (r.getLong(0), r.getLong(1))).toSet
      })
      // a source from the appended slice stands under its shifted id
      val missing = sources.count { s =>
        val standing = if (s >= n0) s + shift else s
        !pairs.contains((standing, s + Run.ArrivalOffset))
      }
      val err = Option(probeErr).getOrElse(
        if (missing > 0) s"$missing of ${sources.size} identity arrivals missed their pair"
        else null)
      record(window, pass, "index_probe", "probe", probeSecs, sources.size, err, null)
    }
  }

  private val index = cfg.corpus.map(new StandingIndex(_))
}

object Run {

  /** Arrival ids are standing ids shifted past every corpus id. */
  val ArrivalOffset = 1000000000L
}
