package graft

import java.nio.file.{Files, Path}
import scala.jdk.CollectionConverters._
import org.apache.spark.ListenerBusDrain
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.SparkSession
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

/** Shared session per suite; fixtures at sf0.001 for speed. */
trait GraftSpecBase extends AnyFunSuite with BeforeAndAfterAll {
  val sfDir = "/root/testdata/sf0.001"

  lazy val spark: SparkSession = GraftSpecBase.sharedSpark

  private val tempRoots = new java.util.concurrent.ConcurrentLinkedQueue[Path]

  /** A fresh temp directory named `prefix…`, deleted with everything
    * under it when the suite ends.
    */
  def tempRoot(prefix: String): Path = {
    val p = Files.createTempDirectory(prefix)
    tempRoots.add(p)
    p
  }

  /** Spark jobs started while `body` runs (listener bus drained on both
    * sides, so no event of `body` is missed or leaks in).
    */
  def jobsOf(body: => Unit): Int = jobSitesOf(body).size

  /** The call sites of each Spark job started while `body` runs, one
    * string per job: the stacks, from the first frame outside Spark,
    * that created its stages.
    */
  def jobSitesOf(body: => Unit): Seq[String] = {
    val sc = spark.sparkContext
    ListenerBusDrain(sc)
    val sites = new java.util.concurrent.ConcurrentLinkedQueue[String]
    val l = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        sites.add(e.stageInfos.map(_.details).mkString("\n"))
    }
    sc.addSparkListener(l)
    try { body; ListenerBusDrain(sc) } finally sc.removeSparkListener(l)
    sites.asScala.toSeq
  }

  /** The parquet data files under `dir`, counted by a listing. */
  def listedFiles(dir: String): Long = {
    import scala.jdk.CollectionConverters._
    val w = Files.walk(java.nio.file.Paths.get(dir))
    try w.iterator().asScala.count(p => Files.isRegularFile(p) &&
      p.getFileName.toString.endsWith(".parquet")).toLong
    finally w.close()
  }

  override def afterAll(): Unit =
    try tempRoots.forEach(graft.storage.SetCatalog.deleteTree(_))
    finally super.afterAll()
}

object GraftSpecBase {
  lazy val sharedSpark: SparkSession = {
    val s = SparkSession.builder()
      .master("local[4]")
      .appName("graft-tests")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.extensions", "graft.GraftExtensions")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.warehouse.dir", "/tmp/graft-warehouse")
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }
}
