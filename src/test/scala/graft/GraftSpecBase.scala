package graft

import java.nio.file.{Files, Path}
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
