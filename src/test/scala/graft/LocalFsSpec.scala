package graft

import java.net.URI
import java.nio.file.{Files, Path => JPath}
import java.nio.file.attribute.PosixFilePermissions

import scala.jdk.CollectionConverters._

import jdk.jfr.Recording
import jdk.jfr.consumer.RecordingFile
import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{AbstractFileSystem, FileSystem, Path, RawLocalFileSystem}
import org.apache.hadoop.fs.permission.FsPermission
import org.apache.hadoop.io.nativeio.NativeIO
import org.apache.spark.sql.functions.col

import graft.operators.Dedup
import graft.storage.{InProcessLocalFileSystem, InProcessLocalFs, InProcessRawLocalFileSystem, LocalFs, SetCatalog}

/** graft's sessions read and write `file:` paths without starting a
  * process, with the stock filesystem's permissions and link statuses.
  */
class LocalFsSpec extends GraftSpecBase {

  /** Commands of the processes Hadoop's `Shell` starts while `body` runs. */
  private def shellForks(body: => Unit): Seq[String] = {
    val rec = new Recording()
    rec.enable("jdk.ProcessStart").withStackTrace()
    rec.start()
    try body finally rec.stop()
    val dump = Files.createTempFile("graft-forks", ".jfr")
    try {
      rec.dump(dump)
      RecordingFile.readAllEvents(dump).asScala.toSeq
        .filter(e => Option(e.getStackTrace).exists(_.getFrames.asScala.exists(
          _.getMethod.getType.getName.startsWith("org.apache.hadoop.util.Shell"))))
        .map(_.getString("command"))
    } finally { rec.close(); Files.deleteIfExists(dump) }
  }

  private def perms(p: JPath): String =
    PosixFilePermissions.toString(Files.getPosixFilePermissions(p))

  private def rawFs(fs: RawLocalFileSystem): RawLocalFileSystem = {
    fs.initialize(URI.create("file:///"), new Configuration())
    fs
  }

  test("a parquet write, an st_* query and an index append start no process") {
    import spark.implicits._
    val root = tempRoot("graft-localfs").toString
    val rnd = new scala.util.Random(5)
    (0L until 300L).map(i => (i, Seq.fill(16)(rnd.nextGaussian().toFloat)))
      .toDF("vec_id", "embedding").write.parquet(s"$root/corpus")
    val corpus = spark.read.parquet(s"$root/corpus")
    val cat = new SetCatalog(spark, s"$root/sets")
    Dedup.persistSemanticIndex(cat, "j", "sem",
      corpus.where(col("vec_id") < 100), "vec_id", "embedding", nClusters = 4)
    var pass = 0
    def body(): Unit = {
      pass += 1
      spark.range(100).write.parquet(s"$root/out$pass")
      SparkEntry.queries("st_sliding")(spark, sfDir).collect()
      Dedup.appendToSemanticIndex(cat, "j", "sem", corpus.where(
        col("vec_id") >= 100L * pass && col("vec_id") < 100L * (pass + 1)),
        "vec_id", "embedding")
    }
    // the first pass also meets Shell's once-per-JVM probes (setsid)
    body()
    val forks = shellForks(body())
    assert(forks.size == 0, s"Hadoop forked: ${forks.distinct.take(5)}")
    val conf = spark.sparkContext.hadoopConfiguration
    if (!NativeIO.isAvailable) {
      assert(FileSystem.get(URI.create("file:///"), conf)
        .isInstanceOf[InProcessLocalFileSystem])
      assert(AbstractFileSystem.get(URI.create("file:///"), conf)
        .isInstanceOf[InProcessLocalFs])
    }
    assert(cat.meta("j", "sem_vectors").get.rows == 300L)
  }

  test("files and directories get the stock permissions") {
    val root = tempRoot("graft-perms")
    spark.range(10).repartition(2).write.parquet(s"$root/out")
    val w = Files.walk(root.resolve("out"))
    val (dirs, files) = try w.iterator().asScala.toSeq.partition(Files.isDirectory(_))
      finally w.close()
    assert(files.count(_.getFileName.toString.startsWith("part-")) == 2)
    assert(files.map(perms).toSet == Set("rw-r--r--"))
    assert(dirs.map(perms).toSet == Set("rwxr-xr-x"))
    // explicit modes land as the stock chmod leaves them
    val ours = rawFs(new InProcessRawLocalFileSystem)
    val stock = rawFs(new RawLocalFileSystem)
    for (mode <- Seq("rw-r-----", "rwx--x---", "r---w---x")) {
      val a = Files.createFile(root.resolve(s"a$mode"))
      val b = Files.createFile(root.resolve(s"b$mode"))
      val p = FsPermission.valueOf("-" + mode)
      ours.setPermission(new Path(a.toString), p)
      stock.setPermission(new Path(b.toString), p)
      assert(perms(a) == mode && perms(b) == mode)
    }
  }

  test("a link status equals the stock one, on links and on plain files") {
    val root = tempRoot("graft-links")
    val target = Files.write(root.resolve("target"), "x".getBytes)
    val link = Files.createSymbolicLink(root.resolve("link"), target)
    val ours = rawFs(new InProcessRawLocalFileSystem)
    val stock = rawFs(new RawLocalFileSystem)
    for (p <- Seq(link, target, root).map(q => new Path(q.toString))) {
      val (a, b) = (ours.getFileLinkStatus(p), stock.getFileLinkStatus(p))
      assert(a.isSymlink == b.isSymlink && a.isDirectory == b.isDirectory &&
        a.getLen == b.getLen && a.getPath == b.getPath, s"$p: $a vs $b")
      if (b.isSymlink) assert(a.getSymlink == b.getSymlink)
    }
    assert(stock.getFileLinkStatus(new Path(link.toString)).isSymlink)
    assertThrows[java.io.FileNotFoundException](
      ours.getFileLinkStatus(new Path(root.resolve("missing").toString)))
  }

  test("a user's own file-scheme classes are left alone") {
    val user = new Configuration(false)
    user.set("fs.file.impl", "org.example.UserFs")
    assert(!LocalFs.install(user))
    assert(user.get("fs.file.impl") == "org.example.UserFs")
    assert(user.get("fs.AbstractFileSystem.file.impl") == null)
    val stock = new Configuration(false)
    stock.set("fs.AbstractFileSystem.file.impl", "org.apache.hadoop.fs.local.LocalFs")
    assert(LocalFs.install(stock) == !NativeIO.isAvailable)
    if (!NativeIO.isAvailable)
      assert(stock.get("fs.file.impl") == classOf[InProcessLocalFileSystem].getName &&
        stock.get("fs.AbstractFileSystem.file.impl") == classOf[InProcessLocalFs].getName)
  }
}
