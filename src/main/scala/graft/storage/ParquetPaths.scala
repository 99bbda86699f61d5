package graft.storage

import java.nio.file.{FileVisitOption, Files, Path, Paths}
import java.nio.file.attribute.{BasicFileAttributes, FileTime}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.types.StructType

/** Parquet reads by path under a remembered schema: the path-keyed twin
  * of [[SetCatalog]]'s per-set memo, and the one route by which code
  * outside this package reads parquet by path (fixture tables, the event
  * stream's schema, Pdml loads, computation scans).
  *
  * A plain `spark.read.parquet(path)` infers the schema from the files'
  * footers, and that inference is a Spark job of its own on every call.
  * Here the first read of a path infers once and remembers the schema;
  * a later read of the same files reads with `.schema(remembered)`,
  * which resolves to the same relation (file sources read the data
  * schema as nullable either way) and runs no job.
  *
  * An entry is keyed on the path, the reader options, and the SQL confs
  * that change what inference returns; it holds the stamp of every
  * listed file (relative name, size, full-resolution mtime, file key)
  * and is used only while the files still carry those stamps. It is
  * not keyed on the session, so every session of the JVM shares it
  * (streaming queries open a new session per call). Only local paths
  * are remembered, glob paths and other filesystems infer on every
  * call, and at most [[MaxEntries]] entries are kept.
  */
object ParquetPaths {

  /** Entries kept; the least recently used one goes first. */
  val MaxEntries = 256

  /** The SQL confs under which the same footers infer differently. */
  private val InferenceConfs = Seq(
    "spark.sql.legacy.parquet.nanosAsLong",
    "spark.sql.parquet.binaryAsString",
    "spark.sql.parquet.int96AsTimestamp",
    "spark.sql.parquet.inferTimestampNTZ.enabled",
    "spark.sql.parquet.mergeSchema",
    "spark.sql.caseSensitive")

  private final case class Key(
      path: String, options: Map[String, String], confs: Seq[Option[String]])
  private final case class Stamp(
      name: String, size: Long, mtime: FileTime, fileKey: Option[AnyRef])

  private val memo = new java.util.LinkedHashMap[Key, (Seq[Stamp], StructType)](
    16, 0.75f, true) {
    override def removeEldestEntry(
        e: java.util.Map.Entry[Key, (Seq[Stamp], StructType)]): Boolean =
      size > MaxEntries
  }

  /** The parquet files at `path` read with `options`: under the
    * remembered schema when the files are unchanged since it was
    * inferred, else inferred and then remembered.
    */
  def read(spark: SparkSession, path: String,
      options: Map[String, String] = Map.empty): DataFrame = {
    val reader = spark.read.options(options)
    val at = entryOf(spark, path, options)
    val known = at.flatMap { case (key, _, files) =>
      memo.synchronized(Option(memo.get(key))).collect {
        case (was, schema) if was == files => schema
      }
    }
    known match {
      case Some(schema) => reader.schema(schema).parquet(path)
      case None =>
        val df = reader.parquet(path)
        at.foreach { case (key, root, files) =>
          // kept only when no file changed while the footers were read
          if (stampsOf(root, key.options).contains(files))
            memo.synchronized(memo.put(key, (files, df.schema)))
        }
        df
    }
  }

  /** The memo key of a read, with the local root it lists and that
    * root's file stamps; None when the read is not remembered.
    */
  private def entryOf(spark: SparkSession, path: String,
      options: Map[String, String]): Option[(Key, Path, Seq[Stamp])] =
    localPath(path).flatMap { root =>
      val key = Key(root.toString,
        options.map { case (k, v) => k.toLowerCase(java.util.Locale.ROOT) -> v },
        InferenceConfs.map(spark.conf.getOption))
      stampsOf(root, key.options).map((key, root, _))
    }

  /** `path` as an absolute local path, when it names a local one that
    * is not a glob.
    */
  private def localPath(path: String): Option[Path] =
    try {
      val uri = new org.apache.hadoop.fs.Path(path).toUri
      val local = Option(uri.getScheme).forall(_ == "file") &&
        !path.exists("{}[]*?\\".contains(_))
      Option.when(local)(Paths.get(uri.getPath).toAbsolutePath.normalize)
    } catch { case _: IllegalArgumentException => None }

  /** Every regular file under `root` whose name the reader's
    * `pathGlobFilter` admits, stamped; None when the walk fails (a
    * missing root among its causes).
    */
  private def stampsOf(root: Path, options: Map[String, String]): Option[Seq[Stamp]] = {
    try {
      val glob = options.get("pathglobfilter").map(new org.apache.hadoop.fs.GlobFilter(_))
      val walk = Files.walk(root, FileVisitOption.FOLLOW_LINKS)
      try Some(walk.iterator().asScala.flatMap { q =>
        val a = Files.readAttributes(q, classOf[BasicFileAttributes])
        Option.when(a.isRegularFile &&
            glob.forall(_.accept(new org.apache.hadoop.fs.Path(q.toUri)))) {
          Stamp(root.relativize(q).toString, a.size, a.lastModifiedTime,
            Option(a.fileKey))
        }
      }.toVector.sortBy(_.name))
      finally walk.close()
    } catch { case _: java.io.IOException | _: java.io.UncheckedIOException => None }
  }
}
