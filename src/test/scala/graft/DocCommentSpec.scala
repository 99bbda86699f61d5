package graft

import scala.jdk.CollectionConverters._
import org.scalatest.funsuite.AnyFunSuite

/** Source-level guards: Scaladoc placement, one storage namespace, oracle
  * text in graft.queries, one stream start and one parquet path read.
  */
class DocCommentSpec extends AnyFunSuite {

  private def mainSources: List[java.nio.file.Path] = {
    val walk = java.nio.file.Files.walk(java.nio.file.Paths.get("src/main"))
    try walk.iterator().asScala.filter(_.toString.endsWith(".scala")).toList
    finally walk.close()
  }

  test("no doc comment sits directly on top of another in src/main") {
    // Scaladoc attaches only the doc comment nearest a definition: a
    // `/** */` block directly above another documents nothing
    val stacked = mainSources.flatMap { p =>
      java.nio.file.Files.readAllLines(p).asScala.toSeq.sliding(2)
        .zipWithIndex.collect {
          case (Seq(a, b), i) if a.trim.endsWith("*/") &&
              b.trim.startsWith("/**") => s"$p:${i + 2}"
        }
    }
    assert(stacked.isEmpty, s"stacked doc comments at: $stacked")
  }

  test("src/main keeps stored sets out of the session catalog") {
    // every stored set is files plus a sidecar under its catalog's root;
    // a session-catalog table would be a second namespace that neither
    // survives a restart nor tells two roots apart
    val banned = java.util.regex.Pattern.compile(
      "saveAsTable|sessionState\\.catalog|DROP TABLE")
    val hits = mainSources.flatMap { p =>
      java.nio.file.Files.readAllLines(p).asScala.zipWithIndex.collect {
        case (line, i) if banned.matcher(line).find() => s"$p:${i + 1}"
      }
    }
    assert(hits.isEmpty, s"session-catalog use in src/main at: $hits")
  }

  test("src/main keeps DuckDB oracle text out of graft/operators") {
    // every oracle is assembled in graft.queries from OracleSql's
    // fragments; an operator carries no SQL-text member for one
    val member = java.util.regex.Pattern.compile("\\b(?:val|def)\\s+\\w+Sql\\b")
    val hits = mainSources.filter(_.toString.contains("graft/operators/"))
      .flatMap { p =>
        java.nio.file.Files.readAllLines(p).asScala.zipWithIndex.collect {
          case (line, i) if member.matcher(line).find() => s"$p:${i + 1}"
        }
      }
    assert(hits.isEmpty, s"oracle SQL members under graft/operators at: $hits")
  }

  /** Each src/main line with the file and the `def` it sits under:
    * the last `def` opened above it.
    */
  private lazy val ownedLines: List[(String, String)] = {
    val defn = java.util.regex.Pattern.compile("\\bdef (\\w+)")
    mainSources.flatMap { p =>
      val lines = java.nio.file.Files.readAllLines(p).asScala.toList
      val owners = lines.scanLeft("?") { (owner, line) =>
        val m = defn.matcher(line)
        if (m.find()) m.group(1) else owner
      }.tail
      lines.zip(owners.map(o => s"${p.getFileName}:$o"))
    }
  }

  test("src/main starts micro-batch streams in Dedup.startBatches alone") {
    // one stream lifecycle: every foreachBatch stream starts in
    // startBatches; the only other writeStreams are the memory-sink drain
    // and the parquet sink
    def sites(pattern: String): List[String] = {
      val hit = java.util.regex.Pattern.compile(pattern)
      ownedLines.collect { case (line, owner) if hit.matcher(line).find() => owner }
    }
    assert(sites("\\.foreachBatch\\b") == List("Dedup.scala:startBatches"))
    val writeStreams = sites("\\.writeStream\\b")
    assert(writeStreams.toSet.subsetOf(Set("Dedup.scala:startBatches",
      "StreamingQueries.scala:drainToTable", "EventStreams.scala:writeToParquetSet")),
      s"writeStream outside the three stream starts: $writeStreams")
  }

  test("src/main stages and writes sets only inside graft/storage") {
    // one write route (SetCatalog.writeCounted) and one staged-replace
    // route (SetCatalog.replaceSets): the swap steps and the staging
    // names stay inside the storage package
    val swap = java.util.regex.Pattern.compile(
      "markStaging|swapSetGroup|recoverSwapGroup|_rebuild\"|_recap")
    val hits = mainSources.filterNot(_.toString.contains("graft/storage/"))
      .flatMap { p =>
        java.nio.file.Files.readAllLines(p).asScala.zipWithIndex.collect {
          case (line, i) if swap.matcher(line).find() => s"$p:${i + 1}"
        }
      }
    assert(hits.isEmpty, s"staging protocol outside graft/storage at: $hits")
    val catalog = mainSources.filter(_.endsWith("storage/SetCatalog.scala"))
    assert(catalog.size == 1)
    // a DataFrameWriter (`.write`), not writeCounted or writeMeta
    val writer = java.util.regex.Pattern.compile("\\.write\\b")
    val writes = java.nio.file.Files.readAllLines(catalog.head).asScala
      .zipWithIndex.collect { case (line, i) if writer.matcher(line).find() => i + 1 }
    assert(writes.isEmpty, s"SetCatalog.scala writes outside writeCounted at lines $writes")
  }

  test("src/main reads parquet by path only inside graft/storage") {
    // every path read outside the storage package goes through
    // ParquetPaths, whose memo spares the footer-inference job; a
    // DataFrameReader chain ending in `.parquet(` (or a parquet format)
    // elsewhere would infer on every call. A readStream names its schema.
    val read = java.util.regex.Pattern.compile(
      "\\.read\\b(?:\\s*\\.\\w+\\((?:[^()]|\\([^()]*\\))*\\))*" +
        "\\s*\\.(?:parquet\\(|format\\(\"parquet\"\\))")
    val hits = mainSources.filterNot(_.toString.contains("graft/storage/"))
      .flatMap { p =>
        val text = java.nio.file.Files.readString(p)
        val m = read.matcher(text)
        Iterator.continually(m).takeWhile(_.find())
          .map(m => s"$p:${text.take(m.start).count(_ == '\n') + 1}").toList
      }
    assert(hits.isEmpty, s"parquet read by path outside graft/storage at: $hits")
  }

  test("src/main has one standing-index lifecycle and one coarse-codebook load") {
    // buildIndex, appendToIndex, rebuildIndex and searchIndex serve every
    // index kind; a kind-named copy would be a second lifecycle to keep
    // in step
    val kindNamed = java.util.regex.Pattern.compile(
      "\\bdef (build|appendTo|rebuild|search)(Ivf|Pq|IvfPq)Index\\b")
    val copies = ownedLines.collect {
      case (line, owner) if kindNamed.matcher(line).find() => owner
    }
    assert(copies.isEmpty, s"kind-named lifecycle functions: $copies")
    // a `_centroids` set decodes through loadIndexCodebook's memo alone:
    // a second memoized load would skip its kernel and format checks
    val centroidLoads = ownedLines.groupBy(_._2).collect {
      case (owner, body) if body.exists(_._1.contains(".memoized(")) &&
          body.exists(_._1.contains("_centroids")) => owner
    }.toList
    assert(centroidLoads == List("SimilaritySearch.scala:loadIndexCodebook"),
      s"memoized `_centroids` loads: $centroidLoads")
  }
}
