package graft

import scala.jdk.CollectionConverters._
import org.scalatest.funsuite.AnyFunSuite

/** Source-level guard on Scaladoc placement. */
class DocCommentSpec extends AnyFunSuite {

  test("no doc comment sits directly on top of another in src/main") {
    // Scaladoc attaches only the doc comment nearest a definition: a
    // `/** */` block directly above another documents nothing
    val stacked = java.nio.file.Files
      .walk(java.nio.file.Paths.get("src/main")).iterator().asScala
      .filter(_.toString.endsWith(".scala")).toList
      .flatMap { p =>
        java.nio.file.Files.readAllLines(p).asScala.toSeq.sliding(2)
          .zipWithIndex.collect {
            case (Seq(a, b), i) if a.trim.endsWith("*/") &&
                b.trim.startsWith("/**") => s"$p:${i + 2}"
          }
      }
    assert(stacked.isEmpty, s"stacked doc comments at: $stacked")
  }
}
