package graft

import java.nio.file.Files
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import graft.model.Tables
import graft.operators.MlWorkloads
import graft.la.BlockMatrix
import graft.sources.Sources

class SourcesSpec extends GraftSpecBase {

  test(".tbl (dbgen pipe-delimited) round-trip preserves content") {
    val tmp = tempRoot("graft-tbl").toString
    val nation = Tables.nation(spark, sfDir)
    Sources.writeTbl(nation, s"$tmp/nation.tbl")
    val schema = StructType(Seq(
      StructField("n_nationkey", IntegerType),
      StructField("n_name", StringType),
      StructField("n_regionkey", IntegerType)))
    val back = Sources.readTbl(spark, s"$tmp/nation.tbl", schema)
    val a = nation.collect().map(_.toSeq).toSet
    val b = back.collect().map(_.toSeq).toSet
    assert(a == b)
  }

  test("json-lines round-trip preserves content") {
    val tmp = tempRoot("graft-json").toString
    val docs = Tables.documents(spark, sfDir).limit(50)
    Sources.writeJsonLines(docs, s"$tmp/docs.json")
    val back = Sources.readJsonLines(spark, s"$tmp/docs.json")
      .select(docs.columns.map(col).toIndexedSeq: _*) // column order
    assert(back.collect().map(_.toSeq).toSet == docs.collect().map(_.toSeq).toSet)
  }

  test("FF inference matches local forward pass on a small batch") {
    import spark.implicits._
    val xLocal = Array(
      1.0, 0.0, -1.0, 2.0,
      0.5, 0.5, 1.0, -2.0)
    val w1Local = Array.tabulate(4 * 3)(i => math.sin(i.toDouble))
    val w2Local = Array.tabulate(3 * 2)(i => math.cos(i.toDouble))
    val x = BlockMatrix.fromLocal(spark, xLocal, 2, 4, 1, 2)
    val w1 = BlockMatrix.fromLocal(spark, w1Local, 4, 3, 2, 3)
    val w2 = BlockMatrix.fromLocal(spark, w2Local, 3, 2, 3, 2)
    val got = MlWorkloads.ffInference(x, w1, w2)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap

    def localPredict(row: Int): Long = {
      val h = Array.tabulate(3) { j =>
        math.max(0.0, (0 until 4).map(k => xLocal(row * 4 + k) * w1Local(k * 3 + j)).sum)
      }
      val logits = Array.tabulate(2) { c =>
        (0 until 3).map(j => h(j) * w2Local(j * 2 + c)).sum
      }
      logits.zipWithIndex.maxBy { case (v, i) => (v, -i) }._2.toLong
    }
    assert(got == Map(0L -> localPredict(0), 1L -> localPredict(1)))
  }

  test("binaryFile source ingests raw payloads with glob pruning") {
    val dir = tempRoot("graft-bin")
    java.nio.file.Files.write(dir.resolve("a.img"), Array[Byte](1, 2, 3))
    java.nio.file.Files.write(dir.resolve("b.img"), Array[Byte](4, 5))
    java.nio.file.Files.write(dir.resolve("skip.txt"), Array[Byte](9))
    val df = graft.sources.Sources.readBinaryFiles(
      spark, dir.toString, glob = Some("*.img"))
    val rows = df.select("path", "length", "content").collect()
      .map(r => (r.getString(0).split("/").last, r.getLong(1),
        r.getAs[Array[Byte]](2).toSeq)).sortBy(_._1)
    assert(rows.toSeq == Seq(
      ("a.img", 3L, Seq[Byte](1, 2, 3)), ("b.img", 2L, Seq[Byte](4, 5))))
  }
}
