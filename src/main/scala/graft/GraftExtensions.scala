package graft

import org.apache.spark.SparkContext
import org.apache.spark.sql.SparkSessionExtensions
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.{Expression, ExpressionInfo, Literal}
import org.apache.spark.sql.types.IntegerType
import graft.functions.{DotProduct, WordShingles}

/** Session extensions registering graft's native expressions for SQL use
  * plus the bucketed-set analyzer rule:
  *
  * {{{
  * SparkSession.builder()
  *   .config("spark.sql.extensions", "graft.GraftExtensions")...
  * spark.sql("SELECT dot_product(a.embedding, b.embedding) FROM ...")
  * }}}
  *
  * (Custom-operator paths (b)+(c) from the design notes: native
  * expressions for SQL, and one resolution rule —
  * [[graft.plans.BucketedSetReads]] — that restores the co-partitioned
  * local-join plan for bucketed sets read through the `graft.*` SQL
  * catalog. Every other operator's plan shape is already expressible with
  * built-in logical operators, so no custom Strategy is warranted; see
  * SURVEY.md §7.3.)
  *
  * The builders live on the companion so the test suite exercises the SAME
  * argument handling the extension installs, not a reimplementation.
  *
  * Applying the extensions also installs [[graft.storage.LocalFs]] on the
  * context's Hadoop configuration. It has to happen here: the builder
  * creates the context before it applies extensions, and applies them
  * before `SharedState` first caches the `file:` filesystem, whose cache
  * key ignores the implementation class.
  */
object GraftExtensions {

  val dotProductBuilder: Seq[Expression] => Expression = { args =>
    require(args.length == 2, "dot_product(a, b) takes two array columns")
    DotProduct(args.head, args(1))
  }

  val wordShinglesBuilder: Seq[Expression] => Expression = { args =>
    require(args.length == 2, "word_shingles(text, n) takes text + width")
    val n = args(1) match {
      case Literal(v: Int, IntegerType) => v
      case other => throw new IllegalArgumentException(
        s"word_shingles width must be an integer literal, got $other")
    }
    WordShingles(args.head, n)
  }
}

class GraftExtensions extends (SparkSessionExtensions => Unit) {
  override def apply(e: SparkSessionExtensions): Unit = {
    e.injectFunction((
      new FunctionIdentifier("dot_product"),
      new ExpressionInfo(classOf[DotProduct].getName, "dot_product"),
      GraftExtensions.dotProductBuilder))
    e.injectFunction((
      new FunctionIdentifier("word_shingles"),
      new ExpressionInfo(classOf[WordShingles].getName, "word_shingles"),
      GraftExtensions.wordShinglesBuilder))
    e.injectResolutionRule(graft.plans.BucketedSetReads(_))
    graft.storage.LocalFs.install(SparkContext.getOrCreate().hadoopConfiguration)
  }
}
