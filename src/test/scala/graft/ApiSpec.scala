package graft

import org.apache.spark.sql.functions._
import graft.api.{ColComp, Graft, TypedComp}
import graft.model.{Customer, Nation, Tables}
import graft.operators.{MonoidAggregator, Monoids, TopKAggregator}

/** Computation-facade semantics: each operator from SURVEY.md §2.1 through
  * the typed ("native lambda") and columnar ("recognized lambda") surfaces.
  */
class ApiSpec extends GraftSpecBase {
  private lazy val g = Graft.session(spark)
  private def customers: TypedComp[Customer] = {
    implicit val enc = org.apache.spark.sql.Encoders.product[Customer]
    g.scan[Customer](s"$sfDir/customer.parquet")
  }

  test("SelectionComp: filter + project") {
    import spark.implicits._
    val rich = customers
      .select(_.c_acctbal > 9000.0)(c => (c.c_custkey, c.c_acctbal))
      .ds.collect()
    val expected = Tables.customer(spark, sfDir)
      .filter(col("c_acctbal") > 9000.0).count()
    assert(rich.length == expected && rich.forall(_._2 > 9000.0))
  }

  test("MultiSelectionComp: filter + flatMap flatten") {
    import spark.implicits._
    val out = customers
      .multiSelect(_.c_custkey < 3)(c => Seq(c.c_name, c.c_mktsegment))
      .ds.collect()
    assert(out.length == 6) // 3 customers × 2 emitted values
  }

  test("JoinComp equi path via extracted key") {
    import spark.implicits._
    implicit val nEnc = org.apache.spark.sql.Encoders.product[Nation]
    val nations = g.scan[Nation](s"$sfDir/nation.parquet")
    val joined = customers
      .equiJoin(nations)(_.c_nationkey)(_.n_nationkey)((c, n) => (c.c_custkey, n.n_name))
      .ds.collect()
    assert(joined.length == 150) // every customer matches exactly one nation
  }

  test("JoinComp native-lambda path = cartesian + filter") {
    import spark.implicits._
    implicit val nEnc = org.apache.spark.sql.Encoders.product[Nation]
    val nations = g.scan[Nation](s"$sfDir/nation.parquet")
    val out = nations
      .join(nations)((a, b) => a.n_regionkey == b.n_regionkey && a.n_nationkey < b.n_nationkey)(
        (a, b) => (a.n_name, b.n_name))
      .ds.count()
    val oracle = spark.sql(
      s"""SELECT count(*) FROM parquet.`$sfDir/nation.parquet` a,
         | parquet.`$sfDir/nation.parquet` b
         |WHERE a.n_regionkey = b.n_regionkey AND a.n_nationkey < b.n_nationkey""".stripMargin)
      .head().getLong(0)
    assert(out == oracle)
  }

  test("AggregateComp: key/value projections + operator+ monoid, no zero") {
    import spark.implicits._
    val byNation = customers
      .aggregate(_.c_nationkey)(c => Monoids.AvgState(c.c_acctbal, 1L))(_ + _)
      .ds.collect().toMap
    val oracle = Tables.customer(spark, sfDir)
      .groupBy(col("c_nationkey"))
      .agg(avg(col("c_acctbal")).as("a"), count(lit(1)).as("n"))
      .collect().map(r => r.getInt(0) -> (r.getDouble(1), r.getLong(2))).toMap
    assert(byNation.keySet == oracle.keySet)
    byNation.foreach { case (k, st) =>
      assert(math.abs(st.avg - oracle(k)._1) < 1e-9 && st.cnt == oracle(k)._2)
    }
  }

  test("MonoidAggregator over groupByKey matches built-in sum") {
    import spark.implicits._
    implicit val enc = org.apache.spark.sql.Encoders.product[Customer]
    val ds = Tables.customer(spark, sfDir).as[Customer]
    val agg = MonoidAggregator[Customer, Double](_.c_acctbal)(_ + _)
    val got = ds.groupByKey(_.c_nationkey).agg(agg.toColumn).collect().toMap
    val want = Tables.customer(spark, sfDir).groupBy(col("c_nationkey"))
      .agg(sum(col("c_acctbal"))).collect()
      .map(r => r.getInt(0) -> r.getDouble(1)).toMap
    assert(got.keySet == want.keySet)
    got.foreach { case (k, v) => assert(math.abs(v - want(k)) < 1e-6) }
  }

  test("TopKComp bounded-heap aggregator == orderBy.limit") {
    import spark.implicits._
    implicit val enc = org.apache.spark.sql.Encoders.product[Customer]
    val top = customers.topK(5)(_.c_acctbal).ds.collect().map(_.c_custkey).toSet
    val oracle = Tables.customer(spark, sfDir)
      .orderBy(col("c_acctbal").desc).limit(5)
      .collect().map(_.getLong(0)).toSet
    assert(top == oracle)
  }

  test("PartitionComp co-locates keys without changing content") {
    import spark.implicits._
    implicit val enc = org.apache.spark.sql.Encoders.product[Customer]
    val parted = customers.partitionBy(_.c_nationkey)
    assert(parted.ds.count() == 150)
    // semantic guarantee: all rows of a key land in one partition
    val keyToParts = parted.ds.rdd
      .mapPartitionsWithIndex((idx, it) => it.map(c => (c.c_nationkey, idx)))
      .distinct().countByKey()
    assert(keyToParts.values.forall(_ == 1L))
  }

  test("classic deprecated Query/Selection/Join API matches the Computation results") {
    import spark.implicits._
    import graft.api.classic
    val root = tempRoot("graft-classic").toString
    val client = new classic.QueryClient(spark, root)
    client.createSet("db", "customer",
      Tables.customer(spark, sfDir).as[Customer])
    client.createSet("db", "nation", Tables.nation(spark, sfDir).as[Nation])

    val sel = new ClassicRichCustomers
    sel.setInput(classic.InputSet[Customer]("db", "customer"))
    sel.setOutput("db", "rich")

    val join = new ClassicRichWithNation
    join.setInput(sel, classic.InputSet[Nation]("db", "nation"))
    join.setOutput("db", "rich_nations")

    client.execute(sel, join)

    val got = client.getSetIterator[(Long, String)]("db", "rich_nations").toSeq.sorted
    val expected = Tables.customer(spark, sfDir)
      .filter(col("c_acctbal") > 9000.0)
      .join(Tables.nation(spark, sfDir), col("c_nationkey") === col("n_nationkey"))
      .select(col("c_custkey").as[Long], col("n_name").as[String])
      .collect().toSeq.sorted
    assert(got == expected && got.nonEmpty)
    assert(sel.queryType == "selection" && join.queryType == "join")
  }

  test("multi-sink query graph: one submission, two outputs, shared scan persisted") {
    val tmp = tempRoot("graft-multisink").toString
    val shared = Tables.lineitem(spark, sfDir)
      .join(Tables.orders(spark, sfDir), col("l_orderkey") === col("o_orderkey"))
    val sink1 = shared.groupBy(col("o_orderpriority")).agg(count(lit(1)).as("n"))
    val sink2 = shared.groupBy(col("l_returnflag")).agg(count(lit(1)).as("n"))
    g.executeComputationsShared(Seq(shared),
      (sink1, s"$tmp/by_priority"), (sink2, s"$tmp/by_flag"))
    assert(spark.read.parquet(s"$tmp/by_priority").count() == 5)
    assert(spark.read.parquet(s"$tmp/by_flag").count() == 3)
    assert(shared.storageLevel == org.apache.spark.storage.StorageLevel.NONE,
      "shared frame unpersisted after submission")
  }

  test("SQL extension registers native dot_product") {
    import spark.implicits._
    // register the extension's OWN builder, so its argument handling is
    // what the SQL path exercises
    spark.sessionState.functionRegistry.createOrReplaceTempFunction(
      "dot_product", graft.GraftExtensions.dotProductBuilder, "built-in")
    val out = Seq((Array(1.0, 2.0), Array(3.0, 4.0))).toDF("a", "b")
      .selectExpr("dot_product(a, b) AS d").head().getDouble(0)
    assert(out == 11.0)
  }

  test("SQL extension registers native word_shingles") {
    import spark.implicits._
    spark.sessionState.functionRegistry.createOrReplaceTempFunction(
      "word_shingles", graft.GraftExtensions.wordShinglesBuilder, "built-in")
    val out = Seq("a b c").toDF("t")
      .selectExpr("word_shingles(t, 2) AS s").head().getSeq[String](0)
    assert(out == Seq("a b", "b c"))
    // non-literal width is rejected by the builder
    intercept[Exception] {
      Seq(("a b c", 2)).toDF("t", "n").selectExpr("word_shingles(t, n)").head()
    }
  }

  test("ColComp recognized-lambda surface composes") {
    val out = ColComp(Tables.customer(spark, sfDir))
      .select(col("c_acctbal") > 0, col("c_custkey"), col("c_nationkey"), col("c_acctbal"))
      .aggregate(Seq(col("c_nationkey")), Seq(count(lit(1)).as("n")))
      .topK(3, col("n").desc, col("c_nationkey"))
      .df.collect()
    assert(out.length == 3)
  }
}

/** classic Selection subclass (Query.h / QueryBase.h style) — top-level so
  * the shipped query object does not capture the suite instance */
private class ClassicRichCustomers(implicit
    inEnc: org.apache.spark.sql.Encoder[Customer],
    outEnc: org.apache.spark.sql.Encoder[(Long, Int, Double)])
    extends graft.api.classic.Selection[Customer, (Long, Int, Double)] {
  override def getSelection(c: Customer): Boolean = c.c_acctbal > 9000.0
  override def getProjection(c: Customer): (Long, Int, Double) =
    (c.c_custkey, c.c_nationkey, c.c_acctbal)
}

/** classic Join subclass — opaque boolean selection (Join.h style) */
private class ClassicRichWithNation(implicit
    in1Enc: org.apache.spark.sql.Encoder[(Long, Int, Double)],
    in2Enc: org.apache.spark.sql.Encoder[Nation],
    outEnc: org.apache.spark.sql.Encoder[(Long, String)])
    extends graft.api.classic.Join[(Long, String), (Long, Int, Double), Nation] {
  override def getSelection(c: (Long, Int, Double), n: Nation): Boolean =
    c._2 == n.n_nationkey
  override def getProjection(c: (Long, Int, Double), n: Nation): (Long, String) =
    (c._1, n.n_name)
}
