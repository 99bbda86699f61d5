package graft

import org.apache.spark.sql.functions._
import graft.model.Tables
import graft.operators.SimilaritySearch

/** Product-quantization ANN ([[SimilaritySearch.pqTopK]]): code shape,
  * rerun determinism, and shortlist recall against the exact brute-force
  * baseline on the fixture.
  */
class PqSpec extends GraftSpecBase {

  private lazy val emb = Tables.embeddings(spark, sfDir)

  test("codes are m ints in [0, kSub), deterministic across runs") {
    val cb = SimilaritySearch.trainPqCodebooks(emb, m = 16, kSub = 16, iters = 2)
    assert(cb.length == 16 && cb.forall(_.length == 16) &&
      cb.forall(_.forall(_.length == 4)))
    val encode = SimilaritySearch.pqEncodeUdf(cb)
    val codes = emb.select(col("vec_id"), encode(col("embedding")).as("c"))
      .collect().map(r => r.getLong(0) -> r.getSeq[Int](1)).toMap
    assert(codes.values.forall(c => c.length == 16 && c.forall(x => x >= 0 && x < 16)))
    val cb2 = SimilaritySearch.trainPqCodebooks(emb, m = 16, kSub = 16, iters = 2)
    val codes2 = emb.select(col("vec_id"),
        SimilaritySearch.pqEncodeUdf(cb2)(col("embedding")).as("c"))
      .collect().map(r => r.getLong(0) -> r.getSeq[Int](1)).toMap
    assert(codes == codes2, "PQ encoding must be rerun-stable")
  }

  test("every query gets exactly k ranked rows with ranks 1..k") {
    val out = SimilaritySearch
      .pqTopK(spark, emb, emb.filter(col("vec_id") < 10), k = 5)
      .collect()
    val byQ = out.groupBy(_.getLong(0))
    assert(byQ.size == 10 && byQ.values.forall(_.map(_.getInt(1)).sorted.toSeq == (1 to 5)))
  }

  test("searching the persisted PQ index equals the in-memory pqTopK") {
    val root = tempRoot("graft-pq-spec")
    val cat = new graft.storage.SetCatalog(spark, root.toString)
    SimilaritySearch.buildIndex(spark, cat, "idx", "emb", emb, m = 16)
    val queries = emb.filter(col("vec_id") < 10)
    val fromIndex = SimilaritySearch
      .searchIndex(spark, cat, "idx", "emb", queries, k = 5)
      .collect().map(_.toSeq).toSet
    val inMemory = SimilaritySearch.pqTopK(spark, emb, queries, k = 5)
      .collect().map(_.toSeq).toSet
    assert(fromIndex == inMemory && fromIndex.nonEmpty)
  }

  test("build(A) + append(B) encodes identically to one pass under A's codebooks") {
    // a code depends only on (vector, codebooks), so the appended index's
    // code table must be byte-identical to encoding the whole corpus
    // in one pass under the codebooks trained on the built half
    val root = tempRoot("graft-pq-a")
    val cat = new graft.storage.SetCatalog(spark, root.toString)
    val half = emb.filter(col("vec_id") < 100)
    SimilaritySearch.buildIndex(spark, cat, "idx", "emb", half, m = 16)
    SimilaritySearch.appendToIndex(spark, cat, "idx", "emb",
      emb.filter(col("vec_id") >= 100))
    val cbA = SimilaritySearch.trainPqCodebooks(half, m = 16, kSub = 16, iters = 2)
    val codesIdx = cat.scanSet("idx", "emb_codes")
      .collect().map(r => r.getLong(0) -> r.getSeq[Int](1)).toMap
    val codesOne = emb.select(col("vec_id"),
        SimilaritySearch.pqEncodeUdf(cbA)(col("embedding")).as("c"))
      .collect().map(r => r.getLong(0) -> r.getSeq[Int](1)).toMap
    // the sidecar drift dial reads appended over built rows
    val drift = SimilaritySearch.appendedDriftFraction(cat, "idx", "emb")
    assert(drift == (emb.count() - half.count()).toDouble / half.count(),
      s"drift=$drift")
    assert(codesIdx == codesOne,
      "appended codes must match a one-pass encode under the built codebooks")
  }

  test("persisted IVF-PQ index equals in-memory ivfPqTopK and prunes code partitions") {
    val root = tempRoot("graft-ivfpq-spec")
    val cat = new graft.storage.SetCatalog(spark, root.toString)
    SimilaritySearch.buildIndex(spark, cat, "idx", "emb", emb, nCentroids = 16, m = 16)
    val queries = emb.filter(col("vec_id") < 10)
    val search = SimilaritySearch.searchIndex(spark, cat, "idx", "emb", queries, k = 5)
    val fromIndex = search.collect().map(_.toSeq).toSet
    val inMemory = SimilaritySearch.ivfPqTopK(spark, emb, queries, k = 5)
      .collect().map(_.toSeq).toSet
    // the probe join must prune the bucket-partitioned CODE set
    val plan = search.queryExecution.executedPlan.toString
    assert(fromIndex == inMemory && fromIndex.nonEmpty)
    // round 16: static literal pruning (see IvfIndexSpec's note)
    assert(plan.matches(
        "(?s).*PartitionFilters: \\[[^\\]]*bucket[^\\]]* IN(SET)?[ (].*"),
      s"probe join no longer prunes code partitions:\n$plan")
  }

  test("ADC shortlist re-rank recalls most of the exact top-k") {
    // 64-bit codes are a coarse sketch; the 10k-per-query shortlist +
    // exact re-rank buys the recall back. Measured ~0.8 on the fixture —
    // pinned at 0.5 so codebook jitter can't flake the suite while a
    // real ranking regression (recall ~ random would be ~shortlist/n)
    // still fails loudly.
    val queries = emb.filter(col("vec_id") < 10)
    val exact = SimilaritySearch.bruteForceTopK(emb, queries, k = 5)
      .collect().map(r => (r.getLong(0), r.getLong(2))).toSet
    val pq = SimilaritySearch.pqTopK(spark, emb, queries, k = 5)
      .collect().map(r => (r.getLong(0), r.getLong(2))).toSet
    val recall = (exact & pq).size.toDouble / exact.size
    val exact1 = SimilaritySearch.bruteForceTopK(emb, queries, k = 1)
      .collect().map(r => (r.getLong(0), r.getLong(2))).toSet
    val r1 = (exact1 & pq).size.toDouble / exact1.size
    info(s"top-5 recall $recall, rank-1-in-top-5 recall $r1")
    assert(recall >= 0.5, s"PQ recall vs exact top-5 fell to $recall")
    assert(r1 >= 0.7, s"PQ rank-1 recall fell to $r1")
  }

  test("rebuilt PQ and IVF-PQ indexes search like the standing build and leave no staging") {
    // over an UNCHANGED corpus the rebuild retrains on the identical
    // md5-ordered sample, so the swapped-in models reproduce the build's
    // models exactly — search results must be identical, and every
    // `_rebuild` staging set must be gone after the swap
    val queries = emb.filter(col("vec_id") < 5)
    for ((family, name, nCentroids, stages) <- Seq(
      ("pq", "p", 0, Seq("p_codes", "p_codebooks")),
      ("ivfpq", "q", 16, Seq("q_codes", "q_centroids", "q_codebooks")))) {
      def search() = SimilaritySearch.searchIndex(spark, cat, "idx", name, queries, 5)
      SimilaritySearch.buildIndex(spark, cat, "idx", name, emb,
        nCentroids = nCentroids, m = 16)
      val expect = search().collect().map(_.toSeq).toSet
      SimilaritySearch.rebuildIndex(spark, cat, "idx", name)
      stages.foreach(s => assert(cat.meta("idx", s + "_rebuild").isEmpty,
        s"$family rebuild left staging set ${s}_rebuild"))
      val got = search().collect().map(_.toSeq).toSet
      assert(got == expect && got.nonEmpty, s"$family rebuild diverged")
      assert(SimilaritySearch.appendedDriftFraction(cat, "idx", name) == 0.0)
    }
  }

  private lazy val cat = {
    val root = tempRoot("graft-pq-rb").toString
    new graft.storage.SetCatalog(spark, root)
  }
}
