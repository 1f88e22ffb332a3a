package graft

import org.apache.spark.sql.functions._
import graft.dedup.{MinHashLSH, NgramJaccard, SimHash}
import graft.ann.Knn

class DedupSpec extends SparkSpec {
  import spark.implicits._

  private val base = "the quick brown fox jumps over the lazy dog and runs far away today " +
    "while birds sing in the tall green trees near the old stone bridge"
  private lazy val docs = Seq(
    (1L, base),
    (2L, base + " extra"),                      // near-dup of 1
    (3L, "completely different text about database systems and query engines " +
      "with columnar storage vectorized execution and cost based optimizers"),
    (4L, "another unrelated document discussing mountains rivers valleys oceans " +
      "deserts forests and the weather patterns across continental regions")
  ).toDF("doc_id", "text")

  test("MinHashLSH finds the planted near-dup pair and nothing else") {
    val sigs = MinHashLSH.signatures(docs, "doc_id", "text")
    val pairs = MinHashLSH.candidatePairs(MinHashLSH.bands(sigs, numBands = 16, rowsPerBand = 4))
    val verified = MinHashLSH.verifiedPairs(sigs, pairs, threshold = 0.5)
      .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    assert(verified == Set((1L, 2L)))
  }

  test("MinHashLSH summary has one row per doc") {
    val s = MinHashLSH.nearDupSummary(docs, "doc_id", "text")
    assert(s.count() == 4)
    val dup = s.filter(col("doc_id") === 1).select("is_near_dup").as[Boolean].head()
    assert(dup)
  }

  test("SimHash: identical docs at hamming 0; summary one row per doc") {
    val d2 = Seq((1L, base), (2L, base), (3L, "other words entirely")).toDF("doc_id", "text")
    val pairs = SimHash.nearDupPairs(d2, "doc_id", "text", maxHamming = 3)
      .as[(Long, Long, Long)].collect().toSeq
    assert(pairs == Seq((1L, 2L, 0L)))
    assert(SimHash.summary(docs, "doc_id", "text").count() == 4)
  }

  test("NgramJaccard pairs: planted pair scores high") {
    val p = NgramJaccard.pairs(docs, "doc_id", "text", k = 3, threshold = 0.3, maxDf = 10)
      .as[(Long, Long, Double)].collect().toSeq
    assert(p.map(t => (t._1, t._2)) == Seq((1L, 2L)))
    assert(p.head._3 > 0.8)
  }

  test("bruteForceTopK: exact self-similarity ranks duplicates first") {
    val emb = Tables.embeddings(spark, sf())
    val q = emb.filter(col("vec_id") < 3)
    val top = Knn.bruteForceTopK(emb, q, k = 3)
    assert(top.groupBy("query_id").count().select("count").as[Long].collect().forall(_ == 3))
    // rank column is dense 1..k per query
    val ranks = top.filter(col("query_id") === 0).select("rank").as[Long].collect().sorted.toSeq
    assert(ranks == Seq(1L, 2L, 3L))
  }

  test("ivfTopK recall against brute force is reasonable") {
    val emb = Tables.embeddings(spark, sf()).cache()
    val q = emb.filter(col("vec_id") < 8)
    val exact = Knn.bruteForceTopK(emb, q, k = 5)
      .select("query_id", "nbr_id").as[(Long, Long)].collect().toSet
    val approx = graft.ann.Ivf.topK(emb, q, k = 5, c = 16, nprobe = 6)
      .select("query_id", "nbr_id").as[(Long, Long)].collect().toSet
    val recall = (exact intersect approx).size.toDouble / exact.size
    assert(recall > 0.2, s"recall=$recall")
  }

  test("Ivf index: an empty centroid set gives every row a NULL cluster_id") {
    val emb = Tables.embeddings(spark, sf())
    val none = Seq.empty[(Int, Seq[Double])].toDF("cluster_id", "centroid")
    val ids = graft.ann.Ivf.index(emb, none).select("cluster_id").as[Option[Int]].collect()
    assert(ids.length.toLong === emb.count())
    assert(ids.forall(_.isEmpty), ids.flatten.distinct.take(3).mkString(", "))
    // one centroid: every row lands in it
    val one = emb.limit(1).select(lit(7).as("cluster_id"), col("embedding").as("centroid"))
    assert(graft.ann.Ivf.index(emb, one).select("cluster_id").as[Option[Int]]
      .collect().toSet === Set(Some(7)))
  }

  test("lshTopK recall against brute force is reasonable") {
    val emb = Tables.embeddings(spark, sf()).cache()
    val q = emb.filter(col("vec_id") < 8)
    val exact = Knn.bruteForceTopK(emb, q, k = 5)
      .select("query_id", "nbr_id").as[(Long, Long)].collect().toSet
    val approx = Knn.lshTopK(emb, q, k = 5)
      .select("query_id", "nbr_id").as[(Long, Long)].collect().toSet
    val recall = (exact intersect approx).size.toDouble / exact.size
    assert(recall > 0.2, s"recall=$recall") // SRP-LSH with 1 table is coarse; >0 proves bucketing works
  }

  test("connected components: chains, stars, and singletons resolve to min-id clusters") {
    import graft.dedup.Components
    // component {1..5} as a pure chain (forces multi-round contraction),
    // component {10,11,12} as a star, {20,21} a pair; 30 isolated
    val edges = Seq((2L, 1L), (2L, 3L), (4L, 3L), (5L, 4L),
      (10L, 11L), (10L, 12L), (21L, 20L)).toDF("a", "b")
    val comp = Components.connectedComponents(edges, "a", "b")
      .as[(Long, Long)].collect().toMap
    assert((1L to 5L).forall(comp(_) == 1L), s"chain: $comp")
    assert(Seq(10L, 11L, 12L).forall(comp(_) == 10L), s"star: $comp")
    assert(Seq(20L, 21L).forall(comp(_) == 20L), s"pair: $comp")
    val all = Seq((1L, ""), (5L, ""), (30L, "")).toDF("doc_id", "text")
    val cl = Components.clusters(all, "doc_id", edges, "a", "b")
      .as[(Long, Long)].collect().toMap
    assert(cl(30L) == 30L, "isolated doc must be its own singleton cluster")
    assert(cl(1L) == 1L && cl(5L) == 1L)
  }

  test("connected components: long path converges within the round bound") {
    import graft.dedup.Components
    // 64-node path — diameter 63; naive min propagation needs 63 rounds,
    // alternating star must finish well inside maxIter=25 (O(log² n))
    val path = (1L until 64L).map(i => (i, i + 1)).toDF("a", "b")
    // localLimit=0 forces the pure-distributed contraction loop — the
    // default hybrid would solve a 63-edge graph locally and skip the
    // convergence property this test exists to prove
    val comp = Components.connectedComponents(path, "a", "b", localLimit = 0L)
      .as[(Long, Long)].collect().toMap
    assert(comp.size == 64 && comp.values.forall(_ == 1L), s"path: ${comp.toSeq.sorted}")
  }

  test("connected components: hybrid local finish matches pure-distributed") {
    import graft.dedup.Components
    // deterministic pseudo-random graph: chains, stars, and scattered
    // components of varying shapes
    val edges = ((1L until 40L).map(i => (i, i + 1)) ++          // long chain
      (100L to 120L).map(i => (100L, i)) ++                      // star
      (0L until 300L).map(i => (i * 7 % 200 + 500, i * i % 190 + 500)))
      .filter { case (a, b) => a != b }.toDF("a", "b")
    val hybrid = Components.starEdges(edges, "a", "b")
      .as[(Long, Long)].collect().toMap
    val distributed = Components.starEdges(edges, "a", "b", localLimit = 0L)
      .as[(Long, Long)].collect().toMap
    assert(hybrid == distributed,
      s"paths diverge: only-hybrid=${hybrid.toSet -- distributed.toSet} " +
        s"only-dist=${distributed.toSet -- hybrid.toSet}")
  }
}
