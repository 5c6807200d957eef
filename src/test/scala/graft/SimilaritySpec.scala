package graft

import graft.operators.Similarity
import graft.plans.VectorFunctions
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

class SimilaritySpec extends AnyFunSuite {
  import SparkTestSession._

  private lazy val emb = Tables.embeddings(spark, sf0001).cache()

  test("brute-force top-k matches a driver-side reference computation") {
    import scala.jdk.CollectionConverters._
    val vecs = emb.select("vec_id", "embedding").collect()
      .map(r => r.getLong(0) -> r.getSeq[Float](1).toArray).toMap
    def cos(a: Array[Float], b: Array[Float]): Double = {
      var d = 0.0f; var na = 0.0f; var nb = 0.0f
      for (i <- a.indices) { d += a(i) * b(i); na += a(i) * a(i); nb += b(i) * b(i) }
      d.toDouble / (math.sqrt(na.toDouble) * math.sqrt(nb.toDouble))
    }
    val want = (0L until 3L).map { q =>
      q -> vecs.keys.filter(_ != q).toSeq
        .map(n => (n, cos(vecs(q), vecs(n))))
        .sortBy { case (n, c) => (-c, n) }.take(5).map(_._1)
    }.toMap

    val got = Similarity.cosineTopK(emb, emb.filter(col("vec_id") < 3), 5)
      .collect()
      .groupBy(_.getAs[Long]("query_id"))
      .view.mapValues(_.sortBy(_.getAs[Long]("rnk")).map(_.getAs[Long]("neighbor_id")).toSeq).toMap
    assert(got == want)
  }

  test("int8-quantized top-k: planted duplicate recalled, high recall vs exact cosine") {
    // plant: an exact copy must still be the quantized top-1 (identical
    // codes → maximal integer dot)
    val base = emb.select("vec_id", "embedding")
    val planted = base.filter(col("vec_id") === 7)
      .select((col("vec_id") + 8993).as("vec_id"), col("embedding"))
    val corpus = base.unionByName(planted)
    val top1 = Similarity.quantizedTopK(corpus, corpus.filter(col("vec_id") === 9000), 1)
      .collect()
    assert(top1.length == 1 && top1.head.getAs[Long]("neighbor_id") == 7L)

    // 8-bit codes lose little ranking fidelity: recall@5 vs exact cosine
    val brute = Similarity.cosineTopK(emb, emb.filter(col("vec_id") < 20), 5).collect()
      .map(r => (r.getAs[Long]("query_id"), r.getAs[Long]("neighbor_id"))).toSet
    val quant = Similarity.quantizedTopK(emb, emb.filter(col("vec_id") < 20), 5).collect()
      .map(r => (r.getAs[Long]("query_id"), r.getAs[Long]("neighbor_id"))).toSet
    val recall = brute.count(quant.contains).toDouble / brute.size
    info(s"quantized recall@5 vs exact: $recall")
    assert(recall >= 0.8, s"recall $recall")
    // scores approximate cosine closely on the overlap
    val cosByPair = Similarity.cosineTopK(emb, emb.filter(col("vec_id") < 20), 5).collect()
      .map(r => (r.getAs[Long]("query_id"), r.getAs[Long]("neighbor_id")) -> r.getAs[Double]("cosine")).toMap
    Similarity.quantizedTopK(emb, emb.filter(col("vec_id") < 20), 5).collect().foreach { r =>
      val k = (r.getAs[Long]("query_id"), r.getAs[Long]("neighbor_id"))
      cosByPair.get(k).foreach { c =>
        assert(math.abs(r.getAs[Double]("score") - c) < 0.02, s"$k: ${r.getAs[Double]("score")} vs $c")
      }
    }
  }

  test("codegen vec_dot equals interpreted eval") {
    val s = spark
    import s.implicits._
    val df = Seq((Seq(1.0f, 2.0f, 3.0f), Seq(4.0f, 5.0f, 6.0f))).toDF("a", "b")
    val v = df.select(VectorFunctions.vecDot(col("a"), col("b"))).head.getFloat(0)
    assert(v == 32.0f)
  }

  test("LSH ANN recalls a planted exact duplicate and has nontrivial recall on random data") {
    val s = spark
    import s.implicits._
    // plant: vector 9000 = copy of vector 7 → its top-1 must be found
    val base = emb.select("vec_id", "embedding")
    val planted = base.filter(col("vec_id") === 7)
      .select((col("vec_id") + 8993).as("vec_id"), col("embedding"))
    val corpus = base.unionByName(planted)
    val out = Similarity.lshTopK(corpus, corpus.filter(col("vec_id") === 9000), k = 1, dim = 64)
      .collect()
    assert(out.length == 1 && out.head.getAs[Long]("neighbor_id") == 7L,
      s"planted dup not recalled: ${out.mkString(",")}")

    val brute = Similarity.cosineTopK(emb, emb.filter(col("vec_id") < 20), 5).collect()
      .map(r => (r.getAs[Long]("query_id"), r.getAs[Long]("neighbor_id"))).toSet
    val ann = Similarity.lshTopK(emb, emb.filter(col("vec_id") < 20), 5, dim = 64).collect()
      .map(r => (r.getAs[Long]("query_id"), r.getAs[Long]("neighbor_id"))).toSet
    val recall = brute.count(ann.contains).toDouble / brute.size
    info(s"ANN recall@5 on random vectors: $recall")
    assert(recall >= 0.3, s"recall $recall") // random data is LSH's worst case
  }

  test("seeded IVF recalls a planted duplicate; nontrivial recall on random data") {
    import org.apache.spark.sql.functions.col
    val base = emb.select("vec_id", "embedding")
    val planted = base.filter(col("vec_id") === 7)
      .select((col("vec_id") + 8993).as("vec_id"), col("embedding"))
    val corpus = base.unionByName(planted)
    val out = Similarity.ivfTopKSeeded(corpus, corpus.filter(col("vec_id") === 9000), k = 1)
      .collect()
    assert(out.length == 1 && out.head.getAs[Long]("neighbor_id") == 7L)

    val brute = Similarity.cosineTopK(emb, emb.filter(col("vec_id") < 20), 5).collect()
      .map(r => (r.getAs[Long]("query_id"), r.getAs[Long]("neighbor_id"))).toSet
    val ivf = Similarity.ivfTopKSeeded(emb, emb.filter(col("vec_id") < 20), 5).collect()
      .map(r => (r.getAs[Long]("query_id"), r.getAs[Long]("neighbor_id"))).toSet
    val recall = brute.count(ivf.contains).toDouble / brute.size
    info(s"seeded IVF recall@5 on random vectors: $recall")
    assert(recall >= 0.3, s"recall $recall")
  }

  test("fused SignBuckets expression equals the unfused pmPlane/vecDot formulation") {
    val s = spark
    import s.implicits._
    val dim = 64
    val vecs = (0 until 25).map(i =>
      (i.toLong, Array.tabulate(dim)(j => ((i * 31 + j * 17) % 13 - 6).toFloat).toSeq))
    val got = vecs.toDF("vec_id", "embedding")
      .select($"vec_id",
        graft.plans.VectorFunctions.signBuckets($"embedding", 1000, 8, 16).as("bk"))
      .collect().map(r => r.getLong(0) -> r.getSeq[Int](1)).toMap
    // reference: sign of the float32 index-order dot against pmPlane ±1s
    def ref(v: Seq[Float]): Seq[Int] = (0 until 16).map { b =>
      (0 until 8).foldLeft(0) { (acc, r) =>
        val plane = Similarity.pmPlane(1000 + b * 8 + r, dim)
        var sAcc = 0.0f
        var i = 0
        while (i < dim) { sAcc += v(i) * plane(i); i += 1 }
        if (sAcc > 0f) acc | (1 << r) else acc
      }
    }
    vecs.foreach { case (id, v) => assert(got(id) == ref(v), s"vec $id") }
  }

  test("default near-dup path (LSH prefilter + exact verify) finds 100% of planted dups") {
    val base = emb.select(col("vec_id"), col("embedding"))
    // plant a scaled copy of every 5th vector: cosine ≈ 1 and identical
    // projection signs, so the prefilter must catch every planted pair
    val dups = base.filter(col("vec_id") % 5 === 0)
      .select((col("vec_id") + 50000L).as("vec_id"),
        transform(col("embedding"), x => x * lit(2.0f)).as("embedding"))
    val corpus = base.unionByName(dups)
    val got = Similarity.nearDupPairs(corpus, 0.9, lit(true)).collect()
      .map(r => (r.getAs[Long]("id_a"), r.getAs[Long]("id_b"), r.getAs[Double]("cosine")))
    val want = Similarity.nearDupPairs(corpus, 0.9, lit(true), bruteForce = true).collect()
      .map(r => (r.getAs[Long]("id_a"), r.getAs[Long]("id_b"), r.getAs[Double]("cosine")))
    // exact equality including cosine values: verify is exact, recall 100%
    assert(got.toSet == want.toSet)
    val planted = base.select("vec_id").collect().map(_.getLong(0)).filter(_ % 5 == 0)
    assert(planted.forall(id => got.exists(p => p._1 == id && p._2 == id + 50000L)),
      "a planted dup pair was missed")
    // the probe-shard predicate restricts the left side, as in brute force
    val sharded = Similarity.nearDupPairs(corpus, 0.9, col("id_a") % 2 === 0).collect()
      .map(r => (r.getAs[Long]("id_a"), r.getAs[Long]("id_b"))).toSet
    assert(sharded == want.collect { case (a, b, _) if a % 2 == 0 => (a, b) }.toSet)
  }

  test("semanticDedup: exact copies collapse to keep-lowest; kept set is shadow-free") {
    import spark.implicits._
    // plant exact copies of vectors 7 and 11 (cosine 1.0 to their source,
    // same cell by construction — identical vectors share an argmin cell)
    val planted = emb.filter(col("vec_id").isin(7, 11))
      .select((col("vec_id") + 9000).as("vec_id"), col("embedding"))
    val all = emb.select("vec_id", "embedding").union(planted)
    val out = Similarity.semanticDedup(all, threshold = 0.999, nCells = 16).cache()
    val drops = out.filter(!col("kept"))
      .select("vec_id", "dup_of").as[(Long, Long)].collect().toMap
    assert(drops.get(9007L).contains(7L), s"9007 should shadow to 7: $drops")
    assert(drops.get(9011L).contains(11L))
    // sources stay kept
    assert(out.filter(col("vec_id").isin(7, 11) && !col("kept")).isEmpty)
    // every row accounted for; kept + dropped partitions the corpus
    assert(out.count() == all.count())
    // shadow-free invariant: a dropped vector's dup_of is itself kept OR
    // transitively shadows to a kept lower id within the same cell —
    // with keep-lowest the chosen dup_of (lowest lower-id mate) can
    // itself be dropped only by an even lower mate, so chains terminate;
    // here cosine 0.999 shadows are only the planted copies, so dup_of
    // is always kept
    val keptIds = out.filter(col("kept")).select("vec_id").as[Long].collect().toSet
    drops.values.foreach(d => assert(keptIds.contains(d), s"dup_of $d not kept"))
  }

  test("pqTopK: exact over its ADC candidate set, deterministic, useful recall") {
    val s = spark
    import s.implicits._
    val queries = emb.filter(col("vec_id") < 10)
    val pq = Similarity.pqTopK(emb, queries, k = 5)
      .select("query_id", "neighbor_id", "rnk")
      .as[(Long, Long, Long)].collect()
    // shape: exactly 5 ranked neighbors per query, ranks 1..5, no self
    val byQ = pq.groupBy(_._1)
    assert(byQ.size == 10 && byQ.values.forall(_.map(_._3).sorted.toSeq == Seq(1L, 2L, 3L, 4L, 5L)))
    assert(pq.forall { case (q, n, _) => q != n })
    // determinism: a second run returns the identical set
    val again = Similarity.pqTopK(emb, queries, k = 5)
      .select("query_id", "neighbor_id", "rnk")
      .as[(Long, Long, Long)].collect()
    assert(pq.toSet == again.toSet)
    // recall@5 vs the exact scan: 4 codes per 64-dim vector is a coarse
    // sketch, but on the fixture corpus it must beat random by a wide
    // margin (random ≈ 5/n ≈ 3%)
    val exact = Similarity.cosineTopK(emb, queries, k = 5)
      .select("query_id", "neighbor_id")
      .as[(Long, Long)].collect().toSet
    val hit = pq.count { case (q, n, _) => exact.contains((q, n)) }
    val recall = hit.toDouble / exact.size
    assert(recall >= 0.3, s"PQ recall@5 collapsed: $recall")
  }
}
