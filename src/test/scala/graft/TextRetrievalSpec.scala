package graft

import graft.operators.TextRetrieval
import org.scalatest.funsuite.AnyFunSuite

/** Fixed-point BM25: hand-computed scores on a tiny corpus, ranking
  * semantics, and the scale-shape plan claims.
  */
class TextRetrievalSpec extends AnyFunSuite {
  import SparkTestSession._
  import spark.implicits._

  private val docs = Seq(
    (1L, "apple banana apple"),
    (2L, "banana cherry"),
    (3L, "durian durian durian durian")).toDF("doc_id", "text")

  // N = 3 docs, T = 9 tokens; k1 = 1.2, b = 0.75 folded into integers:
  // idf_pm = (1e6*(2*(N-df)+1)) div (2*df+1)
  // tfpart = (88*T*tf) div-context (40*T*tf + 12*T + 36*dl*N)
  test("hand-computed fixed-point scores match exactly") {
    val q = Seq((100L, "apple"), (200L, "banana"), (200L, "durian"))
      .toDF("query_id", "tok")
    val got = TextRetrieval.bm25TopK(docs, q, k = 5)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getInt(3)))
      .sortBy(t => (t._1, t._4)).toSeq
    // q100 'apple': only doc 1; idf = (1e6*5) div 3 = 1666666;
    // tf=2, dl=3: (1666666*(88*9*2)) div (720+108+324) = 2291665
    // q200 'banana durian': doc3 = (1666666*3168) div 1980 = 2666665;
    // doc2 = (600000*792) div 684 = 694736; doc1 = 600000*792 div 792
    assert(got == Seq(
      (100L, 1L, 2291665L, 1),
      (200L, 3L, 2666665L, 1),
      (200L, 2L, 694736L, 2),
      (200L, 1L, 600000L, 3)))
  }

  test("k bounds each query's list; ties break by doc_id ascending") {
    val twins = Seq(
      (1L, "kiwi mango"), (2L, "kiwi mango"), (3L, "kiwi mango"),
      (4L, "papaya")).toDF("doc_id", "text")
    val q = Seq((9L, "kiwi")).toDF("query_id", "tok")
    val got = TextRetrieval.bm25TopK(twins, q, k = 2).collect()
      .map(r => (r.getLong(1), r.getInt(3))).sortBy(_._2).toSeq
    assert(got == Seq((1L, 1), (2L, 2))) // identical scores -> doc_id order
  }

  test("a query matching no term returns nothing; empty-term filter holds") {
    val q = Seq((7L, "zzz_nowhere")).toDF("query_id", "tok")
    assert(TextRetrieval.bm25TopK(docs, q).count() == 0L)
  }

  test("plan shape: query side broadcast, df from the filtered postings") {
    val q = Seq((1L, "apple"), (1L, "cherry")).toDF("query_id", "tok")
    val plan = TextRetrieval.bm25TopK(docs, q)
      .queryExecution.executedPlan.toString
    assert(plan.contains("BroadcastHashJoin"),
      "bounded query-term set must broadcast")
    // r12: df no longer joins a full-vocabulary aggregate — it rides the
    // query-filtered postings as a tok-keyed window (tf is unique per
    // (doc, tok), so the window count IS the corpus-wide df)
    assert(plan.contains("windowspecdefinition(tok"),
      "df must come from the tok window over the filtered postings:\n" +
        plan.take(1500))
    assert(!plan.contains("CartesianProduct"))
  }

  test("max-score pruning is exact: pruned == plain on a mixed corpus, fewer postings scored") {
    // synthetic corpus with genuine stopwords: every doc carries 'the'
    // and 'of'; content words are doc-specific with planted overlaps
    val rows = (1L to 200L).map { i =>
      val rare = s"w${i % 37} v${i % 11} u${i % 53}"
      (i, s"the of $rare the of x${i % 7}")
    }
    val corpus = rows.toDF("doc_id", "text")
    // stopword-heavy queries: a rare term plus the two corpus stopwords
    val qs = Seq(
      (1L, "the"), (1L, "of"), (1L, "w3"),
      (2L, "the"), (2L, "of"), (2L, "u13"),
      (3L, "the"), (3L, "of")).toDF("query_id", "tok")
    val plain = TextRetrieval.bm25TopK(corpus, qs, k = 4).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getInt(3)))
      .sortBy(t => (t._1, t._4)).toSeq
    val (prunedDf, scored, all) =
      graft.operators.TextRetrieval.bm25Pruned(corpus, qs, 4)
    val pruned = prunedDf.collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getInt(3)))
      .sortBy(t => (t._1, t._4)).toSeq
    assert(pruned == plain)
    // the whole point: the stopword postings of docs that cannot reach
    // the top-k never enter the expensive scoring pipeline
    val (nScored, nAll) = (scored.count(), all.count())
    assert(nScored < nAll, s"expected pruning, scored $nScored of $nAll")
    // and a query that is ONLY stopwords still answers exactly
    assert(pruned.count(_._1 == 3L) == 4)
  }

  test("pruned == plain when nothing can be pruned (rare-term queries, < k candidates)") {
    val qs = Seq((7L, "apple"), (8L, "cherry"), (8L, "durian"))
      .toDF("query_id", "tok")
    val plain = TextRetrieval.bm25TopK(docs, qs, k = 5).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getInt(3))).toSet
    val pruned = TextRetrieval.bm25TopKPruned(docs, qs, k = 5).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getInt(3))).toSet
    assert(pruned == plain)
  }

  test("rrfFuse: hand-computed reciprocal-rank sums, ties by doc_id, absent = no contribution") {
    val a = Seq((1L, 10L, 1), (1L, 11L, 2), (1L, 12L, 3))
      .toDF("query_id", "doc_id", "rnk")
    val b = Seq((1L, 11L, 1), (1L, 13L, 2))
      .toDF("query_id", "doc_id", "rnk")
    val got = TextRetrieval.rrfFuse(Seq(a, b), k = 4)
      .collect().map(r => (r.getLong(1), r.getLong(2), r.getInt(3)))
      .sortBy(_._3).toSeq
    // doc 11: 1e9/62 + 1e9/61 = 16129032 + 16393442 = 32522474
    // doc 10: 1e9/61 = 16393442; doc 13: 1e9/62 = 16129032
    // doc 12: 1e9/63 = 15873015
    assert(got == Seq(
      (11L, 32522474L, 1),
      (10L, 16393442L, 2),
      (13L, 16129032L, 3),
      (12L, 15873015L, 4)))
    // exact tie (same single-list rank on both): doc_id ascending
    val c = Seq((9L, 5L, 1), (9L, 3L, 1)).toDF("query_id", "doc_id", "rnk")
    val t = TextRetrieval.rrfFuse(Seq(c), k = 2).collect()
      .map(r => (r.getLong(1), r.getInt(3))).sortBy(_._2).toSeq
    assert(t == Seq((3L, 1), (5L, 2)))
  }
}
