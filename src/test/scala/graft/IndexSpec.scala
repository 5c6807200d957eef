package graft

import graft.operators.{Similarity, TextRetrieval}
import graft.sources.TxLog
import org.apache.hadoop.fs.Path
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Persistent retrieval indexes (round-9 asks #1/#2): build once, query
  * many — the indexed paths must answer BIT-IDENTICALLY to the inline
  * recompute paths, appends must fold in without touching the old
  * corpus, and the committed layouts must manifest-prune.
  */
class IndexSpec extends AnyFunSuite {
  import SparkTestSession._

  private def fs = org.apache.hadoop.fs.FileSystem.get(
    spark.sparkContext.hadoopConfiguration)

  private def fresh(name: String): String = {
    val dir = s"${GraftSession.scratchBase}/ixspec_$name"
    fs.delete(new Path(dir), true)
    dir
  }

  private lazy val docs = Tables.documents(spark, sf0001).cache()
  private lazy val emb = Tables.embeddings(spark, sf0001).cache()

  private def asSet(df: DataFrame): Set[String] =
    df.collect().map(_.toString).toSet

  private def bmQueries(src: DataFrame): DataFrame = src
    .filter(col("doc_id") % 97L === 1L)
    .select(col("doc_id").as("query_id"),
      explode(split(col("text"), "\\s+")).as("tok"))
    .filter(length(col("tok")) > 0)

  // ---------------------------------------------------------------- BM25

  test("indexed BM25 answers bit-identically to the inline operator") {
    val ix = fresh("bm25_full")
    TextRetrieval.buildIndex(spark, ix, docs, batches = 8)
    val q = bmQueries(docs)
    val got = asSet(TextRetrieval.bm25TopKIndexed(spark, ix, q, 5))
    val want = asSet(TextRetrieval.bm25TopK(docs, q, 5))
    assert(got == want)
  }

  test("append maintenance ≡ full rebuild: old postings never rewrite") {
    val ix = fresh("bm25_append")
    val half = docs.count() / 2
    TextRetrieval.buildIndex(spark, ix,
      docs.filter(col("doc_id") < half), batches = 4)
    val v1Posts = TxLog.manifest(spark, s"$ix/postings").map(_._1)
    TextRetrieval.appendToIndex(spark, ix,
      docs.filter(col("doc_id") >= half))
    // delta-only write: every pre-append postings batch carries verbatim
    val afterPosts = TxLog.manifest(spark, s"$ix/postings").map(_._1)
    assert(afterPosts.take(v1Posts.size) == v1Posts,
      s"append must carry old postings batches: $v1Posts vs $afterPosts")
    // the maintained index answers exactly as one built on the union
    val q = bmQueries(docs)
    val got = asSet(TextRetrieval.bm25TopKIndexed(spark, ix, q, 5))
    val want = asSet(TextRetrieval.bm25TopK(docs, q, 5))
    assert(got == want)
    // df reconciliation was surgical AND exact: totals match the corpus
    val tot = TxLog.read(spark, s"$ix/totals").head()
    val wantDocs = docs
      .select(col("doc_id"), explode(split(col("text"), "\\s+")).as("tok"))
      .filter(length(col("tok")) > 0).select(col("doc_id")).distinct().count()
    assert(tot.getAs[Long]("n_docs") == wantDocs)
  }

  test("indexed max-score BM25 ≡ pruned ≡ plain, including after append") {
    val ix = fresh("bm25_pruned")
    val half = docs.count() / 2
    TextRetrieval.buildIndex(spark, ix,
      docs.filter(col("doc_id") < half), batches = 4)
    TextRetrieval.appendToIndex(spark, ix,
      docs.filter(col("doc_id") >= half))
    val q = bmQueries(docs)
    val got = asSet(TextRetrieval.bm25TopKPrunedIndexed(spark, ix, q, 5))
    assert(got == asSet(TextRetrieval.bm25TopKPruned(docs, q, 5)))
    assert(got == asSet(TextRetrieval.bm25TopK(docs, q, 5)))
    // the committed totals row carries the dl extremes the bounds need
    val tot = TxLog.read(spark, s"$ix/totals").head()
    assert(tot.getAs[Long]("dlmin") <= tot.getAs[Long]("dlmax"))
  }

  test("index time travel: asOf names the pre-append snapshot exactly") {
    val ix = fresh("bm25_asof")
    val half = docs.count() / 2
    val oldDocs = docs.filter(col("doc_id") < half)
    TextRetrieval.buildIndex(spark, ix, oldDocs, batches = 4)
    TextRetrieval.appendToIndex(spark, ix, docs.filter(col("doc_id") >= half))
    // all four tables moved 1 → 2 in lockstep (the asOf contract)
    Seq("postings", "dl", "df", "totals").foreach { t =>
      assert(TxLog.latestVersion(spark, s"$ix/$t") == 2L, t)
    }
    val q = bmQueries(docs)
    assert(asSet(TextRetrieval.bm25TopKIndexed(spark, ix, q, 5, asOf = Some(1L))) ==
      asSet(TextRetrieval.bm25TopK(oldDocs, q, 5)))
    assert(asSet(TextRetrieval.bm25TopKIndexed(spark, ix, q, 5)) ==
      asSet(TextRetrieval.bm25TopK(docs, q, 5)))
  }

  test("compactIndex restores probe-reads-one after append fragmentation") {
    val ix = fresh("bm25_compact")
    val n = docs.count()
    TextRetrieval.buildIndex(spark, ix, docs.filter(col("doc_id") < n / 3),
      batches = 4)
    TextRetrieval.appendToIndex(spark, ix,
      docs.filter(col("doc_id") >= n / 3 && col("doc_id") < 2 * n / 3))
    TextRetrieval.appendToIndex(spark, ix, docs.filter(col("doc_id") >= 2 * n / 3))
    val term = docs.select(explode(split(col("text"), "\\s+")).as("tok"))
      .filter(length(col("tok")) > 0).orderBy(col("tok")).limit(1)
      .head().getString(0)
    def probeFiles(): Int = TxLog
      .readWhereIn(spark, s"$ix/postings", "tok", Seq(term)).inputFiles.length
    // each append spans the full token range: the point probe reads one
    // batch per epoch
    val before = probeFiles()
    assert(before >= 3, s"expected fragmentation, probe read $before")
    TextRetrieval.compactIndex(spark, ix, batches = 4)
    assert(probeFiles() == 1, "compaction must restore probe-reads-one")
    // answers unchanged, and the fragmented history is still queryable
    val q = bmQueries(docs)
    assert(asSet(TextRetrieval.bm25TopKIndexed(spark, ix, q, 5)) ==
      asSet(TextRetrieval.bm25TopK(docs, q, 5)))
    assert(asSet(TextRetrieval.bm25TopKIndexed(spark, ix, q, 5, asOf = Some(3L))) ==
      asSet(TextRetrieval.bm25TopK(docs, q, 5)))
  }

  test("removeFromIndex: merge-on-read delete, answers ≡ rebuild on survivors") {
    val ix = fresh("bm25_remove")
    TextRetrieval.buildIndex(spark, ix, docs, batches = 4)
    val before = TxLog.manifest(spark, s"$ix/postings").map(_._1)
    val doomed = docs.filter(col("doc_id") % 7L === 2L).select(col("doc_id"))
    TextRetrieval.removeFromIndex(spark, ix, doomed)
    // merge-on-read: every postings batch dir carries forward verbatim
    val after = TxLog.manifest(spark, s"$ix/postings").map(_._1)
    assert(after == before, "delete must tombstone, not rewrite")
    // all four tables moved in lockstep
    Seq("postings", "dl", "df", "totals").foreach { t =>
      assert(TxLog.latestVersion(spark, s"$ix/$t") == 2L, t)
    }
    val survivors = docs.filter(col("doc_id") % 7L =!= 2L)
    val q = bmQueries(docs) // query terms independent of membership
    assert(asSet(TextRetrieval.bm25TopKIndexed(spark, ix, q, 5)) ==
      asSet(TextRetrieval.bm25TopK(survivors, q, 5)))
    // the pruned path sees the same post-delete truth
    assert(asSet(TextRetrieval.bm25TopKPrunedIndexed(spark, ix, q, 5)) ==
      asSet(TextRetrieval.bm25TopKPruned(survivors, q, 5)))
    // the pre-delete snapshot is still queryable
    assert(asSet(TextRetrieval.bm25TopKIndexed(spark, ix, q, 5, asOf = Some(1L))) ==
      asSet(TextRetrieval.bm25TopK(docs, q, 5)))
    // compaction materializes the tombstones away; answers unchanged
    TextRetrieval.compactIndex(spark, ix, batches = 4)
    assert(asSet(TextRetrieval.bm25TopKIndexed(spark, ix, q, 5)) ==
      asSet(TextRetrieval.bm25TopK(survivors, q, 5)))
  }

  test("refreshIndex folds staged deltas exactly once and fails loud mid-flight") {
    val ix = fresh("bm25_refresh")
    val staging = fresh("bm25_staging")
    val half = docs.count() / 2
    TxLog.commit(spark, staging, docs.filter(col("doc_id") < half))
    // first refresh = build over staged v1
    assert(TextRetrieval.refreshIndex(spark, ix, staging).contains(1L))
    val q = bmQueries(docs)
    assert(asSet(TextRetrieval.bm25TopKIndexed(spark, ix, q, 5)) ==
      asSet(TextRetrieval.bm25TopK(docs.filter(col("doc_id") < half), q, 5)))
    // replayed trigger: metadata-only no-op
    assert(TextRetrieval.refreshIndex(spark, ix, staging).isEmpty)
    // staged append folds as a delta; answers = full corpus
    TxLog.commit(spark, staging, docs.filter(col("doc_id") >= half), append = true)
    assert(TextRetrieval.refreshIndex(spark, ix, staging).contains(2L))
    assert(asSet(TextRetrieval.bm25TopKIndexed(spark, ix, q, 5)) ==
      asSet(TextRetrieval.bm25TopK(docs, q, 5)))
    assert(TextRetrieval.indexConsistent(spark, ix))
    // a maintenance call that died mid-flight (simulated: one table
    // moved alone) must fail loud, not double-apply
    TxLog.commit(spark, s"$ix/totals", TxLog.read(spark, s"$ix/totals"))
    assert(!TextRetrieval.indexConsistent(spark, ix))
    TxLog.commit(spark, staging,
      docs.filter(col("doc_id") < 3).withColumn("doc_id", col("doc_id") + 900000L),
      append = true)
    val e = intercept[IllegalArgumentException] {
      TextRetrieval.refreshIndex(spark, ix, staging)
    }
    assert(e.getMessage.contains("mid-maintenance"))
  }

  test("refresh watermark: a fold the ledger missed fails loud; resync resumes") {
    val ix = fresh("bm25_watermark")
    val staging = fresh("bm25_wm_staging")
    val half = docs.count() / 2
    TxLog.commit(spark, staging, docs.filter(col("doc_id") < half))
    assert(TextRetrieval.refreshIndex(spark, ix, staging).contains(1L))
    // manual maintenance moves all four tables in LOCKSTEP — versions
    // equal but AHEAD of the ledger, the same signature as a refresh
    // that died after its table commits but before its ledger commit;
    // refresh must not re-fold on top of either
    TextRetrieval.appendToIndex(spark, ix, docs.filter(col("doc_id") >= half))
    assert(TextRetrieval.indexConsistent(spark, ix))
    TxLog.commit(spark, staging,
      docs.filter(col("doc_id") < 3).withColumn("doc_id", col("doc_id") + 800000L),
      append = true)
    val e = intercept[IllegalArgumentException] {
      TextRetrieval.refreshIndex(spark, ix, staging)
    }
    assert(e.getMessage.contains("resyncIndexLedger"))
    // the documented manual-maintenance resume path
    TextRetrieval.resyncIndexLedger(spark, ix)
    assert(TextRetrieval.refreshIndex(spark, ix, staging).contains(2L))
    assert(TextRetrieval.indexConsistent(spark, ix))
  }

  test("indexed paths degrade on empty inputs like the inline operators") {
    val ix = fresh("bm25_empty")
    TextRetrieval.buildIndex(spark, ix, docs, batches = 4)
    val noQueries = bmQueries(docs).filter(col("query_id") < 0)
    assert(TextRetrieval.bm25TopKIndexed(spark, ix, noQueries, 5).isEmpty)
    assert(TextRetrieval.bm25TopKPrunedIndexed(spark, ix, noQueries, 5).isEmpty)
    // the degenerate frame must carry the REAL output schema (names and
    // types; nullability is union-compatible either way): a consumer
    // unions per-batch results, and a type drift on the empty case
    // breaks exactly the batch that looks safest
    def shape(df: DataFrame) = df.schema.fields.map(f => (f.name, f.dataType)).toSeq
    assert(shape(TextRetrieval.bm25TopKIndexed(spark, ix, noQueries, 5)) ==
      shape(TextRetrieval.bm25TopKIndexed(spark, ix, bmQueries(docs), 5)))
    // an empty delete set is a FULL no-op (a partial commit here would
    // break the four-table lockstep permanently)
    TextRetrieval.removeFromIndex(spark, ix,
      docs.filter(col("doc_id") < 0).select(col("doc_id")))
    Seq("postings", "dl", "df", "totals").foreach { t =>
      assert(TxLog.latestVersion(spark, s"$ix/$t") == 1L, t)
    }
    val vix = fresh("ivf_empty")
    Similarity.buildIvfIndex(spark, vix, emb, nCells = 16)
    assert(Similarity.ivfTopKIndexed(spark, vix,
      emb.filter(col("vec_id") < 0), 5, 4).isEmpty)
  }

  test("readWhereIn prunes a clustered table to the touched batches") {
    val t = fresh("wherein")
    val df = spark.range(0L, 8000L).select(col("id"),
      (col("id") % 7L).as("v"))
    TxLog.commitClustered(spark, t, df, Seq("id"), batches = 8)
    val total = TxLog.manifest(spark, t).size
    assert(total >= 8, s"expected >=8 clustered batches, got $total")
    val got = TxLog.readWhereIn(spark, t, "id", Seq(5L, 4005L))
    assert(got.collect().map(_.getLong(0)).toSet == Set(5L, 4005L))
    assert(got.inputFiles.length <= 2 && got.inputFiles.length < total,
      s"2-point probe read ${got.inputFiles.length} of $total batches")
    // deletion vectors apply on this read path too
    TxLog.deleteVectored(spark, t, "id", Some(5L), Some(5L))
    val after = TxLog.readWhereIn(spark, t, "id", Seq(5L, 4005L))
    assert(after.collect().map(_.getLong(0)).toSet == Set(4005L))
  }

  // ----------------------------------------------------------------- IVF

  test("indexed IVF ANN answers bit-identically to the seeded recompute") {
    val ix = fresh("ivf_full")
    Similarity.buildIvfIndex(spark, ix, emb, nCells = 16)
    val q = emb.filter(col("vec_id") < 10)
    val got = asSet(Similarity.ivfTopKIndexed(spark, ix, q, 5, nProbe = 4))
    val want = asSet(Similarity.ivfTopKSeeded(emb, q, 5, 16, 4))
    assert(got == want)
  }

  // -------------------------------------------------------------- IVF-PQ

  test("indexed IVF-PQ ≡ recompute on a one-version index; empty queries give empty") {
    val ix = fresh("ivfpq")
    val half = emb.count() / 2
    assert(half > 32, "first half must contain both seed blocks [0,32)")
    val oldEmb = emb.filter(col("vec_id") < half)
    Similarity.buildIvfPqIndex(spark, ix, oldEmb)
    val q = emb.filter(col("vec_id") < 10)
    // fresh build answers exactly as the recompute over the same corpus
    assert(asSet(Similarity.ivfPqTopKIndexed(spark, ix, q, 5)) ==
      asSet(Similarity.ivfPqTopK(oldEmb, q, 5)))
    // a build commits exactly one version of the code+vector pair
    Seq("cellcodes", "vectors").foreach { t =>
      assert(TxLog.latestVersion(spark, s"$ix/$t") == 1L, t)
    }
    // empty queries degrade like the recompute path
    assert(Similarity.ivfPqTopKIndexed(spark, ix,
      emb.filter(col("vec_id") < 0), 5).isEmpty)
  }

  // -------------------------------------------------------------- PHRASE

  private def phrasesOf(src: DataFrame): DataFrame = src
    .filter(col("doc_id") % 97L === 1L)
    .select(col("doc_id").as("query_id"),
      concat_ws(" ", slice(filter(split(col("text"), "\\s+"),
        t => length(t) > lit(0)), 1, 3)).as("phrase"))

  test("indexed phrase search ≡ recompute; append maintenance; time travel") {
    val ix = fresh("phrase")
    val half = docs.count() / 2
    val oldDocs = docs.filter(col("doc_id") < half)
    TextRetrieval.buildPositionalIndex(spark, ix, oldDocs, batches = 8)
    val ph = phrasesOf(docs)
    assert(asSet(TextRetrieval.phraseTopKIndexed(spark, ix, ph, 5)) ==
      asSet(TextRetrieval.phraseTopK(oldDocs, ph, 5)))
    val v1 = TxLog.manifest(spark, s"$ix/postings_pos").map(_._1)
    TextRetrieval.appendToPositionalIndex(spark, ix,
      docs.filter(col("doc_id") >= half))
    // positions are per-doc facts: append IS the whole merge, old
    // batches carry verbatim
    val after = TxLog.manifest(spark, s"$ix/postings_pos").map(_._1)
    assert(after.take(v1.size) == v1,
      "append must carry old position batches verbatim")
    assert(asSet(TextRetrieval.phraseTopKIndexed(spark, ix, ph, 5)) ==
      asSet(TextRetrieval.phraseTopK(docs, ph, 5)))
    assert(asSet(TextRetrieval.phraseTopKIndexed(spark, ix, ph, 5, asOf = Some(1L))) ==
      asSet(TextRetrieval.phraseTopK(oldDocs, ph, 5)))
    // empty phrase set degrades to an empty typed frame
    assert(TextRetrieval.phraseTopKIndexed(spark, ix,
      ph.filter(col("query_id") < 0), 5).isEmpty)
  }

  test("positional index: two appends ≡ recompute, a batch per epoch, asOf = 1 history") {
    val ix = fresh("phrase_life")
    val third = docs.count() / 3
    TextRetrieval.buildPositionalIndex(spark, ix,
      docs.filter(col("doc_id") < third), batches = 8)
    TextRetrieval.appendToPositionalIndex(spark, ix,
      docs.filter(col("doc_id") >= third && col("doc_id") < 2 * third))
    TextRetrieval.appendToPositionalIndex(spark, ix,
      docs.filter(col("doc_id") >= 2 * third))
    val ph = phrasesOf(docs)
    assert(asSet(TextRetrieval.phraseTopKIndexed(spark, ix, ph, 5)) ==
      asSet(TextRetrieval.phraseTopK(docs, ph, 5)))
    // each append epoch adds its own batches across the token range
    val term = docs.select(explode(split(col("text"), "\\s+")).as("tok"))
      .filter(length(col("tok")) > 0).orderBy(col("tok")).limit(1)
      .head().getString(0)
    val probeFiles = TxLog
      .readWhereIn(spark, s"$ix/postings_pos", "tok", Seq(term))
      .inputFiles.length
    assert(probeFiles >= 3, "expected one batch per append epoch")
    // history: the pre-append version answers over the first third
    assert(asSet(TextRetrieval.phraseTopKIndexed(spark, ix, ph, 5, asOf = Some(1L))) ==
      asSet(TextRetrieval.phraseTopK(docs.filter(col("doc_id") < third), ph, 5)))
  }

  test("autoCompactIndex acts only when probe amplification is measured (r9 #7)") {
    val ix = fresh("bm25_autocompact")
    val n = docs.count()
    TextRetrieval.buildIndex(spark, ix, docs.filter(col("doc_id") < n / 3),
      batches = 4)
    val v0 = TxLog.latestVersion(spark, s"$ix/postings")
    // fresh clustered layout: the probe must stay metadata-only
    assert(!TextRetrieval.autoCompactIndex(spark, ix),
      "fresh layout must be a no-op")
    assert(TxLog.latestVersion(spark, s"$ix/postings") == v0)
    // two append epochs: each delta's batches span the full token range,
    // so the manifest's measured overlap crosses the threshold
    TextRetrieval.appendToIndex(spark, ix,
      docs.filter(col("doc_id") >= n / 3 && col("doc_id") < 2 * n / 3),
      batches = 2)
    TextRetrieval.appendToIndex(spark, ix,
      docs.filter(col("doc_id") >= 2 * n / 3), batches = 2)
    assert(TextRetrieval.autoCompactIndex(spark, ix),
      "measured append fragmentation must fire the rewrite")
    val q = bmQueries(docs)
    assert(asSet(TextRetrieval.bm25TopKIndexed(spark, ix, q, 5)) ==
      asSet(TextRetrieval.bm25TopK(docs, q, 5)),
      "auto-compaction must not change answers")
    assert(!TextRetrieval.autoCompactIndex(spark, ix),
      "re-tightened layout must be a no-op again")
  }

  test("proximity semantics: unordered within window; scattered scores zero") {
    import spark.implicits._
    val corpus = Seq(
      (0L, "alpha x beta y gamma z"),            // spread but inside one window
      (1L, "gamma beta alpha"),                  // reversed order still matches
      (2L, "alpha q w e r t y u i o p beta gamma") // alpha 11 tokens from the rest
    ).toDF("doc_id", "text")
    val q = Seq((7L, "alpha"), (7L, "beta"), (7L, "gamma"))
      .toDF("query_id", "tok")
    val got = TextRetrieval.proximityTopK(corpus, q, window = 5, k = 5)
      .collect().map(r => (r.getLong(1), r.getLong(2))).toSet
    // docs 0 and 1 each have exactly ONE anchor whose 5-token window
    // holds all three terms; doc 2's terms never share a window
    assert(got == Set((0L, 1L), (1L, 1L)))
    val ix = fresh("prox_sem")
    TextRetrieval.buildPositionalIndex(spark, ix, corpus, batches = 2)
    val ixGot = TextRetrieval.proximityTopKIndexed(spark, ix, q, window = 5, k = 5)
      .collect().map(r => (r.getLong(1), r.getLong(2))).toSet
    assert(ixGot == got)
    // empty query set degrades
    assert(TextRetrieval.proximityTopKIndexed(spark, ix,
      q.filter(col("query_id") < 0), window = 5, k = 5).isEmpty)
  }

  test("proximity bucketed band join: 3-key equi-join, boundary windows match (r9 #3)") {
    import spark.implicits._
    // window=2 straddles a p-div-2 bucket edge between adjacent tokens:
    // the anchor's b+1 explode is what finds the neighbour bucket
    val corpus = Seq(
      (0L, "alpha beta"),  // adjacent: [1,3) holds both
      (1L, "alpha x beta") // gap: beta at 3 is outside [1,3)
    ).toDF("doc_id", "text")
    val q = Seq((1L, "alpha"), (1L, "beta")).toDF("query_id", "tok")
    val got = TextRetrieval.proximityTopK(corpus, q, window = 2, k = 5)
    assert(got.collect().map(r => (r.getLong(1), r.getLong(2))).toSet ==
      Set((0L, 1L)))
    // the anchors↔positions pairing must be an EQUI-join keyed on
    // (query_id, doc_id, bucket) — never the 2-key join whose band
    // filter sees the per-doc position cross product (O(L²) per doc)
    val plan = got.queryExecution.executedPlan.toString
    assert(
      """(?:SortMergeJoin|ShuffledHashJoin|BroadcastHashJoin) \[query_id#\d+L?, doc_id#\d+L?, b#\d+L?\]""".r
        .findFirstIn(plan).isDefined,
      s"expected the 3-key bucketed position join, got:\n$plan")
  }

  test("bucketed proximity ≡ brute-force window count, dense repeated terms") {
    import spark.implicits._
    // deterministic corpus with heavy term repetition (the stopword
    // shape that made the naive pairing quadratic)
    val vocab = Vector("a", "b", "c", "d", "e")
    val docsLocal = (0L until 30L).map { i =>
      val toks = (0 until 24).map(j => vocab(((i * 7 + j * 13) % 31 % 5).toInt))
      (i, toks)
    }
    val df = docsLocal.map { case (i, ts) => (i, ts.mkString(" ")) }
      .toDF("doc_id", "text")
    val qTerms = Seq("a", "b", "c")
    val q = qTerms.map(t => (1L, t)).toDF("query_id", "tok")
    val w = 4
    val got = TextRetrieval.proximityTopK(df, q, window = w, k = 100)
      .collect().map(r => (r.getLong(1), r.getLong(2))).toMap
    // brute force: 1-based positions, anchor = any query-term position,
    // match when [a, a+w) holds all three terms
    val want = docsLocal.map { case (i, ts) =>
      val pos = ts.zipWithIndex.collect {
        case (t, j) if qTerms.contains(t) => (t, j + 1)
      }
      val anchors = pos.map(_._2).count { a =>
        qTerms.forall(t => pos.exists { case (tt, p) =>
          tt == t && p >= a && p < a + w })
      }
      i -> anchors.toLong
    }.filter(_._2 > 0L).toMap
    assert(got == want)
  }

  test("phrase semantics: scattered or reordered terms score zero") {
    import spark.implicits._
    val corpus = Seq(
      (0L, "alpha beta gamma delta"),       // exact hit
      (1L, "alpha beta  gamma x"),          // whitespace run must not widen the gap
      (2L, "alpha x beta gamma"),           // scattered: no hit
      (3L, "gamma beta alpha"),             // reordered: no hit
      (4L, "alpha beta gamma alpha beta gamma") // two occurrences
    ).toDF("doc_id", "text")
    val ph = Seq((7L, "alpha beta gamma")).toDF("query_id", "phrase")
    val got = TextRetrieval.phraseTopK(corpus, ph, 5)
      .collect().map(r => (r.getLong(1), r.getLong(2))).toSet
    assert(got == Set((4L, 2L), (0L, 1L), (1L, 1L)))
    val ix = fresh("phrase_sem")
    TextRetrieval.buildPositionalIndex(spark, ix, corpus, batches = 2)
    val ixGot = TextRetrieval.phraseTopKIndexed(spark, ix, ph, 5)
      .collect().map(r => (r.getLong(1), r.getLong(2))).toSet
    assert(ixGot == got)
  }
}
