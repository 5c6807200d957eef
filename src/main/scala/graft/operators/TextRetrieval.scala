package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Sparse text RETRIEVAL over the corpus — the inverted-index top-k
  * shape of Lucene/Elasticsearch, as a batch operator (the keyword
  * counterpart of [[Similarity]]'s dense ANN family; extension beyond
  * the reference, which has no search surface).
  */
object TextRetrieval {

  /** Per-posting BM25 contribution on fixed-point integers — shared by
    * the plain and the max-score-pruned operators so both score
    * BIT-IDENTICALLY. Columns expected in scope: tf, df, dl, t_total,
    * n_docs. See [[bm25TopK]] for the derivation.
    */
  private val ContribSql =
    "((CAST(1000000 AS DECIMAL(38,0)) * (2 * (n_docs - df) + 1))" +
      " div (2 * df + 1))" +
      " * (CAST(88 AS DECIMAL(38,0)) * t_total * tf)" +
      " div (CAST(40 AS DECIMAL(38,0)) * t_total * tf" +
      " + 12 * t_total + 36 * dl * n_docs)"

  /** Per-TERM score ceiling: [[ContribSql]] evaluated at (tf = tfmax,
    * dl = dlmin). The real-valued factor tf/(40·T·tf + 12·T + 36·dl·N)
    * is increasing in tf and decreasing in dl, and floor is monotone,
    * so this integer is ≥ every posting's contribution for the term —
    * a PROVABLE bound, which is what keeps the pruned operator exact.
    */
  private val UbSql =
    "((CAST(1000000 AS DECIMAL(38,0)) * (2 * (n_docs - df) + 1))" +
      " div (2 * df + 1))" +
      " * (CAST(88 AS DECIMAL(38,0)) * t_total * tfmax)" +
      " div (CAST(40 AS DECIMAL(38,0)) * t_total * tfmax" +
      " + 12 * t_total + 36 * dlmin * n_docs)"

  /** Per-POSTING score floor: [[ContribSql]] at the posting's own tf
    * but dl = dlmax — monotone the other way, so this integer is ≤ the
    * posting's true contribution. Sums of these certify a LOWER bound
    * on a doc's true score, which is what lets θ come from bounds
    * alone (no scoring pass, no corpus-scaled joins).
    */
  private val LbSql =
    "((CAST(1000000 AS DECIMAL(38,0)) * (2 * (n_docs - df) + 1))" +
      " div (2 * df + 1))" +
      " * (CAST(88 AS DECIMAL(38,0)) * t_total * tf)" +
      " div (CAST(40 AS DECIMAL(38,0)) * t_total * tf" +
      " + 12 * t_total + 36 * dlmax * n_docs)"

  private case class CorpusStats(tf: DataFrame, dl: DataFrame,
      dfreq: DataFrame, tot: DataFrame)

  /** One corpus tokenization feeding the tf/dl/df aggregates (ordinary
    * combiner shuffles, the only corpus-scaled work in either operator).
    */
  private def corpusStats(docs: DataFrame): CorpusStats = {
    val toks = docs
      .select(col("doc_id"), explode(split(col("text"), "\\s+")).as("tok"))
      .filter(length(col("tok")) > 0)
    val tf = toks.groupBy(col("doc_id"), col("tok"))
      .agg(count(lit(1)).as("tf"))
    val dl = tf.groupBy(col("doc_id")).agg(sum(col("tf")).as("dl"))
    val dfreq = tf.groupBy(col("tok")).agg(count(lit(1)).as("df"))
    val tot = dl.agg(sum(col("dl")).as("t_total"), count(lit(1)).as("n_docs"))
    CorpusStats(tf, dl, dfreq, tot)
  }

  private def topK(scores: DataFrame, k: Int): DataFrame = {
    val byScore = Window.partitionBy(col("query_id"))
      .orderBy(col("score_pm").desc, col("doc_id"))
    scores.withColumn("rnk", row_number().over(byScore))
      .filter(col("rnk") <= k)
  }

  /** Okapi BM25 top-k retrieval (Robertson & Walker's classic ranking,
    * k1 = 1.2, b = 0.75), rebuilt on FIXED-POINT integer arithmetic so
    * any SQL engine replays scores bit-for-bit:
    *
    *  - idf_pm(t)   = (10⁶ · (2·(N − df) + 1)) div (2·df + 1) — the
    *    RSJ odds ratio (N − df + ½)/(df + ½) scaled to parts-per-
    *    million, WITHOUT the log: a rational, strictly-positive idf
    *    (log-free BM25 variant; the log is monotone per term, so rare
    *    terms still dominate, but this variant weighs them more
    *    steeply — a documented scoring choice, not an approximation of
    *    float BM25);
    *  - tf-part(t,d) = (88·T·tf) / (40·T·tf + 12·T + 36·dl·N) — exactly
    *    tf·(k1+1) / (tf + k1·(1 − b + b·dl/avgdl)) with k1 = 12/10,
    *    b = 3/4, avgdl = T/N, multiplied through by 40·T so every term
    *    is an integer;
    *  - score(q,d) = Σ_t∈q idf_pm(t) · tf-part(t,d), one integer
    *    division per factor, DECIMAL(38,0) intermediates (Long wraps
    *    silently near 9.2e18 — 10⁶·2N·88·T·tf passes that far below
    *    100 TB; 38 digits cover it beyond any real corpus).
    *
    * Scale shape: one corpus tokenization feeds tf/dl/df aggregates
    * (ordinary combiner shuffles); the QUERY side is bounded and
    * broadcast, so candidate generation is a map-side semi-join of the
    * postings — docs sharing no query term never materialize. The dl
    * join's strategy is the session's (see [[graft.GraftSession]]'s
    * broadcast threshold). Per-query ranking is a top-k window keyed by
    * query_id; its cost is the posting-list length of the query's
    * terms, the classic inverted-index bound — stopword-heavy queries
    * degrade toward a corpus scan; [[bm25TopKPruned]] is the
    * max-score/WAND-family answer, bit-identical output.
    *
    * `queries`: (query_id, tok) — one row per query term (dedup'd
    * here). Returns (query_id, doc_id, score_pm, rnk) with rnk ≤ k,
    * ties broken by doc_id for cross-engine determinism.
    */
  def bm25TopK(docs: DataFrame, queries: DataFrame, k: Int = 10): DataFrame = {
    require(k > 0, s"bad k $k")
    val st = corpusStats(docs)
    // The baseline plan ran FOUR full corpus tokenizations — posts, df,
    // dl, totals each re-derived tf on its own branch — and the full-
    // vocabulary df aggregate paid a vocabulary-wide shuffle + merge
    // join for the handful of query terms that matter. Restructured to
    // TWO corpus passes and a query-scaled df:
    //  - dl (one narrow (doc_id, dl) long pair per doc) is the ONE
    //    pinned frame: it fundamentally needs a full pass (doc length
    //    counts every token) and feeds two consumers (scoring join +
    //    totals), so the pin collapses passes 3 and 4 into one; its
    //    payload is docs × 16 B — never the text, never tf.
    //  - df comes from the QUERY-FILTERED tf: tf has one row per
    //    (doc, tok), so count(*) over a tok window of the filtered
    //    postings equals the corpus-wide df of every query term — the
    //    full-vocabulary aggregate and its shuffle disappear, and posts
    //    + df ride ONE tokenization pass.
    // Corpus-scaled tf is deliberately NOT pinned (r12 measured: eager
    // tf pins re-ran q210 at 1.32× the baseline min — a corpus-payload
    // checkpoint costs more than the pass it saves).
    val dlP = Pins.pin(st.dl,
      org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK_SER)
    val tot = dlP.agg(sum(col("dl")).as("t_total"), count(lit(1)).as("n_docs"))
    // qTerms feeds TWO broadcast builds (the qToks tf-filter and the
    // query_id scoring join), so a corpus-derived `queries` frame (the
    // q210 fixture) tokenizes the corpus once per build. NOT pinned
    // (r13 measured): a query-bounded Pins.pin re-probed q210 at
    // 3.1-3.7 s vs 2.7-3.1 s on the same tree — the pin's job barrier
    // outweighs the duplicate scan of a page-cached fixture, the same
    // mechanism as every rejected r12 pin. Callers whose query set is
    // expensive to derive should pin it THEMSELVES before calling (the
    // operator cannot know; a forced pin would tax the common
    // tiny-literal-queries case with a pointless barrier job).
    val qTerms = queries.select(col("query_id"), col("tok")).distinct()
    val qToks = qTerms.select(col("tok")).distinct()
    val postsWithDf = st.tf.join(broadcast(qToks), "tok")
      .withColumn("df", count(lit(1)).over(Window.partitionBy(col("tok"))))
      .join(broadcast(qTerms), "tok")
    // by doc before scoring: the tok window leaves each stopword's whole
    // posting list in one partition, and a broadcast dl join would score
    // it there (q210 at sf0.1: 2.7 s vs 1.7 s with this exchange)
    val scores = postsWithDf.repartition(col("doc_id"))
      .join(dlP, "doc_id")
      .crossJoin(broadcast(tot))
      .withColumn("c", expr(ContribSql))
      .groupBy(col("query_id"), col("doc_id"))
      .agg(sum(col("c")).as("score_pm"))
    topK(scores, k)
  }

  /** Max-score-pruned BM25 top-k — Turtle & Flood's max-score with
    * ESSENTIAL TERM LISTS (the WAND family's candidate-generation
    * pruning), batch-shaped, output BIT-IDENTICAL to [[bm25TopK]]:
    *
    *  1. per query term, a provable score ceiling ub(t) = idf_pm(t) ×
    *     tf-part(tfmax(t), dlmin) ([[UbSql]]) and per posting a
    *     provable floor at dl = dlmax ([[LbSql]]) — monotone bounds,
    *     floor-of-monotone, never on the wrong side of the truth;
    *  2. θ(q) = the k-th largest FLOOR among docs matching the query's
    *     R ≤ 16 highest-ceiling (≈ rarest) terms — k docs provably
    *     score ≥ θ, from rare-term posting lists only;
    *  3. ESSENTIAL terms: sort the query's terms by ascending ceiling;
    *     the maximal prefix whose cumulative ceiling stays < θ is
    *     non-essential — a doc containing ONLY those terms scores
    *     ≤ that cumulative sum < θ ≤ true k-th, so candidates are
    *     docs with ≥ 1 essential-term posting. Stopwords have tiny
    *     ceilings and land in the non-essential prefix: their
    *     corpus-sized posting lists NEVER generate candidates — the
    *     batch analogue of WAND's pointer skipping;
    *  4. exact scoring runs only over candidate docs' postings
    *     (semi-joined by doc, then by (query, term)), with the
    *     query-bounded df slice broadcast and dl confined to
    *     candidates.
    *
    * Every drop is justified by an arithmetic bound, never an
    * estimate, so results stay hash-verifiable against the same oracle
    * SQL as [[bm25TopK]] (q216 pins it). Rare-term queries see no
    * benefit (every term essential) and pay the bounds pass as pure
    * overhead — use [[bm25TopK]] when the query mix is known
    * stopword-free. θ tightness degrades with document-length variance
    * (the dlmax floor), never exactness.
    */
  def bm25TopKPruned(docs: DataFrame, queries: DataFrame, k: Int = 10): DataFrame =
    bm25Pruned(docs, queries, k)._1

  /** [[bm25TopKPruned]] plus its instrumentation frames, for specs and
    * oracle-side assertions: (result, postings fully scored, all
    * candidate postings). The counts of the latter two certify "fewer
    * postings scored" — the operator's whole point.
    */
  private[graft] def bm25Pruned(docs: DataFrame, queries: DataFrame,
      k: Int): (DataFrame, DataFrame, DataFrame) = {
    require(k > 0, s"bad k $k")
    val st = corpusStats(docs)
    val qTerms = queries.select(col("query_id"), col("tok")).distinct()
    val qToks = qTerms.select(col("tok")).distinct()
    // DISTINCT postings of the query vocabulary (tok, doc, tf) — the
    // one corpus-scaled frame; pinned eagerly (serialized) because the
    // term stats, the seed pass and the scoring pass all consume it,
    // and re-deriving re-runs the corpus tokenization+tf shuffle
    val ptf = Pins.pin(st.tf.join(broadcast(qToks), "tok"),
      org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK_SER)
    // dl is consumed twice (the global extremes and the scoring join):
    // pin the narrow (doc, dl) longs too, or each consumer re-runs the
    // corpus tokenization+tf shuffle — measured as the dominant cost
    val dlP = Pins.pin(st.dl,
      org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK_SER)
    // one corpus agg row: totals + dl extremes together
    val glob = dlP.agg(sum(col("dl")).as("t_total"),
      count(lit(1)).as("n_docs"),
      min(col("dl")).as("dlmin"), max(col("dl")).as("dlmax"))
    prunedCore(ptf, dlP, glob, qTerms, k)
  }

  /** The max-score machinery shared by [[bm25Pruned]] (in-flight corpus
    * stats) and [[bm25TopKPrunedIndexed]] (stats read from the committed
    * index): bounds, θ seeding, essential-term candidate generation,
    * scoring joins. `ptf` = pinned postings of the query
    * vocabulary (tok, doc_id, tf); `dlP` = (doc_id, dl); `glob` = one
    * row (t_total, n_docs, dlmin, dlmax).
    */
  private def prunedCore(ptf: DataFrame, dlP: DataFrame, glob: DataFrame,
      qTerms: DataFrame, k: Int): (DataFrame, DataFrame, DataFrame) = {
    // query-bounded term stats from the pinned postings themselves:
    // ptf holds every posting of each query term, so df(t) is its
    // posting count — no second corpus pass; the frame is
    // <= |distinct query terms| rows (broadcastable by the same
    // contract as qTerms)
    val termStats = ptf.groupBy(col("tok"))
      .agg(max(col("tf")).as("tfmax"), count(lit(1)).as("df"))
    // per-(query, term) ceilings with the ascending cumulative sum the
    // essential-prefix rule needs — query-bounded rows throughout
    val qub = qTerms
      .join(broadcast(termStats), "tok")
      .crossJoin(broadcast(glob))
      .withColumn("ub_pm", expr(UbSql))
      .select(col("query_id"), col("tok"), col("ub_pm"))
    val byUbAsc = Window.partitionBy(col("query_id"))
      .orderBy(col("ub_pm").asc, col("tok"))
    val qubRanked = qub.withColumn("cum_ub",
      sum(col("ub_pm")).over(byUbAsc
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)))
    // θ seed: the R highest-ceiling (≈ rarest) terms per query — their
    // posting lists are short by construction; k floors bound the
    // true k-th best from below with no corpus-scaled expansion
    val seedR = math.max(k, 16)
    val byUbDesc = Window.partitionBy(col("query_id"))
      .orderBy(col("ub_pm").desc, col("tok"))
    val seedTerms = qub.withColumn("__r", row_number().over(byUbDesc))
      .filter(col("__r") <= seedR)
      .select(col("query_id"), col("tok"))
    val seedLb = ptf
      .join(broadcast(seedTerms), "tok")
      .join(broadcast(termStats), "tok")
      .crossJoin(broadcast(glob))
      .withColumn("lb_pm", expr(LbSql))
      .groupBy(col("query_id"), col("doc_id"))
      .agg(sum(col("lb_pm")).as("doc_lb"))
    val byLb = Window.partitionBy(col("query_id"))
      .orderBy(col("doc_lb").desc, col("doc_id"))
    val theta = seedLb.withColumn("__r", row_number().over(byLb))
      .filter(col("__r") <= k)
      .groupBy(col("query_id"))
      .agg(min(col("doc_lb")).as("theta"), count(lit(1)).as("nseed"))
    // essential terms: everything whose cumulative ceiling reaches θ
    // (θ missing or a short seed ⇒ ALL terms essential — no pruning)
    val ess = qubRanked.join(broadcast(theta), Seq("query_id"), "left")
      .filter(col("theta").isNull || col("nseed") < k ||
        col("cum_ub") >= col("theta"))
      .select(col("query_id"), col("tok"))
    // candidate (query, doc) pairs: one essential-term posting suffices;
    // non-essential (stopword) posting lists never expand here. The set
    // is pinned: both scoring semi-joins read it.
    val cand = Pins.pin(ptf.join(broadcast(ess), "tok")
      .select(col("query_id"), col("doc_id")).distinct())
    val candDocs = cand.select(col("doc_id")).distinct()
    // exact scoring over candidate docs' postings only: expand by doc,
    // keep (query, term) pairs of the query, df broadcast, dl confined
    val survPosts = ptf.join(candDocs, Seq("doc_id"), "left_semi")
      .join(broadcast(qTerms), "tok") // attach query_id per matching query
      .join(cand, Seq("query_id", "doc_id"), "left_semi")
    val scores = survPosts
      .join(broadcast(termStats.select(col("tok"), col("df"))), "tok")
      .join(dlP.join(candDocs, Seq("doc_id"), "left_semi"), "doc_id")
      .crossJoin(broadcast(glob.select(col("t_total"), col("n_docs"))))
      .withColumn("c", expr(ContribSql))
      .groupBy(col("query_id"), col("doc_id"))
      .agg(sum(col("c")).as("score_pm"))
    // instrumentation: postings fully scored vs all candidate postings
    (topK(scores, k), survPosts, ptf.join(broadcast(qTerms), "tok"))
  }

  // ------------------------------------------------------------------
  // Persistent inverted index — precompute once, query many (the
  // reference's whole consumption thesis: README.md:128-138 precomputes
  // 140B+ pairs so consumers do pruned point reads; its pointer DB
  // data/src/utils/duckdb.py:40-84 IS a prebuilt index artifact). Plain
  // bm25TopK re-tokenizes the WHOLE corpus inside every call — at
  // 100 TB that is a full corpus scan per query batch. buildIndex pays
  // that scan ONCE into four TxLog-committed tables; every subsequent
  // query batch reads the token-pruned slice of them and nothing else.
  // ------------------------------------------------------------------

  /** Empty results in the operators' output shapes — the indexed paths
    * must DEGRADE like the inline operators (empty in, empty out), not
    * throw from readWhereIn's non-empty-probe contract.
    */
  private def emptyTopK(spark: org.apache.spark.sql.SparkSession): DataFrame =
    // score_pm is BIGINT in the real paths (ContribSql's trailing
    // IntegralDivide returns long) — the empty frame must match or a
    // consumer unioning batch results breaks on the degenerate case
    spark.range(0).select(col("id").as("query_id"), col("id").as("doc_id"),
      col("id").as("score_pm"), col("id").cast("int").as("rnk"))

  private def emptyPostings(spark: org.apache.spark.sql.SparkSession): DataFrame =
    spark.range(0).select(col("id").as("doc_id"),
      col("id").cast("string").as("tok"), col("id").as("tf"))

  private def postingsDir(indexDir: String) = s"$indexDir/postings"
  private def dlDir(indexDir: String) = s"$indexDir/dl"
  private def dfDir(indexDir: String) = s"$indexDir/df"
  private def totalsDir(indexDir: String) = s"$indexDir/totals"

  /** Build (or rebuild) the persistent BM25 index for `docs` under
    * `indexDir`: four TxLog tables —
    *
    *  - `postings` (tok, doc_id, tf), range-CLUSTERED by token
    *    ([[graft.sources.TxLog.commitClustered]]) so a query's terms
    *    manifest-prune to the few batches whose token range is touched;
    *  - `df` (tok, df), token-clustered the same way;
    *  - `dl` (doc_id, dl), clustered by doc id;
    *  - `totals` (t_total, n_docs), one row.
    *
    * ONE corpus tokenization feeds all four (the tf frame is pinned
    * eagerly; without the pin each commit would re-run the corpus
    * shuffle). The stored values are bit-for-bit the aggregates
    * [[bm25TopK]] computes inline, so [[bm25TopKIndexed]] scores
    * bit-identically by construction (q221 pins it against q210's
    * oracle). The index is versioned data: snapshots, time travel,
    * vacuum, and [[graft.sources.TxLog.autoCluster]] all apply.
    */
  def buildIndex(spark: org.apache.spark.sql.SparkSession, indexDir: String,
      docs: DataFrame, batches: Int = 32): Unit = {
    import graft.sources.TxLog
    val f = new org.apache.hadoop.fs.Path(indexDir)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    f.delete(new org.apache.hadoop.fs.Path(indexDir), true)
    val st = corpusStats(docs)
    val tfP = Pins.pin(st.tf,
      org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK_SER)
    TxLog.commitClustered(spark, postingsDir(indexDir), tfP,
      Seq("tok", "doc_id"), batches)
    TxLog.commitClustered(spark, dlDir(indexDir),
      tfP.groupBy(col("doc_id")).agg(sum(col("tf")).as("dl")),
      Seq("doc_id"), batches)
    TxLog.commitClustered(spark, dfDir(indexDir),
      tfP.groupBy(col("tok")).agg(count(lit(1)).as("df")),
      Seq("tok"), math.max(batches / 4, 1))
    // totals from the JUST-COMMITTED dl table — a narrow O(n_docs)
    // scan, not a second corpus-scaled shuffle over the tf frame
    TxLog.commit(spark, totalsDir(indexDir),
      TxLog.read(spark, dlDir(indexDir))
        .agg(sum(col("dl")).as("t_total"), count(lit(1)).as("n_docs"),
          min(col("dl")).as("dlmin"), max(col("dl")).as("dlmax")))
    tfP.unpersist()
  }

  /** Incremental index maintenance: fold `newDocs` (doc_ids DISJOINT
    * from every indexed doc — the append contract; re-ingesting an id
    * double-counts it) into an existing index WITHOUT touching the old
    * corpus:
    *
    *  - delta postings and dl rows APPEND as new clustered batches
    *    (old batches carry verbatim — O(delta) write);
    *  - df MERGES surgically: only the batches holding the delta's
    *    vocabulary rewrite ([[graft.sources.TxLog.merge]]'s two-phase
    *    pruning) — O(touched vocabulary), never O(corpus);
    *  - totals recommit (one row).
    *
    * Post-append the index answers EXACTLY as a fresh [[buildIndex]]
    * over the union corpus (IndexSpec pins bit-equality). Appended
    * posting batches overlap old token ranges; [[graft.sources.TxLog
    * .autoCluster]] on the postings table re-tightens the layout when
    * the manifest says probes read too much.
    */
  def appendToIndex(spark: org.apache.spark.sql.SparkSession,
      indexDir: String, newDocs: DataFrame, batches: Int = 8): Unit = {
    import graft.sources.TxLog
    val st = corpusStats(newDocs)
    val tfP = Pins.pin(st.tf,
      org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK_SER)
    if (tfP.isEmpty) { tfP.unpersist(); return }
    TxLog.commitClustered(spark, postingsDir(indexDir), tfP,
      Seq("tok", "doc_id"), batches, append = true)
    TxLog.commitClustered(spark, dlDir(indexDir),
      tfP.groupBy(col("doc_id")).agg(sum(col("tf")).as("dl")),
      Seq("doc_id"), batches, append = true)
    val deltaDf = tfP.groupBy(col("tok")).agg(count(lit(1)).as("df"))
    // vocabulary-scaled (never corpus-scaled) reconciliation: old df
    // rows of the delta's vocabulary + the delta, summed; merge
    // rewrites only the touched df batches
    val merged = TxLog.read(spark, dfDir(indexDir))
      .join(deltaDf.select(col("tok")), Seq("tok"), "left_semi")
      .withColumnRenamed("df", "df_old")
      .join(deltaDf.withColumnRenamed("df", "df_new"), Seq("tok"), "full_outer")
      .select(col("tok"),
        (coalesce(col("df_old"), lit(0L)) + coalesce(col("df_new"), lit(0L)))
          .as("df"))
    TxLog.merge(spark, dfDir(indexDir), merged, "tok")
    // totals recompute from the post-append dl table (narrow O(n_docs)
    // scan — no union arithmetic, no second corpus-scaled shuffle)
    TxLog.commit(spark, totalsDir(indexDir),
      TxLog.read(spark, dlDir(indexDir))
        .agg(sum(col("dl")).as("t_total"), count(lit(1)).as("n_docs"),
          min(col("dl")).as("dlmin"), max(col("dl")).as("dlmax")))
    tfP.unpersist()
  }

  /** [[bm25TopK]] answered from a prebuilt [[buildIndex]] — ZERO
    * corpus-scaled work at query time: the query's terms prune the
    * postings and df tables at the MANIFEST level
    * ([[graft.sources.TxLog.readWhereIn]] — KB metadata read, then a
    * scan of only the touched batches), dl joins by its committed
    * layout, totals is one row. Identical fixed-point arithmetic over
    * identical stored aggregates ⇒ scores are bit-for-bit
    * [[bm25TopK]]'s (q221 hash-pins it against q210's oracle SQL).
    *
    * No hand join pins: the index tables are REGISTERED TxLog scans
    * whose manifest-exact row counts reach the planner via
    * [[graft.plans.TxStatsRule]], so broadcast-vs-merge is decided from
    * real counts at any scale.
    */
  def bm25TopKIndexed(spark: org.apache.spark.sql.SparkSession,
      indexDir: String, queries: DataFrame, k: Int = 10,
      asOf: Option[Long] = None): DataFrame = {
    import graft.sources.TxLog
    require(k > 0, s"bad k $k")
    // The query side is driver-bounded by the operator's contract (the
    // same contract that lets bm25TopK broadcast it) and it ALREADY gets
    // collected here for the manifest-pruned reads — so collect the full
    // (query_id, tok) pairs once and rebuild the scoring join side from
    // the collected rows. Before this, the caller's query frame (a
    // corpus-scan derivation in q223) was evaluated twice: once for the
    // vocabulary collect and again for the scoring broadcast.
    val qSel = queries.select(col("query_id"), col("tok")).distinct()
    val qRows = qSel.collect()
    if (qRows.isEmpty) return emptyTopK(spark) // empty in, empty out
    val qTerms = spark.createDataFrame(
      java.util.Arrays.asList(qRows: _*), qSel.schema)
    val toks = qRows.map(_.getString(1)).distinct.toSeq
    graft.plans.TxStatsRule.register(dlDir(indexDir))
    graft.plans.TxStatsRule.register(postingsDir(indexDir))
    // INDEX TIME TRAVEL: build and every maintenance call bump each of
    // the four tables by exactly one version in lockstep (build = v1;
    // appendToIndex = one clustered append / merge / recommit apiece;
    // compactIndex = one clustered rewrite apiece), so a single asOf
    // names a consistent cross-table snapshot — querying the
    // pre-append index reproduces bm25TopK over the pre-append corpus
    // bit-for-bit (IndexSpec pins it).
    val posts = TxLog.readWhereIn(spark, postingsDir(indexDir), "tok", toks, asOf)
    val dfq = TxLog.readWhereIn(spark, dfDir(indexDir), "tok", toks, asOf)
    val dl = TxLog.read(spark, dlDir(indexDir), asOf)
    val tot = TxLog.read(spark, totalsDir(indexDir), asOf)
    val scores = posts
      .join(broadcast(qTerms), "tok")
      .join(broadcast(dfq), "tok") // ≤ |query vocabulary| rows
      .join(dl, "doc_id") // stats-informed strategy, no hint
      .crossJoin(broadcast(tot))
      .withColumn("c", expr(ContribSql))
      .groupBy(col("query_id"), col("doc_id"))
      .agg(sum(col("c")).as("score_pm"))
    topK(scores, k)
  }

  /** All four index tables at the same version — the invariant every
    * maintenance verb preserves (each bumps all four by one). False
    * means a maintenance call died mid-flight; readers can still time
    * travel to the last consistent version, but [[refreshIndex]] must
    * not fold more deltas on top.
    */
  def indexConsistent(spark: org.apache.spark.sql.SparkSession,
      indexDir: String): Boolean = {
    import graft.sources.TxLog
    val vs = Seq(postingsDir(indexDir), dlDir(indexDir), dfDir(indexDir),
      totalsDir(indexDir)).map(TxLog.latestVersion(spark, _))
    vs.distinct.size == 1 && vs.head > 0
  }

  /** STREAMING/CDC maintenance: fold every staged corpus version the
    * index hasn't seen. `stagingDir` is an APPEND-ONLY TxLog documents
    * table — the exactly-once landing zone
    * [[graft.streaming.StreamingOps.streamingTxIngest]] maintains
    * (micro-batches commit with deterministic names, so checkpoint
    * replays never double-land) — and `$indexDir/ledger` records the
    * staged version the index reflects. The fold reads ONLY the delta
    * batch dirs (`versionDelta` — KB metadata), never the accumulated
    * corpus.
    *
    * Semantics: a refresh finding ledger ≥ latest is a metadata-only
    * no-op (trigger replays are free); the staging table must be
    * append-only over the folded range (refuses otherwise — deletes go
    * through [[removeFromIndex]]); a refresh that died between table
    * commits leaves the versions unequal, and the next refresh FAILS
    * LOUD on [[indexConsistent]] instead of double-applying — restore
    * the tables to the last common version or rebuild. Returns the
    * staged version now reflected, None when already current.
    */
  def refreshIndex(spark: org.apache.spark.sql.SparkSession,
      indexDir: String, stagingDir: String): Option[Long] = {
    import graft.sources.TxLog
    val ledgerDir = s"$indexDir/ledger"
    val latest = TxLog.latestVersion(spark, stagingDir)
    require(latest > 0, s"no committed staging version in $stagingDir")
    val ledger =
      if (TxLog.latestVersion(spark, ledgerDir) > 0)
        Some(TxLog.read(spark, ledgerDir).head())
      else None
    val seen = ledger.map(_.getAs[Long]("src_version")).getOrElse(0L)
    if (seen >= latest) return None
    if (seen > 0L) {
      // two distinct mid-maintenance states, both fail LOUD instead of
      // double-applying: (a) a maintenance call died BETWEEN table
      // commits (versions unequal); (b) a refresh died AFTER its four
      // lockstep commits but BEFORE the ledger commit — versions are
      // equal but AHEAD of what the ledger recorded, so re-folding the
      // same staged delta would double-count it. (b) also fires when
      // the index was maintained manually (remove/compact) since the
      // last refresh — recommit the ledger via [[resyncIndexLedger]]
      // to resume streaming maintenance after manual verbs.
      require(indexConsistent(spark, indexDir),
        s"index at $indexDir is mid-maintenance (table versions disagree); " +
          "restore to the last common version or rebuild before refreshing")
      val idxV = TxLog.latestVersion(spark, postingsDir(indexDir))
      val ledgerIdxV = ledger.get.getAs[Long]("index_version")
      require(idxV == ledgerIdxV,
        s"index at $indexDir is at v$idxV but the ledger recorded " +
          s"v$ledgerIdxV: a refresh died before its ledger commit (restore " +
          "or rebuild), or the index was maintained manually since the " +
          "last refresh (resyncIndexLedger to resume)")
    }
    val (added, removed) = TxLog.versionDelta(spark, stagingDir, seen, latest)
    require(removed.isEmpty,
      s"staging table must be append-only over the folded range: " +
        s"($seen, $latest] removed ${removed.size} batch dirs")
    // deletion vectors change a batch's CONTENT without changing the
    // dir set — versionDelta is blind to them, and folding only the
    // added dirs would silently keep dv-deleted staging docs indexed
    val dvChanged = TxLog.versionChangedShared(spark, stagingDir, seen, latest)
    require(dvChanged.isEmpty,
      s"staging table must be append-only over the folded range: " +
        s"($seen, $latest] changed ${dvChanged.size} existing batch lines " +
        "(deletion vectors?) — deletes go through removeFromIndex")
    if (added.nonEmpty) {
      if (seen == 0L)
        buildIndex(spark, indexDir, spark.read.parquet(added: _*))
      else
        appendToIndex(spark, indexDir, spark.read.parquet(added: _*))
    } else if (seen == 0L)
      require(added.nonEmpty, s"staging $stagingDir v$latest holds no batch dirs")
    // metadata-only staging commits (e.g. a restore) advance the ledger
    // with no fold
    TxLog.commit(spark, ledgerDir,
      spark.range(1).select(lit(latest).as("src_version"),
        lit(TxLog.latestVersion(spark, postingsDir(indexDir)))
          .as("index_version")))
    Some(latest)
  }

  /** Recommit the [[refreshIndex]] ledger's index-version watermark
    * after MANUAL maintenance (removeFromIndex / compactIndex /
    * appendToIndex called directly) so streaming refreshes can resume.
    * Refuses a mid-maintenance index — resync never papers over a
    * crashed refresh.
    */
  def resyncIndexLedger(spark: org.apache.spark.sql.SparkSession,
      indexDir: String): Unit = {
    import graft.sources.TxLog
    val ledgerDir = s"$indexDir/ledger"
    require(TxLog.latestVersion(spark, ledgerDir) > 0,
      s"no refresh ledger at $ledgerDir")
    require(indexConsistent(spark, indexDir),
      s"index at $indexDir is mid-maintenance (table versions disagree)")
    val seen = TxLog.read(spark, ledgerDir).head().getAs[Long]("src_version")
    TxLog.commit(spark, ledgerDir,
      spark.range(1).select(lit(seen).as("src_version"),
        lit(TxLog.latestVersion(spark, postingsDir(indexDir)))
          .as("index_version")))
  }

  /** DELETE documents from the index — the lifecycle's last verb
    * (build / append / compact / remove, all time-travelable):
    *
    *  - postings and dl rows of the doomed docs TOMBSTONE via
    *    [[graft.sources.TxLog.mergeVectored]] (merge-on-read: every
    *    data file carries forward, one KB vector sidecar) — every read
    *    path, including [[graft.sources.TxLog.readWhereIn]]'s pruned
    *    scans, applies the vectors;
    *  - df and totals RECOMPUTE from the post-delete postings/dl (df is
    *    a whole-column truth — a removed doc decrements every term it
    *    contained, so the recompute reads the postings once; deletes
    *    are the rare verb and queries stay corpus-pass-free, which is
    *    the index's actual contract).
    *
    * All four tables bump one version (the [[bm25TopKIndexed]] asOf
    * lockstep); the pre-delete index remains queryable at the prior
    * version. Accumulated tombstones degrade scans per FIXTURES §F —
    * [[graft.sources.TxLog.autoPurge]] on the postings/dl tables is
    * the measured re-materialization policy.
    */
  def removeFromIndex(spark: org.apache.spark.sql.SparkSession,
      indexDir: String, docIds: DataFrame): Unit = {
    import graft.sources.TxLog
    // consumed by two merges; bounded by contract
    val ids = Pins.pin(docIds.select(col("doc_id")).distinct())
    // an empty delete set must be a FULL no-op: mergeVectored
    // early-returns without committing on an empty source, so letting
    // df/totals recommit below would break the four-table version
    // lockstep permanently (indexConsistent false forever)
    if (ids.isEmpty) return
    // mergeVectored's source must carry the target schema; only the key
    // matters in (delete, insertNotMatched = false) mode
    TxLog.mergeVectored(spark, postingsDir(indexDir),
      ids.withColumn("tok", lit("")).withColumn("tf", lit(0L)),
      "doc_id", whenMatched = "delete", insertNotMatched = false)
    TxLog.mergeVectored(spark, dlDir(indexDir),
      ids.withColumn("dl", lit(0L)),
      "doc_id", whenMatched = "delete", insertNotMatched = false)
    val posts = TxLog.read(spark, postingsDir(indexDir))
    TxLog.commitClustered(spark, dfDir(indexDir),
      posts.groupBy(col("tok")).agg(count(lit(1)).as("df")), Seq("tok"), 8)
    TxLog.commit(spark, totalsDir(indexDir),
      TxLog.read(spark, dlDir(indexDir))
        .agg(sum(col("dl")).as("t_total"), count(lit(1)).as("n_docs"),
          min(col("dl")).as("dlmin"), max(col("dl")).as("dlmax")))
  }

  /** Re-tighten the committed layouts after appends: every
    * [[appendToIndex]] adds delta batches spanning the full token
    * range, so a point probe that read ONE batch reads 1 + n_appends
    * of them — the manifest's `clusterHealth` overlap count is the
    * measured signal. One range-clustered rewrite per table
    * ([[graft.sources.TxLog.commitClustered]], replace mode) restores
    * probe-reads-one; the fragmented history stays time-travelable.
    * The dedicated rewrite exists because `TxLog.autoCluster`'s
    * z-order path is integer-keyed — token strings need the
    * range-shuffle layout the index was built with.
    */
  def compactIndex(spark: org.apache.spark.sql.SparkSession,
      indexDir: String, batches: Int = 32): Unit = {
    import graft.sources.TxLog
    TxLog.commitClustered(spark, postingsDir(indexDir),
      TxLog.read(spark, postingsDir(indexDir)), Seq("tok", "doc_id"), batches)
    TxLog.commitClustered(spark, dfDir(indexDir),
      TxLog.read(spark, dfDir(indexDir)), Seq("tok"),
      math.max(batches / 4, 1))
    TxLog.commitClustered(spark, dlDir(indexDir),
      TxLog.read(spark, dlDir(indexDir)), Seq("doc_id"), batches)
    // totals is one row; recommit keeps the four versions in lockstep
    // (the asOf contract of bm25TopKIndexed)
    TxLog.commit(spark, totalsDir(indexDir),
      TxLog.read(spark, totalsDir(indexDir)))
  }

  /** Measure-then-act index maintenance (round-9 verdict #7 — the
    * `TxLog.autoCluster`/`autoPurge` discipline for the index
    * families): fire [[compactIndex]]'s clustered rewrite only when
    * the measured postings fragmentation exceeds `maxOverlapFraction`
    * (which also materializes any accumulated merge-on-read delete
    * tombstones); below it the call is a metadata-only no-op, so a
    * scheduler can probe after every append burst for the cost of one
    * manifest read. The fragmentation measure is the table-level
    * token-range overlap ([[graft.sources.TxLog.overlapDegraded]]):
    * every append epoch's batches span the full token range, so a
    * one-term probe reads 1 + n_appends batches. Returns true when it
    * compacted.
    */
  def autoCompactIndex(spark: org.apache.spark.sql.SparkSession,
      indexDir: String, maxOverlapFraction: Double = 0.5,
      batches: Int = 32): Boolean =
    graft.sources.TxLog.overlapDegraded(spark, postingsDir(indexDir),
        Seq("tok"), maxOverlapFraction) && {
      compactIndex(spark, indexDir, batches); true
    }

  /** [[bm25TopKPruned]] answered from a prebuilt [[buildIndex]] — the
    * max-score/essential-terms pruning composed with the committed
    * index: postings of the query vocabulary arrive MANIFEST-PRUNED
    * (readWhereIn), dl is the committed table, and the global totals +
    * dl extremes the bounds need are ONE committed row — zero
    * corpus-scaled work even in the bounds pass. Output bit-identical
    * to [[bm25TopKPruned]] and [[bm25TopK]] (q224 pins it against
    * q216's oracle).
    */
  def bm25TopKPrunedIndexed(spark: org.apache.spark.sql.SparkSession,
      indexDir: String, queries: DataFrame, k: Int = 10): DataFrame =
    bm25PrunedIndexed(spark, indexDir, queries, k)._1

  /** [[bm25TopKPrunedIndexed]] plus the instrumentation frames of
    * [[bm25Pruned]] (result, postings scored, all candidate postings).
    */
  private[graft] def bm25PrunedIndexed(spark: org.apache.spark.sql.SparkSession,
      indexDir: String, queries: DataFrame, k: Int)
      : (DataFrame, DataFrame, DataFrame) = {
    import graft.sources.TxLog
    require(k > 0, s"bad k $k")
    val qTerms = queries.select(col("query_id"), col("tok")).distinct()
    val toks = qTerms.select(col("tok")).distinct()
      .collect().map(_.getString(0)).toSeq
    if (toks.isEmpty) // empty in, empty out (the inline operators' shape)
      return (emptyTopK(spark), emptyPostings(spark), emptyPostings(spark))
    graft.plans.TxStatsRule.register(dlDir(indexDir))
    graft.plans.TxStatsRule.register(postingsDir(indexDir))
    // pinned for the same reason as bm25Pruned's ptf: term stats, the
    // seed pass and the scoring pass all consume it — here the re-read
    // would only re-scan the pruned batches, but the pin also keeps
    // the three consumers' inputs byte-identical
    val ptf = Pins.pin(
      TxLog.readWhereIn(spark, postingsDir(indexDir), "tok", toks),
      org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK_SER)
    val dlP = TxLog.read(spark, dlDir(indexDir))
    val glob = TxLog.read(spark, totalsDir(indexDir))
    prunedCore(ptf, dlP, glob, qTerms, k)
  }

  /** RECIPROCAL-RANK FUSION (Cormack, Clarke & Buettcher 2009) — the
    * standard hybrid-retrieval combiner: given per-query rankings from
    * heterogeneous retrievers (sparse BM25, dense cosine ANN, …), each
    * doc's fused score is Σ_lists 1/(k0 + rank). Rank-based, so
    * incomparable score scales (idf-weighted integers vs cosine
    * doubles) fuse without calibration — the RAG retrieval stack's
    * default. Fixed-point: each reciprocal is the integer
    * `10⁹ div (k0 + rank)`, so fused scores are order-independent
    * integer sums and hash-verify cross-engine (the [[bm25TopK]]
    * convention). Ties break by doc_id.
    *
    * `rankings`: frames with (query_id, doc_id, rnk) — ranks 1-based,
    * anything beyond a retriever's list simply absent (absent = no
    * contribution, standard RRF). Scale shape: one union of
    * (queries × list length)-bounded frames, one combiner groupBy, one
    * per-query top-k window — nothing corpus-scaled.
    */
  def rrfFuse(rankings: Seq[DataFrame], k: Int, k0: Int = 60): DataFrame = {
    require(rankings.nonEmpty, "rrfFuse needs at least one ranking")
    require(k > 0 && k0 >= 0, s"bad k=$k k0=$k0")
    val u = rankings
      .map(_.select(col("query_id"), col("doc_id"), col("rnk")))
      .reduce(_ unionByName _)
    val fused = u
      .select(col("query_id"), col("doc_id"),
        expr(s"CAST(1000000000 div ($k0 + rnk) AS BIGINT)").as("rc"))
      .groupBy(col("query_id"), col("doc_id"))
      .agg(sum(col("rc")).as("rrf_pm"))
    val byScore = Window.partitionBy(col("query_id"))
      .orderBy(col("rrf_pm").desc, col("doc_id"))
    fused.withColumn("rnk", row_number().over(byScore))
      .filter(col("rnk") <= k)
  }

  // ------------------------------------------------------------------
  // PHRASE retrieval — positional postings (the Lucene positions file):
  // term-at-a-time BM25 cannot answer "these words ADJACENT, in this
  // order"; a postings row per (tok, doc, position) can, via the
  // classic alignment join. Positions are 1-based (both engines'
  // natural enumeration).
  // ------------------------------------------------------------------

  /** (doc_id, p, tok): 1-based token positions. Empty tokens drop
    * BEFORE enumeration (a run of whitespace must not widen a gap —
    * adjacency is over the surviving token sequence).
    */
  private def tokenPositions(docs: DataFrame): DataFrame =
    docs.select(col("doc_id"),
        posexplode(filter(split(col("text"), "\\s+"),
          t => length(t) > lit(0))).as(Seq("p0", "tok")))
      .select(col("doc_id"), (col("p0") + 1).as("p"), col("tok"))

  /** (query_id, j, tok): the phrase's 1-based term sequence. */
  private def phraseTerms(phrases: DataFrame): DataFrame =
    phrases.select(col("query_id"),
        posexplode(filter(split(col("phrase"), "\\s+"),
          t => length(t) > lit(0))).as(Seq("j0", "tok")))
      .select(col("query_id"), (col("j0") + 1).as("j"), col("tok"))

  /** Alignment-count core shared by the recompute and indexed paths:
    * token position p matching phrase term j witnesses a candidate
    * occurrence START s = p − j + 1; a start witnessed by ALL n terms
    * is a true occurrence ((s, j) witnesses are unique — one position
    * row per (doc, p), one term row per j — so count(*) = n is exact,
    * repeated phrase tokens included). Docs are ranked by occurrence
    * count (ties by doc_id). The only corpus-scaled input is `pos`,
    * already confined to the query vocabulary by the caller; matches
    * are posting-list-bounded, the classic positional-index cost.
    */
  private def phraseCore(pos: DataFrame, terms: DataFrame, k: Int): DataFrame = {
    val nTerms = terms.groupBy(col("query_id")).agg(count(lit(1)).as("n"))
    val occ = pos.join(broadcast(terms), Seq("tok"))
      .select(col("query_id"), col("doc_id"),
        (col("p") - col("j") + 1).as("start"))
      .groupBy(col("query_id"), col("doc_id"), col("start"))
      .agg(count(lit(1)).as("hits"))
      .join(broadcast(nTerms), Seq("query_id"))
      .filter(col("hits") === col("n"))
    val scores = occ.groupBy(col("query_id"), col("doc_id"))
      .agg(count(lit(1)).as("n_occ"))
    val byOcc = Window.partitionBy(col("query_id"))
      .orderBy(col("n_occ").desc, col("doc_id"))
    scores.withColumn("rnk", row_number().over(byOcc).cast("long"))
      .filter(col("rnk") <= k)
      .select(col("query_id"), col("doc_id"), col("n_occ"), col("rnk"))
  }

  /** Exact-phrase top-k: for each (query_id, phrase), the k docs with
    * the most exact (ordered, adjacent, whitespace-tokenized)
    * occurrences of the phrase — (query_id, doc_id, n_occ, rnk). All
    * integer arithmetic; hash-verifies cross-engine (q228). A doc
    * containing the phrase's terms scattered or reordered scores
    * ZERO — the semantics BM25's bag-of-words cannot express.
    *
    * Scale shape: one corpus tokenization (map-side semi-join against
    * the broadcast query vocabulary — docs sharing no phrase term
    * never materialize), combiner-aggregated alignment counts, a
    * per-query top-k window. [[phraseTopKIndexed]] answers the same
    * question with the tokenization PRECOMPUTED.
    */
  def phraseTopK(docs: DataFrame, phrases: DataFrame, k: Int = 10): DataFrame = {
    require(k > 0, s"bad k $k")
    val terms = phraseTerms(phrases)
    phraseCore(tokenPositions(docs), terms, k)
  }

  private def posDir(indexDir: String) = s"$indexDir/postings_pos"

  /** Build (or rebuild) the persistent POSITIONAL index under
    * `indexDir`: one TxLog table `postings_pos` (tok, doc_id, p),
    * token-clustered so a phrase's vocabulary manifest-prunes to the
    * touched batches. Deliberately a separate index family from
    * [[buildIndex]]'s four-table BM25 lockstep (positions triple the
    * postings payload; a user who never phrase-searches shouldn't pay
    * for them — Lucene's optional positions file, same trade).
    */
  def buildPositionalIndex(spark: org.apache.spark.sql.SparkSession,
      indexDir: String, docs: DataFrame, batches: Int = 32): Unit = {
    import graft.sources.TxLog
    val f = new org.apache.hadoop.fs.Path(indexDir)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    f.delete(new org.apache.hadoop.fs.Path(indexDir), true)
    TxLog.commitClustered(spark, posDir(indexDir), tokenPositions(docs),
      Seq("tok", "doc_id"), batches)
  }

  /** Incremental positional maintenance: the delta's positions append
    * as new clustered batches (disjoint doc_ids — the [[appendToIndex]]
    * contract; positions are per-doc facts, so no cross-doc
    * reconciliation exists and append IS the whole merge).
    */
  def appendToPositionalIndex(spark: org.apache.spark.sql.SparkSession,
      indexDir: String, newDocs: DataFrame, batches: Int = 8): Unit = {
    import graft.sources.TxLog
    val delta = tokenPositions(newDocs)
    if (!delta.isEmpty)
      TxLog.commitClustered(spark, posDir(indexDir), delta,
        Seq("tok", "doc_id"), batches, append = true)
  }

  /** Proximity-match core shared by the recompute and indexed paths:
    * an ANCHOR is any position p of any query term in a doc; it
    * matches when the window [p, p+w) holds ALL n distinct query terms
    * (unordered — the "all these words near each other" semantics
    * between exact phrase and bag-of-words BM25). Docs rank by
    * matching-anchor count (ties by doc_id).
    *
    * The window pairing is a BUCKETED band join (round-9 verdict #3):
    * positions key on their `p div w` bucket and each anchor explodes
    * into the only two buckets its window [a, a+w) can touch, so the
    * equi-join emits O(positions-per-2w-window) pairs per doc — O(L·w)
    * — where the naive anchors×positions join on (query_id, doc_id)
    * emitted O(L²) pairs per doc before its band filter: a stopword-
    * bearing query over a long doc paid quadratically. Same exact
    * post-filter, so results are bit-identical (q232/q233 pin the
    * hashes); it's the engine's own BandJoinRule/IntervalJoin bucket
    * trick, inlined because the join carries the (query_id, doc_id)
    * equi-keys alongside the band. Lucene's sloppy-phrase linear merge
    * is the single-node analogue. Fan-out stays posting-bounded — the
    * lists are the QUERY VOCABULARY's only, never corpus-scaled.
    */
  private def proximityCore(pos: DataFrame, terms: DataFrame, window: Int,
      k: Int): DataFrame = {
    val nTerms = terms.groupBy(col("query_id"))
      .agg(countDistinct(col("tok")).as("n"))
    val qpos = pos.join(broadcast(terms.select(col("query_id"), col("tok"))
        .distinct()), Seq("tok"))
      .select(col("query_id"), col("doc_id"), col("p"), col("tok"))
    // positions are non-negative (posexplode ordinals), so double
    // floor-div equals integral div
    val posB = qpos.withColumn("b",
      floor(col("p") / lit(window.toDouble)).cast("long"))
    val anchors = qpos
      .select(col("query_id"), col("doc_id"), col("p").as("a"))
      .withColumn("ab", floor(col("a") / lit(window.toDouble)).cast("long"))
      .withColumn("b", explode(array(col("ab"), col("ab") + 1L)))
      .drop("ab")
    // the two exploded anchor rows reach DISJOINT position buckets, so
    // no pair is seen twice; the groupBy below re-unites the window's
    // two bucket halves under one (query_id, doc_id, a) key
    val hits = anchors.join(posB, Seq("query_id", "doc_id", "b"))
      .filter(col("p") >= col("a") && col("p") < col("a") + window)
      .groupBy(col("query_id"), col("doc_id"), col("a"))
      .agg(countDistinct(col("tok")).as("seen"))
      .join(broadcast(nTerms), Seq("query_id"))
      .filter(col("seen") === col("n"))
    val scores = hits.groupBy(col("query_id"), col("doc_id"))
      .agg(count(lit(1)).as("n_anchors"))
    val byScore = Window.partitionBy(col("query_id"))
      .orderBy(col("n_anchors").desc, col("doc_id"))
    scores.withColumn("rnk", row_number().over(byScore).cast("long"))
      .filter(col("rnk") <= k)
      .select(col("query_id"), col("doc_id"), col("n_anchors"), col("rnk"))
  }

  /** Proximity top-k over raw docs: tokenize once, then
    * [[proximityCore]]. `queries` carries (query_id, tok) rows —
    * [[bm25TopK]]'s query shape, because proximity is the retrieval
    * refinement of the same bag of terms.
    */
  def proximityTopK(docs: DataFrame, queries: DataFrame, window: Int,
      k: Int = 10): DataFrame = {
    require(window > 0 && k > 0, s"bad window $window / k $k")
    proximityCore(tokenPositions(docs), queries, window, k)
  }

  /** [[proximityTopK]] answered from the SAME prebuilt
    * [[buildPositionalIndex]] the phrase path reads — one committed
    * positions table serves exact phrase AND proximity (Lucene's
    * positions file serving both PhraseQuery and sloppy spans). The
    * query vocabulary manifest-prunes; everything else is
    * posting-bounded.
    */
  def proximityTopKIndexed(spark: org.apache.spark.sql.SparkSession,
      indexDir: String, queries: DataFrame, window: Int, k: Int = 10,
      asOf: Option[Long] = None): DataFrame = {
    import graft.sources.TxLog
    require(window > 0 && k > 0, s"bad window $window / k $k")
    val toks = queries.select(col("tok")).distinct()
      .collect().map(_.getString(0)).toSeq
    if (toks.isEmpty)
      return spark.range(0).select(col("id").as("query_id"),
        col("id").as("doc_id"), col("id").as("n_anchors"), col("id").as("rnk"))
    graft.plans.TxStatsRule.register(posDir(indexDir))
    val pos = TxLog.readWhereIn(spark, posDir(indexDir), "tok", toks, asOf)
    proximityCore(pos, queries, window, k)
  }

  /** [[phraseTopK]] answered from a prebuilt [[buildPositionalIndex]]
    * — zero corpus-scaled work at query time: the phrase's vocabulary
    * manifest-prunes `postings_pos` ([[graft.sources.TxLog
    * .readWhereIn]]), and the alignment join runs over the touched
    * posting lists only. Same alignment arithmetic ⇒ bit-identical to
    * the recompute path (q229 hash-pins it against q228's oracle).
    */
  def phraseTopKIndexed(spark: org.apache.spark.sql.SparkSession,
      indexDir: String, phrases: DataFrame, k: Int = 10,
      asOf: Option[Long] = None): DataFrame = {
    import graft.sources.TxLog
    require(k > 0, s"bad k $k")
    val terms = phraseTerms(phrases)
    val toks = terms.select(col("tok")).distinct()
      .collect().map(_.getString(0)).toSeq
    if (toks.isEmpty)
      return spark.range(0).select(col("id").as("query_id"),
        col("id").as("doc_id"), col("id").as("n_occ"), col("id").as("rnk"))
    graft.plans.TxStatsRule.register(posDir(indexDir))
    val pos = TxLog.readWhereIn(spark, posDir(indexDir), "tok", toks, asOf)
    phraseCore(pos, terms, k)
  }
}
