package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Text-analysis operators for corpus curation — all pure column
  * expressions (whole-stage codegen, map-only, no shuffle): language ID,
  * quality scoring, token counting, fingerprinting.
  */
object TextAnalysis {

  /** count of tokens exactly equal to `tok`. */
  def tokenMatches(text: Column, tok: String): Column =
    size(filter(split(text, " "), t => t === lit(tok))).cast("long")

  /** n-gram-heuristic language ID: marker-token scores per language,
    * argmax with a fixed tie-break order. Marker sets are configurable;
    * the defaults target the fixture vocabulary.
    */
  val defaultMarkers: Seq[(String, Seq[String])] = Seq(
    "en" -> Seq("the", "key"),
    "es" -> Seq("data", "row"),
    "de" -> Seq("join", "merge"),
    "fr" -> Seq("table", "sort"),
    "zh" -> Seq("spark", "batch"))

  def langScores(text: Column, markers: Seq[(String, Seq[String])] = defaultMarkers): Seq[(String, Column)] =
    markers.map { case (lang, toks) =>
      lang -> toks.map(tokenMatches(text, _)).reduce(_ + _)
    }

  /** argmax over scores with ties resolved by list order. */
  def argmax(scores: Seq[(String, Column)]): Column = {
    def chain(rest: Seq[(String, Column)]): Column = rest match {
      case Seq((lang, _)) => lit(lang)
      case (lang, s) +: tail =>
        when(tail.map { case (_, t) => s >= t }.reduce(_ && _), lang)
          .otherwise(chain(tail))
      case _ => lit(null)
    }
    chain(scores)
  }

  /** character n-gram occurrence count (substring, overlapping) via the
    * length-difference identity — exact integers, SQL-mirrorable.
    */
  def ngramOccurrences(text: Column, gram: String): Column =
    ((length(text) - length(regexp_replace(text, java.util.regex.Pattern.quote(gram), "")))
      / gram.length).cast("long")

  /** char-n-gram language profiles over the fixture vocabulary. */
  val defaultCharProfiles: Seq[(String, Seq[String])] = Seq(
    "en" -> Seq("th", "ke"),
    "es" -> Seq("da", "ro"),
    "de" -> Seq("jo", "me"),
    "fr" -> Seq("ta", "so"),
    "zh" -> Seq("sp", "ba"))

  def charNgramScores(text: Column, profiles: Seq[(String, Seq[String])] = defaultCharProfiles): Seq[(String, Column)] =
    profiles.map { case (lang, grams) =>
      lang -> grams.map(ngramOccurrences(text, _)).reduce(_ + _)
    }

  /** quality features + bin: deterministic integer-derived ratios. */
  def quality(docs: DataFrame, stopwords: Seq[String] = Seq("the", "a")): DataFrame = {
    val nTokens = size(split(col("text"), " ")).cast("long")
    val stopCnt = stopwords.map(tokenMatches(col("text"), _)).reduce(_ + _)
    docs.select(
      col("doc_id"),
      length(col("text")).cast("long").as("n_chars"),
      nTokens.as("n_tokens"),
      // chars minus separators over tokens — exact ints, deterministic div
      ((length(col("text")).cast("long") - (nTokens - 1)).cast("double") / nTokens).as("avg_token_len"),
      stopCnt.as("n_stopwords"),
      (stopCnt.cast("double") / nTokens).as("stopword_ratio"))
      .withColumn("quality_bin",
        when(col("n_tokens") < 30, "short")
          .when(col("stopword_ratio") > 0.08, "boilerplate")
          .otherwise("ok"))
  }

  /** Within-document repetition ratio: 1 − distinct/total k-token
    * windows — the self-repetition quality signal (loops, boilerplate
    * stutter, template spam score high). Entirely per-row (window
    * expansion + array_distinct inside the document), so it costs no
    * shuffle; docs shorter than k windows get NULL. Both divisions are
    * single correctly rounded IEEE ops on exact integers, so SQL
    * replays them bit-for-bit.
    */
  def repetitionRatio(text: Column, k: Int): Column = {
    val w = split(text, " ")
    // greatest(…, 0) keeps sequence() ascending on short docs; the
    // degenerate windows it yields are discarded by the outer `when`
    val wins = transform(
      sequence(lit(0), greatest(size(w) - k, lit(0))),
      i => concat_ws(" ", slice(w, i + 1, lit(k))))
    when(size(w) >= k,
      lit(1.0) - size(array_distinct(wins)).cast("double") / size(wins).cast("double"))
      .otherwise(lit(null).cast("double"))
  }

  /** PII detection/redaction patterns — explicit character classes only,
    * so Java regex and DuckDB's RE2 agree token for token (the q88
    * cross-engine contract; `\d`/`\w` shorthand semantics differ across
    * engines and are avoided).
    */
  val PiiPatterns: Seq[(String, String, String)] = Seq(
    ("email", "[a-zA-Z0-9_]+@[a-zA-Z0-9]+\\.[a-z]+", "<EMAIL>"),
    ("phone", "[0-9]{3}-[0-9]{3}-[0-9]{4}", "<PHONE>"),
    ("ip", "[0-9]{1,3}\\.[0-9]{1,3}\\.[0-9]{1,3}\\.[0-9]{1,3}", "<IP>"))

  /** PII scrub — the standard pretraining masking pass (emails, phone
    * numbers, IPv4 literals → typed placeholder tokens) plus per-kind
    * match counts from the ORIGINAL text. Map-only, no shuffle; order of
    * application is emails first so the later numeric patterns can't
    * bite into an already-masked span.
    */
  def redactPii(docs: DataFrame): DataFrame = {
    val redacted = PiiPatterns.foldLeft(col("text")) {
      case (c, (_, pat, rep)) => regexp_replace(c, pat, rep)
    }
    val counts = PiiPatterns.map { case (kind, pat, _) =>
      size(regexp_extract_all(col("text"), lit(pat), lit(0))).cast("long").as(s"n_$kind")
    }
    docs.select(col("doc_id") +: redacted.as("redacted") +: counts: _*)
  }

  /** whitespace token count + a BPE-ish subtoken estimate
    * (Σ ceil(len(token)/4) — the standard chars/4 heuristic applied
    * per-token).
    */
  def tokenCounts(docs: DataFrame): DataFrame =
    docs.select(
      col("doc_id"),
      size(split(col("text"), " ")).cast("long").as("n_ws_tokens"),
      expr("aggregate(split(text, ' '), 0L, (acc, t) -> acc + CAST(ceil(length(t) / 4.0) AS LONG))")
        .as("n_subtokens"))

  /** normalized md5 fingerprint (exact-dup key robust to case/whitespace). */
  def fingerprint(text: Column): Column =
    md5(lower(trim(regexp_replace(text, " +", " "))))

  /** Content-defined chunking (CDC): cut after token `i` iff the hash of
    * the `window`-token span ending at `i` is ≡ 0 mod `divisor` — so
    * chunk boundaries are a function of LOCAL content, and an insertion
    * shifts only the chunks whose windows overlap the edit (fixed-size
    * chunking re-keys everything downstream). This is the dedup-stable
    * chunking of large-corpus pipelines (the FastCDC/LBFS idea on
    * tokens): chunk hashes feed exact dedup (q40) so near-identical
    * documents dedup chunk-wise even when they disagree by one early
    * edit. Mean chunk length ≈ `divisor` tokens; documents shorter than
    * `window` form one chunk.
    *
    * The boundary hash is the engine-portable md5-u32 (q113's machinery)
    * so the operator hash-verifies in SQL (q127). Entirely built-in
    * higher-order functions — map-only, codegen-friendly, no UDF, no
    * shuffle.
    *
    * Output: (doc_id, chunk_idx, start_token, n_tokens, chunk_md5).
    */
  def contentDefinedChunks(
      docs: DataFrame, window: Int = 4, divisor: Int = 16): DataFrame = {
    docs
      .select(col("doc_id"), split(col("text"), " ").as("w"))
      .withColumn("cuts", expr(
        s"""IF(size(w) >= $window,
           |  filter(sequence($window, size(w)), i ->
           |    CAST(conv(substring(md5(array_join(slice(w, i - ${window - 1}, $window), ' ')), 1, 8), 16, 10) AS LONG) % $divisor = 0),
           |  array())""".stripMargin))
      .withColumn("bs", expr(
        """concat(array(0), cuts,
          |  IF(size(cuts) = 0 OR element_at(cuts, -1) <> size(w), array(size(w)), array()))""".stripMargin))
      .withColumn("chunk", explode(expr(
        """transform(sequence(1, size(bs) - 1), j -> struct(
          |  CAST(j - 1 AS LONG) AS chunk_idx,
          |  CAST(element_at(bs, j) + 1 AS LONG) AS start_token,
          |  CAST(element_at(bs, j + 1) - element_at(bs, j) AS LONG) AS n_tokens,
          |  md5(array_join(slice(w, element_at(bs, j) + 1,
          |      element_at(bs, j + 1) - element_at(bs, j)), ' ')) AS chunk_md5))""".stripMargin)))
      .select(col("doc_id"), col("chunk.chunk_idx"), col("chunk.start_token"),
        col("chunk.n_tokens"), col("chunk.chunk_md5"))
  }

  /** N-gram language-model novelty score — the integer-exact core of an
    * LM-perplexity quality filter: train a bigram "model" on the target
    * slice (`isTarget`), then score every document by the fraction of
    * its bigrams the model has NEVER seen (the out-of-vocabulary mass,
    * which is the dominant term of held-out perplexity for an unsmoothed
    * count model). Fully integral so the oracle hash-verifies: per doc,
    * `n_bigrams`, `n_unseen`, and `novelty_pm` = unseen parts-per-million.
    *
    * Scale shape: the train set is `distinct` bigrams (combiner-heavy
    * aggregation), matching is one shuffled left join on the bigram —
    * NOT a broadcast, because at 100 TB the model side is corpus-sized;
    * the per-doc rollup is an ordinary partial-agg sum. Documents with
    * fewer than two tokens have no bigrams and drop out (same in the
    * oracle).
    */
  def bigramNovelty(docs: DataFrame, isTarget: Column,
      scale: Long = 1000000L): DataFrame = {
    val toks = docs
      .select(col("doc_id"), isTarget.as("tgt"),
        expr("filter(split(text, '\\\\s+'), x -> length(x) > 0)").as("l"))
      .filter(size(col("l")) >= 2)
    val grams = toks.select(col("doc_id"), col("tgt"),
      explode(expr(
        """transform(sequence(0, size(l) - 2),
          |  i -> concat(element_at(l, i + 1), ' ', element_at(l, i + 2)))""".stripMargin))
        .as("gram"))
    val model = grams.filter(col("tgt")).select(col("gram")).distinct()
      .withColumn("seen", lit(1))
    grams.join(model, Seq("gram"), "left")
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_bigrams"),
        count_if(col("seen").isNull).as("n_unseen"))
      .select(col("doc_id"), col("n_bigrams"), col("n_unseen"),
        expr(s"($scale * n_unseen) div n_bigrams").as("novelty_pm"))
  }
}
