package graft.queries

import graft.{QueryDef, QueryPack, Tables => T}
import graft.operators.{Dedup, Multimodal, Similarity, TextAnalysis, TrainingPrep}
import graft.streaming.StreamingOps
import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** LLM-data-pipeline operator pack: dedup family, similarity search,
  * text analysis, multimodal plumbing, streaming — over the documents /
  * embeddings / events fixtures.
  *
  * Vector-math determinism: cosine values are float32 dots (codegen'd
  * [[graft.plans.FloatDotProduct]]) widened to double — bit-identical to
  * DuckDB's `list_dot_product`, so no rounding is needed anywhere.
  */
object PipelineQueries extends QueryPack {

  /** exact n-gram-Jaccard pair SQL — ground truth for both the exact
    * operator (q43) and the MinHash+verify pipeline (q41), whose verified
    * output must coincide with it.
    */
  /** PRECOMPUTE-ONCE CONTRACT for the committed-index queries
    * (q221–q224): the index builds on this process's FIRST execution
    * for a fixture dir and is reused by later executions — exactly the
    * operator's deployment shape (build once, query many), so bench
    * passes measure the query path while the warmup pass pays the
    * build. Build cost is measured separately (`scale_probe
    * .bm25_index_build`, `ab.bm25_indexed.build`). Process-local (a
    * fresh JVM always rebuilds — no stale-index risk across fixture
    * regenerations), and q225 does NOT cache: it mutates the index and
    * its requires pin exact version counts from a fresh build.
    */
  private val builtIndexes = new java.util.concurrent.ConcurrentHashMap[
    String, java.util.concurrent.CompletableFuture[Void]]()
  private def buildOnce(ix: String)(build: => Unit): Unit = {
    // atomic claim-then-build: a lost check-then-act race would let a
    // second builder DELETE the dir under the first's in-flight build —
    // and a loser must WAIT for the winner's build (querying a
    // half-built index reads a dir the winner just deleted). A failed
    // build releases the claim so the next execution retries; waiters
    // on the failed future surface the build error.
    val mine = new java.util.concurrent.CompletableFuture[Void]()
    val prior = builtIndexes.putIfAbsent(ix, mine)
    if (prior == null)
      try { build; mine.complete(null); () }
      catch { case e: Throwable =>
        builtIndexes.remove(ix, mine); mine.completeExceptionally(e); throw e }
    else prior.join()
  }

  private val ngramPairsSql =
    """WITH w AS (SELECT doc_id, string_split(text, ' ') AS w FROM documents),
      |g AS (SELECT DISTINCT doc_id, gram FROM (
      |  SELECT doc_id, unnest(list_transform(generate_series(1, len(w) - 2),
      |      i -> w[i] || ' ' || w[i+1] || ' ' || w[i+2])) AS gram
      |  FROM w) t),
      |sizes AS (SELECT doc_id, count(*) AS sz FROM g GROUP BY doc_id),
      |inter AS (SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS ovl
      |          FROM g a JOIN g b ON a.gram = b.gram AND a.doc_id < b.doc_id
      |          GROUP BY 1, 2)
      |SELECT id_a, id_b, CAST(ovl AS DOUBLE) / (sa.sz + sb.sz - ovl) AS jaccard
      |FROM inter
      |JOIN sizes sa ON sa.doc_id = id_a
      |JOIN sizes sb ON sb.doc_id = id_b
      |WHERE CAST(ovl AS DOUBLE) / (sa.sz + sb.sz - ovl) >= 0.5""".stripMargin

  /** Mixture-sampling weights for q113/q115 — all dyadic, so the
    * threshold `floor(w · 2³²)` is exact in both engines. src9 is absent
    * from the map → dropped entirely.
    */
  private val mixWeights = Map(
    "src0" -> 1.0, "src1" -> 0.75, "src2" -> 0.5, "src3" -> 0.5,
    "src4" -> 0.375, "src5" -> 0.25, "src6" -> 0.25, "src7" -> 0.125,
    "src8" -> 0.0625)

  private val mixThreshSql =
    """CASE source WHEN 'src0' THEN 4294967296 WHEN 'src1' THEN 3221225472
      | WHEN 'src2' THEN 2147483648 WHEN 'src3' THEN 2147483648
      | WHEN 'src4' THEN 1610612736 WHEN 'src5' THEN 1073741824
      | WHEN 'src6' THEN 1073741824 WHEN 'src7' THEN 536870912
      | WHEN 'src8' THEN 268435456 ELSE 0 END""".stripMargin

  /** The deterministic CDC batch q138/q142 apply to `documents`:
    * doc_id%10==0 delete, %10==1 uppercase update, %10==2 insert at
    * doc_id+1e6 — plus a seq-2 delete on %100==1 that overrides the
    * update (the last-writer-wins conflict path).
    */
  private def docChanges(base: org.apache.spark.sql.DataFrame): org.apache.spark.sql.DataFrame = {
    def ch(pred: Column, op: String, seq: Int,
           id: Column => Column = identity,
           tx: Column => Column = identity) =
      base.filter(pred).select(
        id(col("doc_id")).as("doc_id"), tx(col("text")).as("text"),
        col("lang"), col("source"), col("n_chars"),
        lit(op).as("op"), lit(seq).as("seq"))
    ch(col("doc_id") % 10 === 0, "D", 1)
      .unionByName(ch(col("doc_id") % 10 === 1, "U", 1, tx = upper))
      .unionByName(ch(col("doc_id") % 10 === 2, "I", 1, id = _ + 1000000L))
      .unionByName(ch(col("doc_id") % 100 === 1, "D", 2))
  }

  /** The q138 change batch as SQL — shared by the q138 and q142 oracles. */
  private val docChangesSql =
    """ch AS (
      |  SELECT doc_id, text, lang, source, n_chars, 'D' AS op, 1 AS seq
      |    FROM documents WHERE doc_id % 10 = 0
      |  UNION ALL
      |  SELECT doc_id, upper(text), lang, source, n_chars, 'U', 1
      |    FROM documents WHERE doc_id % 10 = 1
      |  UNION ALL
      |  SELECT doc_id + 1000000, text, lang, source, n_chars, 'I', 1
      |    FROM documents WHERE doc_id % 10 = 2
      |  UNION ALL
      |  SELECT doc_id, text, lang, source, n_chars, 'D', 2
      |    FROM documents WHERE doc_id % 100 = 1),
      |w AS (
      |  SELECT * FROM (
      |    SELECT *, row_number() OVER (PARTITION BY doc_id
      |      ORDER BY seq DESC, op DESC) AS rk FROM ch) t
      |  WHERE rk = 1),
      |merged AS (
      |  SELECT d.doc_id, d.text, d.lang, d.source, d.n_chars
      |  FROM documents d LEFT JOIN w ON d.doc_id = w.doc_id
      |  WHERE w.doc_id IS NULL
      |  UNION ALL
      |  SELECT doc_id, text, lang, source, n_chars FROM w WHERE op <> 'D')""".stripMargin

  /** DuckDB replay of [[TrainingPrep]]'s engine-portable u32 hash: the
    * first 8 hex digits of md5, assembled nibble by nibble (DuckDB has no
    * hex→int cast).
    */
  /** Move single-part staged batch files into `$root/in` with EXPLICITLY
    * increasing modification times: FileStreamSource orders candidate
    * files by mtime, so two renames landing inside one mtime-granularity
    * tick could otherwise reach the stream out of order and violate the
    * seq-ordered application contract (round-5 advice). Name order alone
    * is NOT a FileStreamSource guarantee.
    */
  private def stageOrderedBatches(
      fs: org.apache.hadoop.fs.FileSystem,
      root: String,
      staged: Seq[(String, String)]): Unit = {
    fs.mkdirs(new org.apache.hadoop.fs.Path(s"$root/in"))
    val t0 = System.currentTimeMillis() - staged.size * 2000L
    staged.zipWithIndex.foreach { case ((tmp, name), i) =>
      val part = fs.globStatus(
        new org.apache.hadoop.fs.Path(s"$root/$tmp/part-*.parquet")).head.getPath
      val dst = new org.apache.hadoop.fs.Path(s"$root/in/$name")
      fs.rename(part, dst)
      fs.setTimes(dst, t0 + i * 2000L, -1)
    }
  }

  private def u32Sql(e: String): String =
    (0 until 8).map { i =>
      val mul = 1L << (4 * (7 - i))
      s"(strpos('0123456789abcdef', substr(md5($e), ${i + 1}, 1)) - 1) * $mul"
    }.mkString("(", " + ", ")")

  /** 8-token gram expansion over `src` — the SQL twin of
    * `Dedup.ngrams(_, 8)` (which keeps each gram once per document).
    */
  private def gram8Sql(src: String): String =
    s"""SELECT doc_id, unnest(list_transform(generate_series(1, len(w) - 7),
       |    i -> array_to_string(list_slice(w, i, i + 7), ' '))) AS gram
       |  FROM (SELECT doc_id, string_split(text, ' ') AS w FROM $src) t
       |  WHERE len(w) >= 8""".stripMargin

  override def queries: Seq[QueryDef] = Seq(
    // ------------------------------------------------------------------
    // q112: benchmark decontamination scan (GPT-3 appendix C): every
    // corpus document's count of DISTINCT 8-gram overlaps with a held-out
    // benchmark set (doc_id % 17 == 0 plays the eval suite). The planted
    // cross-doc duplicate passages make hits nonzero without any new
    // fixture. Scale shape: the benchmark gram set is broadcast — the
    // corpus is never shuffled, only matched grams reach the aggregate.
    QueryDef(
      "q112_contamination",
      (s, dir) => {
        val docs = T.documents(s, dir)
        TrainingPrep.contamination(
          docs.filter(col("doc_id") % 17 =!= 0),
          docs.filter(col("doc_id") % 17 === 0), n = 8)
      },
      Some(s"""WITH corpus AS (SELECT * FROM documents WHERE doc_id % 17 <> 0),
              |bench AS (SELECT * FROM documents WHERE doc_id % 17 = 0),
              |bg AS (SELECT DISTINCT gram FROM (${gram8Sql("bench")}) u),
              |cg AS (${gram8Sql("corpus")}),
              |hits AS (
              |  SELECT cg.doc_id, count(DISTINCT cg.gram) AS bench_hits
              |  FROM cg JOIN bg USING (gram) GROUP BY 1)
              |SELECT c.doc_id, CAST(coalesce(h.bench_hits, 0) AS BIGINT) AS bench_hits
              |FROM corpus c LEFT JOIN hits h USING (doc_id)""".stripMargin)),

    // ------------------------------------------------------------------
    // q113: deterministic weighted mixture sampling — keep doc iff
    // u32(md5(doc_id)) < weight(source)·2³². Map-only, seedless, stable
    // under task retries (unlike sample()); the md5-nibble hash replays
    // exactly in SQL, so the kept set hash-matches rather than rows-only.
    QueryDef(
      "q113_mixture_sample",
      (s, dir) => TrainingPrep.mixtureSample(T.documents(s, dir), mixWeights)
        .select(col("doc_id"), col("source"), col("lang")),
      Some(s"""SELECT doc_id, source, lang FROM documents
              |WHERE ${u32Sql("CAST(doc_id AS VARCHAR)")} < ($mixThreshSql)""".stripMargin)),

    // ------------------------------------------------------------------
    // q120: poison-pill quarantine — every 13th payload is corrupted
    // (magic byte zeroed) before the safe decode: corrupt rows surface
    // as status='error' with null features, good rows decode exactly as
    // q99, and the job never dies. The oracle knows which keys were
    // poisoned by construction.
    QueryDef(
      "q120_decode_quarantine",
      (s, dir) => {
        import s.implicits._
        val gen = T.customer(s, dir).select(
          $"c_custkey".cast("long").as("doc_id"),
          ($"c_custkey" % 24 + 8).cast("int").as("w"),
          ($"c_custkey" % 16 + 8).cast("int").as("h"),
          ($"c_custkey" % 256).cast("int").as("r"),
          (($"c_custkey" * 7) % 256).cast("int").as("g"),
          (($"c_custkey" * 13) % 256).cast("int").as("b"))
        val imgs = gen.as[(Long, Int, Int, Int, Int, Int)]
          .map { case (id, w, h, r, g, b) =>
            val png = Multimodal.encodePng(w, h, r, g, b)
            if (id % 13 == 0) png(0) = 0 // poison the magic byte
            (id, png)
          }
          .toDF("doc_id", "img")
        Multimodal.decodeImagesSafe(s, imgs)
          .select("doc_id", "status", "width", "height", "mean_r", "mean_g", "mean_b")
      },
      Some("""SELECT c_custkey AS doc_id,
             |  CASE WHEN c_custkey % 13 = 0 THEN 'error' ELSE 'ok' END AS status,
             |  CASE WHEN c_custkey % 13 = 0 THEN NULL
             |       ELSE CAST(c_custkey % 24 + 8 AS INT) END AS width,
             |  CASE WHEN c_custkey % 13 = 0 THEN NULL
             |       ELSE CAST(c_custkey % 16 + 8 AS INT) END AS height,
             |  CASE WHEN c_custkey % 13 = 0 THEN NULL
             |       ELSE CAST(c_custkey % 256 AS INT) END AS mean_r,
             |  CASE WHEN c_custkey % 13 = 0 THEN NULL
             |       ELSE CAST(c_custkey * 7 % 256 AS INT) END AS mean_g,
             |  CASE WHEN c_custkey % 13 = 0 THEN NULL
             |       ELSE CAST(c_custkey * 13 % 256 AS INT) END AS mean_b
             |FROM customer""".stripMargin)),

    // ------------------------------------------------------------------
    // q121: domain-separated packing — sequences never cross a source
    // boundary (per-source pretraining batches). The cumsum window is
    // PARTITIONED by source, so groups pack in parallel and seq_id
    // restarts per source; the oracle is the same arithmetic over
    // sum() OVER (PARTITION BY source ORDER BY doc_id).
    QueryDef(
      "q121_pack_by_source",
      (s, dir) => TrainingPrep.packSequencesBy(T.documents(s, dir), 128, "source"),
      Some("""WITH t AS (
             |  SELECT source, doc_id,
             |         CAST(len(string_split(text, ' ')) AS BIGINT) AS ntok
             |  FROM documents),
             |c AS (
             |  SELECT source, doc_id, ntok,
             |         CAST(sum(ntok) OVER (PARTITION BY source ORDER BY doc_id) AS BIGINT) AS cum_end
             |  FROM t),
             |cs AS (SELECT source, doc_id, cum_end, cum_end - ntok AS cum_start FROM c),
             |x AS (
             |  SELECT source, doc_id, cum_start, cum_end,
             |         unnest(generate_series(cum_start // 128, (cum_end - 1) // 128)) AS seq_id
             |  FROM cs)
             |SELECT source, doc_id, seq_id,
             |  greatest(cum_start, seq_id * 128) - cum_start AS doc_off,
             |  greatest(cum_start, seq_id * 128) - seq_id * 128 AS seq_off,
             |  least(cum_end, (seq_id + 1) * 128) - greatest(cum_start, seq_id * 128) AS len
             |FROM x""".stripMargin)),

    // ------------------------------------------------------------------
    // q119: PII scrub — emails / phone numbers / IPv4 literals planted
    // into every document from its key (repeat counts and digits all
    // key-derived), masked to typed placeholders with per-kind counts
    // from the original text. Patterns are explicit character classes,
    // so Java regex and DuckDB RE2 agree exactly (the q88 contract) and
    // the full redacted TEXT hash-matches, not just the counts.
    QueryDef(
      "q119_pii_redact",
      (s, dir) => {
        val planted = T.documents(s, dir).select(
          col("doc_id"),
          concat(
            col("text"),
            expr("repeat(concat(' u', CAST(doc_id AS STRING), '@ex', " +
              "CAST(doc_id % 7 AS STRING), '.com'), CAST(doc_id % 3 + 1 AS INT))"),
            expr("CASE WHEN doc_id % 2 = 0 THEN concat(' call ', " +
              "CAST(doc_id % 900 + 100 AS STRING), '-555-0199') ELSE '' END"),
            expr("concat(' from 10.', CAST(doc_id % 256 AS STRING), '.0.', " +
              "CAST(doc_id % 100 AS STRING))")).as("text"))
        TextAnalysis.redactPii(planted)
      },
      Some("""WITH planted AS (
             |  SELECT doc_id,
             |    text || repeat(' u' || CAST(doc_id AS VARCHAR) || '@ex'
             |        || CAST(doc_id % 7 AS VARCHAR) || '.com', CAST(doc_id % 3 + 1 AS INT))
             |      || CASE WHEN doc_id % 2 = 0 THEN ' call '
             |          || CAST(doc_id % 900 + 100 AS VARCHAR) || '-555-0199' ELSE '' END
             |      || ' from 10.' || CAST(doc_id % 256 AS VARCHAR) || '.0.'
             |      || CAST(doc_id % 100 AS VARCHAR) AS text
             |  FROM documents)
             |SELECT doc_id,
             |  regexp_replace(regexp_replace(regexp_replace(text,
             |    '[a-zA-Z0-9_]+@[a-zA-Z0-9]+\.[a-z]+', '<EMAIL>', 'g'),
             |    '[0-9]{3}-[0-9]{3}-[0-9]{4}', '<PHONE>', 'g'),
             |    '[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}', '<IP>', 'g') AS redacted,
             |  CAST(len(regexp_extract_all(text, '[a-zA-Z0-9_]+@[a-zA-Z0-9]+\.[a-z]+')) AS BIGINT) AS n_email,
             |  CAST(len(regexp_extract_all(text, '[0-9]{3}-[0-9]{3}-[0-9]{4}')) AS BIGINT) AS n_phone,
             |  CAST(len(regexp_extract_all(text, '[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}')) AS BIGINT) AS n_ip
             |FROM planted""".stripMargin)),

    // ------------------------------------------------------------------
    // q118: deterministic exact-size sample — the 100 smallest md5-u32
    // hashes win (ties by doc_id). The guaranteed-size companion to
    // q113's rate sampling: a fixed-budget eval subset that is identical
    // on every run and every engine. Plans as TakeOrderedAndProject.
    QueryDef(
      "q118_sample_exact",
      (s, dir) => TrainingPrep.sampleExact(T.documents(s, dir), 100)
        .select(col("doc_id"), col("source")),
      Some(s"""SELECT doc_id, source FROM documents
              |ORDER BY ${u32Sql("CAST(doc_id AS VARCHAR)")} ASC, doc_id ASC
              |LIMIT 100""".stripMargin)),

    // ------------------------------------------------------------------
    // q114: concat-and-chunk sequence packing (GPT-style pretraining):
    // docs concatenate in doc_id order, the stream is cut every 128
    // tokens, and each row localizes one (doc × sequence) slice. The
    // running sum is a two-phase distributed prefix sum (range partition
    // + driver prefix over partial totals), NOT a single-partition
    // window — the oracle's plain `sum() OVER (ORDER BY)` proves the
    // distributed decomposition exact.
    QueryDef(
      "q114_pack_sequences",
      (s, dir) => TrainingPrep.packSequences(T.documents(s, dir), 128),
      Some("""WITH t AS (
             |  SELECT doc_id, CAST(len(string_split(text, ' ')) AS BIGINT) AS ntok
             |  FROM documents),
             |c AS (
             |  SELECT doc_id, ntok,
             |         CAST(sum(ntok) OVER (ORDER BY doc_id) AS BIGINT) AS cum_end
             |  FROM t),
             |cs AS (SELECT doc_id, cum_end, cum_end - ntok AS cum_start FROM c),
             |x AS (
             |  SELECT doc_id, cum_start, cum_end,
             |         unnest(generate_series(cum_start // 128, (cum_end - 1) // 128)) AS seq_id
             |  FROM cs)
             |SELECT doc_id, seq_id,
             |  greatest(cum_start, seq_id * 128) - cum_start AS doc_off,
             |  greatest(cum_start, seq_id * 128) - seq_id * 128 AS seq_off,
             |  least(cum_end, (seq_id + 1) * 128) - greatest(cum_start, seq_id * 128) AS len
             |FROM x""".stripMargin)),

    // ------------------------------------------------------------------
    // q115: the pretraining mix, composed end to end from the operator
    // library: decontaminate against the held-out benchmark (q112
    // semantics, minHits=1) → weighted mixture sample (q113) → pack into
    // 256-token sequences (q114) → per-sequence fill summary. Every
    // interior sequence must pack to exactly 256 tokens — the summary
    // exposes any packing gap immediately.
    QueryDef(
      "q115_training_mix",
      (s, dir) => {
        val docs = T.documents(s, dir)
        val clean = TrainingPrep.decontaminate(
          docs.filter(col("doc_id") % 17 =!= 0),
          docs.filter(col("doc_id") % 17 === 0), n = 8)
        TrainingPrep.packSequences(TrainingPrep.mixtureSample(clean, mixWeights), 256)
          .groupBy(col("seq_id"))
          .agg(count(lit(1)).as("n_docs"), sum(col("len")).as("n_tokens"))
      },
      headline = true,
      oracle = Some(s"""WITH corpus AS (SELECT * FROM documents WHERE doc_id % 17 <> 0),
              |bench AS (SELECT * FROM documents WHERE doc_id % 17 = 0),
              |bg AS (SELECT DISTINCT gram FROM (${gram8Sql("bench")}) u),
              |cg AS (${gram8Sql("corpus")}),
              |flagged AS (SELECT DISTINCT cg.doc_id FROM cg JOIN bg USING (gram)),
              |clean AS (
              |  SELECT * FROM corpus
              |  WHERE doc_id NOT IN (SELECT doc_id FROM flagged)),
              |sampled AS (
              |  SELECT * FROM clean
              |  WHERE ${u32Sql("CAST(doc_id AS VARCHAR)")} < ($mixThreshSql)),
              |t AS (
              |  SELECT doc_id, CAST(len(string_split(text, ' ')) AS BIGINT) AS ntok
              |  FROM sampled),
              |c AS (
              |  SELECT doc_id, ntok,
              |         CAST(sum(ntok) OVER (ORDER BY doc_id) AS BIGINT) AS cum_end
              |  FROM t),
              |cs AS (SELECT doc_id, cum_end, cum_end - ntok AS cum_start FROM c),
              |x AS (
              |  SELECT doc_id, cum_start, cum_end,
              |         unnest(generate_series(cum_start // 256, (cum_end - 1) // 256)) AS seq_id
              |  FROM cs),
              |packed AS (
              |  SELECT doc_id, seq_id,
              |    least(cum_end, (seq_id + 1) * 256) - greatest(cum_start, seq_id * 256) AS len
              |  FROM x)
              |SELECT seq_id, CAST(count(*) AS BIGINT) AS n_docs,
              |       CAST(sum(len) AS BIGINT) AS n_tokens
              |FROM packed GROUP BY seq_id""".stripMargin)),

    // ------------------------------------------------------------------
    // q40: exact dedup — one shuffle on a 16-byte digest, never the text.
    QueryDef(
      "q40_dedup_exact",
      (s, dir) => Dedup.exact(T.documents(s, dir)),
      Some("""SELECT md5(text) AS text_hash, count(*) AS n_copies,
             |  min(doc_id) AS canonical_id
             |FROM documents GROUP BY 1""".stripMargin)),

    // ------------------------------------------------------------------
    // q109: span-level exact dedup (Lee et al. 2022) — every 8-token
    // window occurring in >1 document, with its 1-based position. On
    // the ~30-word fixture vocabulary, random 8-grams collide with
    // negligible probability, so the output localizes the PLANTED
    // duplicate passages. Oracle recomputes the windows with the
    // list_transform idiom.
    QueryDef(
      "q109_duplicated_spans",
      (s, dir) => Dedup.duplicatedSpans(T.documents(s, dir), k = 8),
      headline = true,
      oracle =
      Some("""WITH t AS (SELECT doc_id, string_split(text, ' ') AS w FROM documents),
             |w AS (
             |  SELECT doc_id, unnest(generate_series(1, len(w) - 7)) AS pos
             |  FROM t WHERE len(w) >= 8),
             |g AS (
             |  SELECT w.doc_id, w.pos,
             |         array_to_string(list_slice(t.w, w.pos, w.pos + 7), ' ') AS gram
             |  FROM w JOIN t ON t.doc_id = w.doc_id),
             |dup AS (
             |  SELECT gram FROM g GROUP BY gram HAVING count(DISTINCT doc_id) > 1)
             |SELECT g.doc_id, g.pos, g.gram
             |FROM g JOIN dup USING (gram)""".stripMargin)),

    // ------------------------------------------------------------------
    // q111: duplicated-span coverage per document — the Lee et al.
    // removal criterion on top of q109: what fraction of a doc's tokens
    // lie under some cross-doc duplicated 8-window (overlaps unioned).
    QueryDef(
      "q111_span_coverage",
      (s, dir) => Dedup.spanCoverage(T.documents(s, dir), k = 8),
      Some("""WITH t AS (SELECT doc_id, string_split(text, ' ') AS w FROM documents),
             |win AS (
             |  SELECT doc_id, unnest(generate_series(1, len(w) - 7)) AS pos
             |  FROM t WHERE len(w) >= 8),
             |g AS (
             |  SELECT win.doc_id, win.pos,
             |         array_to_string(list_slice(t.w, win.pos, win.pos + 7), ' ') AS gram
             |  FROM win JOIN t ON t.doc_id = win.doc_id),
             |dup AS (
             |  SELECT gram FROM g GROUP BY gram HAVING count(DISTINCT doc_id) > 1),
             |occ AS (SELECT g.doc_id, g.pos FROM g JOIN dup USING (gram)),
             |cov AS (
             |  SELECT doc_id, count(DISTINCT pos + off.o) AS covered
             |  FROM occ CROSS JOIN (SELECT unnest(generate_series(0, 7)) AS o) off
             |  GROUP BY doc_id)
             |SELECT t.doc_id,
             |       CAST(coalesce(cov.covered, 0) AS DOUBLE)
             |         / CAST(len(t.w) AS DOUBLE) AS dup_coverage
             |FROM t LEFT JOIN cov USING (doc_id)""".stripMargin)),

    // ------------------------------------------------------------------
    // q110: within-doc repetition ratio (1 − distinct/total 3-token
    // windows) — the self-repetition quality signal; the word-soup
    // fixture repeats trigrams often enough to spread the ratio. No
    // shuffle: fully per-row.
    QueryDef(
      "q110_repetition_ratio",
      (s, dir) => T.documents(s, dir)
        .select(col("doc_id"),
          TextAnalysis.repetitionRatio(col("text"), 3).as("rep_ratio")),
      Some("""WITH t AS (SELECT doc_id, string_split(text, ' ') AS w FROM documents),
             |g AS (
             |  SELECT doc_id,
             |         list_transform(generate_series(1, len(w) - 2),
             |           i -> w[i] || ' ' || w[i+1] || ' ' || w[i+2]) AS wins,
             |         len(w) AS n
             |  FROM t)
             |SELECT doc_id,
             |       CASE WHEN n >= 3 THEN
             |         1.0 - CAST(len(list_distinct(wins)) AS DOUBLE)
             |             / CAST(len(wins) AS DOUBLE)
             |       ELSE NULL END AS rep_ratio
             |FROM g""".stripMargin)),

    // ------------------------------------------------------------------
    // q41: MinHash + banded LSH candidates + exact verification. The
    // oracle is the *exact* pair set: candidate generation is approximate
    // but verification makes the output exact (miss probability ~5e-8 at
    // the planted Jaccard levels). Headline bench query.
    QueryDef(
      "q41_dedup_minhash",
      (s, dir) => Dedup.minhashPairs(T.documents(s, dir), n = 3, nHashes = 64, nBands = 16, threshold = 0.5),
      Some(ngramPairsSql),
      headline = true),

    // ------------------------------------------------------------------
    // q42: SimHash near-dup pairs. The token hash is md5-derived (bit b =
    // bit b%4 of hex digit b/4), so the oracle recomputes the full
    // 64-bit signature in SQL — integer votes, sign, 16-bit bands — and
    // brute-forces all pairs; the Spark side's banded candidates + exact
    // hamming filter equal that set by the 4-band pigeonhole (hamming ≤ 3
    // must leave one band untouched).
    QueryDef(
      "q42_dedup_simhash",
      (s, dir) => Dedup.simhashPairs(T.documents(s, dir), maxHamming = 3),
      Some("""WITH tok AS (
             |  SELECT doc_id, t, count(*) AS cnt FROM (
             |    SELECT doc_id, unnest(string_split(text, ' ')) AS t FROM documents) u
             |  WHERE t <> '' GROUP BY 1, 2),
             |votes AS (
             |  SELECT doc_id, b,
             |    sum(CASE WHEN ((strpos('0123456789abcdef', substr(md5(t), b // 4 + 1, 1)) - 1)
             |                   >> (b % 4)) & 1 = 1 THEN cnt ELSE -cnt END) AS vote
             |  FROM tok CROSS JOIN (SELECT unnest(generate_series(0, 63)) AS b) bs
             |  GROUP BY 1, 2),
             |sh AS (
             |  SELECT doc_id,
             |    CAST(sum(CASE WHEN vote > 0 AND b // 16 = 0 THEN 1 << (b % 16) ELSE 0 END) AS BIGINT) AS b0,
             |    CAST(sum(CASE WHEN vote > 0 AND b // 16 = 1 THEN 1 << (b % 16) ELSE 0 END) AS BIGINT) AS b1,
             |    CAST(sum(CASE WHEN vote > 0 AND b // 16 = 2 THEN 1 << (b % 16) ELSE 0 END) AS BIGINT) AS b2,
             |    CAST(sum(CASE WHEN vote > 0 AND b // 16 = 3 THEN 1 << (b % 16) ELSE 0 END) AS BIGINT) AS b3
             |  FROM votes GROUP BY 1)
             |SELECT a.doc_id AS id_a, b.doc_id AS id_b,
             |  CAST(bit_count(xor(a.b0, b.b0)) + bit_count(xor(a.b1, b.b1)) +
             |       bit_count(xor(a.b2, b.b2)) + bit_count(xor(a.b3, b.b3)) AS BIGINT) AS hamming
             |FROM sh a JOIN sh b ON a.doc_id < b.doc_id
             |WHERE bit_count(xor(a.b0, b.b0)) + bit_count(xor(a.b1, b.b1)) +
             |      bit_count(xor(a.b2, b.b2)) + bit_count(xor(a.b3, b.b3)) <= 3""".stripMargin)),

    // q90: dup-pair clusters — connected components over the MinHash-
    // verified pair graph (distributed min-label propagation), the step
    // that turns pairwise similarity into dedup groups. Oracle: recursive
    // CTE transitive closure + min root per node.
    QueryDef(
      "q90_dedup_clusters",
      (s, dir) => Dedup.connectedComponents(
        Dedup.minhashPairs(T.documents(s, dir), n = 3, nHashes = 64, nBands = 16, threshold = 0.5)),
      Some(s"""WITH RECURSIVE pairs AS ($ngramPairsSql),
              |edges AS (SELECT id_a AS src, id_b AS dst FROM pairs
              |          UNION ALL SELECT id_b, id_a FROM pairs),
              |nodes AS (SELECT DISTINCT src AS id FROM edges),
              |reach(id, r) AS (
              |  SELECT id, id FROM nodes
              |  UNION
              |  SELECT e.dst, reach.r FROM reach JOIN edges e ON e.src = reach.id)
              |SELECT id, min(r) AS cluster FROM reach GROUP BY id""".stripMargin)),

    // ------------------------------------------------------------------
    // q122: the DEDUPLICATED CORPUS — the user-facing end of the dedup
    // story: near-dup pairs (q41) → connected components (q90) → drop
    // every non-canonical cluster member, keep the min-id survivor.
    // The loser set is dup-scale (small), so the removal is a broadcast
    // anti-join; the full corpus never shuffles.
    QueryDef(
      "q122_deduped_corpus",
      (s, dir) => {
        val docs = T.documents(s, dir)
        val clusters = Dedup.connectedComponents(Dedup.minhashPairs(docs))
        val losers = clusters.filter(col("id") =!= col("cluster"))
          .select(col("id").as("doc_id"))
        docs.join(broadcast(losers), Seq("doc_id"), "left_anti")
          .select(col("doc_id"), col("source"), col("lang"))
      },
      Some(s"""WITH RECURSIVE pairs AS ($ngramPairsSql),
              |edges AS (SELECT id_a AS src, id_b AS dst FROM pairs
              |          UNION ALL SELECT id_b, id_a FROM pairs),
              |nodes AS (SELECT DISTINCT src AS id FROM edges),
              |reach(id, r) AS (
              |  SELECT id, id FROM nodes
              |  UNION
              |  SELECT e.dst, reach.r FROM reach JOIN edges e ON e.src = reach.id),
              |cl AS (SELECT id, min(r) AS cluster FROM reach GROUP BY id),
              |losers AS (SELECT id FROM cl WHERE id <> cluster)
              |SELECT doc_id, source, lang FROM documents
              |WHERE doc_id NOT IN (SELECT id FROM losers)""".stripMargin)),

    // ------------------------------------------------------------------
    // q125: leakage-safe train/val split — the deterministic hash split
    // (q113's u32 machinery, valFrac 0.125 dyadic) with every train doc
    // that near-duplicates a val doc moved to quarantine. Pairs come
    // from the banded minhash path (exact after verification, = q41),
    // so the oracle replays the split arithmetic + the exact pair set.
    QueryDef(
      "q125_leakage_split",
      (s, dir) => {
        val docs = T.documents(s, dir)
        TrainingPrep.leakageSafeSplit(docs, Dedup.minhashPairs(docs),
            valFrac = 0.125)
          .select(col("doc_id"), col("split"))
      },
      Some(s"""WITH pairs AS ($ngramPairsSql),
              |s0 AS (SELECT doc_id,
              |  CASE WHEN ${u32Sql("CAST(doc_id AS VARCHAR)")} < 536870912
              |       THEN 'val' ELSE 'train' END AS split0
              |  FROM documents),
              |leaky AS (
              |  SELECT p.id_b AS doc_id FROM pairs p
              |  JOIN s0 a ON a.doc_id = p.id_a AND a.split0 = 'val'
              |  UNION
              |  SELECT p.id_a FROM pairs p
              |  JOIN s0 b ON b.doc_id = p.id_b AND b.split0 = 'val')
              |SELECT s0.doc_id,
              |  CASE WHEN s0.split0 = 'train' AND l.doc_id IS NOT NULL
              |       THEN 'quarantine' ELSE s0.split0 END AS split
              |FROM s0 LEFT JOIN leaky l ON l.doc_id = s0.doc_id""".stripMargin)),

    // ------------------------------------------------------------------
    // q43: exact n-gram Jaccard via shingle equi-join.
    QueryDef(
      "q43_ngram_jaccard",
      (s, dir) => Dedup.ngramPairs(T.documents(s, dir), n = 3, threshold = 0.5),
      Some(ngramPairsSql)),

    // ------------------------------------------------------------------
    // q44: brute-force cosine top-k through the codegen'd float dot
    // product. Headline bench query.
    QueryDef(
      "q44_cosine_topk",
      (s, dir) => {
        import s.implicits._
        val emb = T.embeddings(s, dir)
        Similarity.cosineTopK(emb, emb.filter($"vec_id" < 10), k = 5)
      },
      Some("""WITH sims AS (
             |  SELECT q.vec_id AS query_id, e.vec_id AS neighbor_id,
             |    CAST(list_dot_product(q.embedding, e.embedding) AS DOUBLE) /
             |      (sqrt(CAST(list_dot_product(q.embedding, q.embedding) AS DOUBLE)) *
             |       sqrt(CAST(list_dot_product(e.embedding, e.embedding) AS DOUBLE))) AS cosine
             |  FROM embeddings q JOIN embeddings e
             |    ON q.vec_id < 10 AND e.vec_id <> q.vec_id),
             |ranked AS (
             |  SELECT query_id, neighbor_id, cosine,
             |    row_number() OVER (PARTITION BY query_id
             |                       ORDER BY cosine DESC, neighbor_id) AS rnk
             |  FROM sims)
             |SELECT query_id, neighbor_id, cosine, rnk FROM ranked WHERE rnk <= 5""".stripMargin),
      headline = true),

    // ------------------------------------------------------------------
    // q126: int8-quantized top-k — the storage/scan scale path (4× smaller
    // corpus scan; integer dot products). Codes, integer dots, and the
    // fixed-order rescale are all deterministic, so the approximate
    // operator hash-verifies: the oracle replays quantization and scoring
    // op for op.
    QueryDef(
      "q126_ann_quantized",
      (s, dir) => {
        import s.implicits._
        val emb = T.embeddings(s, dir)
        Similarity.quantizedTopK(emb, emb.filter($"vec_id" < 10), k = 5)
      },
      Some("""WITH base AS (
             |  SELECT vec_id,
             |    sqrt(CAST(list_dot_product(embedding, embedding) AS DOUBLE)) AS nrm,
             |    list_max(list_transform(embedding, x -> abs(CAST(x AS DOUBLE)))) AS mx,
             |    list_transform(embedding, x ->
             |      CAST(round(CAST(x AS DOUBLE) /
             |        list_max(list_transform(embedding, y -> abs(CAST(y AS DOUBLE)))) * 127.0)
             |        AS BIGINT)) AS qv
             |  FROM embeddings),
             |sims AS (
             |  SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
             |    CAST(list_sum(list_transform(generate_series(1, len(q.qv)),
             |          i -> q.qv[i] * c.qv[i])) AS DOUBLE)
             |      * q.mx * c.mx / 16129.0 / q.nrm / c.nrm AS score
             |  FROM base q JOIN base c ON q.vec_id < 10 AND c.vec_id <> q.vec_id),
             |ranked AS (
             |  SELECT query_id, neighbor_id, score,
             |    row_number() OVER (PARTITION BY query_id
             |                       ORDER BY score DESC, neighbor_id) AS rnk
             |  FROM sims)
             |SELECT query_id, neighbor_id, score, rnk FROM ranked WHERE rnk <= 5""".stripMargin)),

    // ------------------------------------------------------------------
    // q127: content-defined chunking — cut where the 4-token window's
    // md5-u32 ≡ 0 mod 16, so boundaries are local content and an early
    // edit re-keys only the chunks it touches (fixed-size chunking
    // shifts everything; TextStreamSpec measures the stability delta).
    // All built-in higher-order functions; the oracle replays windows,
    // cuts, and chunk assembly in SQL.
    QueryDef(
      "q127_cdc_chunks",
      (s, dir) => TextAnalysis.contentDefinedChunks(T.documents(s, dir)),
      Some(s"""WITH t AS (SELECT doc_id, string_split(text, ' ') AS w FROM documents),
              |c AS (
              |  SELECT doc_id, w,
              |    CASE WHEN len(w) >= 4 THEN
              |      list_filter(generate_series(4, len(w)), i ->
              |        ${u32Sql("array_to_string(list_slice(w, i - 3, i), ' ')")} % 16 = 0)
              |    ELSE [] END AS cuts
              |  FROM t),
              |b AS (
              |  SELECT doc_id, w,
              |    list_concat(list_concat([0], cuts),
              |      CASE WHEN len(cuts) = 0 OR cuts[-1] <> len(w)
              |           THEN [len(w)] ELSE [] END) AS bs
              |  FROM c),
              |e AS (SELECT doc_id, w, bs,
              |        unnest(generate_series(1, len(bs) - 1)) AS j FROM b)
              |SELECT doc_id,
              |  CAST(j - 1 AS BIGINT) AS chunk_idx,
              |  CAST(bs[j] + 1 AS BIGINT) AS start_token,
              |  CAST(bs[j + 1] - bs[j] AS BIGINT) AS n_tokens,
              |  md5(array_to_string(list_slice(w, bs[j] + 1, bs[j + 1]), ' ')) AS chunk_md5
              |FROM e""".stripMargin)),

    // ------------------------------------------------------------------
    // q45: LSH-bucketed ANN — the scale path (candidates via bucket
    // equi-join, exact rerank of candidates only). The ±1 hyperplanes are
    // integer-arithmetic-derived and the signature dot is the float32
    // index-order FloatDotProduct (= DuckDB list_dot_product bit-for-bit),
    // so the oracle recomputes the exact same buckets, candidates, and
    // rerank in SQL — the approximate operator hash-verifies.
    QueryDef(
      "q45_ann_lsh",
      (s, dir) => {
        import s.implicits._
        val emb = T.embeddings(s, dir)
        Similarity.lshTopK(emb, emb.filter($"vec_id" < 10), k = 5, dim = 64)
      },
      Some("""WITH sigs AS (
             |  SELECT vec_id, embedding,
             |    CAST(list_sum(list_transform(generate_series(0, 15), p ->
             |      CASE WHEN list_dot_product(embedding, list_transform(generate_series(1, 64),
             |          i -> CAST(CASE WHEN ((p * 97 + i - 1) * 2654435761) % 4294967296 >= 2147483648
             |                     THEN 1.0 ELSE -1.0 END AS FLOAT))) > 0
             |      THEN 1 << p ELSE 0 END)) AS INT) AS sig
             |  FROM embeddings),
             |banded AS (
             |  SELECT vec_id, b AS band, (sig >> (b * 4)) & 15 AS bucket
             |  FROM sigs CROSS JOIN (SELECT unnest(generate_series(0, 3)) AS b) bb),
             |cand AS (
             |  SELECT DISTINCT q.vec_id AS query_id, c.vec_id AS neighbor_id
             |  FROM banded q JOIN banded c ON q.band = c.band AND q.bucket = c.bucket
             |  WHERE q.vec_id < 10 AND c.vec_id <> q.vec_id),
             |sims AS (
             |  SELECT cand.query_id, cand.neighbor_id,
             |    CAST(list_dot_product(q.embedding, c.embedding) AS DOUBLE) /
             |      (sqrt(CAST(list_dot_product(q.embedding, q.embedding) AS DOUBLE)) *
             |       sqrt(CAST(list_dot_product(c.embedding, c.embedding) AS DOUBLE))) AS cosine
             |  FROM cand
             |  JOIN embeddings q ON q.vec_id = cand.query_id
             |  JOIN embeddings c ON c.vec_id = cand.neighbor_id),
             |ranked AS (
             |  SELECT query_id, neighbor_id, cosine,
             |    row_number() OVER (PARTITION BY query_id
             |                       ORDER BY cosine DESC, neighbor_id) AS rnk
             |  FROM sims)
             |SELECT query_id, neighbor_id, cosine, rnk FROM ranked WHERE rnk <= 5""".stripMargin)),

    // ------------------------------------------------------------------
    // q46: language ID (marker-token scores, fixed-order argmax).
    QueryDef(
      "q46_langid",
      (s, dir) => {
        val docs = T.documents(s, dir)
        val scores = TextAnalysis.langScores(col("text"))
        docs.select(
          Seq(col("doc_id")) ++
            scores.map { case (l, c) => c.as(s"s_$l") } :+
            TextAnalysis.argmax(scores).as("lang_pred"): _*)
      },
      Some("""WITH scored AS (
             |  SELECT doc_id,
             |    CAST(len(list_filter(string_split(text,' '), x -> x = 'the')) +
             |         len(list_filter(string_split(text,' '), x -> x = 'key')) AS BIGINT) AS s_en,
             |    CAST(len(list_filter(string_split(text,' '), x -> x = 'data')) +
             |         len(list_filter(string_split(text,' '), x -> x = 'row')) AS BIGINT) AS s_es,
             |    CAST(len(list_filter(string_split(text,' '), x -> x = 'join')) +
             |         len(list_filter(string_split(text,' '), x -> x = 'merge')) AS BIGINT) AS s_de,
             |    CAST(len(list_filter(string_split(text,' '), x -> x = 'table')) +
             |         len(list_filter(string_split(text,' '), x -> x = 'sort')) AS BIGINT) AS s_fr,
             |    CAST(len(list_filter(string_split(text,' '), x -> x = 'spark')) +
             |         len(list_filter(string_split(text,' '), x -> x = 'batch')) AS BIGINT) AS s_zh
             |  FROM documents)
             |SELECT doc_id, s_en, s_es, s_de, s_fr, s_zh,
             |  CASE WHEN s_en >= s_es AND s_en >= s_de AND s_en >= s_fr AND s_en >= s_zh THEN 'en'
             |       WHEN s_es >= s_de AND s_es >= s_fr AND s_es >= s_zh THEN 'es'
             |       WHEN s_de >= s_fr AND s_de >= s_zh THEN 'de'
             |       WHEN s_fr >= s_zh THEN 'fr'
             |       ELSE 'zh' END AS lang_pred
             |FROM scored""".stripMargin)),

    // ------------------------------------------------------------------
    // q55: language ID by character-n-gram profiles (the n-gram heuristic
    // proper, complementing q46's token markers): overlapping substring
    // counts via the length-difference identity, argmax with fixed order.
    QueryDef(
      "q55_langid_ngram",
      (s, dir) => {
        val docs = T.documents(s, dir)
        val scores = TextAnalysis.charNgramScores(col("text"))
        docs.select(
          Seq(col("doc_id")) ++
            scores.map { case (l, c) => c.as(s"g_$l") } :+
            TextAnalysis.argmax(scores).as("lang_pred"): _*)
      },
      Some("""WITH scored AS (
             |  SELECT doc_id,
             |    CAST((length(text) - length(replace(text, 'th', ''))) / 2 +
             |         (length(text) - length(replace(text, 'ke', ''))) / 2 AS BIGINT) AS g_en,
             |    CAST((length(text) - length(replace(text, 'da', ''))) / 2 +
             |         (length(text) - length(replace(text, 'ro', ''))) / 2 AS BIGINT) AS g_es,
             |    CAST((length(text) - length(replace(text, 'jo', ''))) / 2 +
             |         (length(text) - length(replace(text, 'me', ''))) / 2 AS BIGINT) AS g_de,
             |    CAST((length(text) - length(replace(text, 'ta', ''))) / 2 +
             |         (length(text) - length(replace(text, 'so', ''))) / 2 AS BIGINT) AS g_fr,
             |    CAST((length(text) - length(replace(text, 'sp', ''))) / 2 +
             |         (length(text) - length(replace(text, 'ba', ''))) / 2 AS BIGINT) AS g_zh
             |  FROM documents)
             |SELECT doc_id, g_en, g_es, g_de, g_fr, g_zh,
             |  CASE WHEN g_en >= g_es AND g_en >= g_de AND g_en >= g_fr AND g_en >= g_zh THEN 'en'
             |       WHEN g_es >= g_de AND g_es >= g_fr AND g_es >= g_zh THEN 'es'
             |       WHEN g_de >= g_fr AND g_de >= g_zh THEN 'de'
             |       WHEN g_fr >= g_zh THEN 'fr'
             |       ELSE 'zh' END AS lang_pred
             |FROM scored""".stripMargin)),

    // ------------------------------------------------------------------
    // q47: quality scoring — integer-derived ratios, deterministic.
    QueryDef(
      "q47_text_quality",
      (s, dir) => TextAnalysis.quality(T.documents(s, dir)),
      Some("""WITH f AS (
             |  SELECT doc_id,
             |    CAST(length(text) AS BIGINT) AS n_chars,
             |    CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens,
             |    CAST(len(list_filter(string_split(text,' '), x -> x = 'the')) +
             |         len(list_filter(string_split(text,' '), x -> x = 'a')) AS BIGINT) AS n_stopwords
             |  FROM documents)
             |SELECT doc_id, n_chars, n_tokens,
             |  CAST(n_chars - (n_tokens - 1) AS DOUBLE) / n_tokens AS avg_token_len,
             |  n_stopwords,
             |  CAST(n_stopwords AS DOUBLE) / n_tokens AS stopword_ratio,
             |  CASE WHEN n_tokens < 30 THEN 'short'
             |       WHEN CAST(n_stopwords AS DOUBLE) / n_tokens > 0.08 THEN 'boilerplate'
             |       ELSE 'ok' END AS quality_bin
             |FROM f""".stripMargin)),

    // ------------------------------------------------------------------
    // q48: token counting — whitespace + BPE-ish subtoken estimate.
    QueryDef(
      "q48_token_count",
      (s, dir) => TextAnalysis.tokenCounts(T.documents(s, dir)),
      Some("""SELECT doc_id,
             |  CAST(len(string_split(text, ' ')) AS BIGINT) AS n_ws_tokens,
             |  CAST(list_sum(list_transform(string_split(text, ' '),
             |    t -> CAST(ceil(length(t) / 4.0) AS BIGINT))) AS BIGINT) AS n_subtokens
             |FROM documents""".stripMargin)),

    // ------------------------------------------------------------------
    // q49: embedding-cosine near-dup pairs — the EXACT all-pairs baseline
    // (bruteForce = true, explicitly: at this fixture's 0.4 threshold the
    // pair mass sits right at the cut, the regime where no prefilter can
    // both prune and keep recall; probe side sharded by vec_id % 4 = 0 —
    // the shape of a sharded all-pairs sweep). q94 is the default
    // LSH-prefiltered path at a near-dup threshold.
    QueryDef(
      "q49_embed_neardup",
      (s, dir) => Similarity.nearDupPairs(
        T.embeddings(s, dir), threshold = 0.4, leftPred = col("id_a") % 4 === 0,
        bruteForce = true),
      headline = true,
      oracle =
      Some("""SELECT a.vec_id AS id_a, b.vec_id AS id_b,
             |  CAST(list_dot_product(a.embedding, b.embedding) AS DOUBLE) /
             |    (sqrt(CAST(list_dot_product(a.embedding, a.embedding) AS DOUBLE)) *
             |     sqrt(CAST(list_dot_product(b.embedding, b.embedding) AS DOUBLE))) AS cosine
             |FROM embeddings a JOIN embeddings b
             |  ON a.vec_id % 4 = 0 AND a.vec_id < b.vec_id
             |WHERE CAST(list_dot_product(a.embedding, b.embedding) AS DOUBLE) /
             |    (sqrt(CAST(list_dot_product(a.embedding, a.embedding) AS DOUBLE)) *
             |     sqrt(CAST(list_dot_product(b.embedding, b.embedding) AS DOUBLE))) > 0.4""".stripMargin)),

    // ------------------------------------------------------------------
    // q50: document fingerprinting (normalized md5).
    QueryDef(
      "q50_fingerprint",
      (s, dir) => T.documents(s, dir)
        .select(col("doc_id"), TextAnalysis.fingerprint(col("text")).as("fingerprint")),
      Some("""SELECT doc_id, md5(lower(trim(regexp_replace(text, ' +', ' ', 'g')))) AS fingerprint
             |FROM documents""".stripMargin)),

    // ------------------------------------------------------------------
    // q51: REAL video metadata decode (formerly the stub) — planted
    // ISO-BMFF boxes (timescale/duration/dims/frame-count derived from
    // c_custkey, encoded inside the distributed map) are parsed back by
    // the MP4 box walker. Every output column is recomputed
    // arithmetically by the oracle — the q116 planted-box pattern — so
    // the decode is proven real, not rows-only.
    QueryDef(
      "q51_video_metadata",
      (s, dir) => {
        import s.implicits._
        val mp4s = T.customer(s, dir).select($"c_custkey".cast("long"))
          .as[Long]
          .map { id =>
            val nf = (id % 4 + 1).toInt
            (id, Multimodal.encodeMp4(
              timescale = (600 * (id % 3 + 1)).toInt,
              durationTicks = id % 1000 + 100,
              width = (id % 128 + 16).toInt,
              height = (id % 72 + 9).toInt,
              frameSizes = Array.tabulate(nf)(i => ((id % 97) * 8 + i + 1).toInt)))
          }
          .toDF("doc_id", "mp4")
        Multimodal.decodeMp4(s, mp4s)
      },
      Some("""SELECT c_custkey AS doc_id, 'mp4' AS format,
             |  CAST(600 * (c_custkey % 3 + 1) AS INT) AS timescale,
             |  CAST((c_custkey % 1000 + 100) * 1000
             |       // (600 * (c_custkey % 3 + 1)) AS BIGINT) AS duration_ms,
             |  CAST(c_custkey % 128 + 16 AS INT) AS width,
             |  CAST(c_custkey % 72 + 9 AS INT) AS height,
             |  CAST(c_custkey % 4 + 1 AS BIGINT) AS n_frames
             |FROM customer""".stripMargin)),

    // ------------------------------------------------------------------
    // q52: Structured Streaming tumbling-hour aggregation (complete mode,
    // memory sink, driven synchronously by the parquet fixture).
    QueryDef(
      "q52_stream_hourly",
      (s, dir) => StreamingOps.hourlyCounts(s, dir),
      Some("""SELECT CAST(epoch(date_trunc('hour', ts)) AS BIGINT) AS hour_epoch,
             |  event_type, count(*) AS n
             |FROM events GROUP BY 1, 2""".stripMargin)),

    // ------------------------------------------------------------------
    // q53: IVF ANN — seeded coarse-quantizer cells + nProbe search +
    // exact rerank. Distances reduce to three float dots
    // (‖a−b‖² = ‖a‖² + ‖b‖² − 2a·b), each bit-identical to DuckDB's
    // list_dot_product, so cell assignment / probing / rerank all
    // hash-verify.
    QueryDef(
      "q53_ann_ivf",
      (s, dir) => {
        import s.implicits._
        val emb = T.embeddings(s, dir)
        Similarity.ivfTopKSeeded(emb, emb.filter($"vec_id" < 10), k = 5)
      },
      Some("""WITH seeds AS (
             |  SELECT vec_id AS cell, embedding AS sv FROM embeddings WHERE vec_id < 16),
             |asg AS (
             |  SELECT e.vec_id, e.embedding, s.cell,
             |    CAST(list_dot_product(e.embedding, e.embedding) AS DOUBLE) +
             |    CAST(list_dot_product(s.sv, s.sv) AS DOUBLE) -
             |    2.0 * CAST(list_dot_product(e.embedding, s.sv) AS DOUBLE) AS d2
             |  FROM embeddings e CROSS JOIN seeds s),
             |cells AS (
             |  SELECT vec_id AS neighbor_id, cell FROM (
             |    SELECT vec_id, cell, row_number() OVER (PARTITION BY vec_id ORDER BY d2, cell) AS r
             |    FROM asg) t WHERE r = 1),
             |probes AS (
             |  SELECT vec_id AS query_id, cell FROM (
             |    SELECT vec_id, cell, row_number() OVER (PARTITION BY vec_id ORDER BY d2, cell) AS r
             |    FROM asg WHERE vec_id < 10) t WHERE r <= 4),
             |cand AS (
             |  SELECT DISTINCT p.query_id, c.neighbor_id
             |  FROM probes p JOIN cells c ON p.cell = c.cell
             |  WHERE c.neighbor_id <> p.query_id),
             |sims AS (
             |  SELECT cand.query_id, cand.neighbor_id,
             |    CAST(list_dot_product(q.embedding, c.embedding) AS DOUBLE) /
             |      (sqrt(CAST(list_dot_product(q.embedding, q.embedding) AS DOUBLE)) *
             |       sqrt(CAST(list_dot_product(c.embedding, c.embedding) AS DOUBLE))) AS cosine
             |  FROM cand
             |  JOIN embeddings q ON q.vec_id = cand.query_id
             |  JOIN embeddings c ON c.vec_id = cand.neighbor_id),
             |ranked AS (
             |  SELECT query_id, neighbor_id, cosine,
             |    row_number() OVER (PARTITION BY query_id
             |                       ORDER BY cosine DESC, neighbor_id) AS rnk
             |  FROM sims)
             |SELECT query_id, neighbor_id, cosine, rnk FROM ranked WHERE rnk <= 5""".stripMargin)),

    // ------------------------------------------------------------------
    // q58: TF-IDF-style top-3 terms per document — term counts, document
    // frequencies, rational idf (tf·N/df: exact integer operands, one
    // exact-rounded division; transcendental ln is NOT cross-engine
    // deterministic — Math.log and libm differ in the last ulp, verified
    // empirically — so the hash-gated variant uses the rational weight;
    // ranking order is identical for any monotone idf).
    QueryDef(
      "q58_tfidf",
      (s, dir) => {
        import s.implicits._
        val docs = T.documents(s, dir)
        val n = docs.count()
        val tf = docs.select($"doc_id", explode(split($"text", " ")).as("term"))
          .groupBy($"doc_id", $"term").agg(count(lit(1)).as("tf"))
        val dfreq = tf.groupBy($"term").agg(count(lit(1)).as("df"))
        val w = org.apache.spark.sql.expressions.Window
          .partitionBy($"doc_id").orderBy($"score".desc, $"term")
        tf.join(dfreq, "term")
          .withColumn("score", ($"tf" * n).cast("double") / $"df")
          .withColumn("rnk", row_number().over(w).cast("long"))
          .filter($"rnk" <= 3)
          .select($"doc_id", $"term", $"tf", $"df", $"score", $"rnk")
      },
      Some("""WITH tokens AS (
             |  SELECT doc_id, unnest(string_split(text, ' ')) AS term FROM documents),
             |tf AS (SELECT doc_id, term, count(*) AS tf FROM tokens GROUP BY 1, 2),
             |dfreq AS (SELECT term, count(*) AS df FROM tf GROUP BY 1),
             |n AS (SELECT count(*) AS n_docs FROM documents),
             |scored AS (
             |  SELECT doc_id, tf.term, tf.tf, dfreq.df,
             |    CAST(tf.tf * n.n_docs AS DOUBLE) / dfreq.df AS score
             |  FROM tf JOIN dfreq ON tf.term = dfreq.term CROSS JOIN n),
             |ranked AS (
             |  SELECT doc_id, term, tf, df, score,
             |    row_number() OVER (PARTITION BY doc_id
             |                       ORDER BY score DESC, term) AS rnk
             |  FROM scored)
             |SELECT doc_id, term, tf, df, score, rnk FROM ranked WHERE rnk <= 3""".stripMargin)),

    // ------------------------------------------------------------------
    // q56: embedding transforms — L2 normalization and floor-quantized
    // int8 codes (per-element IEEE ops on identical operands →
    // bit-identical across engines; floor, not cast: Spark casts truncate
    // while DuckDB casts round). Emitted one row per (vector, position) —
    // scalar columns only, because the compare harness sorts cells and
    // raw array cells aren't sortable in pandas.
    QueryDef(
      "q56_embed_transform",
      (s, dir) => {
        import s.implicits._
        import graft.plans.VectorFunctions
        T.embeddings(s, dir)
          .withColumn("nrm", VectorFunctions.vecNorm($"embedding"))
          .select($"vec_id", $"nrm", posexplode($"embedding"))
          .select(
            $"vec_id",
            ($"pos" + 1).cast("long").as("idx"),
            ($"col".cast("double") / $"nrm").as("unit_val"),
            floor($"col".cast("double") * 127.0).cast("long").as("q127"))
      },
      Some("""SELECT vec_id, idx,
             |  CAST(embedding[idx] AS DOUBLE) /
             |    sqrt(CAST(list_dot_product(embedding, embedding) AS DOUBLE)) AS unit_val,
             |  CAST(floor(CAST(embedding[idx] AS DOUBLE) * 127.0) AS BIGINT) AS q127
             |FROM (SELECT vec_id, embedding,
             |        unnest(generate_series(1, CAST(len(embedding) AS BIGINT))) AS idx
             |      FROM embeddings) t""".stripMargin)),

    // ------------------------------------------------------------------
    // q57: document chunking for training — fixed-size token windows
    // (50 tokens, stride 40) as a generator over the token array; the
    // standard context-window preparation op.
    QueryDef(
      "q57_doc_chunks",
      (s, dir) => {
        import s.implicits._
        T.documents(s, dir)
          .select($"doc_id", split($"text", " ").as("w"))
          .select($"doc_id",
            explode(expr(
              """transform(
                |  sequence(0, CAST(ceil(greatest(size(w) - 50, 0) / 40.0) AS INT)),
                |  i -> struct(CAST(i AS BIGINT) AS chunk_idx,
                |              concat_ws(' ', slice(w, i * 40 + 1, 50)) AS chunk))""".stripMargin)).as("c"))
          .select($"doc_id", $"c.chunk_idx", $"c.chunk")
      },
      Some("""SELECT doc_id, chunk_idx,
             |  array_to_string(list_slice(w, chunk_idx * 40 + 1, chunk_idx * 40 + 50), ' ') AS chunk
             |FROM (
             |  SELECT doc_id, w,
             |    unnest(generate_series(0, CAST(ceil(greatest(len(w) - 50, 0) / 40.0) AS BIGINT))) AS chunk_idx
             |  FROM (SELECT doc_id, string_split(text, ' ') AS w FROM documents) t) u""".stripMargin)),

    // ------------------------------------------------------------------
    // q88: regex tokenization (the BPE-ish path proper, complementing
    // q48's arithmetic estimate): alpha word tokens, greedy ≤4-char
    // subword units ({1,4} greedy = exactly ceil(len/4) units per word),
    // and the longest token. Simple character-class patterns have
    // identical semantics in Java regex and DuckDB's RE2.
    QueryDef(
      "q88_regex_tokens",
      (s, dir) => {
        import s.implicits._
        T.documents(s, dir).select(
          $"doc_id",
          size(regexp_extract_all($"text", lit("[a-zA-Z]+"), lit(0))).cast("long").as("n_words"),
          size(regexp_extract_all($"text", lit("[a-zA-Z]{1,4}"), lit(0))).cast("long").as("n_subwords"),
          array_max(transform(regexp_extract_all($"text", lit("[a-zA-Z]+"), lit(0)),
            t => length(t))).cast("long").as("max_token_len"))
      },
      Some("""SELECT doc_id,
             |  CAST(len(regexp_extract_all(text, '[a-zA-Z]+')) AS BIGINT) AS n_words,
             |  CAST(len(regexp_extract_all(text, '[a-zA-Z]{1,4}')) AS BIGINT) AS n_subwords,
             |  CAST(list_max(list_transform(regexp_extract_all(text, '[a-zA-Z]+'),
             |    t -> length(t))) AS BIGINT) AS max_token_len
             |FROM documents""".stripMargin)),

    // ------------------------------------------------------------------
    // q87: the end-to-end training-data prep pipeline, composed from the
    // operator library: quality gate (q47 semantics) → language filter
    // (q46 argmax) → exact dedup keeping canonical docs (q40) → context
    // chunking (q57 windows) → per-chunk token counts (q48). One plan,
    // one shuffle per aggregation boundary — the "could a user run their
    // whole prep job on this engine" query.
    QueryDef(
      "q87_training_pipeline",
      (s, dir) => {
        import s.implicits._
        val docs = T.documents(s, dir)
        val okIds = TextAnalysis.quality(docs)
          .filter($"quality_bin" === "ok").select("doc_id")
        val scores = TextAnalysis.langScores(col("text"))
        val en = docs.join(okIds, "doc_id")
          .filter(TextAnalysis.argmax(scores) === "en")
        val canon = Dedup.exact(en)
        val ded = en.join(canon,
          md5($"text") === $"text_hash" && $"doc_id" === $"canonical_id", "left_semi")
        ded
          .select($"doc_id", split($"text", " ").as("w"))
          .select($"doc_id",
            explode(expr(
              """transform(
                |  sequence(0, CAST(ceil(greatest(size(w) - 50, 0) / 40.0) AS INT)),
                |  i -> struct(CAST(i AS BIGINT) AS chunk_idx,
                |              concat_ws(' ', slice(w, i * 40 + 1, 50)) AS chunk))""".stripMargin)).as("c"))
          .select($"doc_id", $"c.chunk_idx", $"c.chunk",
            size(split($"c.chunk", " ")).cast("long").as("chunk_tokens"))
      },
      Some("""WITH f AS (
             |  SELECT doc_id, text,
             |    CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens,
             |    CAST(len(list_filter(string_split(text,' '), x -> x = 'the')) +
             |         len(list_filter(string_split(text,' '), x -> x = 'a')) AS BIGINT) AS n_stop
             |  FROM documents),
             |ok AS (
             |  SELECT doc_id, text FROM f
             |  WHERE NOT (n_tokens < 30)
             |    AND NOT (CAST(n_stop AS DOUBLE) / n_tokens > 0.08)),
             |scored AS (
             |  SELECT doc_id, text,
             |    CAST(len(list_filter(string_split(text,' '), x -> x = 'the')) +
             |         len(list_filter(string_split(text,' '), x -> x = 'key')) AS BIGINT) AS s_en,
             |    CAST(len(list_filter(string_split(text,' '), x -> x = 'data')) +
             |         len(list_filter(string_split(text,' '), x -> x = 'row')) AS BIGINT) AS s_es,
             |    CAST(len(list_filter(string_split(text,' '), x -> x = 'join')) +
             |         len(list_filter(string_split(text,' '), x -> x = 'merge')) AS BIGINT) AS s_de,
             |    CAST(len(list_filter(string_split(text,' '), x -> x = 'table')) +
             |         len(list_filter(string_split(text,' '), x -> x = 'sort')) AS BIGINT) AS s_fr,
             |    CAST(len(list_filter(string_split(text,' '), x -> x = 'spark')) +
             |         len(list_filter(string_split(text,' '), x -> x = 'batch')) AS BIGINT) AS s_zh
             |  FROM ok),
             |en AS (
             |  SELECT doc_id, text FROM scored
             |  WHERE s_en >= s_es AND s_en >= s_de AND s_en >= s_fr AND s_en >= s_zh),
             |canon AS (SELECT md5(text) AS h, min(doc_id) AS cid FROM en GROUP BY 1),
             |ded AS (
             |  SELECT e.doc_id, e.text FROM en e
             |  JOIN canon c ON md5(e.text) = c.h AND e.doc_id = c.cid),
             |w AS (SELECT doc_id, string_split(text, ' ') AS w FROM ded),
             |chunks AS (
             |  SELECT doc_id, w,
             |    unnest(generate_series(0, CAST(ceil(greatest(len(w) - 50, 0) / 40.0) AS BIGINT))) AS chunk_idx
             |  FROM w)
             |SELECT doc_id, chunk_idx,
             |  array_to_string(list_slice(w, chunk_idx * 40 + 1, chunk_idx * 40 + 50), ' ') AS chunk,
             |  CAST(len(list_slice(w, chunk_idx * 40 + 1, chunk_idx * 40 + 50)) AS BIGINT) AS chunk_tokens
             |FROM chunks""".stripMargin)),

    // ------------------------------------------------------------------
    // q54: one-to-many multimodal decode (frame sampling) — flatMap-typed
    // fan-out now driven by the REAL MP4 sample table: frame byte sizes
    // from stsz, frame timestamps from cumulative stts deltas, both
    // replayed arithmetically by the oracle over the q51 planted params.
    QueryDef(
      "q54_frame_sample",
      (s, dir) => {
        import s.implicits._
        val mp4s = T.customer(s, dir).select($"c_custkey".cast("long"))
          .as[Long]
          .map { id =>
            val nf = (id % 4 + 1).toInt
            (id, Multimodal.encodeMp4(
              timescale = (600 * (id % 3 + 1)).toInt,
              durationTicks = id % 1000 + 100,
              width = (id % 128 + 16).toInt,
              height = (id % 72 + 9).toInt,
              frameSizes = Array.tabulate(nf)(i => ((id % 97) * 8 + i + 1).toInt)))
          }
          .toDF("doc_id", "mp4")
        Multimodal.sampleFrames(s, mp4s)
      },
      Some("""WITH f AS (
             |  SELECT c_custkey AS id,
             |    unnest(generate_series(1, c_custkey % 4 + 1)) AS frame_idx
             |  FROM customer)
             |SELECT id AS doc_id, frame_idx,
             |  CAST((id % 97) * 8 + frame_idx AS BIGINT) AS frame_bytes,
             |  CAST((frame_idx - 1) * ((id % 1000 + 100) // (id % 4 + 1)) * 1000
             |       // (600 * (id % 3 + 1)) AS BIGINT) AS frame_t_ms
             |FROM f""".stripMargin)),

    // ------------------------------------------------------------------
    // q94: the DEFAULT near-dup path — banded sign-LSH prefilter + exact
    // cosine verify — at a real near-dup threshold (0.9). Planted dups:
    // every vec_id % 10 = 3 vector re-enters scaled by 1.5f (same float
    // op in both engines → bit-identical vectors; scaling preserves every
    // projection sign, so each planted pair collides in ALL 16 bands —
    // recall is structural here, not probabilistic). The oracle is exact
    // brute force over the same union, so the hash-match proves
    // prefilter+verify ≡ exact. PlanSpec asserts no nested-loop join.
    QueryDef(
      "q94_lsh_neardup",
      (s, dir) => {
        val base = T.embeddings(s, dir).select(col("vec_id"), col("embedding"))
        val dups = base.filter(col("vec_id") % 10 === 3)
          .select((col("vec_id") + 100000L).as("vec_id"),
            transform(col("embedding"), x => x * lit(1.5f)).as("embedding"))
        Similarity.nearDupPairs(base.unionByName(dups), threshold = 0.9, leftPred = lit(true))
      },
      headline = true,
      oracle =
      Some("""WITH base AS (SELECT vec_id, embedding FROM embeddings),
             |dups AS (
             |  SELECT vec_id + 100000 AS vec_id,
             |         list_transform(embedding, x -> x * CAST(1.5 AS FLOAT)) AS embedding
             |  FROM base WHERE vec_id % 10 = 3),
             |e AS (SELECT * FROM base UNION ALL SELECT * FROM dups)
             |SELECT a.vec_id AS id_a, b.vec_id AS id_b,
             |  CAST(list_dot_product(a.embedding, b.embedding) AS DOUBLE) /
             |    (sqrt(CAST(list_dot_product(a.embedding, a.embedding) AS DOUBLE)) *
             |     sqrt(CAST(list_dot_product(b.embedding, b.embedding) AS DOUBLE))) AS cosine
             |FROM e a JOIN e b ON a.vec_id < b.vec_id
             |WHERE CAST(list_dot_product(a.embedding, b.embedding) AS DOUBLE) /
             |    (sqrt(CAST(list_dot_product(a.embedding, a.embedding) AS DOUBLE)) *
             |     sqrt(CAST(list_dot_product(b.embedding, b.embedding) AS DOUBLE))) > 0.9""".stripMargin)),

    // ------------------------------------------------------------------
    // q99: REAL image decode — planted solid-color PNGs (encoded inside
    // the distributed map via the JDK's javax.imageio, dimensions and
    // colors derived from c_custkey) are decoded back by the multimodal
    // operator: magic-byte format sniff + raster dimensions + exact
    // per-channel means. PNG is lossless, so the oracle recomputes every
    // output column arithmetically — the decode is proven real, not
    // rows-only.
    QueryDef(
      "q99_image_decode",
      (s, dir) => {
        import s.implicits._
        val gen = T.customer(s, dir).select(
          $"c_custkey".cast("long").as("doc_id"),
          ($"c_custkey" % 24 + 8).cast("int").as("w"),
          ($"c_custkey" % 16 + 8).cast("int").as("h"),
          ($"c_custkey" % 256).cast("int").as("r"),
          (($"c_custkey" * 7) % 256).cast("int").as("g"),
          (($"c_custkey" * 13) % 256).cast("int").as("b"))
        val imgs = gen.as[(Long, Int, Int, Int, Int, Int)]
          .map { case (id, w, h, r, g, b) => (id, Multimodal.encodePng(w, h, r, g, b)) }
          .toDF("doc_id", "img")
        Multimodal.decodeImages(s, imgs)
      },
      Some("""SELECT c_custkey AS doc_id,
             |  CAST(c_custkey % 24 + 8 AS INT) AS width,
             |  CAST(c_custkey % 16 + 8 AS INT) AS height,
             |  'png' AS format,
             |  CAST(c_custkey % 256 AS INT) AS mean_r,
             |  CAST(c_custkey * 7 % 256 AS INT) AS mean_g,
             |  CAST(c_custkey * 13 % 256 AS INT) AS mean_b
             |FROM customer""".stripMargin)),

    // ------------------------------------------------------------------
    // q146: REAL image resize — decode → bilinear Graphics2D rescale to
    // 16×16 → lossless PNG re-encode → re-decode. Solid-color planted
    // images make every stage arithmetic: interpolating a constant is
    // the constant, so target dims AND per-channel means hash-verify.
    QueryDef(
      "q146_image_resize",
      (s, dir) => {
        import s.implicits._
        val gen = T.customer(s, dir).select(
          $"c_custkey".cast("long").as("doc_id"),
          ($"c_custkey" % 24 + 8).cast("int").as("w"),
          ($"c_custkey" % 16 + 8).cast("int").as("h"),
          ($"c_custkey" % 256).cast("int").as("r"),
          (($"c_custkey" * 7) % 256).cast("int").as("g"),
          (($"c_custkey" * 13) % 256).cast("int").as("b"))
        val imgs = gen.as[(Long, Int, Int, Int, Int, Int)]
          .map { case (id, w, h, r, g, b) => (id, Multimodal.encodePng(w, h, r, g, b)) }
          .toDF("doc_id", "img")
        Multimodal.decodeImages(s, Multimodal.resizeImages(s, imgs, 16, 16))
      },
      Some("""SELECT c_custkey AS doc_id,
             |  CAST(16 AS INT) AS width,
             |  CAST(16 AS INT) AS height,
             |  'png' AS format,
             |  CAST(c_custkey % 256 AS INT) AS mean_r,
             |  CAST(c_custkey * 7 % 256 AS INT) AS mean_g,
             |  CAST(c_custkey * 13 % 256 AS INT) AS mean_b
             |FROM customer""".stripMargin)),

    // ------------------------------------------------------------------
    // q117: INCREMENTAL MinHash dedup — the rolling-ingest shape: docs
    // with doc_id % 3 == 0 arrive as the new batch; the rest is the old
    // corpus represented only by its persisted signature artifact. Only
    // new docs are shingled/signed; candidates come from the new-vs-store
    // band join; verification reshingles candidate docs only. The oracle
    // is the exact n-gram pair SQL restricted to pairs touching the new
    // batch — the hash match proves incremental ≡ full-corpus-filtered.
    QueryDef(
      "q117_dedup_incremental",
      (s, dir) => {
        val docs = T.documents(s, dir)
        val oldDocs = docs.filter(col("doc_id") % 3 =!= 0)
        val newDocs = docs.filter(col("doc_id") % 3 === 0)
        Dedup.minhashPairsIncremental(
          newDocs, oldDocs, Dedup.minhashSignatures(oldDocs))
      },
      headline = true,
      oracle = Some(ngramPairsSql +
        "\n  AND (id_a % 3 = 0 OR id_b % 3 = 0)")),

    // ------------------------------------------------------------------
    // q116: REAL audio decode — planted PCM16 square waves (amplitude and
    // length derived from c_custkey, encoded inside the distributed map)
    // are parsed back by the RIFF chunk walker: rate/bits/duration plus
    // exact integer signal features. A ±A square wave of N samples has
    // peak = A and energy = N·A² exactly, so the oracle recomputes every
    // column arithmetically — the decode is proven real, not rows-only.
    QueryDef(
      "q116_audio_decode",
      (s, dir) => {
        import s.implicits._
        val gen = T.customer(s, dir).select(
          $"c_custkey".cast("long").as("doc_id"),
          ($"c_custkey" % 50 + 20).cast("int").as("n"),
          ($"c_custkey" % 1000 + 1).cast("int").as("amp"))
        val wavs = gen.as[(Long, Int, Int)]
          .map { case (id, n, a) =>
            val samples = Array.tabulate(n)(i => (if (i % 2 == 0) a else -a).toShort)
            (id, Multimodal.encodeWav(8000, samples))
          }
          .toDF("doc_id", "wav")
        Multimodal.decodeWav(s, wavs)
      },
      Some("""SELECT c_custkey AS doc_id, 'wav' AS format,
             |  CAST(1 AS INT) AS channels, CAST(8000 AS INT) AS sample_rate,
             |  CAST(16 AS INT) AS bits,
             |  CAST(c_custkey % 50 + 20 AS BIGINT) AS n_samples,
             |  CAST((c_custkey % 50 + 20) * 1000 // 8000 AS BIGINT) AS duration_ms,
             |  CAST(c_custkey % 1000 + 1 AS INT) AS peak_abs,
             |  CAST((c_custkey % 50 + 20)
             |     * (c_custkey % 1000 + 1) * (c_custkey % 1000 + 1) AS BIGINT) AS energy
             |FROM customer""".stripMargin)),

    // ------------------------------------------------------------------
    // q130: SemDeDup semantic dedup (Abbas et al. 2023) — seeded coarse
    // quantizer (q53's deterministic cells), then within-cluster cosine
    // shadowing with keep-lowest-id. Assignment + pairing + verdicts all
    // replay in SQL (float dots = list_dot_product bit-for-bit), so the
    // whole cluster-then-prune pipeline hash-verifies. The quadratic step
    // is cluster-confined: one shuffle on cell, never an all-pairs plan.
    QueryDef(
      "q130_semantic_dedup",
      (s, dir) => Similarity.semanticDedup(
        T.embeddings(s, dir), threshold = 0.85, nCells = 16),
      Some("""WITH seeds AS (
             |  SELECT vec_id AS cell, embedding AS sv FROM embeddings WHERE vec_id < 16),
             |asg AS (
             |  SELECT e.vec_id, e.embedding, s.cell,
             |    CAST(list_dot_product(e.embedding, e.embedding) AS DOUBLE) +
             |    CAST(list_dot_product(s.sv, s.sv) AS DOUBLE) -
             |    2.0 * CAST(list_dot_product(e.embedding, s.sv) AS DOUBLE) AS d2
             |  FROM embeddings e CROSS JOIN seeds s),
             |cells AS (
             |  SELECT vec_id, embedding, cell FROM (
             |    SELECT vec_id, embedding, cell,
             |      row_number() OVER (PARTITION BY vec_id ORDER BY d2, cell) AS r
             |    FROM asg) t WHERE r = 1),
             |shadows AS (
             |  SELECT vec_id, dup_of, cos_dup FROM (
             |    SELECT b.vec_id, a.vec_id AS dup_of,
             |      CAST(list_dot_product(a.embedding, b.embedding) AS DOUBLE) /
             |        (sqrt(CAST(list_dot_product(a.embedding, a.embedding) AS DOUBLE)) *
             |         sqrt(CAST(list_dot_product(b.embedding, b.embedding) AS DOUBLE))) AS cos_dup,
             |      row_number() OVER (PARTITION BY b.vec_id ORDER BY a.vec_id) AS rd
             |    FROM cells a JOIN cells b
             |      ON a.cell = b.cell AND a.vec_id < b.vec_id
             |    WHERE CAST(list_dot_product(a.embedding, b.embedding) AS DOUBLE) /
             |        (sqrt(CAST(list_dot_product(a.embedding, a.embedding) AS DOUBLE)) *
             |         sqrt(CAST(list_dot_product(b.embedding, b.embedding) AS DOUBLE))) >= 0.85
             |    ) t WHERE rd = 1)
             |SELECT c.vec_id, c.cell,
             |  s.dup_of IS NULL AS kept, s.dup_of, s.cos_dup
             |FROM cells c LEFT JOIN shadows s ON c.vec_id = s.vec_id""".stripMargin),
      headline = true),

    // ------------------------------------------------------------------
    // q133: EXACT shingle-set Jaccard join via prefix filtering (PPJoin
    // family) — the deterministic counterpart of the MinHash path: zero
    // false negatives by pigeonhole, candidates only from RARE (prefix)
    // shingles so the hot-element quadratic never forms. Runs over
    // 3-gram shingle sets (n=3): the corpus' 31-token vocabulary makes
    // unigram sets degenerate (≈40% of ALL pairs qualify at t=0.7 — a
    // multi-million-row answer with nothing to prune), while shingles
    // have the long-tailed df distribution prefix filtering exists for.
    // The oracle is brute-force all-pairs over the same sets — exactly
    // the set the operator must reproduce — so completeness itself is
    // what's hash-verified.
    QueryDef(
      "q133_prefix_jaccard",
      (s, dir) => Dedup.prefixJaccardJoin(T.documents(s, dir), threshold = 0.5, n = 3),
      Some("""WITH w AS (SELECT doc_id, string_split(text, ' ') AS w FROM documents),
             |g AS (SELECT DISTINCT doc_id, gram FROM (
             |  SELECT doc_id, unnest(list_transform(generate_series(1, len(w) - 2),
             |      i -> w[i] || ' ' || w[i+1] || ' ' || w[i+2])) AS gram
             |  FROM w) t),
             |sizes AS (SELECT doc_id, count(*) AS sz FROM g GROUP BY doc_id),
             |inter AS (SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS ovl
             |          FROM g a JOIN g b ON a.gram = b.gram AND a.doc_id < b.doc_id
             |          GROUP BY 1, 2)
             |SELECT doc_a, doc_b, CAST(ovl AS DOUBLE) / (sa.sz + sb.sz - ovl) AS jac
             |FROM inter
             |JOIN sizes sa ON sa.doc_id = doc_a
             |JOIN sizes sb ON sb.doc_id = doc_b
             |WHERE CAST(ovl AS DOUBLE) / (sa.sz + sb.sz - ovl) >= 0.5""".stripMargin),
      headline = true),

    // ------------------------------------------------------------------
    // q135: exact heavy-hitter vocabulary (Misra–Gries candidates →
    // exact verify; plans/FreqSketch.scala) — ≤k (item,count) pairs per
    // partition shuffle in the sketch pass instead of a full groupBy of
    // the long-tail vocabulary, then exact counts for candidates only.
    // The sketch is merge-order-dependent and is ONLY a superset
    // generator; the emitted rows are exact, so the oracle is the plain
    // GROUP BY / HAVING ground truth. Threshold arithmetic is forced to
    // doubles on both engines (a DECIMAL 0.004 would compare exactly
    // where doubles round).
    QueryDef(
      "q135_heavy_hitters",
      (s, dir) => {
        import s.implicits._
        graft.plans.FreqSketchAgg.heavyHitters(
          T.documents(s, dir).select(explode(split($"text", " ")).as("tok")),
          col("tok"), minShare = 0.004)
      },
      Some("""WITH t AS (
             |  SELECT unnest(string_split(text, ' ')) AS value FROM documents),
             |n AS (SELECT count(*) AS total FROM t),
             |c AS (SELECT value, count(*) AS cnt FROM t GROUP BY 1)
             |SELECT c.value, c.cnt,
             |  CAST(c.cnt AS DOUBLE) / CAST(n.total AS DOUBLE) AS share
             |FROM c, n
             |WHERE c.cnt >= CAST(0.004 AS DOUBLE) * n.total""".stripMargin)),

    // ------------------------------------------------------------------
    // q145: PER-GROUP heavy hitters (FreqSketchAgg.heavyHittersBy) — one
    // MG sketch per source (≤k strings each, map-side merged), exploded
    // to a distributed candidate semi-filter, exact counts of candidate
    // rows only. Unlike q135 there is NO driver collect: the candidate
    // frame itself broadcasts, so the group count can be corpus-scale.
    // Oracle is the per-group GROUP BY / HAVING ground truth.
    QueryDef(
      "q145_heavy_hitters_by",
      (s, dir) => {
        import s.implicits._
        graft.plans.FreqSketchAgg.heavyHittersBy(
          T.documents(s, dir)
            .select($"source", explode(split($"text", " ")).as("tok")),
          col("source"), col("tok"), minShare = 0.05)
      },
      Some("""WITH t AS (
             |  SELECT source AS grp, unnest(string_split(text, ' ')) AS value
             |  FROM documents),
             |n AS (SELECT grp, count(*) AS total FROM t GROUP BY 1),
             |c AS (SELECT grp, value, count(*) AS cnt FROM t GROUP BY 1, 2)
             |SELECT c.grp, c.value, c.cnt,
             |  CAST(c.cnt AS DOUBLE) / CAST(n.total AS DOUBLE) AS share
             |FROM c JOIN n ON c.grp = n.grp
             |WHERE c.cnt >= CAST(0.05 AS DOUBLE) * n.total""".stripMargin)),

    // ------------------------------------------------------------------
    // q137: stratified exact-size sample — k smallest-u32 docs per
    // source stratum (TrainingPrep.sampleStratified). Membership is a
    // pure function of doc_id, replayed digit-by-digit in the oracle, so
    // the quota cut itself hash-verifies. Plans as WindowGroupLimit: the
    // per-stratum k-row cut happens map-side BEFORE the stratum shuffle.
    QueryDef(
      "q137_stratified_sample",
      (s, dir) => graft.operators.TrainingPrep.sampleStratified(
        T.documents(s, dir), k = 20),
      Some(s"""SELECT doc_id, text, lang, source, n_chars FROM (
             |  SELECT *, row_number() OVER (PARTITION BY source
             |    ORDER BY ${u32Sql("CAST(doc_id AS VARCHAR)")}, doc_id) AS rk
             |  FROM documents) t
             |WHERE rk <= 20""".stripMargin),
      headline = false),

    // ------------------------------------------------------------------
    // q138: CDC merge (operators/Cdc.applyChanges) — a deterministic
    // I/U/D change batch applied to the documents base with
    // last-writer-wins per key (a seq-2 delete overrides the seq-1
    // update on doc_id % 100 = 1, exercising the conflict window). The
    // base table is touched by ONE broadcast anti-join; only the change
    // batch shuffles for its per-key window.
    QueryDef(
      "q138_merge_upsert",
      (s, dir) => {
        val base = T.documents(s, dir)
        graft.operators.Cdc.applyChanges(base, docChanges(base), "doc_id")
      },
      Some(s"""WITH $docChangesSql
             |SELECT doc_id, text, lang, source, n_chars FROM merged""".stripMargin)),

    // ------------------------------------------------------------------
    // q142: incremental aggregate maintenance (Cdc.incrementalAgg) — the
    // materialized-view delta path: the per-source (count, sum n_chars)
    // view is updated from the stored aggregate + the change batch +
    // point-lookups of touched keys, never a base rescan. The oracle is
    // the FULL recompute over the merged table, so "incremental equals
    // batch" — the whole point of the operator — is the hash-verified
    // property.
    QueryDef(
      "q142_incremental_agg",
      (s, dir) => {
        val base = T.documents(s, dir)
        val view = base.groupBy(col("source"))
          .agg(count(lit(1)).as("n"), sum(col("n_chars")).as("total"))
        graft.operators.Cdc.incrementalAgg(
          view, base, docChanges(base), "doc_id", "source", "n_chars")
      },
      Some(s"""WITH $docChangesSql
             |SELECT source, count(*) AS n, CAST(sum(n_chars) AS BIGINT) AS total
             |FROM merged GROUP BY 1""".stripMargin)),

    // ------------------------------------------------------------------
    // q143: STREAMING CDC upsert — the q138 change batch arrives as a
    // two-file stream (seq-1 changes, then the seq-2 conflict deletes;
    // names force arrival order), maintaining a key-bucketed state table
    // by dynamic partition overwrite of touched buckets only. The final
    // state must equal the one-shot batch merge, so the oracle is
    // q138's merged-table SQL verbatim — "streamed equals batch" is the
    // hash-verified property.
    QueryDef(
      "q143_stream_cdc",
      (s, dir) => {
        val sfName = new java.io.File(dir).getName
        val base = s"${graft.GraftSession.scratchBase}/graft_scdc_$sfName"
        val fs = org.apache.hadoop.fs.FileSystem.get(s.sparkContext.hadoopConfiguration)
        fs.delete(new org.apache.hadoop.fs.Path(base), true)
        val docs = T.documents(s, dir)
        // seed state: the initial full load of the base table
        docs.withColumn("__bucket",
            pmod(xxhash64(col("doc_id")), lit(8)).cast("string"))
          .write.partitionBy("__bucket").parquet(s"$base/state")
        // change feed: seq-1 file must sort before seq-2 (name + mtime)
        val ch = docChanges(docs)
        ch.filter(col("seq") === 1).repartition(1)
          .write.parquet(s"$base/in_tmp1")
        ch.filter(col("seq") === 2).repartition(1)
          .write.parquet(s"$base/in_tmp2")
        stageOrderedBatches(fs, base,
          Seq(("in_tmp1", "b0.parquet"), ("in_tmp2", "b1.parquet")))
        StreamingOps.streamingCdcApply(s, s"$base/in", s"$base/state", "doc_id")
      },
      Some(s"""WITH $docChangesSql
             |SELECT doc_id, text, lang, source, n_chars FROM merged""".stripMargin)),

    // ------------------------------------------------------------------
    // q149: keyed table diff (Cdc.diff) — replica/migration verification
    // between the documents base and its q138-merged successor. Only
    // digests shuffle; the oracle classifies by direct column compare,
    // so the digest comparison's added/removed/changed verdicts are what
    // hash-verifies.
    QueryDef(
      "q149_table_diff",
      (s, dir) => {
        val base = T.documents(s, dir)
        graft.operators.Cdc.diff(
          base,
          graft.operators.Cdc.applyChanges(base, docChanges(base), "doc_id"),
          "doc_id")
      },
      Some(s"""WITH $docChangesSql
             |SELECT d.doc_id, 'removed' AS status
             |FROM documents d LEFT JOIN merged m ON d.doc_id = m.doc_id
             |WHERE m.doc_id IS NULL
             |UNION ALL
             |SELECT m.doc_id, 'added'
             |FROM merged m LEFT JOIN documents d ON d.doc_id = m.doc_id
             |WHERE d.doc_id IS NULL
             |UNION ALL
             |SELECT d.doc_id, 'changed'
             |FROM documents d JOIN merged m ON d.doc_id = m.doc_id
             |WHERE d.text <> m.text OR d.lang <> m.lang
             |   OR d.source <> m.source OR d.n_chars <> m.n_chars""".stripMargin)),

    // ------------------------------------------------------------------
    // q144: data-quality audit (operators/Quality) — the between-stage
    // constraint gate: N row-level checks in ONE scan per table
    // (map-side partial sums), key-uniqueness as a groupBy, referential
    // integrity as an anti-join count. Pure integer counts, so every
    // violation tally hash-verifies.
    QueryDef(
      "q144_quality_audit",
      (s, dir) => {
        import s.implicits._
        val li = T.lineitem(s, dir)
        val docs = T.documents(s, dir)
        val liAudit = graft.operators.Quality.audit(li, Seq(
          "l_quantity_range" -> !($"l_quantity".between(1, 50)),
          "l_discount_range" -> !($"l_discount".between(0.0, 0.1)),
          "l_shipdate_null" -> $"l_shipdate".isNull))
        val docAudit = graft.operators.Quality.audit(docs, Seq(
          "doc_lang_domain" -> !$"lang".isin("en", "de", "fr", "es", "zh"),
          "doc_nchars_consistent" -> ($"n_chars" =!= length($"text"))))
        val uniq = graft.operators.Quality.duplicateKeys(
          T.orders(s, dir), "orders_pk_unique", Seq("o_orderkey"))
        val fk = graft.operators.Quality.orphans(
          li, T.orders(s, dir), "lineitem_orders_fk", "l_orderkey", "o_orderkey")
        liAudit.unionByName(docAudit).unionByName(uniq).unionByName(fk)
      },
      Some("""SELECT 'l_quantity_range' AS check_name,
             |  CAST(sum(CASE WHEN NOT (l_quantity BETWEEN 1 AND 50) THEN 1 ELSE 0 END) AS BIGINT) AS violations,
             |  count(*) AS total FROM lineitem
             |UNION ALL
             |SELECT 'l_discount_range',
             |  CAST(sum(CASE WHEN NOT (l_discount BETWEEN 0.0 AND 0.1) THEN 1 ELSE 0 END) AS BIGINT),
             |  count(*) FROM lineitem
             |UNION ALL
             |SELECT 'l_shipdate_null',
             |  CAST(sum(CASE WHEN l_shipdate IS NULL THEN 1 ELSE 0 END) AS BIGINT),
             |  count(*) FROM lineitem
             |UNION ALL
             |SELECT 'doc_lang_domain',
             |  CAST(sum(CASE WHEN lang NOT IN ('en', 'de', 'fr', 'es', 'zh') THEN 1 ELSE 0 END) AS BIGINT),
             |  count(*) FROM documents
             |UNION ALL
             |SELECT 'doc_nchars_consistent',
             |  CAST(sum(CASE WHEN n_chars <> len(text) THEN 1 ELSE 0 END) AS BIGINT),
             |  count(*) FROM documents
             |UNION ALL
             |SELECT 'orders_pk_unique',
             |  CAST(COALESCE(sum(cnt - 1), 0) AS BIGINT), CAST(COALESCE(sum(cnt), 0) AS BIGINT)
             |FROM (SELECT count(*) AS cnt FROM orders GROUP BY o_orderkey) t
             |UNION ALL
             |SELECT 'lineitem_orders_fk',
             |  (SELECT count(*) FROM lineitem l
             |   WHERE NOT EXISTS (SELECT 1 FROM orders o WHERE o.o_orderkey = l.l_orderkey)),
             |  count(*) FROM lineitem""".stripMargin)),

    // ------------------------------------------------------------------
    // q139: exact edit-distance join (Dedup.editDistanceJoin) — the
    // ED-join family: positional q-gram prefix filtering (rarest q·d+1
    // gram instances, ±d position window) generates candidates, one
    // exact levenshtein per candidate verifies. The oracle is the
    // brute-force all-pairs scan, so zero-false-negative completeness is
    // itself the hash-verified property (levenshtein is an integer —
    // bit-identical across engines).
    QueryDef(
      "q139_edit_distance_join",
      (s, dir) => Dedup.editDistanceJoin(T.documents(s, dir), d = 8, q = 6),
      Some("""SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
             |  levenshtein(a.text, b.text) AS dist
             |FROM documents a JOIN documents b
             |  ON a.doc_id < b.doc_id
             | AND abs(len(a.text) - len(b.text)) <= 8
             |WHERE levenshtein(a.text, b.text) <= 8""".stripMargin)),

    // ------------------------------------------------------------------
    // q155: type-2 SCD history build (Cdc.scd2) — the q138 change feed
    // replayed as a versioned dimension: every non-delete opens a
    // version, any later change (deletes included) closes the one before
    // it. ONE window pass over union(base@seq0, changes) shuffled on the
    // key — no joins; the incremental scd2Apply variant (touched keys
    // only) is proven ≡ this full rebuild in CdcSpec.
    QueryDef(
      "q155_scd2_history",
      (s, dir) => {
        val base = T.documents(s, dir)
        graft.operators.Cdc.scd2(base, docChanges(base), "doc_id")
      },
      Some(s"""WITH $docChangesSql,
             |full0 AS (
             |  SELECT doc_id, text, lang, source, n_chars, 'I' AS op, 0 AS seq
             |  FROM documents
             |  UNION ALL
             |  SELECT * FROM ch),
             |v AS (
             |  SELECT *, lead(seq) OVER (PARTITION BY doc_id ORDER BY seq, op)
             |    AS valid_to
             |  FROM full0)
             |SELECT doc_id, text, lang, source, n_chars,
             |  seq AS valid_from, valid_to, (valid_to IS NULL) AS is_current
             |FROM v WHERE op <> 'D'""".stripMargin)),

    // ------------------------------------------------------------------
    // q158: perceptual-hash image dedup (Multimodal.aHash64/imageNearDup)
    // — REAL decode of pattern PNGs (7 content classes rendered at
    // per-image sizes), 8×8 average-pool aHash, 4×16-bit LSH banding,
    // exact bit_count Hamming verify. Same-class images pool to the same
    // signature regardless of render size (margin-safe patterns —
    // MultimodalSpec measures intra-class 0, inter-class > threshold),
    // so the emitted pair set equals the class-equality join the oracle
    // computes arithmetically. Payload bytes never shuffle: only
    // (doc_id, band, bucket) triples and 8-byte hashes move.
    QueryDef(
      "q158_image_phash_dedup",
      (s, dir) => {
        import s.implicits._
        val gen = T.customer(s, dir).select(
          $"c_custkey".cast("long").as("doc_id"),
          ($"c_custkey" % 7).cast("int").as("cls"),
          (expr("c_custkey div 7") % 9 + 32).cast("int").as("w"),
          (expr("c_custkey div 7") % 7 + 24).cast("int").as("h"))
        val imgs = gen.as[(Long, Int, Int, Int)]
          .map { case (id, cls, w, h) =>
            (id, Multimodal.encodePatternPng(w, h, cls)) }
          .toDF("doc_id", "img")
        Multimodal.imageNearDup(s, imgs)
      },
      Some("""SELECT a.c_custkey AS id_a, b.c_custkey AS id_b
             |FROM customer a JOIN customer b
             |  ON a.c_custkey < b.c_custkey
             | AND a.c_custkey % 7 = b.c_custkey % 7""".stripMargin)),

    // ------------------------------------------------------------------
    // q159: point-in-time dimension read (Cdc.asOfRead) — every doc key
    // probed AS OF seq 0/1/2 against the q155 SCD2 history. The plan is
    // a key equi-join + interval filter (versions-per-key is tiny, so
    // key co-location beats any generic interval machinery); keys with
    // no live version at the probe seq vanish, which the oracle mirrors.
    QueryDef(
      "q159_temporal_asof",
      (s, dir) => {
        import s.implicits._
        val base = T.documents(s, dir)
        val hist = graft.operators.Cdc.scd2(base, docChanges(base), "doc_id")
        val probes = hist.select($"doc_id").distinct()
          .crossJoin(Seq(0, 1, 2).toDF("at_seq"))
        graft.operators.Cdc.asOfRead(hist, probes, "doc_id", "at_seq")
          .select($"doc_id", $"at_seq", $"text", $"n_chars")
      },
      Some(s"""WITH $docChangesSql,
             |full0 AS (
             |  SELECT doc_id, text, lang, source, n_chars, 'I' AS op, 0 AS seq
             |  FROM documents
             |  UNION ALL
             |  SELECT * FROM ch),
             |v AS (
             |  SELECT *, lead(seq) OVER (PARTITION BY doc_id ORDER BY seq, op)
             |    AS valid_to
             |  FROM full0),
             |hist AS (SELECT * FROM v WHERE op <> 'D'),
             |probes AS (
             |  SELECT DISTINCT doc_id, at_seq
             |  FROM hist, (SELECT unnest([0, 1, 2]) AS at_seq) t)
             |SELECT p.doc_id, p.at_seq, h.text, h.n_chars
             |FROM probes p JOIN hist h ON p.doc_id = h.doc_id
             |WHERE h.seq <= p.at_seq
             |  AND (h.valid_to IS NULL OR p.at_seq < h.valid_to)""".stripMargin)),

    // ------------------------------------------------------------------
    // q160: duplicate-audio detection by content fingerprint
    // (Multimodal.audioFingerprint/audioDupPairs) — REAL RIFF/PCM16
    // decode of square tones rendered per customer (7 tone classes ×
    // varying length × varying amplitude), dominant half-period from the
    // zero-crossing count (exact integer, amplitude/length-invariant),
    // exact-match pair join. Payloads never shuffle; the oracle replays
    // class equality arithmetically, so the fingerprint's invariance IS
    // what hash-verifies.
    QueryDef(
      "q160_audio_fingerprint",
      (s, dir) => {
        import s.implicits._
        val gen = T.customer(s, dir).select(
          $"c_custkey".cast("long").as("doc_id"),
          (($"c_custkey" % 7) * 2 + 8).cast("int").as("period"),
          (expr("c_custkey div 7") % 11 * 500 + 4000).cast("int").as("n"),
          (($"c_custkey" % 5) * 100 + 500).cast("int").as("amp"))
        val wavs = gen.as[(Long, Int, Int, Int)]
          .map { case (id, p, n, a) =>
            (id, Multimodal.encodeToneWav(8000, n, p, a.toShort)) }
          .toDF("doc_id", "wav")
        Multimodal.audioDupPairs(s, wavs)
      },
      Some("""SELECT a.c_custkey AS id_a, b.c_custkey AS id_b
             |FROM customer a JOIN customer b
             |  ON a.c_custkey < b.c_custkey
             | AND a.c_custkey % 7 = b.c_custkey % 7""".stripMargin)),

    // ------------------------------------------------------------------
    // q161: materialized-view rewrite (plans/MvRewrite) — aggregate
    // navigation as a Catalyst optimizer rule: the per-source rollup is
    // materialized once, and the QUERY STILL WRITTEN AGAINST THE BASE
    // TABLE is substituted by the planner to scan the view (MvRewriteSpec
    // pins that the optimized plan reads the view path, not the base).
    // The oracle recomputes from the base in DuckDB, so "view ≡ base
    // rollup" is the hash-verified property.
    QueryDef(
      "q161_mv_rewrite",
      (s, dir) => {
        import s.implicits._
        val sfName = new java.io.File(dir).getName
        val mvPath = s"${graft.GraftSession.scratchBase}/graft_mv_docs_$sfName"
        graft.plans.MvCatalog.register(
          s, s"docs_by_source_$sfName", s"$dir/documents.parquet",
          Seq("source"), Seq("n_chars"), mvPath)
        s.read.parquet(s"$dir/documents.parquet")
          .groupBy($"source")
          .agg(
            count(lit(1)).as("n"),
            sum($"n_chars").as("total_chars"),
            min($"n_chars").as("min_chars"),
            max($"n_chars").as("max_chars"))
      },
      Some("""SELECT source, count(*) AS n,
             |  CAST(sum(n_chars) AS BIGINT) AS total_chars,
             |  min(n_chars) AS min_chars, max(n_chars) AS max_chars
             |FROM documents GROUP BY 1""".stripMargin)),

    // ------------------------------------------------------------------
    // q177: MV ROLLUP rewrite (aggregate navigation proper) — the view
    // materializes GROUP BY (source, lang); the query groups by lang
    // ALONE, so the optimizer must RE-AGGREGATE the view (count→sum(n),
    // sum→sum(sum), min/max compose, avg = sum(sum)/sum(n)) instead of
    // rescanning the base. The build asserts the rewritten plan scans
    // the view, and the oracle recomputes everything from the base — so
    // both the plan shape AND value identity are verified. Grouping by
    // lang (not source) guarantees q161's single-key view cannot answer
    // it; only the rollup path can.
    QueryDef(
      "q177_mv_rollup",
      (s, dir) => {
        import s.implicits._
        val sfName = new java.io.File(dir).getName
        val mvPath = s"${graft.GraftSession.scratchBase}/graft_mv_roll_$sfName"
        graft.plans.MvCatalog.register(
          s, s"docs_by_source_lang_$sfName", s"$dir/documents.parquet",
          Seq("source", "lang"), Seq("n_chars"), mvPath)
        val q = s.read.parquet(s"$dir/documents.parquet")
          .groupBy($"lang")
          .agg(
            count(lit(1)).as("n"),
            sum($"n_chars").as("total"),
            min($"n_chars").as("lo"),
            max($"n_chars").as("hi"),
            avg($"n_chars").as("mean"))
        val scans = q.queryExecution.optimizedPlan.collect {
          case l: org.apache.spark.sql.execution.datasources.LogicalRelation =>
            graft.plans.MvCatalog.rootPaths(l)
        }.flatten
        // q183 registers a second, structurally identical (source,lang)
        // view over this base; either one proves the rollup rewrite
        require(scans.exists(p =>
            p.contains("graft_mv_roll") || p.contains("graft_mv_filt")),
          s"q177 must answer from a rollup view, scanned: $scans")
        q
      },
      Some("""SELECT lang, count(*) AS n,
             |  CAST(sum(n_chars) AS BIGINT) AS total,
             |  min(n_chars) AS lo, max(n_chars) AS hi,
             |  CAST(sum(n_chars) AS DOUBLE) / count(*) AS mean
             |FROM documents GROUP BY 1""".stripMargin)),

    // ------------------------------------------------------------------
    // q162: product-quantization ANN (Similarity.pqTopK — Jégou et al.
    // 2011): 4×16-dim subspaces, seeded codebooks, per-subspace argmin
    // encode (map-side partial agg; corpus never shuffles with vectors
    // attached), asymmetric-distance scan over 4 codes per vector, exact
    // cosine rerank of the k·4 ADC candidates. The oracle replays
    // encode → ADC → rerank with identical float-dot arithmetic and tie
    // rules, so every stage of the approximation hash-verifies.
    QueryDef(
      "q162_ann_pq",
      (s, dir) => {
        import s.implicits._
        val emb = T.embeddings(s, dir)
        Similarity.pqTopK(emb, emb.filter($"vec_id" < 10), k = 5)
      },
      Some("""WITH sub AS (
             |  SELECT vec_id AS cell,
             |    embedding[1:16] AS s0, embedding[17:32] AS s1,
             |    embedding[33:48] AS s2, embedding[49:64] AS s3
             |  FROM embeddings WHERE vec_id < 16),
             |vs AS (
             |  SELECT vec_id,
             |    embedding[1:16] AS v0, embedding[17:32] AS v1,
             |    embedding[33:48] AS v2, embedding[49:64] AS v3
             |  FROM embeddings),
             |asg AS (
             |  SELECT v.vec_id, s.cell,
             |    CAST(list_dot_product(v.v0,v.v0) AS DOUBLE) + CAST(list_dot_product(s.s0,s.s0) AS DOUBLE) - 2.0*CAST(list_dot_product(v.v0,s.s0) AS DOUBLE) AS dd0,
             |    CAST(list_dot_product(v.v1,v.v1) AS DOUBLE) + CAST(list_dot_product(s.s1,s.s1) AS DOUBLE) - 2.0*CAST(list_dot_product(v.v1,s.s1) AS DOUBLE) AS dd1,
             |    CAST(list_dot_product(v.v2,v.v2) AS DOUBLE) + CAST(list_dot_product(s.s2,s.s2) AS DOUBLE) - 2.0*CAST(list_dot_product(v.v2,s.s2) AS DOUBLE) AS dd2,
             |    CAST(list_dot_product(v.v3,v.v3) AS DOUBLE) + CAST(list_dot_product(s.s3,s.s3) AS DOUBLE) - 2.0*CAST(list_dot_product(v.v3,s.s3) AS DOUBLE) AS dd3
             |  FROM vs v CROSS JOIN sub s),
             |codes AS (
             |  SELECT vec_id,
             |    (min(struct_pack(d := dd0, c := cell))).c AS c0,
             |    (min(struct_pack(d := dd1, c := cell))).c AS c1,
             |    (min(struct_pack(d := dd2, c := cell))).c AS c2,
             |    (min(struct_pack(d := dd3, c := cell))).c AS c3
             |  FROM asg GROUP BY vec_id),
             |q AS (
             |  SELECT vec_id AS query_id, v0 AS q0, v1 AS q1, v2 AS q2, v3 AS q3
             |  FROM vs WHERE vec_id < 10),
             |adc AS (
             |  SELECT q.query_id, c.vec_id AS neighbor_id,
             |    (CAST(list_dot_product(q.q0,q.q0) AS DOUBLE) + CAST(list_dot_product(t0.s0,t0.s0) AS DOUBLE) - 2.0*CAST(list_dot_product(q.q0,t0.s0) AS DOUBLE))
             |  + (CAST(list_dot_product(q.q1,q.q1) AS DOUBLE) + CAST(list_dot_product(t1.s1,t1.s1) AS DOUBLE) - 2.0*CAST(list_dot_product(q.q1,t1.s1) AS DOUBLE))
             |  + (CAST(list_dot_product(q.q2,q.q2) AS DOUBLE) + CAST(list_dot_product(t2.s2,t2.s2) AS DOUBLE) - 2.0*CAST(list_dot_product(q.q2,t2.s2) AS DOUBLE))
             |  + (CAST(list_dot_product(q.q3,q.q3) AS DOUBLE) + CAST(list_dot_product(t3.s3,t3.s3) AS DOUBLE) - 2.0*CAST(list_dot_product(q.q3,t3.s3) AS DOUBLE)) AS adc
             |  FROM codes c CROSS JOIN q
             |  JOIN sub t0 ON c.c0 = t0.cell
             |  JOIN sub t1 ON c.c1 = t1.cell
             |  JOIN sub t2 ON c.c2 = t2.cell
             |  JOIN sub t3 ON c.c3 = t3.cell
             |  WHERE q.query_id <> c.vec_id),
             |cand AS (
             |  SELECT query_id, neighbor_id FROM (
             |    SELECT query_id, neighbor_id, row_number() OVER (
             |      PARTITION BY query_id ORDER BY adc, neighbor_id) AS r
             |    FROM adc) t
             |  WHERE r <= 20),
             |sims AS (
             |  SELECT cand.query_id, cand.neighbor_id,
             |    CAST(list_dot_product(qe.embedding, ce.embedding) AS DOUBLE) /
             |      (sqrt(CAST(list_dot_product(qe.embedding, qe.embedding) AS DOUBLE)) *
             |       sqrt(CAST(list_dot_product(ce.embedding, ce.embedding) AS DOUBLE))) AS cosine
             |  FROM cand
             |  JOIN embeddings qe ON cand.query_id = qe.vec_id
             |  JOIN embeddings ce ON cand.neighbor_id = ce.vec_id)
             |SELECT query_id, neighbor_id, cosine, rnk FROM (
             |  SELECT *, row_number() OVER (
             |    PARTITION BY query_id ORDER BY cosine DESC, neighbor_id) AS rnk
             |  FROM sims) t
             |WHERE rnk <= 5""".stripMargin)),

    // ------------------------------------------------------------------
    // q163: LEFT OUTER stream-stream join
    // (StreamingOps.streamStreamFunnelOuter) — every purchase attributed
    // to in-window signups, with WATERMARK-PROVEN nulls for purchases no
    // signup can still match (the state-store eviction path the inner
    // q-funnel never exercises). The fixture is staged with a far-future
    // punctuation pair so the bounded stream's watermark passes every
    // real row and all outer results flush; the oracle is the plain
    // batch LEFT JOIN with the same time window.
    QueryDef(
      "q163_stream_outer_join",
      (s, dir) => {
        import s.implicits._
        val sfName = new java.io.File(dir).getName
        val base = s"${graft.GraftSession.scratchBase}/graft_ssoj_$sfName"
        val conf = s.sparkContext.hadoopConfiguration
        val fs = org.apache.hadoop.fs.FileSystem.get(conf)
        fs.delete(new org.apache.hadoop.fs.Path(base), true)
        fs.mkdirs(new org.apache.hadoop.fs.Path(s"$base/in"))
        org.apache.hadoop.fs.FileUtil.copy(
          fs, new org.apache.hadoop.fs.Path(s"$dir/events.parquet"),
          fs, new org.apache.hadoop.fs.Path(s"$base/in/events.parquet"),
          false, conf)
        StreamingOps.streamStreamFunnelOuter(s, s"$base/in",
          s"graft_ssoj_q_${sfName.replace('.', '_')}")
      },
      Some("""WITH p AS (
             |  SELECT user_id, event_id AS purchase_event, epoch_us(ts) AS pus
             |  FROM events WHERE event_type = 'purchase'),
             |sg AS (
             |  SELECT user_id, event_id AS signup_event, epoch_us(ts) AS sus
             |  FROM events WHERE event_type = 'signup')
             |SELECT p.user_id, p.purchase_event, sg.signup_event,
             |  pus // 1000000 AS p_epoch, sus // 1000000 AS s_epoch
             |FROM p LEFT JOIN sg ON p.user_id = sg.user_id
             |  AND sg.sus <= p.pus AND sg.sus >= p.pus - 3600000000""".stripMargin)),

    // ------------------------------------------------------------------
    // q170: stream-STATIC enrichment (StreamingOps.streamStaticEnrich) —
    // the third streaming join mode: every micro-batch hash-joins the
    // event stream against a broadcast batch dimension (no state store,
    // no watermark), then a complete-mode rollup by (event_type,
    // segment). Left-join nulls (user 0 has no customer row) ride
    // through; the oracle is the plain batch join + GROUP BY.
    QueryDef(
      "q170_stream_static_enrich",
      (s, dir) => {
        val sfName = new java.io.File(dir).getName.replace('.', '_')
        StreamingOps.streamStaticEnrich(
          s, dir, T.customer(s, dir), "c_custkey", Seq("c_mktsegment"),
          s"graft_sse_$sfName")
      },
      Some("""SELECT e.event_type, c.c_mktsegment, count(*) AS n,
             |  CAST(sum(CAST(round(e.value * 100, 0) AS BIGINT)) AS BIGINT) AS cents
             |FROM events e LEFT JOIN customer c ON e.user_id = c.c_custkey
             |GROUP BY 1, 2""".stripMargin)),

    // ------------------------------------------------------------------
    // q171: transactional snapshots + time travel (sources/TxLog) — the
    // lakehouse commit protocol in miniature: v1 = the documents base,
    // v2 = the q138 CDC merge, each an atomic create-exclusive manifest
    // commit; the query then reads BOTH versions through the log (v1 is
    // a time-travel read after v2 exists) and emits per-version
    // rollups. The oracle recomputes both table states independently,
    // so snapshot isolation — old versions stay intact byte-for-byte —
    // is what hash-verifies.
    QueryDef(
      "q171_time_travel",
      (s, dir) => {
        import s.implicits._
        val sfName = new java.io.File(dir).getName
        val t = s"${graft.GraftSession.scratchBase}/graft_txlog_$sfName"
        val fs = org.apache.hadoop.fs.FileSystem.get(s.sparkContext.hadoopConfiguration)
        fs.delete(new org.apache.hadoop.fs.Path(t), true)
        val base = T.documents(s, dir)
        graft.sources.TxLog.commit(s, t, base)
        graft.sources.TxLog.commit(s, t,
          graft.operators.Cdc.applyChanges(base, docChanges(base), "doc_id"))
        def roll(v: Long) = graft.sources.TxLog.read(s, t, Some(v))
          .agg(count(lit(1)).as("n"), sum($"n_chars").as("total"))
          .select(lit(v).as("version"), $"n", $"total")
        roll(1L).unionByName(roll(2L))
      },
      Some(s"""WITH $docChangesSql
             |SELECT 1 AS version, count(*) AS n,
             |  CAST(sum(n_chars) AS BIGINT) AS total FROM documents
             |UNION ALL
             |SELECT 2, count(*), CAST(sum(n_chars) AS BIGINT) FROM merged""".stripMargin)),

    // ------------------------------------------------------------------
    // q172: transactional STREAMING materialized view
    // (StreamingOps.streamingMvMaintain — TxLog × CDC × foreachBatch):
    // every ordered change micro-batch commits base vN+1 (MERGE) and
    // view vN+1 (incremental delta, no base rescan) as version-aligned
    // snapshots. The oracle is the one-shot rollup over the fully-merged
    // base, so "incremental-under-streaming ≡ batch" hash-verifies
    // through two sequenced conflicting batches.
    QueryDef(
      "q172_stream_mv_txn",
      (s, dir) => {
        val sfName = new java.io.File(dir).getName
        val root = s"${graft.GraftSession.scratchBase}/graft_smv_$sfName"
        val fs = org.apache.hadoop.fs.FileSystem.get(s.sparkContext.hadoopConfiguration)
        fs.delete(new org.apache.hadoop.fs.Path(root), true)
        val docs = T.documents(s, dir)
        val ch = docChanges(docs)
        ch.filter(col("seq") === 1).repartition(1)
          .write.parquet(s"$root/in_tmp1")
        ch.filter(col("seq") === 2).repartition(1)
          .write.parquet(s"$root/in_tmp2")
        stageOrderedBatches(fs, root,
          Seq(("in_tmp1", "b0.parquet"), ("in_tmp2", "b1.parquet")))
        StreamingOps.streamingMvMaintain(
          s, s"$root/in", docs, s"$root/t", "doc_id", "source", "n_chars")
      },
      Some(s"""WITH $docChangesSql
             |SELECT source, count(*) AS n, CAST(sum(n_chars) AS BIGINT) AS total
             |FROM merged GROUP BY 1""".stripMargin)),

    // ------------------------------------------------------------------
    // q173: replica repair — diff → patch → apply closure
    // (Cdc.makePatch): the MINIMAL change batch turning the documents
    // base into its q138-merged successor, in applyChanges' own
    // contract. The oracle derives the same patch by direct column
    // comparison, so minimality (only divergent keys appear) and
    // payload fidelity both hash-verify; CdcSpec separately pins
    // applyChanges(before, patch) ≡ after.
    QueryDef(
      "q173_replica_repair",
      (s, dir) => {
        val base = T.documents(s, dir)
        graft.operators.Cdc.makePatch(
          base,
          graft.operators.Cdc.applyChanges(base, docChanges(base), "doc_id"),
          "doc_id")
      },
      Some(s"""WITH $docChangesSql
             |SELECT m.doc_id, m.text, m.lang, m.source, m.n_chars,
             |  'I' AS op, 1 AS seq
             |FROM merged m LEFT JOIN documents d ON m.doc_id = d.doc_id
             |WHERE d.doc_id IS NULL
             |UNION ALL
             |SELECT d.doc_id, d.text, d.lang, d.source, d.n_chars, 'D', 1
             |FROM documents d LEFT JOIN merged m ON d.doc_id = m.doc_id
             |WHERE m.doc_id IS NULL
             |UNION ALL
             |SELECT m.doc_id, m.text, m.lang, m.source, m.n_chars, 'U', 1
             |FROM documents d JOIN merged m ON d.doc_id = m.doc_id
             |WHERE d.text <> m.text OR d.lang <> m.lang
             |   OR d.source <> m.source OR d.n_chars <> m.n_chars""".stripMargin)),

    // ------------------------------------------------------------------
    // q174: additive schema evolution under the TxLog (mergeSchema
    // read): v1 lands (doc_id, source), an appended v2 batch carries the
    // evolved (doc_id, source, n_chars) — the merged snapshot reads old
    // rows with nulls in the new column. The oracle replays the union
    // with explicit NULLs, so the evolution contract hash-verifies.
    QueryDef(
      "q174_schema_evolution",
      (s, dir) => {
        import s.implicits._
        val sfName = new java.io.File(dir).getName
        val t = s"${graft.GraftSession.scratchBase}/graft_txevo_$sfName"
        val fs = org.apache.hadoop.fs.FileSystem.get(s.sparkContext.hadoopConfiguration)
        fs.delete(new org.apache.hadoop.fs.Path(t), true)
        val docs = T.documents(s, dir)
        graft.sources.TxLog.commit(s, t,
          docs.filter($"doc_id" % 2 === 0).select($"doc_id", $"source"))
        graft.sources.TxLog.commit(s, t,
          docs.filter($"doc_id" % 2 === 1)
            .select($"doc_id", $"source", $"n_chars"),
          append = true)
        graft.sources.TxLog.read(s, t, mergeSchema = true)
      },
      Some("""SELECT doc_id, source, CAST(NULL AS BIGINT) AS n_chars
             |FROM documents WHERE doc_id % 2 = 0
             |UNION ALL
             |SELECT doc_id, source, n_chars FROM documents
             |WHERE doc_id % 2 = 1""".stripMargin)),

    // ------------------------------------------------------------------
    // q175: unpivot/melt (Dataset.unpivot — the inverse of q26's pivot):
    // the per-returnflag wide rollup of three fixed-point measures
    // melted to (flag, measure, value) long rows. Integer fixed-point
    // measures only, so the melt hash-verifies against the UNION replay.
    QueryDef(
      "q175_unpivot",
      (s, dir) => {
        import s.implicits._
        T.lineitem(s, dir)
          .groupBy($"l_returnflag")
          .agg(
            expr("CAST(sum(CAST(round(l_quantity * 100, 0) AS LONG)) AS LONG)").as("qty_c"),
            expr("CAST(sum(CAST(round(l_extendedprice * 100, 0) AS LONG)) AS LONG)").as("price_c"),
            expr("CAST(sum(CAST(round(l_discount * 100, 0) AS LONG)) AS LONG)").as("disc_c"))
          .unpivot(
            Array($"l_returnflag"),
            Array($"qty_c", $"price_c", $"disc_c"),
            "measure", "cents")
      },
      Some("""WITH w AS (
             |  SELECT l_returnflag,
             |    CAST(sum(CAST(round(l_quantity * 100, 0) AS BIGINT)) AS BIGINT) AS qty_c,
             |    CAST(sum(CAST(round(l_extendedprice * 100, 0) AS BIGINT)) AS BIGINT) AS price_c,
             |    CAST(sum(CAST(round(l_discount * 100, 0) AS BIGINT)) AS BIGINT) AS disc_c
             |  FROM lineitem GROUP BY 1)
             |SELECT l_returnflag, 'qty_c' AS measure, qty_c AS cents FROM w
             |UNION ALL SELECT l_returnflag, 'price_c', price_c FROM w
             |UNION ALL SELECT l_returnflag, 'disc_c', disc_c FROM w""".stripMargin)),

    // ------------------------------------------------------------------
    // q176: change-data-feed read (TxLog.changes) — the delta between
    // the q171 table's v1 (base) and v2 (CDC merge) read back OUT of the
    // log as a minimal keyed I/U/D batch, so consumers replicate by
    // deltas instead of snapshot rescans. The oracle derives the same
    // patch by direct column comparison between the two recomputed
    // table states (seq = target version).
    QueryDef(
      "q176_changefeed",
      (s, dir) => {
        import s.implicits._
        val sfName = new java.io.File(dir).getName
        val t = s"${graft.GraftSession.scratchBase}/graft_txcdf_$sfName"
        val fs = org.apache.hadoop.fs.FileSystem.get(s.sparkContext.hadoopConfiguration)
        fs.delete(new org.apache.hadoop.fs.Path(t), true)
        val base = T.documents(s, dir)
        graft.sources.TxLog.commit(s, t, base)
        graft.sources.TxLog.commit(s, t,
          graft.operators.Cdc.applyChanges(base, docChanges(base), "doc_id"))
        graft.sources.TxLog.changes(s, t, "doc_id", 1L, 2L)
      },
      Some(s"""WITH $docChangesSql
             |SELECT m.doc_id, m.text, m.lang, m.source, m.n_chars,
             |  'I' AS op, 2 AS seq
             |FROM merged m LEFT JOIN documents d ON m.doc_id = d.doc_id
             |WHERE d.doc_id IS NULL
             |UNION ALL
             |SELECT d.doc_id, d.text, d.lang, d.source, d.n_chars, 'D', 2
             |FROM documents d LEFT JOIN merged m ON d.doc_id = m.doc_id
             |WHERE m.doc_id IS NULL
             |UNION ALL
             |SELECT m.doc_id, m.text, m.lang, m.source, m.n_chars, 'U', 2
             |FROM documents d JOIN merged m ON d.doc_id = m.doc_id
             |WHERE d.text <> m.text OR d.lang <> m.lang
             |   OR d.source <> m.source OR d.n_chars <> m.n_chars""".stripMargin)),

    // ------------------------------------------------------------------
    // q178: manifest-stats file skipping (TxLog.readWhere). Four batches
    // committed per doc_id quartile carry footer-harvested min/max in
    // the manifest; a bounded read drops non-overlapping batches BEFORE
    // Spark lists a single file — at 100 TB the planner touches the hit
    // fraction, not every footer in the table. TxLogSpec asserts the
    // skip via inputFiles; here the pruned read's rollup hash-matches
    // DuckDB's plain filtered scan, proving pruning never changes
    // results. Both engines derive the probe range from count(*)//4 so
    // the oracle is scale-factor-independent.
    QueryDef(
      "q178_stats_skipping",
      (s, dir) => {
        import s.implicits._
        val sfName = new java.io.File(dir).getName
        val t = s"${graft.GraftSession.scratchBase}/graft_txstats_$sfName"
        val fs = org.apache.hadoop.fs.FileSystem.get(s.sparkContext.hadoopConfiguration)
        fs.delete(new org.apache.hadoop.fs.Path(t), true)
        val docs = T.documents(s, dir)
        val q = (docs.count() / 4L).max(1L)
        (0L until 4L).foreach { i =>
          val loB = i * q
          val hiB = if (i == 3L) Long.MaxValue else (i + 1L) * q - 1L
          graft.sources.TxLog.commit(s, t,
            docs.filter($"doc_id" >= loB && $"doc_id" <= hiB), append = true)
        }
        graft.sources.TxLog
          .readWhere(s, t, "doc_id", Some(q + 5L), Some(2L * q - 1L))
          .groupBy($"lang")
          .agg(count(lit(1)).as("n"), sum($"n_chars").as("chars"))
      },
      Some("""WITH p AS (SELECT CAST(count(*) AS BIGINT) // 4 AS q FROM documents)
             |SELECT lang, count(*) AS n, CAST(sum(n_chars) AS BIGINT) AS chars
             |FROM documents, p
             |WHERE doc_id >= p.q + 5 AND doc_id <= 2 * p.q - 1
             |GROUP BY lang""".stripMargin)),

    // ------------------------------------------------------------------
    // q183: MV rewrite through a FILTER on a grouping column — the most
    // common real rollup shape (`GROUP BY dim WHERE dim2 = x`). The view
    // materializes GROUP BY (source, lang); the query filters lang='en'
    // and groups by source alone, so the optimizer must re-target the
    // predicate at the VIEW scan and re-aggregate — a filter between
    // aggregate and base scan used to kill the match outright. Plan
    // assert + base-recomputing oracle, like q177.
    QueryDef(
      "q183_mv_filter_rollup",
      (s, dir) => {
        import s.implicits._
        val sfName = new java.io.File(dir).getName
        val mvPath = s"${graft.GraftSession.scratchBase}/graft_mv_filt_$sfName"
        graft.plans.MvCatalog.register(
          s, s"docs_src_lang_filt_$sfName", s"$dir/documents.parquet",
          Seq("source", "lang"), Seq("n_chars"), mvPath)
        val q = s.read.parquet(s"$dir/documents.parquet")
          .filter($"lang" === "en")
          .groupBy($"source")
          .agg(
            count(lit(1)).as("n"),
            sum($"n_chars").as("total"),
            min($"n_chars").as("lo"),
            max($"n_chars").as("hi"))
        val scans = q.queryExecution.optimizedPlan.collect {
          case l: org.apache.spark.sql.execution.datasources.LogicalRelation =>
            graft.plans.MvCatalog.rootPaths(l)
        }.flatten
        // q177's structurally identical (source,lang) view may win the
        // candidate race instead — either proves the filter pushthrough
        require(scans.exists(p =>
            p.contains("graft_mv_filt") || p.contains("graft_mv_roll")),
          s"q183 must answer from a filtered view scan, scanned: $scans")
        require(!scans.exists(_.contains("documents.parquet")),
          s"q183 must not rescan the base, scanned: $scans")
        q
      },
      Some("""SELECT source, count(*) AS n,
             |  CAST(sum(n_chars) AS BIGINT) AS total,
             |  min(n_chars) AS lo, max(n_chars) AS hi
             |FROM documents WHERE lang = 'en' GROUP BY 1""".stripMargin)),

    // ------------------------------------------------------------------
    // q184: MULTI-column manifest pruning (TxLog.readWhereAll) — the
    // `partition-key AND id-range` probe. Batches are committed per
    // (source, doc_id-half) cell; bounding BOTH columns drops every
    // non-matching cell before Spark lists a file (TxLogSpec proves the
    // skip via inputFiles; here the pruned read's rollup hash-matches
    // DuckDB's plain filtered scan — pruning never changes results).
    QueryDef(
      "q184_stats_skipping_multi",
      (s, dir) => {
        import s.implicits._
        val sfName = new java.io.File(dir).getName
        val t = s"${graft.GraftSession.scratchBase}/graft_txmulti_$sfName"
        val fs = org.apache.hadoop.fs.FileSystem.get(s.sparkContext.hadoopConfiguration)
        fs.delete(new org.apache.hadoop.fs.Path(t), true)
        val docs = T.documents(s, dir)
        val mid = (docs.count() / 2L).max(1L)
        val sources = docs.select($"source").distinct()
          .as[String].collect().sorted
        for (src <- sources; half <- 0 to 1) {
          val loB = half * mid
          val hiB = if (half == 1) Long.MaxValue else mid - 1L
          graft.sources.TxLog.commit(s, t,
            docs.filter($"source" === src && $"doc_id" >= loB && $"doc_id" <= hiB),
            append = true)
        }
        graft.sources.TxLog.readWhereAll(s, t, Map(
            "source" -> (Some(sources.head), Some(sources.head)),
            "doc_id" -> (Some(0L), Some(mid - 1L))))
          .groupBy($"lang")
          .agg(count(lit(1)).as("n"), sum($"n_chars").as("chars"))
      },
      Some("""WITH p AS (SELECT CAST(count(*) AS BIGINT) // 2 AS mid FROM documents),
             |s0 AS (SELECT min(source) AS src FROM documents)
             |SELECT lang, count(*) AS n, CAST(sum(n_chars) AS BIGINT) AS chars
             |FROM documents, p, s0
             |WHERE source = s0.src AND doc_id >= 0 AND doc_id <= p.mid - 1
             |GROUP BY lang""".stripMargin)),

    // ------------------------------------------------------------------
    // q186: surgical range DELETE (TxLog.deleteWhere) — the manifest
    // stats that skip READS also skip REWRITES: only batches whose
    // committed [min,max] overlaps the doomed range are rewritten, the
    // other quartiles' manifest lines (and files) carry into the new
    // version verbatim (TxLogSpec proves the carry by dir identity).
    // The post-delete rollup hash-matches DuckDB computing base-minus-
    // range, so the surgical path is value-equal to a full rewrite.
    QueryDef(
      "q186_delete_where",
      (s, dir) => {
        import s.implicits._
        val sfName = new java.io.File(dir).getName
        val t = s"${graft.GraftSession.scratchBase}/graft_txdel_$sfName"
        val fs = org.apache.hadoop.fs.FileSystem.get(s.sparkContext.hadoopConfiguration)
        fs.delete(new org.apache.hadoop.fs.Path(t), true)
        val docs = T.documents(s, dir)
        val q = (docs.count() / 4L).max(1L)
        (0L until 4L).foreach { i =>
          val loB = i * q
          val hiB = if (i == 3L) Long.MaxValue else (i + 1L) * q - 1L
          graft.sources.TxLog.commit(s, t,
            docs.filter($"doc_id" >= loB && $"doc_id" <= hiB), append = true)
        }
        graft.sources.TxLog.deleteWhere(s, t, "doc_id",
          Some(q + 5L), Some(2L * q - 1L))
        graft.sources.TxLog.read(s, t)
          .groupBy($"lang")
          .agg(count(lit(1)).as("n"), sum($"n_chars").as("chars"))
      },
      Some("""WITH p AS (SELECT CAST(count(*) AS BIGINT) // 4 AS q FROM documents)
             |SELECT lang, count(*) AS n, CAST(sum(n_chars) AS BIGINT) AS chars
             |FROM documents, p
             |WHERE doc_id < p.q + 5 OR doc_id > 2 * p.q - 1
             |GROUP BY lang""".stripMargin)),

    // ------------------------------------------------------------------
    // q187: Morton z-value (operators/ZOrder) — the bit-interleave the
    // multi-dim clustering layout sorts by, hash-verified digit-for-
    // digit in SQL (pure integer bit ops both sides; ZOrderSpec proves
    // the LAYOUT effect — every interleaved dimension prunes — via
    // measured row-group skip, which no row-level oracle can see).
    QueryDef(
      "q187_zorder_value",
      (s, dir) => {
        import s.implicits._
        val pts = T.documents(s, dir).select($"doc_id",
          ($"doc_id" % 97L).as("x"), ($"doc_id" % 89L).as("y"))
        pts.select($"doc_id", $"x", $"y",
            graft.operators.ZOrder.zValue(Seq($"x", $"y"), 16).as("z"))
          .orderBy($"z", $"doc_id")
          .limit(50)
      },
      Some("""SELECT doc_id, x, y,
             |  CAST(list_sum(list_transform(range(0, 16), i ->
             |    ((x >> i) & 1) * (CAST(1 AS BIGINT) << (2*i))
             |    + ((y >> i) & 1) * (CAST(1 AS BIGINT) << (2*i + 1))))
             |    AS BIGINT) AS z
             |FROM (SELECT doc_id, doc_id % 97 AS x, doc_id % 89 AS y
             |      FROM documents)
             |ORDER BY z, doc_id
             |LIMIT 50""".stripMargin)),

    // ------------------------------------------------------------------
    // q188: Bloom-prefiltered novelty vs a prior corpus
    // (Dedup.novelAgainst — the "have we crawled this before"
    // primitive). Definitely-novel docs never shuffle; only the
    // maybe-seen residue (true overlap + fpp false positives) pays the
    // exact digest anti-join, which closes the filter's one-sided
    // error — so the output equals the PLAIN anti-join the oracle
    // computes, independent of fpp (DedupSpec forces a pathological
    // fpp and asserts the same).
    QueryDef(
      "q188_bloom_novelty",
      (s, dir) => {
        import s.implicits._
        val docs = T.documents(s, dir)
        val prior = docs.filter($"doc_id" % 2L === 0L)
        val fresh = docs.filter($"doc_id" % 2L =!= 0L)
        graft.operators.Dedup.novelAgainst(fresh, prior)
          .select($"doc_id", $"lang", $"n_chars")
      },
      Some("""SELECT d.doc_id, d.lang, d.n_chars
             |FROM documents d
             |WHERE d.doc_id % 2 <> 0
             |  AND NOT EXISTS (SELECT 1 FROM documents p
             |                  WHERE p.doc_id % 2 = 0 AND p.text = d.text)""".stripMargin)),

    // ------------------------------------------------------------------
    // q189: manifest-level BLOOM skipping (TxLog commit collectBlooms +
    // readWhere point probe). The table is keyed by md5(text): every
    // batch spans ~the full hex range, so min/max stats can never prune
    // a point lookup — the committed per-batch bloom answers
    // "definitely not here" instead (TxLogSpec proves the skip via
    // inputFiles; false positives only KEEP batches, the residual
    // filter stays exact). Oracle recomputes the same md5 probe in
    // DuckDB — identical digests, identical rows.
    QueryDef(
      "q189_bloom_skipping",
      (s, dir) => {
        import s.implicits._
        val sfName = new java.io.File(dir).getName
        val t = s"${graft.GraftSession.scratchBase}/graft_txbloom_$sfName"
        val fs = org.apache.hadoop.fs.FileSystem.get(s.sparkContext.hadoopConfiguration)
        fs.delete(new org.apache.hadoop.fs.Path(t), true)
        val docs = T.documents(s, dir)
          .select($"doc_id", md5($"text").as("h"), $"lang", $"n_chars")
        val q = (docs.count() / 4L).max(1L)
        (0L until 4L).foreach { i =>
          val loB = i * q
          val hiB = if (i == 3L) Long.MaxValue else (i + 1L) * q - 1L
          graft.sources.TxLog.commit(s, t,
            docs.filter($"doc_id" >= loB && $"doc_id" <= hiB), append = true,
            collectBlooms = Seq("h" -> (2L * q)))
        }
        val probe = docs.filter($"doc_id" === q + 5L)
          .select($"h").as[String].head()
        graft.sources.TxLog.readWhere(s, t, "h", Some(probe), Some(probe))
          .groupBy($"lang")
          .agg(count(lit(1)).as("n"), min($"doc_id").as("lo_id"),
            max($"doc_id").as("hi_id"))
      },
      Some("""WITH p AS (SELECT CAST(count(*) AS BIGINT) // 4 AS q FROM documents),
             |probe AS (SELECT md5(text) AS h FROM documents, p WHERE doc_id = p.q + 5)
             |SELECT lang, count(*) AS n, min(doc_id) AS lo_id, max(doc_id) AS hi_id
             |FROM documents, probe
             |WHERE md5(text) = probe.h
             |GROUP BY lang""".stripMargin)),

    // ------------------------------------------------------------------
    // q190: OPTIMIZE ZORDER on the TxLog (TxLog.compactClustered) — the
    // snapshot is rewritten as z-contiguous batch dirs, so the ordinary
    // per-column manifest min/max become tight BOXES and a 2-dim range
    // probe prunes batches on both columns at planning time — no
    // partition columns anywhere (TxLogSpec measures the skip; here the
    // post-OPTIMIZE boxed rollup hash-matches DuckDB's plain filter,
    // proving the rewrite is value-invisible).
    QueryDef(
      "q190_zorder_optimize",
      (s, dir) => {
        import s.implicits._
        val sfName = new java.io.File(dir).getName
        val t = s"${graft.GraftSession.scratchBase}/graft_txzopt_$sfName"
        val fs = org.apache.hadoop.fs.FileSystem.get(s.sparkContext.hadoopConfiguration)
        fs.delete(new org.apache.hadoop.fs.Path(t), true)
        val docs = T.documents(s, dir).select($"doc_id",
          ($"doc_id" % 97L).as("x"), ($"doc_id" % 89L).as("y"),
          $"lang", $"n_chars")
        val q = (docs.count() / 4L).max(1L)
        (0L until 4L).foreach { i =>
          val loB = i * q
          val hiB = if (i == 3L) Long.MaxValue else (i + 1L) * q - 1L
          graft.sources.TxLog.commit(s, t,
            docs.filter($"doc_id" >= loB && $"doc_id" <= hiB), append = true)
        }
        graft.sources.TxLog.compactClustered(s, t, Seq("x", "y"),
          bits = 7, batches = 8)
        graft.sources.TxLog.readWhereAll(s, t, Map(
            "x" -> (Some(10L), Some(40L)), "y" -> (Some(20L), Some(60L))))
          .groupBy($"lang")
          .agg(count(lit(1)).as("n"), sum($"n_chars").as("chars"),
            min($"doc_id").as("lo_id"))
      },
      Some("""SELECT lang, count(*) AS n, CAST(sum(n_chars) AS BIGINT) AS chars,
             |  min(doc_id) AS lo_id
             |FROM (SELECT doc_id, doc_id % 97 AS x, doc_id % 89 AS y,
             |             lang, n_chars FROM documents)
             |WHERE x BETWEEN 10 AND 40 AND y BETWEEN 20 AND 60
             |GROUP BY lang""".stripMargin)),

    // ------------------------------------------------------------------
    // q191: table profiler (Quality.profile) — per-column rows/nulls/
    // exact NDV/min/max in ONE scan (single wide aggregate; the
    // multi-column distinct rides one Expand). The long-format audit
    // artifact itself is the query output, so the whole profile
    // hash-verifies against DuckDB recomputing every cell.
    QueryDef(
      "q191_profile",
      (s, dir) => graft.operators.Quality.profile(
        T.documents(s, dir), Seq("doc_id", "lang", "source", "n_chars")),
      Some("""SELECT 'doc_id' AS "column", 'bigint' AS dtype,
             |  CAST(count(*) AS BIGINT) AS n_rows,
             |  CAST(count(*) FILTER (WHERE doc_id IS NULL) AS BIGINT) AS n_nulls,
             |  CAST(count(DISTINCT doc_id) AS BIGINT) AS n_distinct,
             |  CAST(min(doc_id) AS VARCHAR) AS min_value,
             |  CAST(max(doc_id) AS VARCHAR) AS max_value FROM documents
             |UNION ALL
             |SELECT 'lang', 'string', CAST(count(*) AS BIGINT),
             |  CAST(count(*) FILTER (WHERE lang IS NULL) AS BIGINT),
             |  CAST(count(DISTINCT lang) AS BIGINT),
             |  min(lang), max(lang) FROM documents
             |UNION ALL
             |SELECT 'source', 'string', CAST(count(*) AS BIGINT),
             |  CAST(count(*) FILTER (WHERE source IS NULL) AS BIGINT),
             |  CAST(count(DISTINCT source) AS BIGINT),
             |  min(source), max(source) FROM documents
             |UNION ALL
             |SELECT 'n_chars', 'bigint', CAST(count(*) AS BIGINT),
             |  CAST(count(*) FILTER (WHERE n_chars IS NULL) AS BIGINT),
             |  CAST(count(DISTINCT n_chars) AS BIGINT),
             |  CAST(min(n_chars) AS VARCHAR),
             |  CAST(max(n_chars) AS VARCHAR) FROM documents""".stripMargin)),

    // ------------------------------------------------------------------
    // q192: RESTORE (TxLog.restore) — a bad overwrite is rolled back by
    // re-publishing the good snapshot's manifest as the new head: pure
    // metadata, zero data movement, history preserved (TxLogSpec pins
    // the manifest identity and vacuum survival). The post-restore read
    // hash-matches the oracle computing the GOOD half directly.
    QueryDef(
      "q192_restore",
      (s, dir) => {
        import s.implicits._
        val sfName = new java.io.File(dir).getName
        val t = s"${graft.GraftSession.scratchBase}/graft_txrest_$sfName"
        val fs = org.apache.hadoop.fs.FileSystem.get(s.sparkContext.hadoopConfiguration)
        fs.delete(new org.apache.hadoop.fs.Path(t), true)
        val docs = T.documents(s, dir)
        graft.sources.TxLog.commit(s, t, docs.filter($"doc_id" % 2L === 0L))
        graft.sources.TxLog.commit(s, t, docs.filter($"doc_id" % 2L =!= 0L)) // bad
        graft.sources.TxLog.restore(s, t, 1L)
        graft.sources.TxLog.read(s, t)
          .groupBy($"lang")
          .agg(count(lit(1)).as("n"), sum($"n_chars").as("chars"))
      },
      Some("""SELECT lang, count(*) AS n, CAST(sum(n_chars) AS BIGINT) AS chars
             |FROM documents WHERE doc_id % 2 = 0
             |GROUP BY lang""".stripMargin)),

    // ------------------------------------------------------------------
    // q193: exactly-once streaming ingest into the TxLog
    // (StreamingOps.streamingTxIngest + TxLog.commitStreaming). Three
    // micro-batches land the corpus; a simulated checkpoint REPLAY of
    // batch 0 re-presents the whole corpus and must no-op (the
    // deterministic batch dir is already in the manifest). If the
    // exactly-once guarantee broke, counts would double and the rollup
    // hash against DuckDB's plain corpus rollup would fail.
    QueryDef(
      "q193_stream_exactly_once",
      (s, dir) => {
        import s.implicits._
        val sfName = new java.io.File(dir).getName
        val root = s"${graft.GraftSession.scratchBase}/graft_sink_$sfName"
        val fs = org.apache.hadoop.fs.FileSystem.get(s.sparkContext.hadoopConfiguration)
        fs.delete(new org.apache.hadoop.fs.Path(root), true)
        val docs = T.documents(s, dir)
        (0 until 3).foreach { i =>
          docs.filter($"doc_id" % 3L === i.toLong).repartition(1)
            .write.parquet(s"$root/in_tmp$i")
        }
        stageOrderedBatches(fs, root,
          (0 until 3).map(i => (s"in_tmp$i", s"b$i.parquet")))
        StreamingOps.streamingTxIngest(
          s, s"$root/in", docs.schema, s"$root/t", "q193")
        // replay attack: the full corpus re-presented under batch 0
        require(graft.sources.TxLog
          .commitStreaming(s, s"$root/t", docs, "q193", 0L).isEmpty,
          "q193: replayed batch 0 must be a no-op")
        graft.sources.TxLog.read(s, s"$root/t")
          .groupBy($"lang")
          .agg(count(lit(1)).as("n"), sum($"n_chars").as("chars"))
      },
      Some("""SELECT lang, count(*) AS n, CAST(sum(n_chars) AS BIGINT) AS chars
             |FROM documents GROUP BY lang""".stripMargin)),

    // ------------------------------------------------------------------
    // q194: MERGE INTO (TxLog.merge) — the Delta-style keyed upsert with
    // two-phase file pruning. Four quartile batches; the source updates
    // keys confined to quartile 1 (uppercased text) and inserts keys
    // beyond the table's range. Phase 1's range prune admits quartiles
    // 1-3 (the insert keys stretch the source range), phase 2's
    // input_file_name probe narrows to the ONE batch holding actual
    // matches — the require proves quartiles 0/2/3 carry verbatim. The
    // rollup hash-matches DuckDB recomputing the upsert from scratch.
    QueryDef(
      "q194_merge_upsert",
      (s, dir) => {
        import s.implicits._
        val sfName = new java.io.File(dir).getName
        val t = s"${graft.GraftSession.scratchBase}/graft_merge_$sfName"
        val fs = org.apache.hadoop.fs.FileSystem.get(s.sparkContext.hadoopConfiguration)
        fs.delete(new org.apache.hadoop.fs.Path(t), true)
        val docs = T.documents(s, dir)
        val q = (docs.count() / 4L).max(1L)
        (0L until 4L).foreach { i =>
          val loB = i * q
          val hiB = if (i == 3L) Long.MaxValue else (i + 1L) * q - 1L
          graft.sources.TxLog.commit(s, t,
            docs.filter($"doc_id" >= loB && $"doc_id" <= hiB), append = true)
        }
        val updates = docs
          .filter($"doc_id" >= q && $"doc_id" < 2L * q && $"doc_id" % 3L === 0L)
          .withColumn("text", upper($"text"))
        val inserts = docs.filter($"doc_id" % 10L === 4L)
          .withColumn("doc_id", $"doc_id" + 10000000L)
        val before = graft.sources.TxLog.manifest(s, t).map(_._1)
        graft.sources.TxLog.merge(s, t, updates.unionByName(inserts), "doc_id")
        val after = graft.sources.TxLog.manifest(s, t).map(_._1)
        require(before.count(after.contains) == 3,
          s"merge must rewrite only the matched quartile: before=$before after=$after")
        graft.sources.TxLog.read(s, t)
          .groupBy($"lang")
          .agg(count(lit(1)).as("n"), sum($"n_chars").as("chars"),
            sum(when($"text" === upper($"text"), 1L).otherwise(0L)).as("upper_docs"))
      },
      Some("""WITH p AS (SELECT CAST(count(*) AS BIGINT) // 4 AS q FROM documents),
             |merged AS (
             |  SELECT d.doc_id,
             |    CASE WHEN d.doc_id >= p.q AND d.doc_id < 2*p.q AND d.doc_id % 3 = 0
             |         THEN upper(d.text) ELSE d.text END AS text,
             |    d.lang, d.source, d.n_chars
             |  FROM documents d, p
             |  UNION ALL
             |  SELECT d.doc_id + 10000000, d.text, d.lang, d.source, d.n_chars
             |  FROM documents d WHERE d.doc_id % 10 = 4)
             |SELECT lang, count(*) AS n, CAST(sum(n_chars) AS BIGINT) AS chars,
             |  CAST(count(*) FILTER (WHERE text = upper(text)) AS BIGINT) AS upper_docs
             |FROM merged GROUP BY lang""".stripMargin)),

    // ------------------------------------------------------------------
    // q195: METADATA-ONLY aggregate (TxLog.statsAgg) — count(*) + per-
    // column min/max answered entirely from the manifest's committed
    // footer stats. The require proves the plan is a one-row
    // LocalRelation (zero scans, zero files listed); the values
    // hash-match DuckDB actually scanning the data. At 100 TB this is
    // the `SELECT count(*)` that returns in milliseconds because the
    // answer was accumulated at commit time.
    QueryDef(
      "q195_metadata_agg",
      (s, dir) => {
        import s.implicits._
        val sfName = new java.io.File(dir).getName
        val t = s"${graft.GraftSession.scratchBase}/graft_metaagg_$sfName"
        val fs = org.apache.hadoop.fs.FileSystem.get(s.sparkContext.hadoopConfiguration)
        fs.delete(new org.apache.hadoop.fs.Path(t), true)
        val docs = T.documents(s, dir)
        (0L until 4L).foreach { i =>
          graft.sources.TxLog.commit(s, t,
            docs.filter($"doc_id" % 4L === i), append = true)
        }
        val out = graft.sources.TxLog
          .statsAgg(s, t, Seq("doc_id", "n_chars"), includeNulls = true)
          .getOrElse(sys.error("q195: manifest must be able to answer"))
        require(out.queryExecution.optimizedPlan.collect {
          case l: org.apache.spark.sql.execution.datasources.LogicalRelation => l
        }.isEmpty, "q195 must answer from the manifest, not a scan")
        out
      },
      Some("""SELECT CAST(count(*) AS BIGINT) AS n_rows,
             |  min(doc_id) AS doc_id_min, max(doc_id) AS doc_id_max,
             |  CAST(count(*) - count(doc_id) AS BIGINT) AS doc_id_nulls,
             |  min(n_chars) AS n_chars_min, max(n_chars) AS n_chars_max,
             |  CAST(count(*) - count(n_chars) AS BIGINT) AS n_chars_nulls
             |FROM documents""".stripMargin)),

    // ------------------------------------------------------------------
    // q196: incremental JOIN-view maintenance (Cdc.incrementalJoinDelta)
    // — ΔV = ΔA⋈(B∪ΔB) ∪ A⋈ΔB. The stored documents⋈embeddings view
    // absorbs insert-only deltas on BOTH sides without re-running the
    // base join; the plan assert proves both delta joins broadcast (the
    // TB bases never shuffle), and the maintained view's rollup
    // hash-matches DuckDB's full-join recompute.
    QueryDef(
      "q196_incremental_join_view",
      (s, dir) => {
        import s.implicits._
        val docs = T.documents(s, dir)
        val emb = T.embeddings(s, dir)
        val aOld = docs.filter($"doc_id" % 5L =!= 0L)
        val aDel = docs.filter($"doc_id" % 5L === 0L)
        val bOld = emb.filter($"vec_id" % 7L =!= 0L)
        val bDel = emb.filter($"vec_id" % 7L === 0L)
        val oldView = aOld.join(bOld, aOld("doc_id") === bOld("vec_id"))
        val delta = graft.operators.Cdc
          .incrementalJoinDelta(aOld, aDel, bOld, bDel, "doc_id", "vec_id")
        val p = delta.queryExecution.executedPlan.toString
        require("BroadcastHashJoin".r.findAllIn(p).size >= 2,
          "q196: both delta joins must broadcast the delta side:\n" + p.take(1200))
        oldView.unionByName(delta)
          .groupBy($"lang", $"label")
          .agg(count(lit(1)).as("n"), sum($"n_chars").as("chars"))
      },
      Some("""SELECT lang, label, count(*) AS n, CAST(sum(n_chars) AS BIGINT) AS chars
             |FROM documents d JOIN embeddings e ON d.doc_id = e.vec_id
             |GROUP BY 1, 2""".stripMargin)),

    // ------------------------------------------------------------------
    // q197: BPE tokenizer training (Bpe.trainWithStats) — the first
    // three learned merges with their selection counts. The oracle
    // replays the exact training recurrence in SQL: char-symbolize the
    // word-frequency table, count weighted adjacent pairs, pick
    // (count DESC, pair ASC), apply the merge (boundary-sentinel
    // replace, tripled so chained occurrences fully merge), repeat.
    // The full merge loop + lossless encode are BpeSpec's hand-computed
    // cases; tokenCounts' map-only shape is spec-asserted there.
    QueryDef(
      "q197_bpe_merges",
      (s, dir) => {
        import s.implicits._
        graft.operators.Bpe.trainWithStats(T.documents(s, dir), "text", 3)
          .zipWithIndex
          .map { case ((a, b, n), i) => (i + 1, a, b, n) }
          .toDF("mrank", "lhs", "rhs", "cnt")
      },
      Some("""WITH wc AS (
             |  SELECT w, CAST(count(*) AS BIGINT) AS n FROM (
             |    SELECT unnest(string_split_regex(text, '\s+')) AS w FROM documents) t
             |  WHERE length(w) > 0 GROUP BY w),
             |s0x AS (SELECT array_to_string(string_split(w, ''), ' ') AS s, n FROM wc),
             |p1 AS (SELECT l[i] AS a, l[i+1] AS b, CAST(sum(n) AS BIGINT) AS cnt
             |       FROM (SELECT string_split(s, ' ') AS l, n FROM s0x) t,
             |            unnest(generate_series(1, len(l)-1)) AS u(i)
             |       GROUP BY 1, 2),
             |m1 AS (SELECT a, b, cnt FROM p1 ORDER BY cnt DESC, a, b LIMIT 1),
             |s1x AS (SELECT trim(replace(replace(replace(' ' || s || ' ',
             |          (SELECT ' '||a||' '||b||' ' FROM m1), (SELECT ' '||a||b||' ' FROM m1)),
             |          (SELECT ' '||a||' '||b||' ' FROM m1), (SELECT ' '||a||b||' ' FROM m1)),
             |          (SELECT ' '||a||' '||b||' ' FROM m1), (SELECT ' '||a||b||' ' FROM m1))) AS s,
             |        n FROM s0x),
             |p2 AS (SELECT l[i] AS a, l[i+1] AS b, CAST(sum(n) AS BIGINT) AS cnt
             |       FROM (SELECT string_split(s, ' ') AS l, n FROM s1x) t,
             |            unnest(generate_series(1, len(l)-1)) AS u(i)
             |       GROUP BY 1, 2),
             |m2 AS (SELECT a, b, cnt FROM p2 ORDER BY cnt DESC, a, b LIMIT 1),
             |s2x AS (SELECT trim(replace(replace(replace(' ' || s || ' ',
             |          (SELECT ' '||a||' '||b||' ' FROM m2), (SELECT ' '||a||b||' ' FROM m2)),
             |          (SELECT ' '||a||' '||b||' ' FROM m2), (SELECT ' '||a||b||' ' FROM m2)),
             |          (SELECT ' '||a||' '||b||' ' FROM m2), (SELECT ' '||a||b||' ' FROM m2))) AS s,
             |        n FROM s1x),
             |p3 AS (SELECT l[i] AS a, l[i+1] AS b, CAST(sum(n) AS BIGINT) AS cnt
             |       FROM (SELECT string_split(s, ' ') AS l, n FROM s2x) t,
             |            unnest(generate_series(1, len(l)-1)) AS u(i)
             |       GROUP BY 1, 2),
             |m3 AS (SELECT a, b, cnt FROM p3 ORDER BY cnt DESC, a, b LIMIT 1)
             |SELECT 1 AS mrank, a AS lhs, b AS rhs, cnt FROM m1
             |UNION ALL SELECT 2, a, b, cnt FROM m2
             |UNION ALL SELECT 3, a, b, cnt FROM m3""".stripMargin)),

    // ------------------------------------------------------------------
    // q199: AUTOMATIC manifest pruning from ordinary predicates
    // (TxLog.table + TxPruneRule via GraftExtensions) — the q178 probe
    // written the way an analyst would: a plain DataFrame filter, no
    // readWhere. The optimizer rule translates the filter's conjuncts
    // to ranges, consults the manifest, and swaps the scan's file index
    // to the one overlapping batch (the require proves it via
    // inputFiles); the rollup hash-matches DuckDB's plain filtered
    // scan, proving the automatic prune never changes results.
    QueryDef(
      "q199_auto_prune",
      (s, dir) => {
        import s.implicits._
        val sfName = new java.io.File(dir).getName
        val t = s"${graft.GraftSession.scratchBase}/graft_txauto_$sfName"
        val fs = org.apache.hadoop.fs.FileSystem.get(s.sparkContext.hadoopConfiguration)
        fs.delete(new org.apache.hadoop.fs.Path(t), true)
        val docs = T.documents(s, dir)
        val q = (docs.count() / 4L).max(1L)
        (0L until 4L).foreach { i =>
          val loB = i * q
          val hiB = if (i == 3L) Long.MaxValue else (i + 1L) * q - 1L
          graft.sources.TxLog.commit(s, t,
            docs.filter($"doc_id" >= loB && $"doc_id" <= hiB), append = true)
        }
        val auto = graft.sources.TxLog.table(s, t)
          .filter($"doc_id" >= q + 5L && $"doc_id" <= 2L * q - 1L)
        val touched = auto.inputFiles
          .map(f => new org.apache.hadoop.fs.Path(f).getParent.getName).toSet
        require(touched.size == 1,
          s"q199: the rule must prune to one batch, touched $touched")
        auto.groupBy($"lang")
          .agg(count(lit(1)).as("n"), sum($"n_chars").as("chars"))
      },
      Some("""WITH p AS (SELECT CAST(count(*) AS BIGINT) // 4 AS q FROM documents)
             |SELECT lang, count(*) AS n, CAST(sum(n_chars) AS BIGINT) AS chars
             |FROM documents, p
             |WHERE doc_id >= p.q + 5 AND doc_id <= 2 * p.q - 1
             |GROUP BY lang""".stripMargin)),

    // ------------------------------------------------------------------
    // q200: METADATA-ONLY global aggregates from ordinary query shapes
    // (TxLog.table + TxAggRule via GraftExtensions) — count(*),
    // count(col), min/max answered entirely from the manifest: the
    // require proves the optimized plan holds NO scan at all (a one-row
    // LocalRelation), and the DuckDB oracle recomputes the same
    // aggregates by actually scanning — proving the manifest answer is
    // exact, including the null-count path (count of a column that is
    // null wherever lang='en').
    QueryDef(
      "q200_meta_agg",
      (s, dir) => {
        import s.implicits._
        val sfName = new java.io.File(dir).getName
        val t = s"${graft.GraftSession.scratchBase}/graft_txmeta_$sfName"
        val fs = org.apache.hadoop.fs.FileSystem.get(s.sparkContext.hadoopConfiguration)
        fs.delete(new org.apache.hadoop.fs.Path(t), true)
        val docs = T.documents(s, dir)
          .withColumn("lang_nn", when($"lang" === "en", lit(null)
            .cast("string")).otherwise($"lang"))
        (0L until 4L).foreach { i =>
          graft.sources.TxLog.commit(s, t,
            docs.filter($"doc_id" % 4L === i), append = true)
        }
        val out = graft.sources.TxLog.table(s, t).agg(
          count(lit(1)).as("n_rows"),
          count($"lang_nn").as("n_lang"),
          min($"doc_id").as("id_min"), max($"doc_id").as("id_max"),
          min($"lang_nn").as("lang_min"), max($"lang_nn").as("lang_max"),
          min($"n_chars").as("chars_min"), max($"n_chars").as("chars_max"))
        require(out.queryExecution.optimizedPlan.collect {
          case l: org.apache.spark.sql.execution.datasources.LogicalRelation => l
        }.isEmpty, "q200: the aggregate must be answered with ZERO scans")
        out
      },
      Some("""SELECT CAST(count(*) AS BIGINT) AS n_rows,
             |  CAST(count(nullif(lang, 'en')) AS BIGINT) AS n_lang,
             |  min(doc_id) AS id_min, max(doc_id) AS id_max,
             |  min(nullif(lang, 'en')) AS lang_min,
             |  max(nullif(lang, 'en')) AS lang_max,
             |  min(n_chars) AS chars_min, max(n_chars) AS chars_max
             |FROM documents""".stripMargin)),

    // ------------------------------------------------------------------
    // q201: HYBRID filtered metadata aggregate (TxAggRule's filtered
    // path) — count/count(col)/min/max under a doc_id range filter over
    // a 4-batch key-range TxLog table: one batch is provably CONTAINED
    // (answered from manifest stats + exact footer null counts, zero
    // I/O), one is boundary (scanned with the filter kept), two are
    // excluded. The require proves the optimized plan scans EXACTLY ONE
    // batch dir; the DuckDB oracle recomputes by actually scanning, so
    // the metadata+scan merge is proven exact — including count(lang_nn)
    // whose nulls live partly in the metadata-answered batch.
    QueryDef(
      "q201_meta_agg_filtered",
      (s, dir) => {
        import s.implicits._
        val sfName = new java.io.File(dir).getName
        val t = s"${graft.GraftSession.scratchBase}/graft_txhybrid_$sfName"
        val fs = org.apache.hadoop.fs.FileSystem.get(s.sparkContext.hadoopConfiguration)
        fs.delete(new org.apache.hadoop.fs.Path(t), true)
        val docs = T.documents(s, dir)
          .withColumn("lang_nn", when($"lang" === "en", lit(null)
            .cast("string")).otherwise($"lang"))
        val q = (docs.count() / 4L).max(1L)
        (0L until 4L).foreach { i =>
          val loB = i * q
          val hiB = if (i == 3L) Long.MaxValue else (i + 1L) * q - 1L
          graft.sources.TxLog.commit(s, t,
            docs.filter($"doc_id" >= loB && $"doc_id" <= hiB), append = true)
        }
        // [q+5, 3q-1]: batch1 boundary, batch2 contained, 0 and 3 excluded
        val out = graft.sources.TxLog.table(s, t)
          .filter($"doc_id" >= q + 5L && $"doc_id" <= 3L * q - 1L)
          .agg(count(lit(1)).as("n_rows"),
            count($"lang_nn").as("n_lang"),
            min($"doc_id").as("id_min"), max($"doc_id").as("id_max"),
            min($"n_chars").as("chars_min"), max($"n_chars").as("chars_max"))
        val scanned = out.queryExecution.optimizedPlan.collect {
          case l: org.apache.spark.sql.execution.datasources.LogicalRelation =>
            l.relation
              .asInstanceOf[org.apache.spark.sql.execution.datasources.HadoopFsRelation]
              .location.rootPaths.map(_.getName)
        }.flatten
        require(scanned.size == 1,
          s"q201: exactly the one boundary batch must scan, got $scanned")
        out
      },
      Some("""WITH p AS (SELECT CAST(count(*) AS BIGINT) // 4 AS q FROM documents)
             |SELECT CAST(count(*) AS BIGINT) AS n_rows,
             |  CAST(count(nullif(lang, 'en')) AS BIGINT) AS n_lang,
             |  min(doc_id) AS id_min, max(doc_id) AS id_max,
             |  min(n_chars) AS chars_min, max(n_chars) AS chars_max
             |FROM documents, p
             |WHERE doc_id >= p.q + 5 AND doc_id <= 3 * p.q - 1""".stripMargin)),

    // ------------------------------------------------------------------
    // q206: writer-side CHECK invariants (TxLog.commit check=...) — the
    // Delta-style constraint enforced at COMMIT: a batch carrying
    // violating rows is rejected before any data lands, atomically (no
    // version bump, no orphan dir — proven by in-query requires), while
    // conforming commits proceed. The final snapshot is lo-half ∪
    // hi-half of documents committed under their respective constraints
    // with one rejected attempt in between, so the DuckDB full-table
    // rollup matches IFF the rejection left zero trace and the two
    // accepted commits carried every row exactly once.
    QueryDef(
      "q206_check_invariant",
      (s, dir) => {
        import s.implicits._
        val sfName = new java.io.File(dir).getName
        val t = s"${graft.GraftSession.scratchBase}/graft_txcheck_$sfName"
        val fs = org.apache.hadoop.fs.FileSystem.get(s.sparkContext.hadoopConfiguration)
        fs.delete(new org.apache.hadoop.fs.Path(t), true)
        val docs = T.documents(s, dir)
        val c = docs.agg(max($"n_chars")).head.getLong(0) / 2L
        graft.sources.TxLog.commit(s, t, docs.filter($"n_chars" <= c),
          append = true, check = Some($"n_chars" <= c))
        val v1 = graft.sources.TxLog.latestVersion(s, t)
        // the violating attempt must be rejected with zero trace
        val rejected = scala.util.Try(
          graft.sources.TxLog.commit(s, t, docs.filter($"n_chars" > c),
            append = true, check = Some($"n_chars" <= c)))
        require(rejected.isFailure, "q206: violating commit must be rejected")
        require(graft.sources.TxLog.latestVersion(s, t) == v1,
          "q206: a rejected commit must not bump the version")
        graft.sources.TxLog.commit(s, t, docs.filter($"n_chars" > c),
          append = true, check = Some($"n_chars" > c))
        graft.sources.TxLog.read(s, t).groupBy($"lang")
          .agg(count(lit(1)).as("n"), sum($"n_chars").as("chars"))
      },
      Some("""SELECT lang, CAST(count(*) AS BIGINT) AS n,
             |  CAST(sum(n_chars) AS BIGINT) AS chars
             |FROM documents GROUP BY lang""".stripMargin)),

    // ------------------------------------------------------------------
    // q205: METADATA-ONLY clustering health (TxLog.clusterHealth) — the
    // decide-when-to-OPTIMIZE signal, from the manifest alone: per
    // column, how many live-batch pairs have intersecting [min,max]
    // ranges. The table is committed in doc_id quartiles, so doc_id is
    // perfectly clustered (0 overlapping pairs of 6) while n_chars is
    // committed in arrival order (overlaps everywhere) — a range probe
    // on doc_id prunes to one batch, one on n_chars reads the table,
    // and the metric says so without touching a data file. The DuckDB
    // oracle recomputes both from the FLAT table (per-quartile min/max
    // self-joined over i<j pairs), proving the manifest's footer stats
    // carry the exact same ranges.
    QueryDef(
      "q205_cluster_health",
      (s, dir) => {
        import s.implicits._
        val sfName = new java.io.File(dir).getName
        val t = s"${graft.GraftSession.scratchBase}/graft_txhealth_$sfName"
        val fs = org.apache.hadoop.fs.FileSystem.get(s.sparkContext.hadoopConfiguration)
        fs.delete(new org.apache.hadoop.fs.Path(t), true)
        val docs = T.documents(s, dir)
        val q = (docs.count() / 4L).max(1L)
        (0L until 4L).foreach { i =>
          val loB = i * q
          val hiB = if (i == 3L) Long.MaxValue else (i + 1L) * q - 1L
          graft.sources.TxLog.commit(s, t,
            docs.filter($"doc_id" >= loB && $"doc_id" <= hiB), append = true)
        }
        graft.sources.TxLog.clusterHealth(s, t, Seq("doc_id", "n_chars"))
          .select($"col", $"n_batches", $"overlap_pairs", $"pairs")
      },
      Some("""WITH p AS (SELECT CAST(count(*) AS BIGINT) // 4 AS q FROM documents),
             |b AS (
             |  SELECT LEAST(doc_id // p.q, 3) AS bkt,
             |    min(doc_id) AS id_lo, max(doc_id) AS id_hi,
             |    min(n_chars) AS ch_lo, max(n_chars) AS ch_hi
             |  FROM documents, p GROUP BY 1),
             |pairs AS (SELECT CAST(count(*) AS BIGINT) AS n FROM b),
             |m AS (
             |  SELECT 'doc_id' AS col,
             |    CAST(count(*) FILTER (WHERE a.id_lo <= c.id_hi AND c.id_lo <= a.id_hi)
             |      AS BIGINT) AS overlap_pairs
             |  FROM b a JOIN b c ON a.bkt < c.bkt
             |  UNION ALL
             |  SELECT 'n_chars' AS col,
             |    CAST(count(*) FILTER (WHERE a.ch_lo <= c.ch_hi AND c.ch_lo <= a.ch_hi)
             |      AS BIGINT) AS overlap_pairs
             |  FROM b a JOIN b c ON a.bkt < c.bkt)
             |SELECT m.col, pairs.n AS n_batches, m.overlap_pairs,
             |  pairs.n * (pairs.n - 1) // 2 AS pairs
             |FROM m, pairs""".stripMargin)),

    // ------------------------------------------------------------------
    // q204: MANIFEST-RESIDENT NDV sketches (TxLog.commit collectSketches
    // + TxLog.approxDistinct) — each commit harvests the k smallest
    // distinct md5-u32 hashes of a column into the manifest line; the
    // table-level distinct-count then answers METADATA-ONLY, and because
    // KMV union-merge is exact, bit-for-bit equal to a full-table
    // KmvSketchAgg scan at the same k (the in-query require proves it).
    // The DuckDB oracle replays the same sketch from the flat table in
    // SQL (md5 digits -> u32, ORDER BY, (k-1)*2^32/h_k), so even the
    // APPROXIMATE answer hash-verifies cross-engine. doc_id exercises
    // the estimator path (NDV >> k), lang the exact path (NDV < k).
    QueryDef(
      "q204_manifest_ndv",
      (s, dir) => {
        import s.implicits._
        val sfName = new java.io.File(dir).getName
        val t = s"${graft.GraftSession.scratchBase}/graft_txndv_$sfName"
        val fs = org.apache.hadoop.fs.FileSystem.get(s.sparkContext.hadoopConfiguration)
        fs.delete(new org.apache.hadoop.fs.Path(t), true)
        val docs = T.documents(s, dir)
        (0L until 4L).foreach { i =>
          graft.sources.TxLog.commit(s, t,
            docs.filter($"doc_id" % 4L === i), append = true,
            collectSketches = Seq("doc_id" -> 64, "lang" -> 64))
        }
        val estId = graft.sources.TxLog.approxDistinct(s, t, "doc_id").get
        val estLang = graft.sources.TxLog.approxDistinct(s, t, "lang").get
        // metadata merge must equal the full-table scan sketch exactly
        val sc = docs.agg(
          graft.plans.KmvSketchAgg.kmvEstimate($"doc_id", 64),
          graft.plans.KmvSketchAgg.kmvEstimate($"lang", 64)).head
        require(estId == sc.getDouble(0) && estLang == sc.getDouble(1),
          s"q204: manifest merge diverged from scan: ($estId, $estLang) vs $sc")
        Seq((estId, estLang)).toDF("est_id", "est_lang")
      },
      Some {
        def u32(e: String) =
          (0 until 8).map { i =>
            val mul = 1L << (4 * (7 - i))
            s"(strpos('0123456789abcdef', substr(md5($e), ${i + 1}, 1)) - 1) * $mul"
          }.mkString("(", " + ", ")")
        def est(hashed: String, k: Int, as: String) =
          s"""(SELECT CASE WHEN count(*) < $k THEN CAST(count(*) AS DOUBLE)
             |  ELSE ${k - 1} * 4294967296.0 /
             |       CAST(max(CASE WHEN rn = $k THEN h END) AS DOUBLE) END AS $as
             |FROM (SELECT h, row_number() OVER (ORDER BY h) AS rn
             |      FROM ($hashed) d) r)""".stripMargin
        val hid = s"SELECT DISTINCT ${u32("CAST(doc_id AS VARCHAR)")} AS h " +
          "FROM documents WHERE doc_id IS NOT NULL"
        val hlang = s"SELECT DISTINCT ${u32("lang")} AS h " +
          "FROM documents WHERE lang IS NOT NULL"
        s"""WITH e1 AS ${est(hid, 64, "est_id")},
           |e2 AS ${est(hlang, 64, "est_lang")}
           |SELECT est_id, est_lang FROM e1, e2""".stripMargin
      }),

    // ------------------------------------------------------------------
    // q203: GROUPED metadata aggregates (TxAggRule's batch-constant
    // GROUP BY path) — an append-per-group TxLog table (one commit per
    // lang, the "daily append" shape) answers
    // `GROUP BY lang count/min/max` entirely from the manifest: every
    // batch is single-valued in the grouping column (footer min == max,
    // zero nulls), so each contributes one pre-aggregated local row and
    // the plan holds ZERO file scans (the require proves it). This is
    // Hive-partition-style aggregate pushdown WITHOUT partitioning —
    // the layout is just commit discipline, and at 100 TB the
    // "rows per day" dashboard reads a KB manifest, not the table.
    QueryDef(
      "q203_meta_agg_grouped",
      (s, dir) => {
        import s.implicits._
        val sfName = new java.io.File(dir).getName
        val t = s"${graft.GraftSession.scratchBase}/graft_txgrouped_$sfName"
        val fs = org.apache.hadoop.fs.FileSystem.get(s.sparkContext.hadoopConfiguration)
        fs.delete(new org.apache.hadoop.fs.Path(t), true)
        val docs = T.documents(s, dir)
        val langs = docs.select($"lang").where($"lang".isNotNull)
          .distinct().as[String].collect().sorted
        langs.foreach { l =>
          graft.sources.TxLog.commit(s, t,
            docs.filter($"lang" === l), append = true)
        }
        if (docs.filter($"lang".isNull).limit(1).count() > 0L)
          graft.sources.TxLog.commit(s, t,
            docs.filter($"lang".isNull), append = true)
        val out = graft.sources.TxLog.table(s, t).groupBy($"lang")
          .agg(count(lit(1)).as("n"),
            min($"doc_id").as("id_min"), max($"doc_id").as("id_max"),
            max($"n_chars").as("chars_max"))
        require(out.queryExecution.optimizedPlan.collect {
          case l: org.apache.spark.sql.execution.datasources.LogicalRelation => l
        }.isEmpty, "q203: the grouped rollup must be answered with ZERO scans")
        out
      },
      Some("""SELECT lang, CAST(count(*) AS BIGINT) AS n,
             |  min(doc_id) AS id_min, max(doc_id) AS id_max,
             |  max(n_chars) AS chars_max
             |FROM documents GROUP BY lang""".stripMargin)),

    // ------------------------------------------------------------------
    // q202: TxLog as a STREAMING SOURCE (format("txlog"), TxLogSource) —
    // the commit log is the subscription: offsets are manifest versions,
    // each micro-batch is exactly the dirs a commit added (two KB-sized
    // manifest reads, no directory listing). The query streams a
    // 3-append documents table into per-batch per-lang partials
    // committed through the exactly-once streaming sink, then rolls the
    // partials up; the DuckDB oracle recomputes the rollup from the flat
    // table, proving stream ≡ batch. In-query requires prove the source
    // was INCREMENTAL: the first drain sees only the pre-stream appends,
    // the post-start append arrives as its own delta commit.
    QueryDef(
      "q202_stream_source",
      (s, dir) => {
        import s.implicits._
        val sfName = new java.io.File(dir).getName
        val t = s"${graft.GraftSession.scratchBase}/graft_txsrc_$sfName"
        val outT = s"${graft.GraftSession.scratchBase}/graft_txsrc_out_$sfName"
        val cp = s"${graft.GraftSession.scratchBase}/graft_txsrc_cp_$sfName"
        val fs = org.apache.hadoop.fs.FileSystem.get(s.sparkContext.hadoopConfiguration)
        Seq(t, outT, cp).foreach(p =>
          fs.delete(new org.apache.hadoop.fs.Path(p), true))
        val docs = T.documents(s, dir)
        // two appends exist before the stream starts...
        (0L until 2L).foreach { i =>
          graft.sources.TxLog.commit(s, t,
            docs.filter($"doc_id" % 3L === i), append = true)
        }
        val q = s.readStream.format("txlog").load(t)
          .writeStream
          .option("checkpointLocation", cp)
          .foreachBatch { (b: org.apache.spark.sql.DataFrame, id: Long) =>
            graft.sources.TxLog.commitStreaming(s, outT,
              b.groupBy($"lang")
                .agg(count(lit(1)).as("n"), sum($"n_chars").as("chars")),
              s"q202_$sfName", id)
            ()
          }
          .start()
        try {
          q.processAllAvailable()
          val v1 = graft.sources.TxLog.latestVersion(s, outT)
          val n1 = graft.sources.TxLog.read(s, outT)
            .agg(sum($"n")).head.getLong(0)
          require(n1 == docs.filter($"doc_id" % 3L < 2L).count(),
            "q202: first drain must carry exactly the pre-stream snapshot")
          // ...the third lands while the stream runs: its OWN delta batch
          graft.sources.TxLog.commit(s, t,
            docs.filter($"doc_id" % 3L === 2L), append = true)
          q.processAllAvailable()
          require(graft.sources.TxLog.latestVersion(s, outT) > v1,
            "q202: the post-start append must arrive as a new micro-batch")
        } finally q.stop()
        graft.sources.TxLog.read(s, outT)
          .groupBy($"lang")
          .agg(sum($"n").as("n"), sum($"chars").as("chars"))
      },
      Some("""SELECT lang, CAST(count(*) AS BIGINT) AS n,
             |  CAST(sum(n_chars) AS BIGINT) AS chars
             |FROM documents GROUP BY lang""".stripMargin)),

    // ------------------------------------------------------------------
    // q198: transactionally-maintained streaming JOIN view
    // (StreamingOps.streamingJoinMaintain) — doc-side inserts stream in
    // two micro-batches; each appends its ΔA⋈B delta to the TxLog view
    // through commitStreaming (manifest = idempotence ledger; the
    // in-query replay of micro-batch 0 must no-op). The base join never
    // recomputes; the maintained view's rollup hash-matches DuckDB's
    // full-join recompute.
    QueryDef(
      "q198_stream_join_view",
      (s, dir) => {
        import s.implicits._
        val sfName = new java.io.File(dir).getName
        val root = s"${graft.GraftSession.scratchBase}/graft_sjv_$sfName"
        val fs = org.apache.hadoop.fs.FileSystem.get(s.sparkContext.hadoopConfiguration)
        fs.delete(new org.apache.hadoop.fs.Path(root), true)
        val docs = T.documents(s, dir)
        val emb = T.embeddings(s, dir)
        val aInit = docs.filter($"doc_id" % 3L === 0L)
        (1 until 3).foreach { i =>
          docs.filter($"doc_id" % 3L === i.toLong).repartition(1)
            .write.parquet(s"$root/in_tmp$i")
        }
        stageOrderedBatches(fs, root,
          (1 until 3).map(i => (s"in_tmp$i", s"b$i.parquet")))
        val view = StreamingOps.streamingJoinMaintain(
          s, s"$root/in", docs.schema, aInit, emb, s"$root/t",
          "doc_id", "vec_id", "q198")
        // replay attack: micro-batch 0 re-presented must be a no-op
        require(graft.sources.TxLog.commitStreaming(
          s, s"$root/t/joinview", view.limit(1), "q198", 0L).isEmpty,
          "q198: replayed micro-batch 0 must be a no-op")
        view.groupBy($"source", $"label")
          .agg(count(lit(1)).as("n"), sum($"n_chars").as("chars"))
      },
      Some("""SELECT source, label, count(*) AS n, CAST(sum(n_chars) AS BIGINT) AS chars
             |FROM documents d JOIN embeddings e ON d.doc_id = e.vec_id
             |GROUP BY 1, 2""".stripMargin)),

    // ------------------------------------------------------------------
    // q179: DSIR-style importance weighting (TrainingPrep
    // .importanceWeights) — target = English slice, raw = whole corpus;
    // per-token smoothed frequency-ratio weights (the monotone core of
    // the paper's hashed-ngram LLR, integer-scaled so both engines hash
    // identical BIGINTs), summed per document; top-20 most target-like
    // docs with a deterministic (score DESC, doc_id) tie-break.
    QueryDef(
      "q179_importance_weights",
      (s, dir) => {
        import s.implicits._
        graft.operators.TrainingPrep
          .importanceWeights(T.documents(s, dir), $"lang" === "en")
          .orderBy($"score".desc, $"doc_id")
          .limit(20)
      },
      Some("""WITH toks0 AS (
             |  SELECT doc_id, lang = 'en' AS tgt,
             |         unnest(string_split_regex(text, '\s+')) AS w
             |  FROM documents),
             |tk AS (SELECT * FROM toks0 WHERE length(w) > 0),
             |counts AS (
             |  SELECT w, CAST(count(*) AS BIGINT) AS cnt_r,
             |         CAST(count(*) FILTER (WHERE tgt) AS BIGINT) AS cnt_t
             |  FROM tk GROUP BY w),
             |tot AS (
             |  SELECT CAST(count(*) AS BIGINT) AS totr,
             |         CAST(count(*) FILTER (WHERE tgt) AS BIGINT) AS tott
             |  FROM tk),
             |wt AS (
             |  SELECT w, CAST((CAST(1000000 AS HUGEINT) * (cnt_t + 1) * totr)
             |              // ((cnt_r + 1) * tott) AS BIGINT) AS wgt
             |  FROM counts, tot)
             |SELECT doc_id, CAST(sum(wgt) AS BIGINT) AS score
             |FROM tk JOIN wt USING (w)
             |GROUP BY doc_id
             |ORDER BY score DESC, doc_id
             |LIMIT 20""".stripMargin)),

    // ------------------------------------------------------------------
    // q180: bigram-LM novelty scoring (TextAnalysis.bigramNovelty) — an
    // unsmoothed count model trained on the English slice scores every
    // document's out-of-vocabulary bigram mass (the integer-exact core
    // of an LM-perplexity quality filter). Join on the bigram is a
    // SHUFFLE join by design: at 100 TB the model is corpus-sized, not
    // broadcastable.
    QueryDef(
      "q180_lm_novelty",
      (s, dir) => {
        import s.implicits._
        graft.operators.TextAnalysis
          .bigramNovelty(T.documents(s, dir), $"lang" === "en")
      },
      Some("""WITH base AS (
             |  SELECT doc_id, lang,
             |    list_filter(string_split_regex(text, '\s+'),
             |                x -> length(x) > 0) AS l
             |  FROM documents),
             |g AS (
             |  SELECT doc_id, lang,
             |    unnest(list_transform(range(1, len(l)),
             |                          i -> l[i] || ' ' || l[i + 1])) AS gram
             |  FROM base WHERE len(l) >= 2),
             |model AS (SELECT DISTINCT gram FROM g WHERE lang = 'en'),
             |sc AS (
             |  SELECT g.doc_id, CAST(count(*) AS BIGINT) AS n_bigrams,
             |    CAST(count(*) FILTER (WHERE m.gram IS NULL) AS BIGINT) AS n_unseen
             |  FROM g LEFT JOIN model m ON g.gram = m.gram
             |  GROUP BY g.doc_id)
             |SELECT doc_id, n_bigrams, n_unseen,
             |  (1000000 * n_unseen) // n_bigrams AS novelty_pm
             |FROM sc""".stripMargin)),

    // ------------------------------------------------------------------
    // q207: DYNAMIC file pruning (DynPruneRule via GraftExtensions) —
    // the join-driven counterpart of q199's static prune. The documents
    // table is committed in doc_id quartiles; the query is a plain
    // equi-join against a small dim (embedding doc_ids from two narrow
    // slices in QUARTILE 0 and QUARTILE 2 — selected by an OR no static
    // range translation handles). At planning time the rule executes
    // the dim's key projection and consults the manifest: only batches
    // 0 and 2 can hold any key. The require proves SET semantics —
    // a [min,max] range over the same keys would keep batch 1 too, so
    // exactly TWO touched dirs means per-key containment ran. The
    // rollup hash-matches DuckDB recomputing the join from flat tables,
    // proving the prune never changes results.
    QueryDef(
      "q207_dyn_prune",
      (s, dir) => {
        import s.implicits._
        val sfName = new java.io.File(dir).getName
        val t = s"${graft.GraftSession.scratchBase}/graft_txdyn_$sfName"
        val fs = org.apache.hadoop.fs.FileSystem.get(s.sparkContext.hadoopConfiguration)
        fs.delete(new org.apache.hadoop.fs.Path(t), true)
        val docs = T.documents(s, dir)
        val q = (docs.count() / 4L).max(1L)
        (0L until 4L).foreach { i =>
          val loB = i * q
          val hiB = if (i == 3L) Long.MaxValue else (i + 1L) * q - 1L
          graft.sources.TxLog.commit(s, t,
            docs.filter($"doc_id" >= loB && $"doc_id" <= hiB), append = true)
        }
        val dim = T.embeddings(s, dir)
          .filter(($"vec_id" >= 5L && $"vec_id" <= 9L) ||
            ($"vec_id" >= 2L * q + 5L && $"vec_id" <= 2L * q + 9L))
          .select($"vec_id".as("doc_id")).distinct()
        val joined = graft.sources.TxLog.table(s, t).join(dim, Seq("doc_id"))
        val touched = joined.inputFiles.filter(_.contains(t))
          .map(f => new org.apache.hadoop.fs.Path(f).getParent.getName).toSet
        require(touched.size == 2,
          s"q207: key-set prune must keep exactly batches 0 and 2, touched $touched")
        joined.groupBy($"lang")
          .agg(count(lit(1)).as("n"), sum($"n_chars").as("chars"))
      },
      Some("""WITH p AS (SELECT CAST(count(*) AS BIGINT) // 4 AS q FROM documents),
             |e AS (SELECT DISTINCT vec_id AS doc_id FROM embeddings, p
             |      WHERE vec_id BETWEEN 5 AND 9
             |         OR vec_id BETWEEN 2 * p.q + 5 AND 2 * p.q + 9)
             |SELECT d.lang, count(*) AS n, CAST(sum(d.n_chars) AS BIGINT) AS chars
             |FROM documents d JOIN e USING (doc_id)
             |GROUP BY d.lang""".stripMargin)),

    // ------------------------------------------------------------------
    // q209: DELETION VECTORS (TxLog.deleteVectored) — merge-on-read
    // deletes: the doomed range becomes a (file, row) tombstone sidecar
    // and the touched manifest lines re-point at it; NO data file is
    // rewritten. The in-query requires prove the merge-on-read claim
    // structurally (the post-delete version references byte-identical
    // batch dirs, and exactly one vector file exists), and the rollup
    // hash-matching DuckDB computing base-minus-range proves the
    // anti-join read path is value-equal to a copy-on-write delete.
    QueryDef(
      "q209_delete_vectored",
      (s, dir) => {
        import s.implicits._
        val sfName = new java.io.File(dir).getName
        val t = s"${graft.GraftSession.scratchBase}/graft_txdv_$sfName"
        val fs = org.apache.hadoop.fs.FileSystem.get(s.sparkContext.hadoopConfiguration)
        fs.delete(new org.apache.hadoop.fs.Path(t), true)
        val docs = T.documents(s, dir)
        val q = (docs.count() / 4L).max(1L)
        (0L until 4L).foreach { i =>
          val loB = i * q
          val hiB = if (i == 3L) Long.MaxValue else (i + 1L) * q - 1L
          graft.sources.TxLog.commit(s, t,
            docs.filter($"doc_id" >= loB && $"doc_id" <= hiB), append = true)
        }
        val before = graft.sources.TxLog.manifest(s, t, Some(4L)).map(_._1)
        graft.sources.TxLog.deleteVectored(s, t, "doc_id",
          Some(q + 5L), Some(2L * q - 1L))
        val after = graft.sources.TxLog.manifest(s, t).map(_._1)
        require(after == before,
          s"q209: merge-on-read must keep every batch dir (got $after vs $before)")
        val dvs = fs.listStatus(new org.apache.hadoop.fs.Path(s"$t/dv"))
        require(dvs.length == 1,
          s"q209: one vectored delete must write exactly one vector, got ${dvs.length}")
        graft.sources.TxLog.read(s, t)
          .groupBy($"lang")
          .agg(count(lit(1)).as("n"), sum($"n_chars").as("chars"))
      },
      Some("""WITH p AS (SELECT CAST(count(*) AS BIGINT) // 4 AS q FROM documents)
             |SELECT lang, count(*) AS n, CAST(sum(n_chars) AS BIGINT) AS chars
             |FROM documents, p
             |WHERE doc_id < p.q + 5 OR doc_id > 2 * p.q - 1
             |GROUP BY lang""".stripMargin)),

    // ------------------------------------------------------------------
    // q210: BM25 top-k retrieval (TextRetrieval.bm25TopK) — the
    // inverted-index keyword-search shape, on fixed-point integer
    // arithmetic (rational RSJ idf in parts-per-million, the exact
    // k1=1.2 / b=0.75 tf normalization multiplied through by 40·T) so
    // DuckDB replays every score bit-for-bit. Queries = the term sets
    // of every 211th document; deterministic (score DESC, doc_id)
    // tie-break.
    QueryDef(
      "q210_bm25_topk",
      (s, dir) => {
        import s.implicits._
        val docs = T.documents(s, dir)
        val queries = docs.filter($"doc_id" % 211L === 3L)
          .select($"doc_id".as("query_id"),
            explode(split($"text", "\\s+")).as("tok"))
          .filter(length($"tok") > 0)
        graft.operators.TextRetrieval.bm25TopK(docs, queries, k = 5)
      },
      headline = true,
      oracle = Some("""WITH toks0 AS (SELECT doc_id,
             |    unnest(string_split_regex(text, '\s+')) AS tok FROM documents),
             |tk AS (SELECT * FROM toks0 WHERE length(tok) > 0),
             |tf AS (SELECT doc_id, tok, CAST(count(*) AS BIGINT) AS tf
             |       FROM tk GROUP BY 1, 2),
             |dl AS (SELECT doc_id, CAST(sum(tf) AS BIGINT) AS dl FROM tf GROUP BY 1),
             |df AS (SELECT tok, CAST(count(*) AS BIGINT) AS df FROM tf GROUP BY 1),
             |tot AS (SELECT CAST(sum(dl) AS BIGINT) AS t_total,
             |               CAST(count(*) AS BIGINT) AS n_docs FROM dl),
             |q AS (SELECT DISTINCT doc_id AS query_id, tok FROM tk
             |      WHERE doc_id % 211 = 3),
             |sc AS (
             |  SELECT q.query_id, tf.doc_id,
             |    CAST(sum(
             |      CAST((CAST(1000000 AS HUGEINT) * (2 * (t.n_docs - df.df) + 1)
             |            // (2 * df.df + 1))
             |        * (CAST(88 AS HUGEINT) * t.t_total * tf.tf)
             |        // (CAST(40 AS HUGEINT) * t.t_total * tf.tf
             |           + 12 * t.t_total + 36 * dl.dl * t.n_docs)
             |      AS BIGINT)) AS BIGINT) AS score_pm
             |  FROM q JOIN tf USING (tok) JOIN df USING (tok)
             |  JOIN dl ON dl.doc_id = tf.doc_id CROSS JOIN tot t
             |  GROUP BY 1, 2)
             |SELECT query_id, doc_id, score_pm, rnk FROM (
             |  SELECT query_id, doc_id, score_pm,
             |    row_number() OVER (PARTITION BY query_id
             |      ORDER BY score_pm DESC, doc_id) AS rnk
             |  FROM sc) WHERE rnk <= 5""".stripMargin)),

    // ------------------------------------------------------------------
    // q211: MERGE-ON-READ upsert (TxLog.mergeVectored) — q194's exact
    // merge semantics with ZERO data-file rewrites: matched positions
    // tombstone into a vector sidecar, updates+inserts land as one
    // delta-sized append. The requires prove the execution claim (all
    // four original batch dirs still referenced, exactly ONE new batch,
    // exactly ONE vector) and the rollup hash-matches DuckDB
    // recomputing the merge from flat tables — value-equal to q194's
    // copy-on-write path by construction.
    QueryDef(
      "q211_merge_vectored",
      (s, dir) => {
        import s.implicits._
        val sfName = new java.io.File(dir).getName
        val t = s"${graft.GraftSession.scratchBase}/graft_mvec_$sfName"
        val fs = org.apache.hadoop.fs.FileSystem.get(s.sparkContext.hadoopConfiguration)
        fs.delete(new org.apache.hadoop.fs.Path(t), true)
        val docs = T.documents(s, dir)
        val q = (docs.count() / 4L).max(1L)
        (0L until 4L).foreach { i =>
          val loB = i * q
          val hiB = if (i == 3L) Long.MaxValue else (i + 1L) * q - 1L
          graft.sources.TxLog.commit(s, t,
            docs.filter($"doc_id" >= loB && $"doc_id" <= hiB), append = true)
        }
        val updates = docs
          .filter($"doc_id" >= q && $"doc_id" < 2L * q && $"doc_id" % 3L === 0L)
          .withColumn("text", upper($"text"))
        val inserts = docs.filter($"doc_id" % 10L === 4L)
          .withColumn("doc_id", $"doc_id" + 10000000L)
        val before = graft.sources.TxLog.manifest(s, t).map(_._1)
        graft.sources.TxLog.mergeVectored(s, t,
          updates.unionByName(inserts), "doc_id")
        val after = graft.sources.TxLog.manifest(s, t).map(_._1)
        require(after.take(4) == before && after.size == 5,
          s"q211: merge-on-read must append ONE batch and rewrite none: before=$before after=$after")
        val dvs = fs.listStatus(new org.apache.hadoop.fs.Path(s"$t/dv"))
        require(dvs.length == 1,
          s"q211: one vectored merge must write exactly one vector, got ${dvs.length}")
        graft.sources.TxLog.read(s, t)
          .groupBy($"lang")
          .agg(count(lit(1)).as("n"), sum($"n_chars").as("chars"),
            sum(when($"text" === upper($"text"), 1L).otherwise(0L)).as("upper_docs"))
      },
      Some("""WITH p AS (SELECT CAST(count(*) AS BIGINT) // 4 AS q FROM documents),
             |merged AS (
             |  SELECT d.doc_id,
             |    CASE WHEN d.doc_id >= p.q AND d.doc_id < 2*p.q AND d.doc_id % 3 = 0
             |         THEN upper(d.text) ELSE d.text END AS text,
             |    d.lang, d.source, d.n_chars
             |  FROM documents d, p
             |  UNION ALL
             |  SELECT d.doc_id + 10000000, d.text, d.lang, d.source, d.n_chars
             |  FROM documents d WHERE d.doc_id % 10 = 4)
             |SELECT lang, count(*) AS n, CAST(sum(n_chars) AS BIGINT) AS chars,
             |  CAST(count(*) FILTER (WHERE text = upper(text)) AS BIGINT) AS upper_docs
             |FROM merged GROUP BY lang""".stripMargin)),

    // ------------------------------------------------------------------
    // q212: VALUE-PARTITIONED commit (TxLog.commitPartitioned) — one
    // compute pass splits the frame into one byCol-constant batch per
    // value (hive partitioning as commit discipline: the value lives in
    // the data, dirs are opaque). The requires prove (a) exactly one
    // batch per lang landed, (b) the grouped metadata rule then answers
    // GROUP BY lang with ZERO scans — q203's plan claim reached through
    // the WRITER, not hand-split commits. Values hash-match DuckDB
    // scanning the flat table.
    QueryDef(
      "q212_commit_partitioned",
      (s, dir) => {
        import s.implicits._
        val sfName = new java.io.File(dir).getName
        val t = s"${graft.GraftSession.scratchBase}/graft_txpart_$sfName"
        val fs = org.apache.hadoop.fs.FileSystem.get(s.sparkContext.hadoopConfiguration)
        fs.delete(new org.apache.hadoop.fs.Path(t), true)
        val docs = T.documents(s, dir)
        graft.sources.TxLog.commitPartitioned(s, t, docs, "lang")
        val nLangs = docs.select($"lang").distinct().count()
        val batches = graft.sources.TxLog.manifest(s, t).size
        require(batches == nLangs,
          s"q212: one batch per lang value expected ($nLangs), got $batches")
        val out = graft.sources.TxLog.table(s, t).groupBy($"lang")
          .agg(count(lit(1)).as("n"),
            min($"doc_id").as("id_min"), max($"doc_id").as("id_max"),
            max($"n_chars").as("chars_max"))
        require(out.queryExecution.optimizedPlan.collect {
          case l: org.apache.spark.sql.execution.datasources.LogicalRelation => l
        }.isEmpty, "q212: the grouped rollup must be answered with ZERO scans")
        out
      },
      Some("""SELECT lang, CAST(count(*) AS BIGINT) AS n,
             |  min(doc_id) AS id_min, max(doc_id) AS id_max,
             |  max(n_chars) AS chars_max
             |FROM documents GROUP BY lang""".stripMargin)),

    // ------------------------------------------------------------------
    // q213: TOKEN-BLOOM file skipping (commit(collectTokenBlooms) +
    // TxLog.readWhereToken) — the "which files MENTION this term"
    // question min/max and value blooms cannot answer, answered from
    // the manifest: each commit stores a bloom over the batch's
    // distinct text tokens; a contains-term read keeps only batches
    // whose bloom admits the term, and the residual array_contains
    // keeps it exact. The probe is the corpus's RAREST token (ties by
    // spelling — deterministic both engines), so the require proves
    // real pruning: ≤ 2 of 4 quartiles touched (1 true + ≤1 bloom fp,
    // deterministic per fixture).
    QueryDef(
      "q213_token_bloom",
      (s, dir) => {
        import s.implicits._
        val sfName = new java.io.File(dir).getName
        val t = s"${graft.GraftSession.scratchBase}/graft_txtok_$sfName"
        val fs = org.apache.hadoop.fs.FileSystem.get(s.sparkContext.hadoopConfiguration)
        fs.delete(new org.apache.hadoop.fs.Path(t), true)
        val docs = T.documents(s, dir)
        val q = (docs.count() / 4L).max(1L)
        (0L until 4L).foreach { i =>
          val loB = i * q
          val hiB = if (i == 3L) Long.MaxValue else (i + 1L) * q - 1L
          graft.sources.TxLog.commit(s, t,
            docs.filter($"doc_id" >= loB && $"doc_id" <= hiB), append = true,
            collectTokenBlooms = Seq("text" -> 50000L))
        }
        // the corpus's rarest 3-word PHRASE (unigrams are useless here:
        // the fixture's shared vocabulary spreads every token across
        // all quartiles, which is exactly why a real corpus probe is a
        // phrase) — deterministic tie-break by spelling
        val rare = docs
          .where(size(split($"text", "\\s+")) >= 3)
          .select($"doc_id", explode(expr(
            "transform(sequence(0, size(split(text, '\\\\s+')) - 3), " +
              "i -> concat_ws(' ', slice(split(text, '\\\\s+'), i + 1, 3)))"))
            .as("gram"))
          .groupBy($"gram").agg(countDistinct($"doc_id").as("c"))
          .orderBy($"c", $"gram").limit(1)
          .collect()(0).getString(0)
        val out = graft.sources.TxLog.readWhereToken(s, t, "text", rare)
        val touched = out.inputFiles.filter(_.contains(t))
          .map(f => new org.apache.hadoop.fs.Path(f).getParent.getName).toSet
        require(touched.size <= 2,
          s"q213: token bloom must prune to ≤2 of 4 batches, touched $touched")
        out.groupBy($"lang")
          .agg(count(lit(1)).as("n"), sum($"n_chars").as("chars"))
      },
      Some("""WITH w AS (SELECT doc_id,
             |    string_split_regex(text, '\s+') AS w FROM documents),
             |g AS (SELECT doc_id, array_to_string(w[i:i+2], ' ') AS gram
             |  FROM w, unnest(range(1, len(w) - 1)) AS t(i) WHERE len(w) >= 3),
             |rare AS (SELECT gram FROM (
             |  SELECT gram, count(DISTINCT doc_id) AS c FROM g
             |  GROUP BY gram ORDER BY c, gram LIMIT 1))
             |SELECT d.lang, count(*) AS n, CAST(sum(d.n_chars) AS BIGINT) AS chars
             |FROM documents d
             |WHERE EXISTS (SELECT 1 FROM g
             |  WHERE g.doc_id = d.doc_id AND g.gram = (SELECT gram FROM rare))
             |GROUP BY d.lang""".stripMargin)),

    // ------------------------------------------------------------------
    // q214: TABLE-LEVEL persistent constraints (TxLog.addConstraint) —
    // q206's zero-trace CHECK discipline, stored ON the table: added
    // once, enforced by every later write with NO check argument. The
    // in-query requires prove persistence (a violating plain append is
    // rejected, version unmoved) and pre-validation (a constraint the
    // data already violates cannot be added). The final rollup
    // hash-matches the full table, proving the rejected writes left
    // zero trace and the accepted ones lost nothing.
    QueryDef(
      "q214_table_constraint",
      (s, dir) => {
        import s.implicits._
        val sfName = new java.io.File(dir).getName
        val t = s"${graft.GraftSession.scratchBase}/graft_txcons_$sfName"
        val fs = org.apache.hadoop.fs.FileSystem.get(s.sparkContext.hadoopConfiguration)
        fs.delete(new org.apache.hadoop.fs.Path(t), true)
        val docs = T.documents(s, dir)
        val c = docs.agg(max($"n_chars")).head.getLong(0) / 2L
        graft.sources.TxLog.addConstraint(s, t, "chars_low", s"n_chars <= $c")
        graft.sources.TxLog.commit(s, t, docs.filter($"n_chars" <= c),
          append = true)
        val v1 = graft.sources.TxLog.latestVersion(s, t)
        // a plain append (no check argument!) is gated by the STORED rule
        val rejected = scala.util.Try(
          graft.sources.TxLog.commit(s, t, docs.filter($"n_chars" > c),
            append = true))
        require(rejected.isFailure, "q214: stored constraint must gate the write")
        require(graft.sources.TxLog.latestVersion(s, t) == v1,
          "q214: a rejected write must not bump the version")
        // a constraint the resident data violates cannot be added
        require(scala.util.Try(graft.sources.TxLog.addConstraint(
          s, t, "impossible", "n_chars < 0")).isFailure,
          "q214: adding a violated constraint must fail")
        graft.sources.TxLog.dropConstraint(s, t, "chars_low")
        graft.sources.TxLog.commit(s, t, docs.filter($"n_chars" > c),
          append = true)
        graft.sources.TxLog.read(s, t).groupBy($"lang")
          .agg(count(lit(1)).as("n"), sum($"n_chars").as("chars"))
      },
      Some("""SELECT lang, CAST(count(*) AS BIGINT) AS n,
             |  CAST(sum(n_chars) AS BIGINT) AS chars
             |FROM documents GROUP BY lang""".stripMargin)),

    // ------------------------------------------------------------------
    // q215: METADATA-ONLY quantile bounds (commit(collectHistograms) +
    // TxLog.quantileBounds) — per-batch equi-width histograms with
    // integer-exact bucket arithmetic give CERTAIN [lb, ub] enclosures
    // for any rank, from a KB manifest read. The oracle is the hard
    // part and the proof: DuckDB REPLAYS the whole pipeline from the
    // flat table — quartile batch split, per-batch lo/hi, the
    // ((x−lo)·16) // (hi−lo+1) bucketing, ceil-ed bucket value ranges,
    // ceil ranks, and the two cumulative-mass bound rules — and must
    // reproduce every bound bit-for-bit. The in-query require checks
    // the bounds against true scan quantiles (certain enclosure).
    QueryDef(
      "q215_quantile_bounds",
      (s, dir) => {
        import s.implicits._
        val sfName = new java.io.File(dir).getName
        val t = s"${graft.GraftSession.scratchBase}/graft_txquant_$sfName"
        val fs = org.apache.hadoop.fs.FileSystem.get(s.sparkContext.hadoopConfiguration)
        fs.delete(new org.apache.hadoop.fs.Path(t), true)
        val docs = T.documents(s, dir)
        val q = (docs.count() / 4L).max(1L)
        (0L until 4L).foreach { i =>
          val loB = i * q
          val hiB = if (i == 3L) Long.MaxValue else (i + 1L) * q - 1L
          graft.sources.TxLog.commit(s, t,
            docs.filter($"doc_id" >= loB && $"doc_id" <= hiB), append = true,
            collectHistograms = Seq("n_chars" -> 16))
        }
        val pms = Seq(250, 500, 900)
        val bounds = graft.sources.TxLog.quantileBounds(s, t, "n_chars", pms)
          .getOrElse(sys.error("q215: histograms must be present"))
        // certain enclosure vs the true scan quantiles
        val vals = docs.select($"n_chars").as[Long].collect().sorted
        bounds.foreach { case (pm, lb, ub) =>
          val r = ((vals.length.toLong * pm + 999L) / 1000L).toInt
          val exact = vals(r - 1)
          require(lb <= exact && exact <= ub,
            s"q215: rank $pm exact $exact outside [$lb, $ub]")
        }
        bounds.toDF("pm", "lb", "ub")
      },
      Some("""WITH p AS (SELECT CAST(count(*) AS BIGINT) // 4 AS q FROM documents),
             |b AS (SELECT least(doc_id // p.q, 3) AS batch, n_chars
             |      FROM documents, p),
             |st AS (SELECT batch, min(n_chars) AS lo, max(n_chars) AS hi,
             |              hi - lo + 1 AS w FROM b GROUP BY batch),
             |bk AS (SELECT b.batch, ((b.n_chars - st.lo) * 16) // st.w AS i,
             |              CAST(count(*) AS BIGINT) AS c
             |       FROM b JOIN st USING (batch) GROUP BY 1, 2),
             |rng AS (SELECT st.lo + (bk.i * st.w + 15) // 16 AS blo,
             |               st.lo + ((bk.i + 1) * st.w + 15) // 16 - 1 AS bhi,
             |               bk.c
             |        FROM bk JOIN st USING (batch)),
             |tot AS (SELECT CAST(sum(c) AS BIGINT) AS n FROM rng),
             |qs AS (SELECT unnest([250, 500, 900]) AS pm),
             |rk AS (SELECT pm, (tot.n * pm + 999) // 1000 AS r FROM qs, tot),
             |cum AS (SELECT blo, bhi, c,
             |  CAST(sum(c) OVER (ORDER BY bhi) AS BIGINT) AS cum_hi,
             |  CAST(sum(c) OVER (ORDER BY blo) AS BIGINT)
             |    - CAST(sum(c) OVER (PARTITION BY blo) AS BIGINT)
             |    AS cum_strict_lo
             |  FROM rng)
             |SELECT rk.pm,
             |  CAST((SELECT max(blo) FROM cum WHERE cum_strict_lo < rk.r)
             |    AS BIGINT) AS lb,
             |  CAST((SELECT min(bhi) FROM cum WHERE cum_hi >= rk.r)
             |    AS BIGINT) AS ub
             |FROM rk""".stripMargin)),

    // ------------------------------------------------------------------
    // q216: MAX-SCORE-PRUNED BM25 (TextRetrieval.bm25TopKPruned) — the
    // WAND-family ESSENTIAL-TERM pruning, exactness-preserving: per-term
    // ceilings (idf × tf-part at (tfmax, dlmin)), θ = k-th certified
    // floor (dl = dlmax) over rare-term postings, and candidate
    // generation confined to terms whose cumulative ceiling reaches θ —
    // stopword posting lists never generate candidates. The synthetic
    // corpus has a UNIFORM vocabulary (no Zipf head), so the fixture
    // injects four true corpus-wide stopwords into every doc — mirrored
    // verbatim in the oracle — and each query mixes 3 content terms
    // (the doc's lexicographically-first distinct tokens) with those
    // stopwords: the web-search shape. The in-query require certifies
    // strictly fewer postings reach the scoring pipeline; the oracle
    // scores the SAME queries with q210's plain SQL — the pruned
    // operator must reproduce every (score, rank) bit-for-bit.
    QueryDef(
      "q216_bm25_maxscore",
      (s, dir) => {
        import s.implicits._
        val stops = Seq("the", "of", "and", "to")
        val docs0 = T.documents(s, dir)
        val docs = docs0.select($"doc_id",
          concat_ws(" ", $"text", lit(stops.mkString(" "))).as("text"))
        val qdocs = docs0.filter($"doc_id" % 419L === 2L)
        val content = qdocs.select($"doc_id".as("query_id"),
          explode(expr(
            """slice(filter(array_sort(array_distinct(split(text, '\\s+'))),
              |  t -> NOT t IN ('the', 'of', 'and', 'to')), 1, 3)"""
              .stripMargin.replace("\n", " "))).as("tok"))
        val queries = content.unionByName(
          qdocs.select($"doc_id".as("query_id")).crossJoin(stops.toDF("tok")))
        val (res, survPosts, allPosts) =
          graft.operators.TextRetrieval.bm25Pruned(docs, queries, 5)
        val (scored, candidates) = (survPosts.count(), allPosts.count())
        require(scored < candidates,
          s"q216: pruning must score fewer postings ($scored vs $candidates)")
        res
      },
      Some("""WITH d AS (SELECT doc_id, text || ' the of and to' AS text
             |           FROM documents),
             |toks0 AS (SELECT doc_id,
             |    unnest(string_split_regex(text, '\s+')) AS tok FROM d),
             |tk AS (SELECT * FROM toks0 WHERE length(tok) > 0),
             |tf AS (SELECT doc_id, tok, CAST(count(*) AS BIGINT) AS tf
             |       FROM tk GROUP BY 1, 2),
             |dl AS (SELECT doc_id, CAST(sum(tf) AS BIGINT) AS dl FROM tf GROUP BY 1),
             |df AS (SELECT tok, CAST(count(*) AS BIGINT) AS df FROM tf GROUP BY 1),
             |tot AS (SELECT CAST(sum(dl) AS BIGINT) AS t_total,
             |               CAST(count(*) AS BIGINT) AS n_docs FROM dl),
             |q AS (SELECT DISTINCT query_id, tok FROM (
             |    SELECT doc_id AS query_id,
             |      unnest(list_slice(list_filter(
             |        list_sort(list_distinct(string_split_regex(text, '\s+'))),
             |        t -> t NOT IN ('the', 'of', 'and', 'to')), 1, 3)) AS tok
             |    FROM documents WHERE doc_id % 419 = 2
             |    UNION ALL
             |    SELECT doc_id AS query_id, unnest(['the', 'of', 'and', 'to'])
             |    FROM documents WHERE doc_id % 419 = 2)),
             |sc AS (
             |  SELECT q.query_id, tf.doc_id,
             |    CAST(sum(
             |      CAST((CAST(1000000 AS HUGEINT) * (2 * (t.n_docs - df.df) + 1)
             |            // (2 * df.df + 1))
             |        * (CAST(88 AS HUGEINT) * t.t_total * tf.tf)
             |        // (CAST(40 AS HUGEINT) * t.t_total * tf.tf
             |           + 12 * t.t_total + 36 * dl.dl * t.n_docs)
             |      AS BIGINT)) AS BIGINT) AS score_pm
             |  FROM q JOIN tf USING (tok) JOIN df USING (tok)
             |  JOIN dl ON dl.doc_id = tf.doc_id CROSS JOIN tot t
             |  GROUP BY 1, 2)
             |SELECT query_id, doc_id, score_pm, rnk FROM (
             |  SELECT query_id, doc_id, score_pm,
             |    row_number() OVER (PARTITION BY query_id
             |      ORDER BY score_pm DESC, doc_id) AS rnk
             |  FROM sc) WHERE rnk <= 5""".stripMargin)),

    // ------------------------------------------------------------------
    // q219: HYBRID RETRIEVAL via reciprocal-rank fusion (TextRetrieval.
    // rrfFuse — Cormack et al. 2009): sparse BM25 ranks (q210's
    // operator) and dense exact-cosine ranks (q44's operator) fuse as
    // Σ 10⁹ div (60 + rank) — rank-based, so the incomparable score
    // scales need no calibration, and fixed-point integer sums keep the
    // fusion hash-verifiable. The RAG retrieval stack's default shape:
    // keyword recall + semantic recall, one fused top-k. The oracle
    // replays BOTH retrievers (q210's integer BM25 SQL, q44's exact
    // cosine SQL) and the fusion arithmetic.
    QueryDef(
      "q219_hybrid_rrf",
      (s, dir) => {
        import s.implicits._
        val docs = T.documents(s, dir)
        val emb = T.embeddings(s, dir)
        val queries = docs.filter($"doc_id" % 97L === 1L)
          .select($"doc_id".as("query_id"),
            explode(split($"text", "\\s+")).as("tok"))
          .filter(length($"tok") > 0)
        val sparse = graft.operators.TextRetrieval.bm25TopK(docs, queries, k = 20)
          .select($"query_id", $"doc_id", $"rnk")
        val dense = graft.operators.Similarity
          .cosineTopK(emb, emb.filter($"vec_id" % 97L === 1L), k = 20)
          .select($"query_id", $"neighbor_id".as("doc_id"), $"rnk")
        graft.operators.TextRetrieval.rrfFuse(Seq(sparse, dense), k = 5)
      },
      Some("""WITH toks0 AS (SELECT doc_id,
             |    unnest(string_split_regex(text, '\s+')) AS tok FROM documents),
             |tk AS (SELECT * FROM toks0 WHERE length(tok) > 0),
             |tf AS (SELECT doc_id, tok, CAST(count(*) AS BIGINT) AS tf
             |       FROM tk GROUP BY 1, 2),
             |dl AS (SELECT doc_id, CAST(sum(tf) AS BIGINT) AS dl FROM tf GROUP BY 1),
             |df AS (SELECT tok, CAST(count(*) AS BIGINT) AS df FROM tf GROUP BY 1),
             |tot AS (SELECT CAST(sum(dl) AS BIGINT) AS t_total,
             |               CAST(count(*) AS BIGINT) AS n_docs FROM dl),
             |q AS (SELECT DISTINCT doc_id AS query_id, tok FROM tk
             |      WHERE doc_id % 97 = 1),
             |sc AS (
             |  SELECT q.query_id, tf.doc_id,
             |    CAST(sum(
             |      CAST((CAST(1000000 AS HUGEINT) * (2 * (t.n_docs - df.df) + 1)
             |            // (2 * df.df + 1))
             |        * (CAST(88 AS HUGEINT) * t.t_total * tf.tf)
             |        // (CAST(40 AS HUGEINT) * t.t_total * tf.tf
             |           + 12 * t.t_total + 36 * dl.dl * t.n_docs)
             |      AS BIGINT)) AS BIGINT) AS score_pm
             |  FROM q JOIN tf USING (tok) JOIN df USING (tok)
             |  JOIN dl ON dl.doc_id = tf.doc_id CROSS JOIN tot t
             |  GROUP BY 1, 2),
             |btop AS (SELECT query_id, doc_id, row_number() OVER (
             |    PARTITION BY query_id ORDER BY score_pm DESC, doc_id) AS rnk
             |  FROM sc),
             |sims AS (
             |  SELECT qe.vec_id AS query_id, e.vec_id AS doc_id,
             |    CAST(list_dot_product(qe.embedding, e.embedding) AS DOUBLE) /
             |      (sqrt(CAST(list_dot_product(qe.embedding, qe.embedding) AS DOUBLE)) *
             |       sqrt(CAST(list_dot_product(e.embedding, e.embedding) AS DOUBLE))) AS cosine
             |  FROM embeddings qe JOIN embeddings e
             |    ON qe.vec_id % 97 = 1 AND e.vec_id <> qe.vec_id),
             |ctop AS (SELECT query_id, doc_id, row_number() OVER (
             |    PARTITION BY query_id ORDER BY cosine DESC, doc_id) AS rnk
             |  FROM sims),
             |u AS (SELECT query_id, doc_id, rnk FROM btop WHERE rnk <= 20
             |      UNION ALL
             |      SELECT query_id, doc_id, rnk FROM ctop WHERE rnk <= 20),
             |f AS (SELECT query_id, doc_id,
             |        CAST(sum(1000000000 // (60 + rnk)) AS BIGINT) AS rrf_pm
             |      FROM u GROUP BY 1, 2)
             |SELECT query_id, doc_id, rrf_pm, rnk FROM (
             |  SELECT query_id, doc_id, rrf_pm,
             |    row_number() OVER (PARTITION BY query_id
             |      ORDER BY rrf_pm DESC, doc_id) AS rnk
             |  FROM f) WHERE rnk <= 5""".stripMargin)),

    // ------------------------------------------------------------------
    // q220: INCREMENTAL cluster maintenance (Dedup.
    // connectedComponentsIncremental) — the dup-cluster state of a
    // ROLLING ingest: the corpus splits at its median doc_id into an
    // "old" half (clustered the classic way) and a delta of pairs
    // touching new docs; the incremental operator merges the delta into
    // the previous labeling through its spanning forest — one edge per
    // old NODE plus the delta, never the old edge set. The theorem
    // (labels are a spanning forest, so components of labels ∪ delta =
    // components of old ∪ delta) makes the output bit-equal to a full
    // recompute — which is exactly what the oracle does: q90's
    // recursive-CTE closure over the FULL pair graph.
    QueryDef(
      "q220_clusters_incremental",
      (s, dir) => {
        import s.implicits._
        val docs = T.documents(s, dir)
        val q = (docs.count() / 2L).max(1L)
        val pairs = graft.operators.Dedup
          .minhashPairs(docs, n = 3, nHashes = 64, nBands = 16, threshold = 0.5)
          .localCheckpoint()
        val oldPairs = pairs.filter($"id_a" < q && $"id_b" < q)
        val newPairs = pairs.filter($"id_a" >= q || $"id_b" >= q)
        val prev = graft.operators.Dedup.connectedComponents(oldPairs)
        graft.operators.Dedup.connectedComponentsIncremental(prev, newPairs)
      },
      Some(s"""WITH RECURSIVE pairs AS ($ngramPairsSql),
              |edges AS (SELECT id_a AS src, id_b AS dst FROM pairs
              |          UNION ALL SELECT id_b, id_a FROM pairs),
              |nodes AS (SELECT DISTINCT src AS id FROM edges),
              |reach(id, r) AS (
              |  SELECT id, id FROM nodes
              |  UNION
              |  SELECT e.dst, reach.r FROM reach JOIN edges e ON e.src = reach.id)
              |SELECT id, min(r) AS cluster FROM reach GROUP BY id""".stripMargin)),

    // ------------------------------------------------------------------
    // q217: FILTERED metadata-only count through the automatic rule
    // (TxAggRule histogram salvage) — a range-filtered count over a
    // txlog table answers with ZERO scans when every straddling batch's
    // equi-width histogram pins its in-range count exactly. Here the
    // histogrammed column (doc_id % 50) spans fewer values than the
    // bucket count, so every bucket is single-valued and ANY probe
    // aligns — all four batches straddle [7, 23], all four salvage.
    // The require proves the optimized plan holds no relation at all;
    // DuckDB recomputes the count from the flat table.
    QueryDef(
      "q217_filtered_meta_count",
      (s, dir) => {
        import s.implicits._
        val sfName = new java.io.File(dir).getName
        val t = s"${graft.GraftSession.scratchBase}/graft_histcnt_$sfName"
        val fs = org.apache.hadoop.fs.FileSystem.get(s.sparkContext.hadoopConfiguration)
        fs.delete(new org.apache.hadoop.fs.Path(t), true)
        val docs = T.documents(s, dir)
          .withColumn("code", $"doc_id" % 50L)
        (0L until 4L).foreach { i =>
          graft.sources.TxLog.commit(s, t,
            docs.filter($"doc_id" % 4L === i), append = true,
            collectHistograms = Seq("code" -> 64))
        }
        val out = graft.sources.TxLog.table(s, t)
          .filter($"code" >= 7L && $"code" <= 23L)
          .agg(count(lit(1)).as("n"), count($"code").as("n_code"))
        require(out.queryExecution.optimizedPlan.collect {
          case l: org.apache.spark.sql.execution.datasources.LogicalRelation => l
        }.isEmpty,
          "q217 must answer the filtered count from histograms, not a scan:\n" +
            out.queryExecution.optimizedPlan.toString.take(1500))
        out
      },
      Some("""SELECT CAST(count(*) AS BIGINT) AS n,
             |  CAST(count(*) AS BIGINT) AS n_code
             |FROM documents WHERE doc_id % 50 BETWEEN 7 AND 23""".stripMargin)),

    // ------------------------------------------------------------------
    // q221: INDEX-BACKED BM25 (TextRetrieval.buildIndex + bm25TopKIndexed
    // — round-9 ask #1): the corpus pass q210 pays inside every call is
    // paid ONCE into four TxLog tables (token-clustered postings/df,
    // doc-clustered dl, one-row totals); the query batch then reads the
    // manifest-pruned token slice and nothing corpus-scaled. Same
    // queries, same k as q210, and the oracle is q210's SQL VERBATIM —
    // the indexed path must reproduce every (score, rank) bit-for-bit.
    // The require certifies the committed layout actually prunes: one
    // term's postings read strictly fewer batches than the table holds.
    QueryDef(
      "q221_bm25_indexed",
      (s, dir) => {
        import s.implicits._
        val sfName = new java.io.File(dir).getName
        val ix = s"${graft.GraftSession.scratchBase}/graft_bm25ix_$sfName"
        val docs = T.documents(s, dir)
        buildOnce(ix)(
          graft.operators.TextRetrieval.buildIndex(s, ix, docs, batches = 32))
        val total = graft.sources.TxLog.manifest(s, s"$ix/postings").size
        val term = docs.select(explode(split($"text", "\\s+")).as("tok"))
          .filter(length($"tok") > 0).orderBy($"tok").limit(1)
          .head().getString(0)
        val one = graft.sources.TxLog
          .readWhereIn(s, s"$ix/postings", "tok", Seq(term))
        require(one.inputFiles.length < total,
          s"q221: a one-term probe must manifest-prune the postings " +
            s"(${one.inputFiles.length} of $total batches read)")
        val queries = docs.filter($"doc_id" % 211L === 3L)
          .select($"doc_id".as("query_id"),
            explode(split($"text", "\\s+")).as("tok"))
          .filter(length($"tok") > 0)
        graft.operators.TextRetrieval.bm25TopKIndexed(s, ix, queries, k = 5)
      },
      oracle = Some("""WITH toks0 AS (SELECT doc_id,
             |    unnest(string_split_regex(text, '\s+')) AS tok FROM documents),
             |tk AS (SELECT * FROM toks0 WHERE length(tok) > 0),
             |tf AS (SELECT doc_id, tok, CAST(count(*) AS BIGINT) AS tf
             |       FROM tk GROUP BY 1, 2),
             |dl AS (SELECT doc_id, CAST(sum(tf) AS BIGINT) AS dl FROM tf GROUP BY 1),
             |df AS (SELECT tok, CAST(count(*) AS BIGINT) AS df FROM tf GROUP BY 1),
             |tot AS (SELECT CAST(sum(dl) AS BIGINT) AS t_total,
             |               CAST(count(*) AS BIGINT) AS n_docs FROM dl),
             |q AS (SELECT DISTINCT doc_id AS query_id, tok FROM tk
             |      WHERE doc_id % 211 = 3),
             |sc AS (
             |  SELECT q.query_id, tf.doc_id,
             |    CAST(sum(
             |      CAST((CAST(1000000 AS HUGEINT) * (2 * (t.n_docs - df.df) + 1)
             |            // (2 * df.df + 1))
             |        * (CAST(88 AS HUGEINT) * t.t_total * tf.tf)
             |        // (CAST(40 AS HUGEINT) * t.t_total * tf.tf
             |           + 12 * t.t_total + 36 * dl.dl * t.n_docs)
             |      AS BIGINT)) AS BIGINT) AS score_pm
             |  FROM q JOIN tf USING (tok) JOIN df USING (tok)
             |  JOIN dl ON dl.doc_id = tf.doc_id CROSS JOIN tot t
             |  GROUP BY 1, 2)
             |SELECT query_id, doc_id, score_pm, rnk FROM (
             |  SELECT query_id, doc_id, score_pm,
             |    row_number() OVER (PARTITION BY query_id
             |      ORDER BY score_pm DESC, doc_id) AS rnk
             |  FROM sc) WHERE rnk <= 5""".stripMargin)),

    // ------------------------------------------------------------------
    // q222: INDEX-BACKED IVF ANN (Similarity.buildIvfIndex +
    // ivfTopKIndexed — round-9 ask #2): q53's seeded coarse quantizer
    // committed ONCE (centroids + one-batch-per-cell inverted lists);
    // queries encode only themselves and the probed cells manifest-
    // prune to exactly the touched lists. Oracle is q53's SQL VERBATIM
    // — the indexed path must reproduce assignment, probing, and rerank
    // bit-for-bit. The require certifies the per-cell layout prunes: a
    // one-cell probe reads strictly fewer batches than the table holds.
    QueryDef(
      "q222_ann_ivf_indexed",
      (s, dir) => {
        import s.implicits._
        val sfName = new java.io.File(dir).getName
        val ix = s"${graft.GraftSession.scratchBase}/graft_ivfix_$sfName"
        val emb = T.embeddings(s, dir)
        buildOnce(ix)(Similarity.buildIvfIndex(s, ix, emb, nCells = 16))
        val total = graft.sources.TxLog.manifest(s, s"$ix/cells").size
        val one = graft.sources.TxLog
          .readWhereIn(s, s"$ix/cells", "cell", Seq(0L))
        require(one.inputFiles.length < total,
          s"q222: a one-cell probe must manifest-prune the lists " +
            s"(${one.inputFiles.length} of $total batches read)")
        Similarity.ivfTopKIndexed(s, ix, emb.filter($"vec_id" < 10),
          k = 5, nProbe = 4)
      },
      oracle = Some("""WITH seeds AS (
             |  SELECT vec_id AS cell, embedding AS sv FROM embeddings WHERE vec_id < 16),
             |asg AS (
             |  SELECT e.vec_id, e.embedding, s.cell,
             |    CAST(list_dot_product(e.embedding, e.embedding) AS DOUBLE) +
             |    CAST(list_dot_product(s.sv, s.sv) AS DOUBLE) -
             |    2.0 * CAST(list_dot_product(e.embedding, s.sv) AS DOUBLE) AS d2
             |  FROM embeddings e CROSS JOIN seeds s),
             |cells AS (
             |  SELECT vec_id AS neighbor_id, cell FROM (
             |    SELECT vec_id, cell, row_number() OVER (PARTITION BY vec_id ORDER BY d2, cell) AS r
             |    FROM asg) t WHERE r = 1),
             |probes AS (
             |  SELECT vec_id AS query_id, cell FROM (
             |    SELECT vec_id, cell, row_number() OVER (PARTITION BY vec_id ORDER BY d2, cell) AS r
             |    FROM asg WHERE vec_id < 10) t WHERE r <= 4),
             |cand AS (
             |  SELECT DISTINCT p.query_id, c.neighbor_id
             |  FROM probes p JOIN cells c ON p.cell = c.cell
             |  WHERE c.neighbor_id <> p.query_id),
             |sims AS (
             |  SELECT cand.query_id, cand.neighbor_id,
             |    CAST(list_dot_product(q.embedding, c.embedding) AS DOUBLE) /
             |      (sqrt(CAST(list_dot_product(q.embedding, q.embedding) AS DOUBLE)) *
             |       sqrt(CAST(list_dot_product(c.embedding, c.embedding) AS DOUBLE))) AS cosine
             |  FROM cand
             |  JOIN embeddings q ON q.vec_id = cand.query_id
             |  JOIN embeddings c ON c.vec_id = cand.neighbor_id),
             |ranked AS (
             |  SELECT query_id, neighbor_id, cosine,
             |    row_number() OVER (PARTITION BY query_id
             |                       ORDER BY cosine DESC, neighbor_id) AS rnk
             |  FROM sims)
             |SELECT query_id, neighbor_id, cosine, rnk FROM ranked WHERE rnk <= 5""".stripMargin)),

    // ------------------------------------------------------------------
    // q223: INDEX-BACKED RAG RETRIEVAL (round-9 ask #5) — the full
    // hybrid stack with ZERO corpus passes at query time: sparse BM25
    // from the q221 inverted index, dense ANN from the q222 IVF index,
    // fused by reciprocal-rank fusion (q219's combiner). One build,
    // then every query batch is manifest-pruned point reads + bounded
    // joins. The oracle replays BOTH retrievers (q210's integer BM25,
    // q53's IVF probe/rerank — the TRUE pruned dense path, not the
    // exhaustive one) and the RRF arithmetic, so the whole indexed
    // pipeline hash-verifies end-to-end.
    QueryDef(
      "q223_rag_indexed",
      (s, dir) => {
        import s.implicits._
        val sfName = new java.io.File(dir).getName
        val tix = s"${graft.GraftSession.scratchBase}/graft_ragtix_$sfName"
        val vix = s"${graft.GraftSession.scratchBase}/graft_ragvix_$sfName"
        val docs = T.documents(s, dir)
        val emb = T.embeddings(s, dir)
        buildOnce(tix)(
          graft.operators.TextRetrieval.buildIndex(s, tix, docs, batches = 32))
        buildOnce(vix)(Similarity.buildIvfIndex(s, vix, emb, nCells = 16))
        val queries = docs.filter($"doc_id" % 97L === 1L)
          .select($"doc_id".as("query_id"),
            explode(split($"text", "\\s+")).as("tok"))
          .filter(length($"tok") > 0)
        val sparse = graft.operators.TextRetrieval
          .bm25TopKIndexed(s, tix, queries, k = 20)
          .select($"query_id", $"doc_id", $"rnk")
        val dense = Similarity
          .ivfTopKIndexed(s, vix, emb.filter($"vec_id" % 97L === 1L),
            k = 20, nProbe = 4)
          .select($"query_id", $"neighbor_id".as("doc_id"), $"rnk")
        graft.operators.TextRetrieval.rrfFuse(Seq(sparse, dense), k = 5)
      },
      headline = true,
      oracle = Some("""WITH toks0 AS (SELECT doc_id,
             |    unnest(string_split_regex(text, '\s+')) AS tok FROM documents),
             |tk AS (SELECT * FROM toks0 WHERE length(tok) > 0),
             |tf AS (SELECT doc_id, tok, CAST(count(*) AS BIGINT) AS tf
             |       FROM tk GROUP BY 1, 2),
             |dl AS (SELECT doc_id, CAST(sum(tf) AS BIGINT) AS dl FROM tf GROUP BY 1),
             |df AS (SELECT tok, CAST(count(*) AS BIGINT) AS df FROM tf GROUP BY 1),
             |tot AS (SELECT CAST(sum(dl) AS BIGINT) AS t_total,
             |               CAST(count(*) AS BIGINT) AS n_docs FROM dl),
             |q AS (SELECT DISTINCT doc_id AS query_id, tok FROM tk
             |      WHERE doc_id % 97 = 1),
             |sc AS (
             |  SELECT q.query_id, tf.doc_id,
             |    CAST(sum(
             |      CAST((CAST(1000000 AS HUGEINT) * (2 * (t.n_docs - df.df) + 1)
             |            // (2 * df.df + 1))
             |        * (CAST(88 AS HUGEINT) * t.t_total * tf.tf)
             |        // (CAST(40 AS HUGEINT) * t.t_total * tf.tf
             |           + 12 * t.t_total + 36 * dl.dl * t.n_docs)
             |      AS BIGINT)) AS BIGINT) AS score_pm
             |  FROM q JOIN tf USING (tok) JOIN df USING (tok)
             |  JOIN dl ON dl.doc_id = tf.doc_id CROSS JOIN tot t
             |  GROUP BY 1, 2),
             |btop AS (SELECT query_id, doc_id, row_number() OVER (
             |    PARTITION BY query_id ORDER BY score_pm DESC, doc_id) AS rnk
             |  FROM sc),
             |seeds AS (
             |  SELECT vec_id AS cell, embedding AS sv FROM embeddings WHERE vec_id < 16),
             |asg AS (
             |  SELECT e.vec_id, e.embedding, s.cell,
             |    CAST(list_dot_product(e.embedding, e.embedding) AS DOUBLE) +
             |    CAST(list_dot_product(s.sv, s.sv) AS DOUBLE) -
             |    2.0 * CAST(list_dot_product(e.embedding, s.sv) AS DOUBLE) AS d2
             |  FROM embeddings e CROSS JOIN seeds s),
             |vcells AS (
             |  SELECT vec_id AS neighbor_id, cell FROM (
             |    SELECT vec_id, cell, row_number() OVER (PARTITION BY vec_id ORDER BY d2, cell) AS r
             |    FROM asg) t WHERE r = 1),
             |probes AS (
             |  SELECT vec_id AS query_id, cell FROM (
             |    SELECT vec_id, cell, row_number() OVER (PARTITION BY vec_id ORDER BY d2, cell) AS r
             |    FROM asg WHERE vec_id % 97 = 1) t WHERE r <= 4),
             |cand AS (
             |  SELECT DISTINCT p.query_id, c.neighbor_id
             |  FROM probes p JOIN vcells c ON p.cell = c.cell
             |  WHERE c.neighbor_id <> p.query_id),
             |sims AS (
             |  SELECT cand.query_id, cand.neighbor_id,
             |    CAST(list_dot_product(qe.embedding, ce.embedding) AS DOUBLE) /
             |      (sqrt(CAST(list_dot_product(qe.embedding, qe.embedding) AS DOUBLE)) *
             |       sqrt(CAST(list_dot_product(ce.embedding, ce.embedding) AS DOUBLE))) AS cosine
             |  FROM cand
             |  JOIN embeddings qe ON qe.vec_id = cand.query_id
             |  JOIN embeddings ce ON ce.vec_id = cand.neighbor_id),
             |ctop AS (SELECT query_id, neighbor_id AS doc_id, row_number() OVER (
             |    PARTITION BY query_id ORDER BY cosine DESC, neighbor_id) AS rnk
             |  FROM sims),
             |u AS (SELECT query_id, doc_id, rnk FROM btop WHERE rnk <= 20
             |      UNION ALL
             |      SELECT query_id, doc_id, rnk FROM ctop WHERE rnk <= 20),
             |f AS (SELECT query_id, doc_id,
             |        CAST(sum(1000000000 // (60 + rnk)) AS BIGINT) AS rrf_pm
             |      FROM u GROUP BY 1, 2)
             |SELECT query_id, doc_id, rrf_pm, rnk FROM (
             |  SELECT query_id, doc_id, rrf_pm,
             |    row_number() OVER (PARTITION BY query_id
             |      ORDER BY rrf_pm DESC, doc_id) AS rnk
             |  FROM f) WHERE rnk <= 5""".stripMargin)),

    // ------------------------------------------------------------------
    // q224: MAX-SCORE PRUNING OVER THE COMMITTED INDEX
    // (TextRetrieval.bm25TopKPrunedIndexed) — q216's essential-terms
    // exactness-preserving pruning composed with q221's persistent
    // index: the bounds pass reads ONE committed totals row (t_total,
    // n_docs, dlmin, dlmax) and the query vocabulary's manifest-pruned
    // postings — zero corpus passes anywhere, even for θ. Same
    // stopword-injected fixture and query mix as q216, and the oracle
    // is q216's SQL verbatim: the indexed+pruned path must reproduce
    // every (score, rank) bit-for-bit. The require certifies pruning
    // still fires through the index (fewer postings scored than the
    // query vocabulary's candidate postings).
    QueryDef(
      "q224_bm25_maxscore_indexed",
      (s, dir) => {
        import s.implicits._
        val stops = Seq("the", "of", "and", "to")
        val docs0 = T.documents(s, dir)
        val docs = docs0.select($"doc_id",
          concat_ws(" ", $"text", lit(stops.mkString(" "))).as("text"))
        val sfName = new java.io.File(dir).getName
        val ix = s"${graft.GraftSession.scratchBase}/graft_bm25pix_$sfName"
        buildOnce(ix)(
          graft.operators.TextRetrieval.buildIndex(s, ix, docs, batches = 32))
        val qdocs = docs0.filter($"doc_id" % 419L === 2L)
        val content = qdocs.select($"doc_id".as("query_id"),
          explode(expr(
            """slice(filter(array_sort(array_distinct(split(text, '\\s+'))),
              |  t -> NOT t IN ('the', 'of', 'and', 'to')), 1, 3)"""
              .stripMargin.replace("\n", " "))).as("tok"))
        val queries = content.unionByName(
          qdocs.select($"doc_id".as("query_id")).crossJoin(stops.toDF("tok")))
        val (res, survPosts, allPosts) =
          graft.operators.TextRetrieval.bm25PrunedIndexed(s, ix, queries, 5)
        val (scored, candidates) = (survPosts.count(), allPosts.count())
        require(scored < candidates,
          s"q224: pruning must score fewer postings ($scored vs $candidates)")
        res
      },
      Some("""WITH d AS (SELECT doc_id, text || ' the of and to' AS text
             |           FROM documents),
             |toks0 AS (SELECT doc_id,
             |    unnest(string_split_regex(text, '\s+')) AS tok FROM d),
             |tk AS (SELECT * FROM toks0 WHERE length(tok) > 0),
             |tf AS (SELECT doc_id, tok, CAST(count(*) AS BIGINT) AS tf
             |       FROM tk GROUP BY 1, 2),
             |dl AS (SELECT doc_id, CAST(sum(tf) AS BIGINT) AS dl FROM tf GROUP BY 1),
             |df AS (SELECT tok, CAST(count(*) AS BIGINT) AS df FROM tf GROUP BY 1),
             |tot AS (SELECT CAST(sum(dl) AS BIGINT) AS t_total,
             |               CAST(count(*) AS BIGINT) AS n_docs FROM dl),
             |q AS (SELECT DISTINCT query_id, tok FROM (
             |    SELECT doc_id AS query_id,
             |      unnest(list_slice(list_filter(
             |        list_sort(list_distinct(string_split_regex(text, '\s+'))),
             |        t -> t NOT IN ('the', 'of', 'and', 'to')), 1, 3)) AS tok
             |    FROM documents WHERE doc_id % 419 = 2
             |    UNION ALL
             |    SELECT doc_id AS query_id, unnest(['the', 'of', 'and', 'to'])
             |    FROM documents WHERE doc_id % 419 = 2)),
             |sc AS (
             |  SELECT q.query_id, tf.doc_id,
             |    CAST(sum(
             |      CAST((CAST(1000000 AS HUGEINT) * (2 * (t.n_docs - df.df) + 1)
             |            // (2 * df.df + 1))
             |        * (CAST(88 AS HUGEINT) * t.t_total * tf.tf)
             |        // (CAST(40 AS HUGEINT) * t.t_total * tf.tf
             |           + 12 * t.t_total + 36 * dl.dl * t.n_docs)
             |      AS BIGINT)) AS BIGINT) AS score_pm
             |  FROM q JOIN tf USING (tok) JOIN df USING (tok)
             |  JOIN dl ON dl.doc_id = tf.doc_id CROSS JOIN tot t
             |  GROUP BY 1, 2)
             |SELECT query_id, doc_id, score_pm, rnk FROM (
             |  SELECT query_id, doc_id, score_pm,
             |    row_number() OVER (PARTITION BY query_id
             |      ORDER BY score_pm DESC, doc_id) AS rnk
             |  FROM sc) WHERE rnk <= 5""".stripMargin)),

    // ------------------------------------------------------------------
    // q225: DELETE FROM THE COMMITTED INDEX (TextRetrieval.
    // removeFromIndex) — the lifecycle's last verb: postings/dl rows of
    // the doomed docs TOMBSTONE merge-on-read (mergeVectored: every
    // data file carries forward, one vector sidecar), df/totals
    // recompute from the post-delete truth, and the SAME indexed query
    // path then answers exactly as an index built on the survivors.
    // The requires prove the merge-on-read execution claim (postings
    // batch dirs carried verbatim, all four tables bump one version in
    // lockstep); the oracle replays q210's BM25 over the survivor
    // corpus — deleted docs must vanish from scores AND from df/dl/
    // totals, not merely from the output rows.
    QueryDef(
      "q225_bm25_index_delete",
      (s, dir) => {
        import s.implicits._
        val sfName = new java.io.File(dir).getName
        val ix = s"${graft.GraftSession.scratchBase}/graft_bm25del_$sfName"
        val docs = T.documents(s, dir)
        graft.operators.TextRetrieval.buildIndex(s, ix, docs, batches = 16)
        val before = graft.sources.TxLog.manifest(s, s"$ix/postings").map(_._1)
        graft.operators.TextRetrieval.removeFromIndex(s, ix,
          docs.filter($"doc_id" % 9L === 5L).select($"doc_id"))
        val after = graft.sources.TxLog.manifest(s, s"$ix/postings").map(_._1)
        require(after == before,
          s"q225: delete must tombstone, not rewrite ($before vs $after)")
        Seq("postings", "dl", "df", "totals").foreach { t =>
          val v = graft.sources.TxLog.latestVersion(s, s"$ix/$t")
          require(v == 2L, s"q225: $t at v$v, lockstep broken")
        }
        val queries = docs.filter($"doc_id" % 211L === 3L)
          .select($"doc_id".as("query_id"),
            explode(split($"text", "\\s+")).as("tok"))
          .filter(length($"tok") > 0)
        graft.operators.TextRetrieval.bm25TopKIndexed(s, ix, queries, k = 5)
      },
      oracle = Some("""WITH d AS (SELECT * FROM documents WHERE doc_id % 9 <> 5),
             |toks0 AS (SELECT doc_id,
             |    unnest(string_split_regex(text, '\s+')) AS tok FROM d),
             |tk AS (SELECT * FROM toks0 WHERE length(tok) > 0),
             |tf AS (SELECT doc_id, tok, CAST(count(*) AS BIGINT) AS tf
             |       FROM tk GROUP BY 1, 2),
             |dl AS (SELECT doc_id, CAST(sum(tf) AS BIGINT) AS dl FROM tf GROUP BY 1),
             |df AS (SELECT tok, CAST(count(*) AS BIGINT) AS df FROM tf GROUP BY 1),
             |tot AS (SELECT CAST(sum(dl) AS BIGINT) AS t_total,
             |               CAST(count(*) AS BIGINT) AS n_docs FROM dl),
             |q AS (SELECT DISTINCT doc_id AS query_id, tok FROM (
             |    SELECT doc_id,
             |      unnest(string_split_regex(text, '\s+')) AS tok
             |    FROM documents WHERE doc_id % 211 = 3) t0
             |    WHERE length(tok) > 0),
             |sc AS (
             |  SELECT q.query_id, tf.doc_id,
             |    CAST(sum(
             |      CAST((CAST(1000000 AS HUGEINT) * (2 * (t.n_docs - df.df) + 1)
             |            // (2 * df.df + 1))
             |        * (CAST(88 AS HUGEINT) * t.t_total * tf.tf)
             |        // (CAST(40 AS HUGEINT) * t.t_total * tf.tf
             |           + 12 * t.t_total + 36 * dl.dl * t.n_docs)
             |      AS BIGINT)) AS BIGINT) AS score_pm
             |  FROM q JOIN tf USING (tok) JOIN df USING (tok)
             |  JOIN dl ON dl.doc_id = tf.doc_id CROSS JOIN tot t
             |  GROUP BY 1, 2)
             |SELECT query_id, doc_id, score_pm, rnk FROM (
             |  SELECT query_id, doc_id, score_pm,
             |    row_number() OVER (PARTITION BY query_id
             |      ORDER BY score_pm DESC, doc_id) AS rnk
             |  FROM sc) WHERE rnk <= 5""".stripMargin)),

    // ------------------------------------------------------------------
    // q226: IVF-PQ ANN (Similarity.ivfPqTopK — Jégou et al. 2011 §V
    // "IVFADC", the FAISS IndexIVFPQ composition, by_residual=false):
    // q53's seeded coarse quantizer CONFINES the scan to the probed
    // cells' lists, q162's product codes shrink what that scan reads
    // per vector — the two approximations compose, then the exact
    // rerank of the k·4 ADC survivors restores precision over the
    // candidate set. The oracle replays assignment → probing →
    // encoding → per-cell ADC → rerank with identical float-dot
    // arithmetic and tie rules, so BOTH approximation axes
    // hash-verify.
    QueryDef(
      "q226_ann_ivfpq",
      (s, dir) => {
        import s.implicits._
        val emb = T.embeddings(s, dir)
        Similarity.ivfPqTopK(emb, emb.filter($"vec_id" < 10), k = 5)
      },
      Some(ivfPqSql)),

    // ------------------------------------------------------------------
    // q227: INDEX-BACKED IVF-PQ (Similarity.buildIvfPqIndex +
    // ivfPqTopKIndexed): the composition committed once — frozen
    // centroids + codebook, one-batch-per-cell code lists (the ADC
    // scan manifest-prunes to the probed fraction AND reads m codes
    // per vector, never the float payload), id-clustered raw vectors
    // for the rerank's point reads. Oracle is q226's SQL VERBATIM —
    // the indexed path must reproduce every (cosine, rank)
    // bit-for-bit. The require certifies the per-cell layout prunes.
    QueryDef(
      "q227_ann_ivfpq_indexed",
      (s, dir) => {
        import s.implicits._
        val sfName = new java.io.File(dir).getName
        val ix = s"${graft.GraftSession.scratchBase}/graft_ivfpqix_$sfName"
        val emb = T.embeddings(s, dir)
        buildOnce(ix)(Similarity.buildIvfPqIndex(s, ix, emb))
        val total = graft.sources.TxLog.manifest(s, s"$ix/cellcodes").size
        val one = graft.sources.TxLog
          .readWhereIn(s, s"$ix/cellcodes", "cell", Seq(0L))
        require(one.inputFiles.length < total,
          s"q227: a one-cell probe must manifest-prune the code lists " +
            s"(${one.inputFiles.length} of $total batches read)")
        Similarity.ivfPqTopKIndexed(s, ix, emb.filter($"vec_id" < 10), k = 5)
      },
      Some(ivfPqSql)),

    // ------------------------------------------------------------------
    // q228: EXACT-PHRASE TOP-K (TextRetrieval.phraseTopK) — positional
    // retrieval: "these words ADJACENT, in THIS order", the semantics
    // term-at-a-time BM25 cannot express. One corpus tokenization with
    // 1-based positions, map-side semi-join against the broadcast
    // phrase vocabulary, then the classic alignment count: position p
    // matching term j witnesses start p−j+1, and a start witnessed by
    // all n terms is an occurrence. Docs rank by occurrence count.
    // Queries are the first-3-token phrase of every 97th doc (each
    // matches its own source doc at least once — self-matches are
    // REAL phrase hits and stay in).
    QueryDef(
      "q228_phrase_topk",
      (s, dir) => {
        import s.implicits._
        val docs = T.documents(s, dir)
        val phrases = docs.filter($"doc_id" % 97L === 1L)
          .select($"doc_id".as("query_id"),
            concat_ws(" ", slice(filter(split($"text", "\\s+"),
              t => length(t) > lit(0)), 1, 3)).as("phrase"))
        graft.operators.TextRetrieval.phraseTopK(docs, phrases, k = 5)
      },
      Some(phraseSql)),

    // ------------------------------------------------------------------
    // q229: INDEX-BACKED PHRASE SEARCH (TextRetrieval.
    // buildPositionalIndex + phraseTopKIndexed): the positional
    // postings (tok, doc_id, p) committed once, token-clustered; the
    // phrase's vocabulary manifest-prunes the table and the alignment
    // join runs over the touched posting lists only. Oracle is q228's
    // SQL VERBATIM. The require certifies the clustered layout prunes.
    QueryDef(
      "q229_phrase_indexed",
      (s, dir) => {
        import s.implicits._
        val sfName = new java.io.File(dir).getName
        val ix = s"${graft.GraftSession.scratchBase}/graft_posix_$sfName"
        val docs = T.documents(s, dir)
        buildOnce(ix)(graft.operators.TextRetrieval
          .buildPositionalIndex(s, ix, docs, batches = 32))
        val total = graft.sources.TxLog.manifest(s, s"$ix/postings_pos").size
        val term = docs.select(explode(split($"text", "\\s+")).as("tok"))
          .filter(length($"tok") > 0).orderBy($"tok").limit(1)
          .head().getString(0)
        val one = graft.sources.TxLog
          .readWhereIn(s, s"$ix/postings_pos", "tok", Seq(term))
        require(one.inputFiles.length < total,
          s"q229: a one-term probe must manifest-prune the positions " +
            s"(${one.inputFiles.length} of $total batches read)")
        val phrases = docs.filter($"doc_id" % 97L === 1L)
          .select($"doc_id".as("query_id"),
            concat_ws(" ", slice(filter(split($"text", "\\s+"),
              t => length(t) > lit(0)), 1, 3)).as("phrase"))
        graft.operators.TextRetrieval.phraseTopKIndexed(s, ix, phrases, k = 5)
      },
      Some(phraseSql)),

    // ------------------------------------------------------------------
    // q230: CHANGE FEED (TxLog.changeFeed — Delta's `table_changes`/CDF):
    // the incremental-consumer read. Four versions: v1 base commit, v2
    // append, v3 merge-on-read DV delete, v4 purgeDeletes. The feed over
    // (1,4] must emit v2's rows as inserts (metadata-only append fast
    // path), v3's tombstoned rows as deletes (row-level diff of the
    // touched batches only), and NOTHING for v4 — physical
    // reorganization is invisible to CDC semantics by construction
    // (the purged rewrite's live content equals the DV-masked old
    // content, so the exceptAll diff cancels). The oracle states the
    // logical truth directly from the source table; no caching — the
    // requires pin exact version counts from a fresh build.
    QueryDef(
      "q230_change_feed",
      (s, dir) => {
        import s.implicits._
        val sfName = new java.io.File(dir).getName
        val t = s"${graft.GraftSession.scratchBase}/graft_cdf_$sfName"
        val p = new org.apache.hadoop.fs.Path(t)
        p.getFileSystem(s.sparkContext.hadoopConfiguration).delete(p, true)
        val orders = T.orders(s, dir)
          .select($"o_orderkey", $"o_custkey", $"o_totalprice")
        graft.sources.TxLog.commit(s, t, orders.filter($"o_orderkey" % 4L < 2L))
        graft.sources.TxLog.commit(s, t,
          orders.filter($"o_orderkey" % 4L >= 2L), append = true)
        graft.sources.TxLog.deleteVectored(s, t, "o_custkey",
          Some(100L), Some(200L))
        graft.sources.TxLog.purgeDeletes(s, t)
        require(graft.sources.TxLog.latestVersion(s, t) == 4L,
          "q230: expected exactly 4 versions")
        graft.sources.TxLog.changeFeed(s, t, 1L, 4L)
      },
      Some("""SELECT o_orderkey, o_custkey, o_totalprice,
             |  'insert' AS _change_type, CAST(2 AS BIGINT) AS _commit_version
             |FROM orders WHERE o_orderkey % 4 >= 2
             |UNION ALL
             |SELECT o_orderkey, o_custkey, o_totalprice,
             |  'delete', 3 FROM orders
             |WHERE o_custkey BETWEEN 100 AND 200""".stripMargin)),

    // ------------------------------------------------------------------
    // q231: FEED-MAINTAINED AGGREGATE VIEW (Cdc.maintainAggView): the
    // persistent materialized aggregate kept current from the change
    // feed — each maintain call folds only the versions committed since
    // the last one (inserts add, deletes subtract), never rescanning
    // the source; the watermark rides in the view so fold+record commit
    // atomically (exactly-once with no side ledger). The view is
    // maintained across a five-version history (base, maintain, append,
    // DV delete, purge, maintain) and must equal the oracle's fresh
    // aggregate over the live survivors bit-for-bit. Integer-sum value
    // column: cross-engine exact.
    QueryDef(
      "q231_feed_maintained_view",
      (s, dir) => {
        import s.implicits._
        val sfName = new java.io.File(dir).getName
        val t = s"${graft.GraftSession.scratchBase}/graft_mav_$sfName"
        val v = s"${graft.GraftSession.scratchBase}/graft_mavview_$sfName"
        Seq(t, v).foreach { d =>
          val p = new org.apache.hadoop.fs.Path(d)
          p.getFileSystem(s.sparkContext.hadoopConfiguration).delete(p, true)
        }
        val orders = T.orders(s, dir)
          .select($"o_orderkey", $"o_custkey", $"o_orderpriority")
        graft.sources.TxLog.commit(s, t, orders.filter($"o_orderkey" % 4L < 2L))
        // maintain mid-history: the second call must fold ONLY (1, 4]
        require(graft.operators.Cdc.maintainAggView(s, t, v,
          Seq("o_orderpriority"), "o_custkey").contains(1L), "q231: first fold")
        graft.sources.TxLog.commit(s, t,
          orders.filter($"o_orderkey" % 4L >= 2L), append = true)
        graft.sources.TxLog.deleteVectored(s, t, "o_custkey",
          Some(100L), Some(200L))
        graft.sources.TxLog.purgeDeletes(s, t)
        require(graft.operators.Cdc.maintainAggView(s, t, v,
          Seq("o_orderpriority"), "o_custkey").contains(4L), "q231: catch-up fold")
        require(graft.operators.Cdc.maintainAggView(s, t, v,
          Seq("o_orderpriority"), "o_custkey").isEmpty, "q231: replay must no-op")
        graft.sources.TxLog.read(s, v).drop("_maintained_to", "_nn")
      },
      Some("""SELECT o_orderpriority, count(*) AS n,
             |  CAST(sum(o_custkey) AS BIGINT) AS total
             |FROM orders
             |WHERE o_custkey NOT BETWEEN 100 AND 200
             |GROUP BY 1""".stripMargin)),

    // ------------------------------------------------------------------
    // q232: PROXIMITY TOP-K (TextRetrieval.proximityTopK) — "all these
    // words NEAR each other", the retrieval semantics between exact
    // phrase (q228: ordered, adjacent) and BM25's bag of words (q210:
    // anywhere in the doc). An anchor position matches when the
    // 8-token window starting there holds all n distinct query terms,
    // any order; docs rank by matching-anchor count. All integer
    // arithmetic — hash-verifies cross-engine.
    QueryDef(
      "q232_proximity_topk",
      (s, dir) => {
        import s.implicits._
        val docs = T.documents(s, dir)
        val q = docs.filter($"doc_id" % 97L === 1L)
          .select($"doc_id".as("query_id"),
            explode(slice(filter(split($"text", "\\s+"),
              t => length(t) > lit(0)), 1, 3)).as("tok"))
        graft.operators.TextRetrieval.proximityTopK(docs, q, window = 8, k = 5)
      },
      Some(proximitySql)),

    // ------------------------------------------------------------------
    // q233: INDEX-BACKED PROXIMITY — answered from the SAME committed
    // positional index q229 reads (one positions table serves exact
    // phrase AND proximity, the Lucene positions-file economics): the
    // query vocabulary manifest-prunes the token-clustered postings,
    // the window band-join runs over the touched lists only. Oracle is
    // q232's SQL VERBATIM — bit-identical through the index path.
    QueryDef(
      "q233_proximity_indexed",
      (s, dir) => {
        import s.implicits._
        val sfName = new java.io.File(dir).getName
        val ix = s"${graft.GraftSession.scratchBase}/graft_posix_$sfName"
        val docs = T.documents(s, dir)
        buildOnce(ix)(graft.operators.TextRetrieval
          .buildPositionalIndex(s, ix, docs, batches = 32))
        val q = docs.filter($"doc_id" % 97L === 1L)
          .select($"doc_id".as("query_id"),
            explode(slice(filter(split($"text", "\\s+"),
              t => length(t) > lit(0)), 1, 3)).as("tok"))
        graft.operators.TextRetrieval.proximityTopKIndexed(s, ix, q,
          window = 8, k = 5)
      },
      Some(proximitySql)),

    // ------------------------------------------------------------------
    // q234: ENGINE-FREE TxLog CONSUMER (PointerCatalog.saveDuckDbTxViews
    // — round-9 verdict #6): the reference's consumer contract is
    // "attach the pointer DB, no pipeline software needed"
    // (data/src/utils/duckdb.py:40-84); this extends it to lakehouse
    // tables. The builder commits a two-batch table, DV-deletes a key
    // range (vectors LEFT IN PLACE — the hard case), emits the DuckDB
    // view artifact, and returns Spark's TxLog.read. The ORACLE IS THE
    // ARTIFACT: the dumped SQL is the generated view body verbatim
    // (late-bound — the batch-dir names exist only post-build), so the
    // driver's DuckDB executes the engine-free read over the very same
    // parquet files, tombstone anti-join included, and the hash compare
    // proves a Spark-less consumer sees the exact committed snapshot.
    QueryDef(
      "q234_duckdb_tx_view",
      (s, dir) => {
        import s.implicits._
        val base = s"${graft.GraftSession.scratchBase}/graft_duckcat"
        val t = s"$base/orders_tx"
        val p = new org.apache.hadoop.fs.Path(base)
        p.getFileSystem(s.sparkContext.hadoopConfiguration).delete(p, true)
        val orders = T.orders(s, dir)
          .select($"o_orderkey", $"o_custkey", $"o_totalprice")
        graft.sources.TxLog.commit(s, t, orders.filter($"o_orderkey" % 4L < 2L))
        graft.sources.TxLog.commit(s, t,
          orders.filter($"o_orderkey" % 4L >= 2L), append = true)
        graft.sources.TxLog.deleteVectored(s, t, "o_custkey",
          Some(100L), Some(200L))
        graft.sources.PointerCatalog.saveDuckDbTxViews(s,
          s"$base/views.sql", Map("orders_tx" -> t))
        graft.sources.TxLog.read(s, t)
      },
      None,
      oracleLazy = Some(() => duckDbTxViewOracle)),

    // ------------------------------------------------------------------
    // q235: SQL TABLE-VALUED SNAPSHOT (graft_snapshot TVF, injected via
    // GraftExtensions): a SQL-only analyst time-travels the lakehouse —
    // `FROM graft_snapshot(dir, 1)` pins version 1 (the pre-append
    // half) and composes with ordinary GROUP BY. The oracle states the
    // same aggregate over the snapshot's defining predicate.
    QueryDef(
      "q235_sql_snapshot",
      (s, dir) => {
        val sfName = new java.io.File(dir).getName
        val t = s"${graft.GraftSession.scratchBase}/graft_tvfsnap_$sfName"
        val p = new org.apache.hadoop.fs.Path(t)
        p.getFileSystem(s.sparkContext.hadoopConfiguration).delete(p, true)
        import s.implicits._
        val orders = T.orders(s, dir)
          .select($"o_orderkey", $"o_custkey", $"o_orderpriority")
        graft.sources.TxLog.commit(s, t, orders.filter($"o_orderkey" % 4L < 2L))
        graft.sources.TxLog.commit(s, t,
          orders.filter($"o_orderkey" % 4L >= 2L), append = true)
        s.sql(s"""SELECT o_orderpriority, count(*) AS n,
                 |  CAST(sum(o_custkey) AS BIGINT) AS total
                 |FROM graft_snapshot('$t', 1)
                 |GROUP BY o_orderpriority""".stripMargin)
      },
      Some("""SELECT o_orderpriority, count(*) AS n,
             |  CAST(sum(o_custkey) AS BIGINT) AS total
             |FROM orders WHERE o_orderkey % 4 < 2
             |GROUP BY 1""".stripMargin)),

    // ------------------------------------------------------------------
    // q236: SQL CDC READ (graft_changes TVF) — q230's change-feed
    // semantics reached from pure SQL: same four-version history
    // (append / append / DV delete / purge), the feed read as
    // `FROM graft_changes(dir, 1, 4)`. Oracle is q230's logical truth
    // verbatim — the TVF must answer bit-identically to the Scala API.
    QueryDef(
      "q236_sql_changes",
      (s, dir) => {
        import s.implicits._
        val sfName = new java.io.File(dir).getName
        val t = s"${graft.GraftSession.scratchBase}/graft_tvfcdf_$sfName"
        val p = new org.apache.hadoop.fs.Path(t)
        p.getFileSystem(s.sparkContext.hadoopConfiguration).delete(p, true)
        val orders = T.orders(s, dir)
          .select($"o_orderkey", $"o_custkey", $"o_totalprice")
        graft.sources.TxLog.commit(s, t, orders.filter($"o_orderkey" % 4L < 2L))
        graft.sources.TxLog.commit(s, t,
          orders.filter($"o_orderkey" % 4L >= 2L), append = true)
        graft.sources.TxLog.deleteVectored(s, t, "o_custkey",
          Some(100L), Some(200L))
        graft.sources.TxLog.purgeDeletes(s, t)
        s.sql(s"SELECT * FROM graft_changes('$t', 1, 4)")
      },
      Some("""SELECT o_orderkey, o_custkey, o_totalprice,
             |  'insert' AS _change_type, CAST(2 AS BIGINT) AS _commit_version
             |FROM orders WHERE o_orderkey % 4 >= 2
             |UNION ALL
             |SELECT o_orderkey, o_custkey, o_totalprice,
             |  'delete', 3 FROM orders
             |WHERE o_custkey BETWEEN 100 AND 200""".stripMargin)),

    // ------------------------------------------------------------------
    // q237: DETERMINISTIC SHARD EXPORT (TrainingPrep.shardAssign) — the
    // dataloader handoff: seeded md5-u32 hash assigns every doc to one
    // of 7 shards and a stable within-shard position, so the training
    // order is a pure function of (seed, ids) — identical across
    // cluster sizes, partitionings, retries, and engines. The oracle
    // replays the hash digit-by-digit and the same shard window.
    QueryDef(
      "q237_shard_export",
      (s, dir) => graft.operators.TrainingPrep.shardAssign(
        T.documents(s, dir).select(col("doc_id")), nShards = 7, seed = 42L),
      Some(s"""WITH h AS (
              |  SELECT doc_id, ${u32Sql("'42#' || CAST(doc_id AS VARCHAR)")} AS hv
              |  FROM documents)
              |SELECT doc_id, hv % 7 AS shard,
              |  CAST(row_number() OVER (PARTITION BY hv % 7
              |    ORDER BY hv, doc_id) AS BIGINT) AS shard_pos
              |FROM h""".stripMargin)),

    // ------------------------------------------------------------------
    // q238: MULTI-TABLE ATOMIC COMMIT (TxLog.commitMulti, round-11) —
    // the reference publishes times + missing_pairs + metadata together
    // per chunk (utils/times.py:100-107); a crash between single-table
    // writes breaks its pair-count accounting (README.md:268-276's
    // calc_n_pairs/calc_n_missing_pairs audit). Here the trio is built
    // across THREE transactions: two completed, one deliberately
    // "crashed" after its decision record and finished by recoverMulti
    // — then the query PROVES the invariant (visible rows == audited
    // count) before returning the cross-table aggregate. The oracle
    // recomputes the same trio split from `orders` directly, so the
    // hash compare certifies that staged→decided→recovered writes land
    // bit-identically to a never-crashed pipeline.
    QueryDef(
      "q238_multi_commit",
      (s, dir) => {
        import s.implicits._
        import graft.sources.TxLog
        val sfName = new java.io.File(dir).getName
        val base = s"${graft.GraftSession.scratchBase}/graft_mtx_$sfName"
        val p = new org.apache.hadoop.fs.Path(base)
        p.getFileSystem(s.sparkContext.hadoopConfiguration).delete(p, true)
        val (tT, tM, tD, tX) =
          (s"$base/times", s"$base/missing", s"$base/meta", s"$base/txn")
        val orders = T.orders(s, dir)
          .select($"o_orderkey", $"o_custkey", $"o_orderpriority")
        def routed(df: org.apache.spark.sql.DataFrame) =
          df.filter($"o_orderkey" % 10L =!= 0L)
        def miss(df: org.apache.spark.sql.DataFrame) =
          df.filter($"o_orderkey" % 10L === 0L)
        def audit(df: org.apache.spark.sql.DataFrame) =
          df.groupBy().agg(count(lit(1)).as("n_pairs"))
        def trio(df: org.apache.spark.sql.DataFrame, app: Boolean) = Seq(
          TxLog.MultiWrite(tT, routed(df), append = app),
          TxLog.MultiWrite(tM, miss(df), append = app),
          TxLog.MultiWrite(tD, audit(df), append = app))
        val a = orders.filter($"o_orderkey" % 3L === 0L)
        val b = orders.filter($"o_orderkey" % 3L === 1L)
        val c = orders.filter($"o_orderkey" % 3L === 2L)
        TxLog.commitMulti(s, tX, trio(a, app = false))
        TxLog.commitMulti(s, tX, trio(b, app = true))
        // third chunk: decided, then the coordinator "dies" — recovery
        // must finish it (all three tables, exactly once)
        val (id, staged) = TxLog.stageMulti(s, tX, trio(c, app = true))
        TxLog.decideMulti(s, tX, id, staged)
        val rec = TxLog.recoverMulti(s, tX)
        require(rec.rolledForward == Seq(id) && rec.rolledBack.isEmpty,
          s"q238: recovery must roll the decided txn forward, got $rec")
        val audited = TxLog.read(s, tD)
          .agg(sum($"n_pairs")).head().getLong(0)
        val visible = TxLog.read(s, tT).count() + TxLog.read(s, tM).count()
        require(audited == visible,
          s"q238: $visible visible rows vs $audited audited — the " +
            "invariant commitMulti exists to keep")
        TxLog.read(s, tT).groupBy($"o_orderpriority")
          .agg(count(lit(1)).as("n_routed"),
            sum($"o_custkey").as("cust_total"))
          .join(TxLog.read(s, tM).groupBy($"o_orderpriority")
            .agg(count(lit(1)).as("n_missing")),
            Seq("o_orderpriority"), "left")
          .na.fill(0L, Seq("n_missing"))
          .withColumn("n_audited", lit(audited))
      },
      Some("""SELECT o_orderpriority,
             |  count(CASE WHEN o_orderkey % 10 != 0 THEN 1 END) AS n_routed,
             |  CAST(sum(CASE WHEN o_orderkey % 10 != 0 THEN o_custkey END)
             |    AS BIGINT) AS cust_total,
             |  count(CASE WHEN o_orderkey % 10 = 0 THEN 1 END) AS n_missing,
             |  (SELECT count(*) FROM orders) AS n_audited
             |FROM orders GROUP BY 1""".stripMargin)),

    // ------------------------------------------------------------------
    // q240: NAMED CROSS-TABLE SNAPSHOT (TxLog.tag, round-12) — the
    // reproducibility contract a training pipeline needs: "run X read
    // exactly tag Y of (corpus, totals)" must survive every later
    // commit AND the vacuum (pins gate reclamation like consumer acks).
    // The query tags the v1 cut, appends a v2 the tag must NOT see,
    // proves vacuum refuses to reclaim the pinned version, then reads
    // the tag — the oracle recomputes v1's content from `orders`
    // directly, so the hash compare certifies the pinned read is
    // bit-identical to the state at tag time.
    QueryDef(
      "q240_tagged_snapshot",
      (s, dir) => {
        import s.implicits._
        import graft.sources.TxLog
        val sfName = new java.io.File(dir).getName
        val base = s"${graft.GraftSession.scratchBase}/graft_tag_$sfName"
        val p = new org.apache.hadoop.fs.Path(base)
        p.getFileSystem(s.sparkContext.hadoopConfiguration).delete(p, true)
        val (tC, tT, tX) = (s"$base/corpus", s"$base/totals", s"$base/txn")
        val orders = T.orders(s, dir)
          .select($"o_orderkey", $"o_custkey", $"o_orderpriority")
        val v1 = orders.filter($"o_orderkey" % 2L === 0L)
        val v2 = orders.filter($"o_orderkey" % 2L =!= 0L)
        def totals(df: org.apache.spark.sql.DataFrame) =
          df.groupBy().agg(count(lit(1)).as("n_docs"))
        TxLog.commitMulti(s, tX, Seq(
          TxLog.MultiWrite(tC, v1), TxLog.MultiWrite(tT, totals(v1))))
        val cut = TxLog.tag(s, tX, "run-a", Seq(tC, tT))
        require(cut == Map(tC -> 1L, tT -> 1L), s"q240: cut was $cut")
        // later work the tag must not see: append + a totals overwrite
        TxLog.commitMulti(s, tX, Seq(
          TxLog.MultiWrite(tC, v2, append = true),
          TxLog.MultiWrite(tT, totals(orders))))
        // the pin gates vacuum exactly like a consumer ack...
        val refused =
          try { TxLog.vacuum(s, tC, retainFrom = 2L); false }
          catch { case e: IllegalStateException =>
            e.getMessage.contains("run-a") }
        require(refused, "q240: vacuum must refuse the tagged version")
        // ...and force is the explicit break-glass — not used here
        val dfs = TxLog.readTag(s, tX, "run-a")
        val nTagged = dfs(tT).head().getLong(0)
        require(nTagged == dfs(tC).count(),
          "q240: the tagged cut must be internally consistent")
        require(TxLog.read(s, tC).count() > nTagged,
          "q240: the live table must have moved past the tag")
        dfs(tC).groupBy($"o_orderpriority")
          .agg(count(lit(1)).as("n_docs"),
            sum($"o_custkey").as("cust_total"))
          .withColumn("n_tagged", lit(nTagged))
      },
      Some("""SELECT o_orderpriority,
             |  count(*) AS n_docs,
             |  CAST(sum(o_custkey) AS BIGINT) AS cust_total,
             |  (SELECT count(*) FROM orders WHERE o_orderkey % 2 = 0) AS n_tagged
             |FROM orders WHERE o_orderkey % 2 = 0 GROUP BY 1""".stripMargin))
  )

  /** q234's late-bound oracle: the view body from the artifact the
    * builder just wrote (CREATE prefix and trailing ';' stripped — the
    * driver harness runs one SELECT). Placeholder when absent (a scoped
    * run that skipped q234 still evaluates the thunk while building the
    * oracle map, then filters it out).
    */
  private def duckDbTxViewOracle: String = {
    val f = java.nio.file.Paths.get(
      s"${graft.GraftSession.scratchBase}/graft_duckcat/views.sql")
    if (!java.nio.file.Files.exists(f)) "SELECT 1 AS artifact_missing"
    else new String(java.nio.file.Files.readAllBytes(f), "UTF-8").trim
      .replaceFirst("^CREATE OR REPLACE VIEW \\S+ AS ", "")
      .stripSuffix(";")
  }

  /** Proximity ground truth shared verbatim by q232 (recompute) and
    * q233 (indexed) — 1-based positions, 8-token windows, distinct-term
    * coverage, anchor-count ranking, k = 5.
    */
  private val proximitySql =
    """WITH w AS (
      |  SELECT doc_id, list_filter(string_split_regex(text, '\s+'),
      |    t -> length(t) > 0) AS l
      |  FROM documents),
      |pos AS (
      |  SELECT doc_id, unnest(l) AS tok, generate_subscripts(l, 1) AS p FROM w),
      |qd AS (
      |  SELECT DISTINCT doc_id AS query_id, unnest(l[1:3]) AS tok
      |  FROM w WHERE doc_id % 97 = 1),
      |n AS (SELECT query_id, count(DISTINCT tok) AS n FROM qd GROUP BY 1),
      |qpos AS (
      |  SELECT qd.query_id, p.doc_id, p.p, p.tok
      |  FROM pos p JOIN qd ON p.tok = qd.tok),
      |hits AS (
      |  SELECT a.query_id, a.doc_id, a.p AS anchor,
      |    count(DISTINCT b.tok) AS seen
      |  FROM qpos a JOIN qpos b
      |    ON a.query_id = b.query_id AND a.doc_id = b.doc_id
      |    AND b.p >= a.p AND b.p < a.p + 8
      |  GROUP BY 1, 2, 3),
      |m AS (
      |  SELECT h.query_id, h.doc_id, count(*) AS n_anchors
      |  FROM hits h JOIN n USING (query_id)
      |  WHERE h.seen = n.n GROUP BY 1, 2)
      |SELECT query_id, doc_id, n_anchors, rnk FROM (
      |  SELECT query_id, doc_id, n_anchors, row_number() OVER (
      |    PARTITION BY query_id ORDER BY n_anchors DESC, doc_id) AS rnk
      |  FROM m) t
      |WHERE rnk <= 5""".stripMargin

  /** Exact-phrase ground truth shared verbatim by the recompute (q228)
    * and indexed (q229) paths — 1-based positions, alignment-count
    * occurrence semantics, occurrence-count ranking, k = 5.
    */
  private val phraseSql =
    """WITH w AS (
      |  SELECT doc_id, list_filter(string_split_regex(text, '\s+'),
      |    t -> length(t) > 0) AS l
      |  FROM documents),
      |pos AS (
      |  SELECT doc_id, unnest(l) AS tok, generate_subscripts(l, 1) AS p FROM w),
      |ph AS (SELECT doc_id AS query_id, l[1:3] AS pl FROM w WHERE doc_id % 97 = 1),
      |terms AS (
      |  SELECT query_id, unnest(pl) AS tok, generate_subscripts(pl, 1) AS j FROM ph),
      |n AS (SELECT query_id, count(*) AS n FROM terms GROUP BY 1),
      |occ AS (
      |  SELECT t.query_id, p.doc_id, p.p - t.j + 1 AS start, count(*) AS hits
      |  FROM pos p JOIN terms t ON p.tok = t.tok
      |  GROUP BY 1, 2, 3),
      |sc AS (
      |  SELECT o.query_id, o.doc_id, CAST(count(*) AS BIGINT) AS n_occ
      |  FROM occ o JOIN n USING (query_id)
      |  WHERE o.hits = n.n
      |  GROUP BY 1, 2)
      |SELECT query_id, doc_id, n_occ, rnk FROM (
      |  SELECT query_id, doc_id, n_occ, row_number() OVER (
      |    PARTITION BY query_id ORDER BY n_occ DESC, doc_id) AS rnk
      |  FROM sc) t
      |WHERE rnk <= 5""".stripMargin

  /** IVF-PQ ground truth shared verbatim by the recompute (q226) and
    * indexed (q227) paths — coarse assignment (16 seeded cells, 4
    * probes), PQ encode (4×16-dim subspaces against the disjoint seed
    * block [16,32)), ADC confined to the probed cells, exact-cosine
    * rerank of the top-20 ADC candidates, k = 5.
    */
  private val ivfPqSql =
    """WITH seeds AS (
      |  SELECT vec_id AS cell, embedding AS sv FROM embeddings WHERE vec_id < 16),
      |asg AS (
      |  SELECT e.vec_id, s.cell,
      |    CAST(list_dot_product(e.embedding, e.embedding) AS DOUBLE) +
      |    CAST(list_dot_product(s.sv, s.sv) AS DOUBLE) -
      |    2.0 * CAST(list_dot_product(e.embedding, s.sv) AS DOUBLE) AS d2
      |  FROM embeddings e CROSS JOIN seeds s),
      |cells AS (
      |  SELECT vec_id, cell FROM (
      |    SELECT vec_id, cell, row_number() OVER (PARTITION BY vec_id ORDER BY d2, cell) AS r
      |    FROM asg) t WHERE r = 1),
      |probes AS (
      |  SELECT vec_id AS query_id, cell FROM (
      |    SELECT vec_id, cell, row_number() OVER (PARTITION BY vec_id ORDER BY d2, cell) AS r
      |    FROM asg WHERE vec_id < 10) t WHERE r <= 4),
      |cb AS (
      |  SELECT vec_id - 16 AS code,
      |    embedding[1:16] AS s0, embedding[17:32] AS s1,
      |    embedding[33:48] AS s2, embedding[49:64] AS s3
      |  FROM embeddings WHERE vec_id >= 16 AND vec_id < 32),
      |vs AS (
      |  SELECT vec_id,
      |    embedding[1:16] AS v0, embedding[17:32] AS v1,
      |    embedding[33:48] AS v2, embedding[49:64] AS v3
      |  FROM embeddings),
      |enc AS (
      |  SELECT v.vec_id, c.code,
      |    CAST(list_dot_product(v.v0,v.v0) AS DOUBLE) + CAST(list_dot_product(c.s0,c.s0) AS DOUBLE) - 2.0*CAST(list_dot_product(v.v0,c.s0) AS DOUBLE) AS dd0,
      |    CAST(list_dot_product(v.v1,v.v1) AS DOUBLE) + CAST(list_dot_product(c.s1,c.s1) AS DOUBLE) - 2.0*CAST(list_dot_product(v.v1,c.s1) AS DOUBLE) AS dd1,
      |    CAST(list_dot_product(v.v2,v.v2) AS DOUBLE) + CAST(list_dot_product(c.s2,c.s2) AS DOUBLE) - 2.0*CAST(list_dot_product(v.v2,c.s2) AS DOUBLE) AS dd2,
      |    CAST(list_dot_product(v.v3,v.v3) AS DOUBLE) + CAST(list_dot_product(c.s3,c.s3) AS DOUBLE) - 2.0*CAST(list_dot_product(v.v3,c.s3) AS DOUBLE) AS dd3
      |  FROM vs v CROSS JOIN cb c),
      |codes AS (
      |  SELECT vec_id,
      |    (min(struct_pack(d := dd0, c := code))).c AS c0,
      |    (min(struct_pack(d := dd1, c := code))).c AS c1,
      |    (min(struct_pack(d := dd2, c := code))).c AS c2,
      |    (min(struct_pack(d := dd3, c := code))).c AS c3
      |  FROM enc GROUP BY vec_id),
      |q AS (
      |  SELECT vec_id AS query_id, v0 AS q0, v1 AS q1, v2 AS q2, v3 AS q3
      |  FROM vs WHERE vec_id < 10),
      |adc AS (
      |  SELECT p.query_id, cl.vec_id AS neighbor_id,
      |    (CAST(list_dot_product(q.q0,q.q0) AS DOUBLE) + CAST(list_dot_product(t0.s0,t0.s0) AS DOUBLE) - 2.0*CAST(list_dot_product(q.q0,t0.s0) AS DOUBLE))
      |  + (CAST(list_dot_product(q.q1,q.q1) AS DOUBLE) + CAST(list_dot_product(t1.s1,t1.s1) AS DOUBLE) - 2.0*CAST(list_dot_product(q.q1,t1.s1) AS DOUBLE))
      |  + (CAST(list_dot_product(q.q2,q.q2) AS DOUBLE) + CAST(list_dot_product(t2.s2,t2.s2) AS DOUBLE) - 2.0*CAST(list_dot_product(q.q2,t2.s2) AS DOUBLE))
      |  + (CAST(list_dot_product(q.q3,q.q3) AS DOUBLE) + CAST(list_dot_product(t3.s3,t3.s3) AS DOUBLE) - 2.0*CAST(list_dot_product(q.q3,t3.s3) AS DOUBLE)) AS adc
      |  FROM probes p
      |  JOIN cells cl ON p.cell = cl.cell
      |  JOIN codes c ON c.vec_id = cl.vec_id
      |  JOIN q ON q.query_id = p.query_id
      |  JOIN cb t0 ON c.c0 = t0.code
      |  JOIN cb t1 ON c.c1 = t1.code
      |  JOIN cb t2 ON c.c2 = t2.code
      |  JOIN cb t3 ON c.c3 = t3.code
      |  WHERE p.query_id <> cl.vec_id),
      |cand AS (
      |  SELECT query_id, neighbor_id FROM (
      |    SELECT query_id, neighbor_id, row_number() OVER (
      |      PARTITION BY query_id ORDER BY adc, neighbor_id) AS r
      |    FROM adc) t
      |  WHERE r <= 20),
      |sims AS (
      |  SELECT cand.query_id, cand.neighbor_id,
      |    CAST(list_dot_product(qe.embedding, ce.embedding) AS DOUBLE) /
      |      (sqrt(CAST(list_dot_product(qe.embedding, qe.embedding) AS DOUBLE)) *
      |       sqrt(CAST(list_dot_product(ce.embedding, ce.embedding) AS DOUBLE))) AS cosine
      |  FROM cand
      |  JOIN embeddings qe ON cand.query_id = qe.vec_id
      |  JOIN embeddings ce ON cand.neighbor_id = ce.vec_id)
      |SELECT query_id, neighbor_id, cosine, rnk FROM (
      |  SELECT *, row_number() OVER (
      |    PARTITION BY query_id ORDER BY cosine DESC, neighbor_id) AS rnk
      |  FROM sims) t
      |WHERE rnk <= 5""".stripMargin
}
