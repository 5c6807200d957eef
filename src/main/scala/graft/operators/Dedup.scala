package graft.operators

import graft.plans.DedupFunctions.{minHashBands, wordNGrams}
import org.apache.spark.sql.{Column, DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Deduplication operator family for document corpora, designed
  * shuffle-light for 100 TB:
  *
  *  - [[exact]]: hash-groupBy — one shuffle on a 16-byte digest instead
  *    of full text.
  *  - [[ngramPairs]]: exact n-gram Jaccard via shingle equi-join — the
  *    ground-truth (and oracle-checkable) pair finder; cost is driven by
  *    shingle collision counts, not |docs|².
  *  - [[minhashPairs]]: MinHash + banded LSH candidates, then exact
  *    Jaccard verification of candidates only — the scale path. One row
  *    per document end to end: gram sets, minima and band buckets are
  *    computed map-side by two codegen'd expressions
  *    ([[graft.plans.WordNGrams]], [[graft.plans.MinHashBands]]) with no
  *    UDF and no per-gram lambda, so what shuffles is the (doc, band, bucket)
  *    rows of the candidate self-join, the distinct candidate pairs, and
  *    the per-document gram arrays the candidates join to for
  *    verification; no per-gram row and no full text ever shuffles.
  *    With 64 hashes / 16 bands the miss probability at Jaccard 0.9 is
  *    ~5e-8, so verified output equals the exact pair set.
  *  - [[simhashPairs]]: 64-bit frequency-weighted SimHash computed
  *    map-only per doc, candidates by 16-bit band equality (pigeonhole:
  *    hamming ≤ 3 guarantees a shared band), verified by bit_count.
  */
object Dedup {

  /** Exact dedup groups: digest → group size + canonical (min) doc id. */
  def exact(docs: DataFrame): DataFrame =
    docs.groupBy(md5(col("text")).as("text_hash"))
      .agg(count(lit(1)).as("n_copies"), min(col("doc_id")).as("canonical_id"))

  /** Novelty against a prior corpus with a Bloom prefilter — the
    * "have we crawled this before" membership primitive. The prior
    * corpus's text digests are folded into a Bloom filter (built
    * DISTRIBUTED by Spark's treeAggregate under `stat.bloomFilter`;
    * only the filter's bits reach the driver) and broadcast; every new
    * document whose digest misses the filter is DEFINITELY novel and
    * never shuffles. Only the maybe-seen residue — the true overlap
    * plus the fpp fraction of false positives — pays an exact anti-join
    * against the prior digests, so the join's left side shrinks from
    * |new| to |overlap| + fpp·|new| while the output stays EXACT (the
    * filter's one-sided error is closed by the verify join; oracle =
    * the plain anti-join).
    *
    * At 100 TB the prior is billions of digests: the bits cost
    * ~1.2 GB/1e9 items at 1% fpp — broadcastable where the digest
    * table itself is not, which is the whole point.
    */
  def novelAgainst(newDocs: DataFrame, prior: DataFrame,
      expectedPrior: Long = 1000000L, fpp: Double = 0.01): DataFrame = {
    val spark = newDocs.sparkSession
    val priorHashed = prior.select(md5(col("text")).as("h"))
    val bloom = priorHashed.stat.bloomFilter("h", expectedPrior, fpp)
    val bc = spark.sparkContext.broadcast(bloom)
    val mightContain = udf { h: String => bc.value.mightContainString(h) }
    val hashed = newDocs.withColumn("__h", md5(col("text")))
    val definitelyNovel = hashed.filter(!mightContain(col("__h")))
    // the verify join shuffles on the 16-byte digest: the new side is
    // already shrunk to the maybe-set; the prior side ships digests,
    // not texts (a bucketed/sorted digest store would eliminate even
    // that exchange — the probe side alone would move)
    val maybeSeen = hashed.filter(mightContain(col("__h")))
      .join(priorHashed, col("__h") === col("h"), "left_anti")
    definitelyNovel.unionByName(maybeSeen).drop("__h")
  }

  /** Exact duplicated-substring spans: every k-token window that occurs
    * in more than one document, located by (doc_id, 1-based token
    * position) — the span-level exact dedup of Lee et al. 2022
    * ("Deduplicating Training Data Makes Language Models Better"),
    * which removes repeated passages instead of whole near-identical
    * documents.
    *
    * Shape: window expansion is per-row (no shuffle); then ONE
    * hash-exchange on the gram feeds a partition-wide min/max window —
    * cross-doc iff min(doc_id) ≠ max(doc_id) over the gram. Hot grams
    * spread by hash; keying on the gram text (not a hash of it) keeps
    * the result exact with no collision caveat — at corpus scale,
    * substituting `xxhash64(gram)` for the key narrows the shuffle ~4×
    * at a 2⁻⁶⁴-per-pair false positive risk.
    */
  def duplicatedSpans(docs: DataFrame, k: Int): DataFrame = {
    val w = docs.select(col("doc_id"), split(col("text"), " ").as("w"))
      .filter(size(col("w")) >= k)
      .select(col("doc_id"),
        posexplode(expr(
          s"transform(sequence(0, size(w) - $k), i -> concat_ws(' ', slice(w, i + 1, $k)))"))
          .as(Seq("pos0", "gram")))
      .select(col("doc_id"), (col("pos0") + 1).cast("long").as("pos"), col("gram"))
    // cross-doc test as ONE gram-partitioned window: a gram occurs in
    // >1 distinct doc iff min(doc_id) != max(doc_id) over its
    // partition. The aggregate-then-semi-join phrasing shuffles the
    // expansion TWICE (groupBy + join) and re-explodes the texts for
    // the second pass; the window exchanges the expansion once and
    // filters in place — same exact semantics, no collision caveat.
    val byGram = Window.partitionBy(col("gram"))
    w.withColumn("__mn", min(col("doc_id")).over(byGram))
      .withColumn("__mx", max(col("doc_id")).over(byGram))
      .filter(col("__mn") =!= col("__mx"))
      .select(col("doc_id"), col("pos"), col("gram"))
  }

  /** Fraction of each document's tokens covered by some cross-document
    * duplicated k-window — the per-document removal criterion built on
    * [[duplicatedSpans]] (drop or trim docs above a coverage
    * threshold). Coverage unions overlapping windows exactly: each span
    * explodes to its k token positions (bounded fan-out k) and
    * `count_distinct` collapses the overlaps per doc.
    */
  def spanCoverage(docs: DataFrame, k: Int): DataFrame = {
    val covered = duplicatedSpans(docs, k)
      .select(col("doc_id"),
        explode(sequence(col("pos"), col("pos") + (k - 1))).as("tok"))
      .groupBy(col("doc_id"))
      .agg(count_distinct(col("tok")).as("covered"))
    docs.select(col("doc_id"), size(split(col("text"), " ")).cast("long").as("n"))
      .join(covered, Seq("doc_id"), "left")
      .select(col("doc_id"),
        (coalesce(col("covered"), lit(0L)).cast("double") / col("n").cast("double"))
          .as("dup_coverage"))
  }

  /** (doc_id, gram) rows: each document row's distinct word n-grams
    * ([[graft.plans.WordNGrams]]), none for docs shorter than n words.
    * The kernel is exploded directly: exploding a `grams` column instead
    * makes the optimizer infer a `size(grams) > 0` filter and push it
    * below the projection, evaluating the kernel twice per document.
    * Also [[TrainingPrep]]'s contamination gram rows.
    */
  private[operators] def ngrams(docs: DataFrame, n: Int): DataFrame =
    docs.select(col("doc_id"), explode(wordNGrams(col("text"), n)).as("gram"))

  /** Distinct (doc_id, gram) shingle rows. */
  private def shingles(docs: DataFrame, n: Int): DataFrame = ngrams(docs, n).distinct()

  /** Document-frequency cap: drops shingles appearing in more than
    * `maxDf` documents BEFORE any self-join. A shingle shared by k docs
    * contributes k² rows to the shingle equi-join, so one boilerplate
    * header across a corpus turns candidate generation quadratic; capping
    * df bounds per-shingle join fan-out at maxDf² (standard practice —
    * near-universal shingles carry no dedup signal anyway). Capped
    * shingles leave the universe entirely: Jaccard is computed over the
    * surviving shingle sets on both the intersection and union sides, so
    * the estimate stays a true Jaccard (of the filtered sets) rather than
    * a biased ratio.
    */
  private def dfCapped(g: DataFrame, maxDf: Option[Int]): DataFrame =
    maxDf match {
      case None => g
      case Some(cap) =>
        val rare = g.groupBy(col("gram"))
          .agg(count(lit(1)).as("df"))
          .filter(col("df") <= cap)
          .select(col("gram"))
        g.join(rare, Seq("gram")).select(col("doc_id"), col("gram"))
    }

  /** Exact pairwise n-gram Jaccard ≥ threshold via shingle equi-join.
    * `maxDf` (off by default) enables the hot-shingle cap for corpora
    * with shared boilerplate — see [[dfCapped]].
    */
  def ngramPairs(docs: DataFrame, n: Int, threshold: Double, maxDf: Option[Int] = None): DataFrame = {
    val g = dfCapped(shingles(docs, n), maxDf)
    val sizes = g.groupBy(col("doc_id")).agg(count(lit(1)).as("sz"))
    val inter = g.as("ga").join(g.as("gb"),
        col("ga.gram") === col("gb.gram") && col("ga.doc_id") < col("gb.doc_id"))
      .groupBy(col("ga.doc_id").as("id_a"), col("gb.doc_id").as("id_b"))
      .agg(count(lit(1)).as("both"))
    inter
      .join(sizes.select(col("doc_id").as("id_a"), col("sz").as("na")), Seq("id_a"))
      .join(sizes.select(col("doc_id").as("id_b"), col("sz").as("nb")), Seq("id_b"))
      .withColumn("jaccard", col("both").cast("double") / (col("na") + col("nb") - col("both")))
      .filter(col("jaccard") >= threshold)
      .select(col("id_a"), col("id_b"), col("jaccard"))
  }

  /** EXACT token-set Jaccard join via prefix filtering (the PPJoin
    * family — Chaudhuri et al. 2006 SSJoin / Xiao et al. 2008): order
    * each document's distinct tokens by ascending global frequency
    * (rarest first), keep only the first |d| − ⌈t·|d|⌉ + 1 as its
    * PREFIX, and generate candidates by an equi-join on prefix tokens.
    * Completeness is a pigeonhole guarantee, not probability: two sets
    * with Jaccard ≥ t overlap in ≥ ⌈t·max(|A|,|B|)⌉ tokens, so skipping
    * the prefix on either side cannot skip every shared token — every
    * qualifying pair collides on at least one prefix token. Candidates
    * then pay one exact intersection; output = ALL pairs with Jaccard
    * ≥ t, bit-equal to brute force (which is exactly what the oracle
    * computes), with zero false negatives — the deterministic
    * counterpart of [[minhashPairs]] for exact-threshold dedup.
    *
    * Scale shape: the prefix join shuffles (token, doc_id) pairs for
    * prefix tokens ONLY — rare tokens by construction, so bucket lists
    * are short and the hot-token quadratic never materializes (frequent
    * tokens land at the END of the ordering, outside every prefix). The
    * frequency ranking is one groupBy; candidate dedup is a distinct on
    * ids; the verify join carries token arrays only to candidate rows.
    */
  def prefixJaccardJoin(docs: DataFrame, threshold: Double, n: Int = 1): DataFrame = {
    require(threshold > 0.0 && threshold <= 1.0, s"bad threshold $threshold")
    // Set elements: distinct unigram tokens (n=1) or n-gram shingles.
    // On low-entropy corpora (tiny shared vocabulary) unigram sets are
    // degenerate — nearly every pair qualifies and no token is rare
    // enough to prune — so shingle sets are the scale-realistic input.
    // toks feeds THREE consumers on different plan branches (the
    // frequency count, the prefix build, the verify-side set agg), so
    // no exchange is shared and lazy evaluation would re-explode every
    // text three times — pin the narrow (id, tok) frame once (same
    // rationale as minhashPairsIncremental's pins).
    // SER storage, not the default deserialized objects: the pinned
    // expansion is corpus-scaled, and a (long, string) row stored as
    // Java objects costs ~4× its serialized bytes — at the 100× probe
    // that difference alone is task-OOM vs fits
    val toks = Pins.pin(
      if (n <= 1)
        docs.select(col("doc_id"),
          explode(array_distinct(split(col("text"), " "))).as("tok"))
      else shingles(docs, n).withColumnRenamed("gram", "tok"),
      org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK_SER)
    val dfreq = toks.groupBy(col("tok")).agg(count(lit(1)).as("df"))
    val bySize = Window.partitionBy(col("doc_id")).orderBy(col("df"), col("tok"))
    // NOT pinned (r12 measured): localCheckpointing the small-regime
    // `pre` re-ran q133 at 1.34× the baseline min — the pin's job
    // barrier + storage round-trip costs more than re-evaluating the
    // dfreq+window chain on a small corpus, and in the big regime the
    // sort-merge self-join already collapses both sides to one
    // ReusedExchange.
    val pre = toks.join(dfreq, "tok")
      .withColumn("rn", row_number().over(bySize))
      .withColumn("sz", count(lit(1)).over(Window.partitionBy(col("doc_id"))))
      .filter(col("rn") <= col("sz") - ceil(lit(threshold) * col("sz")) + 1)
      .select(col("doc_id"), col("tok"), col("rn"), col("sz"))
    // r13 measured negative (the VERDICT ask-3 restructure): a tok-keyed
    // `.repartition(col("tok"))` on `pre` — meant to make both self-join
    // sides share ONE exchange in the broadcast regime the way the merge
    // regime's ReusedExchange already does — re-probed q133 at 4.4-4.9 s
    // vs 3.8-4.1 s on the same tree (+15%). Same mechanism as the r12
    // pin loss: the explicit exchange is a stage barrier, while the
    // duplicated lazy `pre` branches run CONCURRENTLY on an
    // underutilized local[32] and are near-free wall-clock. The big
    // regime never needed it (a sort-merge self-join collapses both
    // sides to one exchange), so the duplicate stays.
    // Candidate generation with the SSJoin family's two EXACT pruning
    // filters (both are upper bounds on the pair's best possible
    // Jaccard, so neither can drop a qualifying pair):
    //  - length filter: J(A,B) <= min(|A|,|B|)/max(|A|,|B|); evaluated
    //    as the SAME double division the final filter uses, so double
    //    rounding is monotone-consistent and cannot flip a keep into a
    //    prune.
    //  - positional filter (PPJoin): both docs order tokens by the one
    //    GLOBAL (df, tok) order, so common tokens appear in the same
    //    relative order in both; at the earliest prefix collision
    //    (min rn on either side) no common token precedes it, hence
    //    |A∩B| <= 1 + min(|A|-pa, |B|-pb). Taking min(pa) and min(pb)
    //    independently only loosens the bound — still a valid prune.
    // On low-entropy corpora (small shared vocabulary) these kill the
    // bulk of prefix collisions BEFORE the token-level verify fan-out —
    // the filters, not the verify, absorb the hot-vocabulary blowup.
    val cand = pre.as("a").join(pre.as("b"),
        col("a.tok") === col("b.tok") && col("a.doc_id") < col("b.doc_id") &&
          least(col("a.sz"), col("b.sz")).cast("double") /
            greatest(col("a.sz"), col("b.sz")) >= threshold)
      .groupBy(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"))
      .agg(min(col("a.rn")).as("pa"), min(col("b.rn")).as("pb"),
        first(col("a.sz")).as("na"), first(col("b.sz")).as("nb"))
      .withColumn("ub",
        lit(1) + least(col("na") - col("pa"), col("nb") - col("pb")))
      .filter(col("ub").cast("double") / (col("na") + col("nb") - col("ub")) >= threshold)
      .select(col("doc_a"), col("doc_b"))
    // Exact verification WITHOUT materialized token arrays: carrying
    // each document's full token array through two sort-merge joins
    // makes every verify task hold corpus-scaled array rows — at the
    // 100× probe that shape task-OOMs where narrow rows sail through
    // (spill-friendly sorts, map-side partial counts). Intersection
    // sizes come from the token-LEVEL equi-join instead: fan candidate
    // pairs out to (pair, tok) via doc_a's tokens, equi-join on
    // (doc_b, tok), count — bit-identical |A ∩ B|, rows never wider
    // than (long, long, token). Set sizes join in afterward.
    val sizes = toks.groupBy(col("doc_id")).agg(count(lit(1)).as("sz"))
    val inter = cand
      .join(toks.select(col("doc_id").as("doc_a"), col("tok")), Seq("doc_a"))
      .join(toks.select(col("doc_id").as("doc_b"), col("tok")),
        Seq("doc_b", "tok"))
      .groupBy(col("doc_a"), col("doc_b"))
      .agg(count(lit(1)).as("inter"))
    inter
      .join(sizes.select(col("doc_id").as("doc_a"), col("sz").as("na")), Seq("doc_a"))
      .join(sizes.select(col("doc_id").as("doc_b"), col("sz").as("nb")), Seq("doc_b"))
      .withColumn("jac",
        col("inter").cast("double") / (col("na") + col("nb") - col("inter")))
      .filter(col("jac") >= threshold)
      .select(col("doc_a"), col("doc_b"), col("jac"))
  }

  /** Exact edit-distance self-join (the ED-join family — Gravano et al.
    * 2001 q-gram filters, Xiao et al. VLDB'08 location-based prefix
    * filtering): ALL pairs with `levenshtein(a, b) <= d`, zero false
    * negatives, bit-equal to brute force.
    *
    * Candidates: positional q-grams, each doc keeps only its `q*d + 1`
    * RAREST gram instances (global (df, gram) order) as its prefix —
    * one character edit destroys at most q overlapping grams, so d edits
    * destroy at most q*d, and a qualifying pair must share a surviving
    * gram from both prefixes with positions differing by at most d (d
    * insertions/deletions shift later positions by at most d). The
    * candidate equi-join therefore touches rare grams only, inside a
    * +-d position window. Sub-q-length strings carry no grams; their
    * qualifying partners are themselves short (len <= q-1+d), handled by
    * a broadcast join over that (tiny by assumption) subset.
    *
    * Verify: length filter then one exact `levenshtein` per candidate —
    * same explicit-partition-count spread as [[prefixJaccardJoin]]
    * (tiny-bytes / heavy-CPU frames defeat AQE's byte-based coalescing).
    */
  def editDistanceJoin(docs: DataFrame, d: Int, q: Int = 4): DataFrame = {
    require(d >= 1 && q >= 2, s"bad params d=$d q=$q")
    val txt = docs.select(col("doc_id"), col("text"))
    val grams = txt
      .filter(length(col("text")) >= q)
      .select(col("doc_id"), length(col("text")).as("len"), explode(expr(
        s"""transform(sequence(1, length(text) - $q + 1),
           |  i -> struct(substring(text, i, $q) AS gram, i AS pos))""".stripMargin)).as("g"))
      .select(col("doc_id"), col("len"), col("g.gram").as("gram"), col("g.pos").as("pos"))
    val dfreq = grams.groupBy(col("gram")).agg(count(lit(1)).as("df"))
    val byRarity = Window.partitionBy(col("doc_id"))
      .orderBy(col("df"), col("gram"), col("pos"))
    val pre = grams.join(dfreq, "gram")
      .withColumn("rn", row_number().over(byRarity))
      .filter(col("rn") <= q * d + 1)
      .select(col("doc_id"), col("len"), col("gram"), col("pos"))
    val candLong = pre.as("a").join(pre.as("b"),
        col("a.gram") === col("b.gram") &&
        col("a.doc_id") < col("b.doc_id") &&
        abs(col("a.pos") - col("b.pos")) <= d &&
        abs(col("a.len") - col("b.len")) <= d)
      .select(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"))
      .distinct()
    val shorts = txt.filter(length(col("text")) < q)
    val shortPartners = txt.filter(length(col("text")) <= q - 1 + d)
    val candShort = shorts.as("a")
      .join(broadcast(shortPartners.as("b")), col("a.doc_id") =!= col("b.doc_id"))
      .select(least(col("a.doc_id"), col("b.doc_id")).as("doc_a"),
              greatest(col("a.doc_id"), col("b.doc_id")).as("doc_b"))
      .distinct()
    val shufflePartitions =
      docs.sparkSession.sessionState.conf.numShufflePartitions
    candLong.unionByName(candShort).distinct()
      .repartition(shufflePartitions, col("doc_a"), col("doc_b"))
      .join(txt.select(col("doc_id").as("doc_a"), col("text").as("ta")), Seq("doc_a"))
      .join(txt.select(col("doc_id").as("doc_b"), col("text").as("tb")), Seq("doc_b"))
      .filter(abs(length(col("ta")) - length(col("tb"))) <= d)
      .withColumn("dist", levenshtein(col("ta"), col("tb")))
      .filter(col("dist") <= d)
      .select(col("doc_a"), col("doc_b"), col("dist"))
  }

  /** One row per document: (doc_id, grams), the document's distinct word
    * n-grams as one array ([[graft.plans.WordNGrams]]) — no explode, no
    * shuffle without `maxDf`; with it, the [[dfCapped]] survivors are
    * regrouped per document. Documents shorter than n words have a null
    * gram set, and under `maxDf` documents whose every gram is capped
    * have no row; neither signs a band row, so neither meets a candidate.
    * (A filter on the null would be pushed below the projection and run
    * the kernel twice per document.) Precondition: doc ids are unique —
    * rows sharing an id are signed and verified as separate documents
    * here.
    */
  private def gramSets(docs: DataFrame, n: Int, maxDf: Option[Int]): DataFrame =
    maxDf match {
      case None => docs.select(col("doc_id"), wordNGrams(col("text"), n).as("grams"))
      case Some(_) =>
        dfCapped(ngrams(docs, n), maxDf)
          .groupBy(col("doc_id")).agg(collect_set(col("gram")).as("grams"))
    }

  /** (doc_id, band, bucket) LSH rows in one map-side pass per document:
    * [[graft.plans.MinHashBands]] signs each gram set (Spark's murmur
    * `hash` of each gram, 64 minima of an affine family over a >2^32
    * prime, xxhash64 band buckets chained from seed 42) and the buckets
    * are posexploded. The rows are bit-identical to the former
    * groupBy-over-shingles formulation (DedupSpec keeps it as the
    * oracle), so persisted signature stores stay valid.
    */
  private def bandRows(g: DataFrame, nHashes: Int, nBands: Int): DataFrame =
    g.select(col("doc_id"),
      posexplode(minHashBands(col("grams"), nHashes, nBands)).as(Seq("band", "bucket")))

  /** Exact Jaccard of the candidate pairs (id_a, id_b) at or above
    * `threshold`: each pair meets the two per-document gram arrays and
    * intersects them in place — no gram-level rows, no extra aggregate.
    */
  private def verified(candidates: DataFrame, g: DataFrame, threshold: Double): DataFrame =
    candidates
      .join(g.select(col("doc_id").as("id_a"), col("grams").as("ga")), Seq("id_a"))
      .join(g.select(col("doc_id").as("id_b"), col("grams").as("gb")), Seq("id_b"))
      .withColumn("both", size(array_intersect(col("ga"), col("gb"))).cast("long"))
      .withColumn("jaccard", col("both").cast("double") /
        (size(col("ga")).cast("long") + size(col("gb")) - col("both")))
      .filter(col("jaccard") >= threshold)
      .select(col("id_a"), col("id_b"), col("jaccard"))

  /** The persistable signature artifact for a corpus — what a rolling
    * ingest keeps alongside the documents so new arrivals dedup against
    * the whole corpus WITHOUT reshingling it (see
    * [[minhashPairsIncremental]]). Doc ids must be unique (see
    * [[gramSets]]).
    */
  def minhashSignatures(
      docs: DataFrame,
      n: Int = 3,
      nHashes: Int = 64,
      nBands: Int = 16,
      maxDf: Option[Int] = None): DataFrame =
    // the signing plan is narrow, so without this exchange a store is
    // written as one file per input partition (measured on 50 documents
    // at local[2]: 2 files and 7942 bytes instead of 1 file and 5181)
    bandRows(gramSets(docs, n, maxDf), nHashes, nBands).repartition(col("doc_id"))

  /** MinHash+LSH candidates, exact-verified. Output identical to
    * [[ngramPairs]] at the same threshold (up to the negligible LSH miss
    * probability), but candidate generation touches only signatures.
    * Doc ids must be unique (see [[gramSets]]).
    */
  def minhashPairs(
      docs: DataFrame,
      n: Int = 3,
      nHashes: Int = 64,
      nBands: Int = 16,
      threshold: Double = 0.5,
      maxDf: Option[Int] = None): DataFrame = {
    val g = gramSets(docs, n, maxDf)
    val sigs = bandRows(g, nHashes, nBands)

    // NOT localCheckpointed (r12 measured): eager pins of sigs + a
    // candidate-pruned shingle frame re-ran q41 at 1.48× the baseline
    // min — each pin is a job barrier + storage round-trip that outweighs
    // re-deriving these frames. When the self-join plans sort-merge, both
    // sides canonicalize to ONE exchange (ReusedExchange).
    val candidates = sigs.as("sa").join(sigs.as("sb"),
        col("sa.band") === col("sb.band") && col("sa.bucket") === col("sb.bucket") &&
          col("sa.doc_id") < col("sb.doc_id"))
      .select(col("sa.doc_id").as("id_a"), col("sb.doc_id").as("id_b"))
      .distinct()
    verified(candidates, g, threshold)
  }

  /** Incremental MinHash dedup: near-dup pairs TOUCHING a batch of new
    * documents, against a corpus whose signatures were computed earlier
    * (the [[minhashSignatures]] artifact). The rolling-ingest shape at
    * corpus scale:
    *
    *  - only `newDocs` are shingled and signed — the old corpus is
    *    represented by its persisted (doc_id, band, bucket) store;
    *  - candidates come from joining the new signatures against the
    *    union store (new×new and new×old collide; old×old pairs cannot
    *    form because both sides of the join carry a new doc);
    *  - exact Jaccard verification builds gram sets for candidate
    *    documents ONLY — a semi-join prune on the text table, not a
    *    corpus-wide shingling.
    *
    * Output equals `minhashPairs(old ∪ new)` restricted to pairs with a
    * new endpoint (DedupSpec holds them equal; q117's oracle is the
    * exact n-gram SQL under the same restriction). On a cluster call
    * `sparkContext.setCheckpointDir` first: the two pins below then
    * survive executor loss as reliable checkpoint files (see [[Pins]]).
    */
  def minhashPairsIncremental(
      newDocs: DataFrame,
      oldDocs: DataFrame,
      oldSigs: DataFrame,
      n: Int = 3,
      nHashes: Int = 64,
      nBands: Int = 16,
      threshold: Double = 0.5): DataFrame = {
    // Both narrow frames feed multiple consumers on DIFFERENT join sides
    // (newSigs: probe side AND inside the union store; candidates: the
    // id extraction twice plus the verify join), so unlike minhashPairs'
    // symmetric self-join there is no ReusedExchange to ride —
    // re-evaluation would re-run the signature pass ~6×. Both are
    // (id, band, bucket)/(id, id) narrow: pin, don't recompute.
    val newSigs = Pins.pin(bandRows(gramSets(newDocs, n, None), nHashes, nBands))
    val allSigs = oldSigs.select(col("doc_id"), col("band"), col("bucket"))
      .unionByName(newSigs)
    val candidates = Pins.pin(newSigs.as("sa").join(allSigs.as("sb"),
        col("sa.band") === col("sb.band") && col("sa.bucket") === col("sb.bucket") &&
          col("sa.doc_id") =!= col("sb.doc_id"))
      .select(
        least(col("sa.doc_id"), col("sb.doc_id")).as("id_a"),
        greatest(col("sa.doc_id"), col("sb.doc_id")).as("id_b"))
      .distinct())
    val candIds = candidates.select(col("id_a").as("doc_id"))
      .union(candidates.select(col("id_b").as("doc_id")))
      .distinct()
    val touched = newDocs.select(col("doc_id"), col("text"))
      .unionByName(oldDocs.select(col("doc_id"), col("text")))
      .join(candIds, Seq("doc_id"), "left_semi")
    verified(candidates, gramSets(touched, n, None), threshold)
  }

  /** 64-bit frequency-weighted SimHash of whitespace tokens. Map-only.
    *
    * The per-token hash is the first 16 hex digits of MD5: bit `b` of the
    * hash is bit `b % 4` of hex digit `b / 4`. MD5 is available and
    * identical in every engine (unlike murmur/xxhash variants), which
    * makes the whole operator — votes, sign, banding — exactly
    * reproducible in plain SQL, so the pair output is oracle-checkable
    * rather than rows-only.
    */
  def simhash64(text: String): Long = {
    val counts = scala.collection.mutable.HashMap.empty[String, Int]
    text.split(' ').foreach { t => if (t.nonEmpty) counts.update(t, counts.getOrElse(t, 0) + 1) }
    val md = java.security.MessageDigest.getInstance("MD5")
    val acc = new Array[Long](64)
    counts.foreach { case (tok, c) =>
      md.reset()
      val dg = md.digest(tok.getBytes(java.nio.charset.StandardCharsets.UTF_8))
      var b = 0
      while (b < 64) {
        // hex digit at position b/4 (even positions = high nibble)
        val digit =
          if ((b / 4) % 2 == 0) (dg(b / 8) >> 4) & 0xf
          else dg(b / 8) & 0xf
        if (((digit >> (b % 4)) & 1) == 1) acc(b) += c else acc(b) -= c
        b += 1
      }
    }
    var sh = 0L
    var j = 0
    while (j < 64) { if (acc(j) > 0) sh |= (1L << j); j += 1 }
    sh
  }

  /** Near-dup pairs → canonical clusters: distributed connected
    * components. Each round does (1) neighbor-min propagation (a node
    * takes the minimum label among itself and its neighbors — one
    * equi-join + one aggregation) and (2) a pointer-jump
    * (label := label-of-label), which halves the distance to the
    * component minimum — so convergence is O(log diameter) rounds, not
    * O(diameter). All steps are shuffle-partitionable joins;
    * `localCheckpoint` truncates lineage so round N doesn't replay
    * rounds 1..N−1. This turns the pair list into dedup groups (the
    * cluster id is the kept canonical document).
    */
  def connectedComponents(
      pairs: DataFrame,
      idA: String = "id_a",
      idB: String = "id_b",
      maxIters: Int = 25): DataFrame = {
    val e = Pins.pin(pairs.select(col(idA).as("src"), col(idB).as("dst"))
      .union(pairs.select(col(idB).as("src"), col(idA).as("dst"))))
    var labels = Pins.pin(e.select(col("src").as("id")).distinct()
      .select(col("id"), col("id").as("cluster")))
    var changed = 1L
    var i = 0
    while (changed > 0 && i < maxIters) {
      val nbrMin = e
        .join(labels.select(col("id").as("dst"), col("cluster").as("nc")), Seq("dst"))
        .groupBy(col("src").as("id"))
        .agg(min(col("nc")).as("mc"))
      val propagated = labels.join(nbrMin, Seq("id"), "left")
        .select(col("id"), col("cluster"),
          least(col("cluster"), coalesce(col("mc"), col("cluster"))).as("pcluster"))
      // pointer jump: follow the label's own label one hop
      val next = Pins.pin(propagated
        .join(labels.select(col("id").as("pcluster"), col("cluster").as("gc")),
          Seq("pcluster"), "left")
        .select(col("id"), col("cluster"),
          least(col("pcluster"), coalesce(col("gc"), col("pcluster"))).as("ncluster")))
      changed = next.filter(col("ncluster") =!= col("cluster")).count()
      labels = next.select(col("id"), col("ncluster").as("cluster"))
      i += 1
    }
    labels
  }

  /** INCREMENTAL connected components — maintain dup clusters as the
    * pair graph GROWS without rescanning the old edge set (the rolling-
    * ingest counterpart of [[connectedComponents]], the same contract
    * as [[minhashPairsIncremental]]'s signature store): the previous
    * labeling IS a spanning forest of the old graph (one node→cluster
    * edge per node, every old path already collapsed to depth 1), so
    * components of `old ∪ newPairs` equal components of
    * `labels ∪ newPairs` — correctness is the union-find argument, not
    * an approximation, and the output is BIT-EQUAL to a full recompute
    * over the union graph (min-label canonicals: a cluster untouched
    * by new pairs keeps its id; merging clusters keep the global min).
    * The work is one edge per OLD NODE plus the delta — at corpus
    * scale that replaces the quadratic-history rescan with
    * O(nodes + delta), and pointer-jumping over the collapsed forest
    * converges in O(log merges) rounds rather than O(log diameter).
    */
  def connectedComponentsIncremental(
      prevLabels: DataFrame,
      newPairs: DataFrame,
      idA: String = "id_a",
      idB: String = "id_b",
      maxIters: Int = 25): DataFrame =
    connectedComponents(
      prevLabels.select(col("id").as(idA), col("cluster").as(idB))
        .unionByName(newPairs.select(col(idA), col(idB))),
      idA, idB, maxIters)

  /** SimHash near-dup pairs with hamming distance ≤ maxHamming (≤ 3 is
    * fully covered by the 4×16-bit band pigeonhole; larger values trade
    * recall).
    */
  def simhashPairs(docs: DataFrame, maxHamming: Int = 3): DataFrame = {
    val spark = docs.sparkSession
    import spark.implicits._
    val sh = docs.select(col("doc_id").cast("long"), col("text")).as[(Long, String)]
      .map { case (id, text) => (id, simhash64(text)) }
      .toDF("doc_id", "simhash")
    val bands = (0 until 4).map { b =>
      struct(lit(b).as("band"),
        shiftrightunsigned(col("simhash"), b * 16).bitwiseAND(0xffffL).as("bucket"))
    }
    val banded = sh.withColumn("bb", explode(array(bands: _*)))
      .select(col("doc_id"), col("simhash"), col("bb.band"), col("bb.bucket"))
    banded.as("a").join(banded.as("b"),
        col("a.band") === col("b.band") && col("a.bucket") === col("b.bucket") &&
          col("a.doc_id") < col("b.doc_id"))
      .select(col("a.doc_id").as("id_a"), col("b.doc_id").as("id_b"),
        expr("bit_count(a.simhash ^ b.simhash)").cast("long").as("hamming"))
      .distinct()
      .filter(col("hamming") <= maxHamming)
  }
}
