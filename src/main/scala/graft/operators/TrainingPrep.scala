package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Training-data preparation operators the reference has no analogue
  * for: benchmark decontamination, deterministic mixture sampling, and
  * concat-and-chunk sequence packing — the three stages between "clean
  * corpus" and "token stream" in an LLM pretraining pipeline.
  *
  * Scale shapes (the 100 TB contract):
  *  - decontamination broadcasts the benchmark gram set (eval suites are
  *    MB-scale against a TB-scale corpus) so the corpus side is never
  *    shuffled: grams stream map-side through the broadcast join and only
  *    the matched handful reaches the per-doc aggregate;
  *  - mixture sampling is map-only (a deterministic hash threshold —
  *    no sampleBy scan, no RNG state, reproducible across retries);
  *  - packing's global running sum is a two-phase distributed prefix sum
  *    (per-range-partition window + a driver prefix over ≤numPartitions
  *    partial totals), never a single-partition `Window.orderBy`.
  */
object TrainingPrep {

  /** Per-document benchmark contamination: how many DISTINCT n-grams of
    * the (small) `benchmark` frame appear in each document — the GPT-3
    * appendix-C eval-overlap test as an operator. Returns every corpus
    * doc_id with its hit count (0 when clean).
    */
  def contamination(docs: DataFrame, benchmark: DataFrame, n: Int): DataFrame = {
    val bench = Dedup.ngrams(benchmark, n).select(col("gram")).distinct()
    val hits = Dedup.ngrams(docs, n)
      .join(broadcast(bench), Seq("gram"))
      .groupBy(col("doc_id"))
      .agg(count_distinct(col("gram")).as("bench_hits"))
    docs.select(col("doc_id"))
      .join(hits, Seq("doc_id"), "left")
      .select(col("doc_id"), coalesce(col("bench_hits"), lit(0L)).as("bench_hits"))
  }

  /** Corpus minus documents with ≥ `minHits` distinct benchmark n-grams.
    * The flagged set is contamination-sized (small), so the removal is a
    * broadcastable anti-join — the full corpus still never shuffles.
    */
  def decontaminate(docs: DataFrame, benchmark: DataFrame, n: Int,
      minHits: Long = 1L): DataFrame = {
    val bench = Dedup.ngrams(benchmark, n).select(col("gram")).distinct()
    val flagged = Dedup.ngrams(docs, n)
      .join(broadcast(bench), Seq("gram"))
      .groupBy(col("doc_id"))
      .agg(count_distinct(col("gram")).as("bench_hits"))
      .filter(col("bench_hits") >= minHits)
      .select(col("doc_id"))
    docs.join(broadcast(flagged), Seq("doc_id"), "left_anti")
  }

  /** DSIR-style importance weighting (Xie et al. 2023, "Data Selection
    * for Language Models via Importance Resampling"): score every raw
    * document by how target-like its token distribution is. The paper's
    * log-likelihood ratio over hashed n-gram features is replaced by its
    * monotone core — the SMOOTHED FREQUENCY RATIO
    * `(cnt_target(w)+1)/tot_target / ((cnt_raw(w)+1)/tot_raw)`, scaled
    * to integers — because summed float logs are evaluation-order
    * sensitive and could never hash-verify across engines; the ranking
    * signal (up-weight tokens over-represented in the target domain) is
    * the same.
    *
    * Scale shape: one token-level aggregation computes BOTH corpora's
    * counts (`count_if` on the target flag — no second scan), the two
    * grand totals are a 1-row broadcast, the per-token weight table is
    * vocabulary-sized, and the final per-doc sum is an ordinary combiner
    * aggregation. Nothing is collected; no all-pairs anywhere.
    */
  def importanceWeights(docs: DataFrame, isTarget: Column,
      scale: Long = 1000000L): DataFrame = {
    val toks = docs
      .select(col("doc_id"), isTarget.as("tgt"),
        explode(split(col("text"), "\\s+")).as("w"))
      .filter(length(col("w")) > 0)
    val counts = toks.groupBy("w")
      .agg(count(lit(1)).as("cnt_r"), count_if(col("tgt")).as("cnt_t"))
    val totals = toks
      .agg(count(lit(1)).as("totr"), count_if(col("tgt")).as("tott"))
    // DECIMAL(38,0) intermediates: in Long, scale·(cnt_t+1)·totr wraps
    // once past ~9.2e18 — any token with cnt_t > ~9200 in a 1B-token
    // corpus at the default scale — and ANSI-off Spark wraps SILENTLY
    // where DuckDB errors, so the cross-engine hash guarantee would
    // break exactly at scale. The 38-digit headroom (~1e38) covers
    // scale·corpus² far beyond 100 TB; `div` returns BIGINT either way.
    val weights = counts.crossJoin(broadcast(totals))
      .select(col("w"),
        expr(s"(CAST($scale AS DECIMAL(38,0)) * (cnt_t + 1) * totr)" +
          s" div ((cnt_r + 1) * tott)").as("wgt"))
    toks.join(weights, "w")
      .groupBy("doc_id").agg(sum("wgt").as("score"))
  }

  /** Engine-portable uniform hash in [0, 2³²): the first 8 hex digits of
    * md5 of the id rendered as a string — replayable digit-by-digit in
    * any SQL engine, unlike murmur/xxhash whose constants differ.
    */
  private def u32(id: Column): Column =
    conv(substring(md5(id.cast("string")), 1, 8), 16, 10).cast("long")

  /** Deterministic weighted mixture sampling: keep a document iff
    * u32(id) < weight(source) · 2³². Sources absent from `weights` drop
    * entirely. Map-only, seedless, and stable under task retries —
    * the property `sample(fraction=…)` does NOT give on a recomputed
    * partition. Dyadic weights make the threshold exact.
    */
  def mixtureSample(docs: DataFrame, weights: Map[String, Double],
      idCol: String = "doc_id", sourceCol: String = "source"): DataFrame = {
    val thresh = weights.foldLeft(lit(0L)) { case (acc, (src, w)) =>
      when(col(sourceCol) === src,
        lit(math.floor(w * 4294967296.0).toLong)).otherwise(acc)
    }
    docs.filter(u32(col(idCol)) < thresh)
  }

  /** Deterministic exact-size sample: the k documents with the smallest
    * engine-portable hash (ties broken by id). Seedless and stable like
    * [[mixtureSample]], but with a guaranteed output size — the
    * fixed-budget eval-subset cut. Plans as TakeOrderedAndProject
    * (per-partition top-k + merge), never a full sort.
    */
  def sampleExact(docs: DataFrame, k: Int, idCol: String = "doc_id"): DataFrame =
    docs.orderBy(u32(col(idCol)).asc, col(idCol).asc).limit(k)

  /** Deterministic stratified exact-size sample: the k smallest-hash
    * documents of EVERY stratum (source, language, domain …) — the
    * balanced-quota cut [[sampleExact]] can't give when one stratum
    * dominates the hash order. Same seedless engine-portable hash, so
    * membership is retry-stable and replayable in SQL.
    *
    * Scale shape: one shuffle on the stratum key; the per-stratum top-k
    * plans as WindowGroupLimit (Spark 3.5+), which pushes the k-row cut
    * INTO each map task before the shuffle — a skewed mega-stratum
    * arrives at its reducer already cut to k rows per upstream partition,
    * not as the whole stratum.
    */
  def sampleStratified(docs: DataFrame, k: Int,
      strataCol: String = "source", idCol: String = "doc_id"): DataFrame = {
    require(k >= 1, s"bad per-stratum quota $k")
    val w = Window.partitionBy(col(strataCol))
      .orderBy(u32(col(idCol)).asc, col(idCol).asc)
    docs.withColumn("__rk", row_number().over(w))
      .filter(col("__rk") <= k)
      .drop("__rk")
  }

  /** Leakage-safe train/validation split. Assignment is the seedless
    * [[mixtureSample]] hash (`u32(id) < valFrac·2³²` → val, else train),
    * then every TRAIN document that is a verified near-duplicate of any
    * VAL document is moved to `quarantine` — keeping it would leak the
    * held-out set into training through its near-copies, the failure
    * mode benchmark decontamination (q112) guards against *between*
    * corpora, applied here *within* one.
    *
    * `pairs` is any verified dup-pair frame (id_a, id_b, …) — at corpus
    * scale the banded [[Dedup.minhashPairs]] / incremental store. Scale
    * shape: the leak set is dup-scale (≪ corpus) and reaches the corpus
    * as a broadcast left join; the corpus itself never shuffles, so the
    * op composes map-only with the rest of the prep pipeline.
    */
  def leakageSafeSplit(
      docs: DataFrame,
      pairs: DataFrame,
      valFrac: Double = 0.125,
      idCol: String = "doc_id"): DataFrame = {
    val thresh = math.floor(valFrac * 4294967296.0).toLong
    def isVal(c: Column): Column = u32(c) < thresh
    // The split is a PURE FUNCTION of the id, so the leak set needs no
    // corpus join at all: evaluate both endpoints' assignments inside the
    // (dup-scale) pairs frame, keep the train endpoint of every
    // train×val pair. The corpus is touched exactly once, by the final
    // broadcast left join — zero corpus shuffles.
    val leaky = pairs
      .filter(isVal(col("id_a")) && !isVal(col("id_b")))
      .select(col("id_b").as(idCol))
      .unionByName(pairs
        .filter(isVal(col("id_b")) && !isVal(col("id_a")))
        .select(col("id_a").as(idCol)))
      .distinct()
      .withColumn("__leak", lit(1))
    docs.join(broadcast(leaky), Seq(idCol), "left")
      .withColumn("split",
        when(isVal(col(idCol)), "val")
          .when(col("__leak").isNotNull, "quarantine")
          .otherwise("train"))
      .drop("__leak")
  }

  /** Adds `outCol` = running sum of `valueCol` in `orderCol` order, as a
    * distributed two-phase prefix sum: range-partition by the order key,
    * cumsum inside each partition (parallel windows), then shift each
    * partition by the driver-side prefix of the ≤numPartitions partial
    * totals (bounded like [[Similarity]]'s IVF sample). The result is
    * independent of where the range boundaries land.
    */
  /** The pre-pin build of [[prefixSum]]'s range-partitioned frame —
    * exposed for plan-shape tests: the pinned final plan shows only a
    * checkpoint scan, hiding the rangepartitioning the q114/q115 plan
    * guard asserts at the unit level (r12 ADVICE).
    */
  private[graft] def prefixSumParts(df: DataFrame, orderCol: Column): DataFrame =
    df.repartitionByRange(orderCol).withColumn("__pid", spark_partition_id())

  def prefixSum(df: DataFrame, orderCol: Column, valueCol: Column,
      outCol: String): DataFrame = {
    val spark = df.sparkSession
    // Pinned: `parts` has TWO consumers (the per-partition window and the
    // totals collect), and left lazy each one re-evaluates the ENTIRE
    // upstream chain — in q115 that chain is decontaminate → mixture →
    // tokenize, so the baseline plan scanned the corpus 6× where the
    // algorithm needs 3. The pin also freezes the range boundaries:
    // correctness of the __pid → offset match relied on two separate
    // repartitionByRange evaluations sampling identical boundaries,
    // which the checkpoint now guarantees by construction. The pinned
    // rows are the caller's narrow projection ((doc_id, ntok) longs in
    // packSequences), never the text payload.
    // Pins.pin: localCheckpoint locally, reliable once the context has
    // a checkpoint dir.
    val parts = Pins.pin(prefixSumParts(df, orderCol),
      org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK_SER)
    val withLocal = parts.withColumn("__local",
      sum(valueCol).over(Window.partitionBy(col("__pid")).orderBy(orderCol)))
    val totals = parts.groupBy(col("__pid"))
      .agg(sum(valueCol).as("__tot"))
      .collect()
      .map(r => (r.getInt(0), r.getLong(1)))
      .sortBy(_._1)
    var acc = 0L
    val offsets = totals.map { case (pid, tot) => val o = (pid, acc); acc += tot; o }
    val offDf = spark.createDataFrame(offsets.toIndexedSeq).toDF("__pid", "__off")
    withLocal.join(broadcast(offDf), Seq("__pid"))
      .withColumn(outCol, col("__local") + col("__off"))
      .drop("__pid", "__local", "__off")
  }

  /** Per-group sequence packing: like [[packSequences]] but sequences
    * never cross `groupCol` boundaries (domain-separated pretraining —
    * a batch drawn from one source/language at a time). The running sum
    * is an ordinary window PARTITIONED by the group, so each group packs
    * in parallel with no global prefix sum; `seq_id` restarts per group,
    * making (group, seq_id) the sequence key. A single group big enough
    * to skew its task can be packed alone via [[packSequences]].
    */
  def packSequencesBy(docs: DataFrame, seqLen: Int, groupCol: String): DataFrame = {
    val toks = docs.select(col(groupCol), col("doc_id"),
      size(split(col("text"), " ")).cast("long").as("ntok"))
    val w = Window.partitionBy(col(groupCol)).orderBy(col("doc_id"))
    toks
      .withColumn("cum_end", sum(col("ntok")).over(w))
      .withColumn("cum_start", col("cum_end") - col("ntok"))
      .withColumn("seq_id", explode(sequence(
        expr(s"cum_start div $seqLen"), expr(s"(cum_end - 1) div $seqLen"))))
      .withColumn("tok_start", greatest(col("cum_start"), col("seq_id") * seqLen))
      .withColumn("tok_end", least(col("cum_end"), (col("seq_id") + 1) * seqLen))
      .select(
        col(groupCol),
        col("doc_id"),
        col("seq_id"),
        (col("tok_start") - col("cum_start")).as("doc_off"),
        (col("tok_start") - col("seq_id") * seqLen).as("seq_off"),
        (col("tok_end") - col("tok_start")).as("len"))
  }

  /** Concat-and-chunk sequence packing (GPT-style pretraining): documents
    * are concatenated into one token stream in ascending `doc_id` order
    * and the stream is cut every `seqLen` tokens. Emits one row per
    * (document × overlapped sequence):
    *
    *   doc_id, seq_id, doc_off (first packed token within the doc),
    *   seq_off (its position within the sequence), len (tokens taken).
    *
    * Integer arithmetic throughout; every sequence except the last sums
    * to exactly `seqLen`.
    */
  def packSequences(docs: DataFrame, seqLen: Int): DataFrame = {
    val toks = docs.select(col("doc_id"),
      size(split(col("text"), " ")).cast("long").as("ntok"))
    val cum = prefixSum(toks, col("doc_id"), col("ntok"), "cum_end")
      .withColumn("cum_start", col("cum_end") - col("ntok"))
    cum
      .withColumn("seq_id", explode(sequence(
        expr(s"cum_start div $seqLen"), expr(s"(cum_end - 1) div $seqLen"))))
      .withColumn("tok_start", greatest(col("cum_start"), col("seq_id") * seqLen))
      .withColumn("tok_end", least(col("cum_end"), (col("seq_id") + 1) * seqLen))
      .select(
        col("doc_id"),
        col("seq_id"),
        (col("tok_start") - col("cum_start")).as("doc_off"),
        (col("tok_start") - col("seq_id") * seqLen).as("seq_off"),
        (col("tok_end") - col("tok_start")).as("len"))
  }

  /** Deterministic training-shard export — the dataloader handoff after
    * dedup / mixture / packing: every row lands in exactly ONE of
    * `nShards` shards by a SEEDED engine-portable hash of its id, and
    * rows inside a shard carry a stable position (`shard_pos`, ordered
    * by the same hash with id tie-break). That makes the training order
    * a pure function of (seed, ids) — identical across cluster sizes,
    * input partitionings, task retries, and engines (the q237 oracle
    * replays it digit-for-digit) — where `repartition(n)` round-robins
    * an arbitrary input order and `orderBy(rand())` is neither stable
    * nor replayable. A new epoch re-shuffles by re-seeding, touching no
    * data.
    *
    * Scale shape: one hash projection + one shard-keyed window — a
    * single shuffle on the shard key, each shard sorted independently;
    * never a global sort.
    */
  def shardAssign(docs: DataFrame, nShards: Int, seed: Long = 0L,
      idCol: String = "doc_id"): DataFrame = {
    require(nShards > 0, s"bad nShards $nShards")
    // the object's one engine-portable hash (replayed digit-by-digit by
    // the q237 oracle), seeded by prefixing the id
    val h = u32(concat_ws("#", lit(seed), col(idCol).cast("string")))
    val w = Window.partitionBy(col("shard")).orderBy(col("__h"), col(idCol))
    docs.withColumn("__h", h)
      .withColumn("shard", pmod(col("__h"), lit(nShards.toLong)))
      .withColumn("shard_pos", row_number().over(w).cast("long"))
      .drop("__h")
  }
}
