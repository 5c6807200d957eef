package graft.operators

import graft.plans.VectorFunctions._
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Similarity search over an embedding column (`array<float>`).
  *
  * Two paths:
  *  - [[cosineTopK]]: exact brute force — the correctness baseline. The
  *    query side is expected small and broadcasts; the corpus side
  *    streams through codegen'd [[graft.plans.FloatDotProduct]] with no
  *    shuffle of the corpus. Scales linearly in |corpus|·|queries|.
  *  - [[lshTopK]]: random-hyperplane LSH prefilter — the 100 TB path.
  *    Corpus is bucketed once by band signatures (a narrow shuffle of
  *    (id, band, bucket) pairs, not vectors), candidates are generated by
  *    an equi-join on buckets, and only candidates pay the exact-rerank
  *    dot product. Recall is tunable via nBits/nBands.
  */
object Similarity {

  /** Exact top-k: for each query vector, the k nearest corpus vectors by
    * cosine, ties broken by neighbor id. Excludes self-matches.
    */
  def cosineTopK(corpus: DataFrame, queries: DataFrame, k: Int): DataFrame = {
    val c = corpus.select(
      col("vec_id").as("neighbor_id"),
      col("embedding").as("cv"))
      .withColumn("cnrm", vecNorm(col("cv")))
    val q = queries.select(
      col("vec_id").as("query_id"),
      col("embedding").as("qv"))
      .withColumn("qnrm", vecNorm(col("qv")))
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("cosine").desc, col("neighbor_id"))
    broadcast(q).crossJoin(c)
      .filter(col("query_id") =!= col("neighbor_id"))
      .withColumn("cosine", cosine(col("qv"), col("cv"), col("qnrm"), col("cnrm")))
      .withColumn("rnk", row_number().over(w).cast("long"))
      .filter(col("rnk") <= k)
      .select(col("query_id"), col("neighbor_id"), col("cosine"), col("rnk"))
  }

  /** Int8-quantized brute top-k — the storage/scan-bandwidth scale path.
    * Each vector is stored as per-vector-scaled int8 codes
    * (`q_i = round(x_i / max|x| · 127)`): a 4× smaller scan than float32
    * before any pruning, and the candidate score is an INTEGER dot
    * product (SIMD-friendly, overflow-free at any realistic dim). The
    * integer dot is rescaled to an approximate cosine by a fixed-order
    * double expression, so the whole operator is deterministic and
    * SQL-replayable — the approximation error is purely the 8-bit codes,
    * not the arithmetic, and the output hash-verifies (q126). Compose
    * with [[lshTopK]]'s bucketing when |corpus|·|queries| itself is the
    * bottleneck; quantization shrinks the scan, LSH shrinks the
    * candidate set — independent axes.
    *
    * Precondition: no all-zero vectors (max|x| divides; same as the
    * cosine baseline's nonzero-norm requirement).
    */
  def quantizedTopK(corpus: DataFrame, queries: DataFrame, k: Int): DataFrame = {
    def prep(df: DataFrame, idAs: String, pre: String): DataFrame = df
      .select(col("vec_id").as(idAs), col("embedding"))
      .withColumn(s"${pre}nrm", vecNorm(col("embedding")))
      .withColumn(s"${pre}mx",
        array_max(transform(col("embedding"), x => abs(x.cast("double")))))
      .withColumn(s"${pre}q",
        transform(col("embedding"),
          x => round(x.cast("double") / col(s"${pre}mx") * 127.0).cast("long")))
      .drop("embedding")
    val c = prep(corpus, "neighbor_id", "c")
    val q = prep(queries, "query_id", "q")
    val idot = aggregate(
      zip_with(col("qq"), col("cq"), (a, b) => a * b), lit(0L), (acc, x) => acc + x)
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("score").desc, col("neighbor_id"))
    broadcast(q).crossJoin(c)
      .filter(col("query_id") =!= col("neighbor_id"))
      .withColumn("score",
        idot.cast("double") * col("qmx") * col("cmx") / 16129.0 / col("qnrm") / col("cnrm"))
      .withColumn("rnk", row_number().over(w).cast("long"))
      .filter(col("rnk") <= k)
      .select(col("query_id"), col("neighbor_id"), col("score"), col("rnk"))
  }

  /** Deterministic ±1 (Rademacher) hyperplane `p`: sign `i` is the high
    * bit of a Knuth multiplicative hash of `p * 97 + i`. Sign random
    * projections with ±1 entries are a standard cosine-LSH family
    * (Charikar '02 works for any symmetric sign distribution); integer
    * arithmetic makes the planes exactly reproducible in plain SQL, so
    * LSH output is oracle-checkable rather than rows-only.
    */
  private[graft] def pmPlane(p: Int, dim: Int): Array[Float] =
    Array.tabulate(dim) { i =>
      if (((p * 97 + i).toLong * 2654435761L) % 4294967296L >= 2147483648L) 1.0f else -1.0f
    }

  /** Signature column: bit p = sign(v · plane_p), computed by the fused
    * [[graft.plans.SignBuckets]] kernel as one nBits-bit "bucket"
    * (seed 0, plane ids 0..nBits−1 — the exact pmPlane family, float32
    * index-order accumulation bit-identical to DuckDB's
    * `list_dot_product` replay in the q45 oracle). One compact plan node
    * instead of nBits literal-array subtrees.
    */
  private def sigCol(vec: Column, nBits: Int, dim: Int): Column =
    element_at(signBuckets(vec, 0, nBits, 1), 1)

  /** ANN top-k: bucket corpus+queries by LSH band signatures, equi-join
    * buckets for candidates, exact-rerank candidates only.
    */
  def lshTopK(
      corpus: DataFrame,
      queries: DataFrame,
      k: Int,
      dim: Int,
      nBits: Int = 16,
      nBands: Int = 4): DataFrame = {
    val bitsPerBand = nBits / nBands
    val mask = (1 << bitsPerBand) - 1

    def banded(df: DataFrame, idAs: String, vecAs: String): DataFrame = {
      val bands = (0 until nBands).map { b =>
        struct(lit(b).as("band"),
          shiftright(col("sig"), b * bitsPerBand).bitwiseAND(mask).as("bucket"))
      }
      df.select(col("vec_id").as(idAs), col("embedding").as(vecAs))
        .withColumn("sig", sigCol(col(vecAs), nBits, dim))
        .withColumn("bb", explode(array(bands: _*)))
        .select(col(idAs), col(vecAs), col("bb.band"), col("bb.bucket"))
    }

    val cb = banded(corpus, "neighbor_id", "cv")
    val qb = banded(queries, "query_id", "qv")
    val candidates = qb.join(cb, Seq("band", "bucket"))
      .filter(col("query_id") =!= col("neighbor_id"))
      .select("query_id", "qv", "neighbor_id", "cv")
      .dropDuplicates("query_id", "neighbor_id")

    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("cosine").desc, col("neighbor_id"))
    candidates
      .withColumn("cosine",
        cosine(col("qv"), col("cv"), vecNorm(col("qv")), vecNorm(col("cv"))))
      .withColumn("rnk", row_number().over(w).cast("long"))
      .filter(col("rnk") <= k)
      .select(col("query_id"), col("neighbor_id"), col("cosine"), col("rnk"))
  }

  /** IVF with a *seeded* coarse quantizer: the `nCells` lowest-id corpus
    * vectors are the cell centers directly (no Lloyd iterations). Fully
    * distributed — assignment is a broadcast join + argmin, no driver
    * collect — and fully deterministic: distances reduce to three
    * [[FloatDotProduct]]s via ‖a−b‖² = ‖a‖² + ‖b‖² − 2a·b, so cell
    * assignment, probing, and rerank are all bit-reproducible in SQL and
    * the output is oracle-checkable.
    * Ties in the argmin break by cell id.
    */
  def ivfTopKSeeded(
      corpus: DataFrame,
      queries: DataFrame,
      k: Int,
      nCells: Int = 16,
      nProbe: Int = 4): DataFrame = {
    val seeds = corpus.filter(col("vec_id") < nCells)
      .select(col("vec_id").as("cell"), col("embedding").as("sv"))

    // ‖v−s‖² from float dots widened to double (exact-rounded ops on
    // bit-identical operands → deterministic cross-engine)
    def d2(v: Column, s: Column): Column =
      vecDot(v, v).cast("double") + vecDot(s, s).cast("double") -
        lit(2.0) * vecDot(v, s).cast("double")

    def assign(df: DataFrame, idAs: String, vecAs: String, nNear: Int): DataFrame = {
      val w = Window.partitionBy(col(idAs)).orderBy(col("d2"), col("cell"))
      df.select(col("vec_id").as(idAs), col("embedding").as(vecAs))
        .crossJoin(broadcast(seeds))
        .withColumn("d2", d2(col(vecAs), col("sv")))
        .withColumn("r", row_number().over(w))
        .filter(col("r") <= nNear)
        .select(col(idAs), col(vecAs), col("cell"))
    }

    val cells = assign(corpus, "neighbor_id", "cv", 1)
    val probes = assign(queries, "query_id", "qv", nProbe)
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("cosine").desc, col("neighbor_id"))
    probes.join(cells, Seq("cell"))
      .filter(col("query_id") =!= col("neighbor_id"))
      .dropDuplicates("query_id", "neighbor_id")
      .withColumn("cosine",
        cosine(col("qv"), col("cv"), vecNorm(col("qv")), vecNorm(col("cv"))))
      .withColumn("rnk", row_number().over(w).cast("long"))
      .filter(col("rnk") <= k)
      .select(col("query_id"), col("neighbor_id"), col("cosine"), col("rnk"))
  }

  /** Semantic deduplication in the SemDeDup shape (Abbas et al. 2023,
    * arXiv:2303.09540): cluster embeddings with a coarse quantizer, then
    * within each cluster drop every vector that has a cluster-mate above
    * `threshold` cosine with a lower id (keep-lowest — the paper keeps
    * one arbitrary item per semantic-duplicate group; lowest-id makes
    * that choice deterministic and SQL-replayable).
    *
    * Scale shape: assignment is a broadcast of `nCells` seed vectors +
    * argmin (no shuffle of the corpus), then ONE shuffle on the cell id;
    * the quadratic pairwise step is confined to a cluster, which is the
    * whole point of SemDeDup — k grows with the corpus so cluster sizes
    * stay bounded (the paper uses k = 11k for 600M embeddings). For a
    * cluster that still comes out hot, compose with the sign-LSH
    * prefilter of [[nearDupPairs]] *within* the cluster. The coarse
    * quantizer here is the deterministic seeded one of [[ivfTopKSeeded]]
    * (lowest-id vectors as centers, distances via three float dots) so
    * the full operator — assignment, pairing, verdicts — hash-verifies
    * against SQL; swap in Lloyd-iterated centers for recall-tuned
    * production runs.
    *
    * Output: one row per input vector — (vec_id, cell, kept, dup_of,
    * cos_dup) where dup_of is the lowest-id cluster-mate that shadows
    * this vector (null when kept).
    *
    * PRECONDITION: `vec_id` is unique in `emb` ("one row per input
    * vector" above is the input contract too). The assignment aggregate
    * keeps each vector's embedding via `first(embedding)` per vec_id,
    * which is only deterministic because every row of a vec_id group
    * carries the identical embedding; duplicate vec_ids with DIFFERING
    * embeddings would make the kept embedding (and downstream cosines)
    * plan-dependent. The replaced row_number shape deterministically
    * kept the argmin row — callers feeding non-unique ids must dedup
    * first.
    */
  def semanticDedup(
      emb: DataFrame,
      threshold: Double,
      nCells: Int = 16): DataFrame = {
    // Assignment = argmin over ≤ nCells seed distances. The r11 shape
    // (crossJoin(broadcast(seeds)) + row_number window on vec_id)
    // shuffled nCells COPIES of every embedding through a corpus-wide
    // sort+window exchange, once per consumer of `cells`. Replaced by a
    // map-side partial aggregate: min(struct(d2, cell)) collapses the
    // ×nCells expansion to one row per vector BEFORE the exchange
    // (broadcast join preserves the input partitioning, so all nCells
    // rows of a vector sit in one map partition), the exchange carries
    // nVecs rows instead of nVecs×nCells, and the sort disappears.
    // Lexicographic struct-min ≡ the window's ORDER BY d2, cell
    // pick-first (nulls-first field ordering and NaN-greatest agree);
    // d2 is the SAME three-float-dot expression, so assignments are
    // bit-identical. first(embedding) is value-deterministic: all
    // nCells rows of a vec_id carry the identical embedding.
    val seeds = emb.filter(col("vec_id") < nCells)
      .select(col("vec_id").as("cell"), col("embedding").as("sv"))
    def d2(v: Column, s: Column): Column =
      vecDot(v, v).cast("double") + vecDot(s, s).cast("double") -
        lit(2.0) * vecDot(v, s).cast("double")
    val cells = emb.select(col("vec_id"), col("embedding"))
      .crossJoin(broadcast(seeds))
      .groupBy(col("vec_id"))
      .agg(
        min(struct(d2(col("embedding"), col("sv")), col("cell")))
          .getField("cell").as("cell"),
        first(col("embedding")).as("embedding"))
      .select(col("vec_id"), col("embedding"), col("cell"))
    val a = cells.select(col("cell"), col("vec_id").as("dup_of"), col("embedding").as("av"))
    val b = cells.select(col("cell"), col("vec_id"), col("embedding").as("bv"))
    val byDup = Window.partitionBy(col("vec_id")).orderBy(col("dup_of"))
    val shadows = a.join(b, Seq("cell"))
      .filter(col("dup_of") < col("vec_id"))
      .withColumn("cos_dup",
        cosine(col("av"), col("bv"), vecNorm(col("av")), vecNorm(col("bv"))))
      .filter(col("cos_dup") >= threshold)
      .withColumn("rd", row_number().over(byDup))
      .filter(col("rd") === 1)
      .select(col("vec_id"), col("dup_of"), col("cos_dup"))
    cells.select(col("vec_id"), col("cell"))
      .join(shadows, Seq("vec_id"), "left")
      .select(col("vec_id"), col("cell"),
        col("dup_of").isNull.as("kept"), col("dup_of"), col("cos_dup"))
  }

  /** Embedding-cosine near-duplicate pairs above `threshold`; `leftPred`
    * restricts the probe side (for oracle tractability / sharded sweeps)
    * and may reference `id_a` (the probe-side vector id).
    *
    * The DEFAULT path is the scale path: a banded sign-LSH prefilter
    * (ids only shuffle — `nBands` (band, bucket) tuples per vector, never
    * the vectors themselves) generates candidates by an equi-join on the
    * bucket, and only candidates pay the exact cosine, which also makes
    * the output exact-above-threshold (no false positives ever). Recall:
    * a pair at angle θ collides in a band with prob (1−θ/π)^bitsPerBand,
    * and is missed only if all nBands bands miss — for a true near-dup at
    * cosine 0.99 that is ~7e-9 with the 8×16 default; selectivity on
    * unrelated (cosine≈0) pairs is nBands/2^bitsPerBand = 1/16. The
    * prefilter prunes only when the threshold is high (≥~0.7) — the
    * near-dup regime it exists for; at low thresholds sign-LSH cannot
    * simultaneously guarantee recall and prune (the collision curve is
    * too flat), which is what `bruteForce = true` is for: the exact
    * sharded all-pairs baseline (O(|probe|·|corpus|), probe side must be
    * kept broadcastable via `leftPred`).
    */
  def nearDupPairs(
      emb: DataFrame,
      threshold: Double,
      leftPred: Column,
      bruteForce: Boolean = false,
      dim: Int = 64,
      bitsPerBand: Int = 8,
      nBands: Int = 16): DataFrame =
    if (bruteForce) bruteNearDupPairs(emb, threshold, leftPred)
    else {
      // per-band bucket = bitsPerBand sign bits of deterministic
      // Rademacher projections (plane ids offset from lshTopK's family),
      // computed by the FUSED [[graft.plans.SignBuckets]] codegen
      // expression — one compact plan node instead of nBands·bitsPerBand
      // literal-array subtrees (whose analysis + Janino compile time
      // dominated the query at small corpus sizes); arithmetic is
      // bit-identical to vecDot against pmPlane literals. The banded
      // frame is built ONCE and self-joined: both join inputs shuffle on
      // the same (band, bucket) key from plans that canonicalize
      // identically when leftPred is non-selective, so the second side
      // plans as a ReusedExchange — the signature pass runs one time
      // over the corpus, not two. When leftPred IS selective it pushes
      // below the band explode (it only references vec_id), so the probe
      // side computes signatures for filtered rows only.
      // NOT pinned (r12 measured): an eager localCheckpoint of sigs +
      // a candidate-pruned vector pin re-ran q94 at 1.95× the baseline
      // min — each pin is a synchronous job barrier + storage
      // round-trip, and the recompute it saves (one signature pass /
      // one projection of the caller's frame) is cheaper than that at
      // any scale where the broadcast regime applies; in the big-data
      // shuffle regime both sides canonicalize to the SAME exchange and
      // ReusedExchange already runs the signature pass once.
      val sigs = emb
        .select(col("vec_id"),
          posexplode(signBuckets(col("embedding"), 1000, bitsPerBand, nBands)))
        .toDF("vec_id", "band", "bucket")
      val candidates = sigs.toDF("id_a", "band", "bucket").filter(leftPred)
        .join(sigs.toDF("id_b", "band", "bucket"), Seq("band", "bucket"))
        .filter(col("id_a") < col("id_b"))
        .select(col("id_a"), col("id_b"))
        .distinct()
      // exact verification of candidates only (vectors join in here, once)
      val va = emb.select(col("vec_id").as("id_a"), col("embedding").as("va"))
      val vb = emb.select(col("vec_id").as("id_b"), col("embedding").as("vb"))
      candidates.join(va, Seq("id_a")).join(vb, Seq("id_b"))
        .withColumn("cosine",
          cosine(col("va"), col("vb"), vecNorm(col("va")), vecNorm(col("vb"))))
        .filter(col("cosine") > threshold)
        .select(col("id_a"), col("id_b"), col("cosine"))
    }

  /** Product-quantization ANN (Jégou et al. 2011, TPAMI — "Product
    * Quantization for Nearest Neighbor Search"): split each vector into
    * `m` subvectors, quantize every subvector against a per-subspace
    * codebook, and search by asymmetric distance (ADC) — the query stays
    * exact while each corpus vector is represented by m small codes, so
    * the scan touches m·log₂(nCells) BITS per vector instead of the full
    * float payload (here 4 codes ≈ 2 bytes vs 256 bytes — the memory
    * compression that lets 100 TB of embeddings fit a scan budget).
    *
    * Like [[ivfTopKSeeded]] the codebooks are SEEDED (subvectors of the
    * `nCells` lowest-id corpus rows — no Lloyd iterations) so encode,
    * ADC and rerank are all deterministic float-dot arithmetic the
    * DuckDB oracle replays bit-exactly; swap trained codebooks in for
    * recall-tuned production runs. Candidates = top `k·oversample` by
    * ADC (ties by id), then exact-cosine rerank of candidates only —
    * the emitted top-k is exact over the candidate set by construction.
    *
    * Scale shape: encoding is a broadcast of nCells seeds + a map-side
    * partial-agg argmin (corpus never shuffles with vectors attached);
    * the ADC scan carries only (vec_id, codes); the full embedding
    * rejoins for the ≤ k·oversample candidates per query.
    */
  def pqTopK(
      corpus: DataFrame,
      queries: DataFrame,
      k: Int,
      dim: Int = 64,
      m: Int = 4,
      nCells: Int = 16,
      oversample: Int = 4): DataFrame = {
    require(dim % m == 0, s"dim $dim not divisible into $m subspaces")
    val subDim = dim / m
    def sub(c: Column, i: Int): Column = slice(c, i * subDim + 1, subDim)
    def d2(v: Column, s: Column): Column =
      vecDot(v, v).cast("double") + vecDot(s, s).cast("double") -
        lit(2.0) * vecDot(v, s).cast("double")

    val seeds = corpus.filter(col("vec_id") < nCells)
      .select(col("vec_id").as("cell") +:
        (0 until m).map(i => sub(col("embedding"), i).as(s"s$i")): _*)

    // Encode: per subspace, argmin over the broadcast codebook — a
    // lexicographic min(struct(distance, cell)) so ties break by cell id
    // and the aggregate combines map-side.
    val codes = corpus.select(col("vec_id") +:
        (0 until m).map(i => sub(col("embedding"), i).as(s"v$i")): _*)
      .crossJoin(broadcast(seeds))
      .groupBy(col("vec_id"))
      .agg(
        min(struct(d2(col("v0"), col("s0")).as("d"), col("cell").as("c"))).as("m0"),
        (1 until m).map(i =>
          min(struct(d2(col(s"v$i"), col(s"s$i")).as("d"), col("cell").as("c"))).as(s"m$i")): _*)
      .select(col("vec_id") +: (0 until m).map(i => col(s"m$i.c").as(s"c$i")): _*)

    val qsubs = queries.select(col("vec_id").as("query_id") +:
      (0 until m).map(i => sub(col("embedding"), i).as(s"q$i")): _*)

    // ADC: look the centroid subvectors back up by code (broadcast
    // joins) and sum the per-subspace distances in fixed order.
    var adc = codes.crossJoin(broadcast(qsubs))
    (0 until m).foreach { i =>
      adc = adc.join(
        broadcast(seeds.select(col("cell").as(s"cell$i"), col(s"s$i"))),
        col(s"c$i") === col(s"cell$i"))
    }
    val adcDist = (0 until m).map(i => d2(col(s"q$i"), col(s"s$i")))
      .reduceLeft(_ + _)
    val byAdc = Window.partitionBy(col("query_id"))
      .orderBy(col("adc"), col("vec_id"))
    val candidates = adc
      .withColumn("adc", adcDist)
      .filter(col("query_id") =!= col("vec_id"))
      .withColumn("r", row_number().over(byAdc))
      .filter(col("r") <= k * oversample)
      .select(col("query_id"), col("vec_id").as("neighbor_id"))

    // Exact rerank of candidates only.
    val cv = corpus.select(col("vec_id").as("neighbor_id"), col("embedding").as("cv"))
    val qv = queries.select(col("vec_id").as("query_id"), col("embedding").as("qv"))
    val byCos = Window.partitionBy(col("query_id"))
      .orderBy(col("cosine").desc, col("neighbor_id"))
    candidates
      .join(cv, Seq("neighbor_id"))
      .join(broadcast(qv), Seq("query_id"))
      .withColumn("cosine",
        cosine(col("qv"), col("cv"), vecNorm(col("qv")), vecNorm(col("cv"))))
      .withColumn("rnk", row_number().over(byCos).cast("long"))
      .filter(col("rnk") <= k)
      .select(col("query_id"), col("neighbor_id"), col("cosine"), col("rnk"))
  }

  // ------------------------------------------------------------------
  // Persistent ANN index — the dense counterpart of TextRetrieval's
  // inverted index: ivfTopKSeeded/pqTopK recompute cell assignment /
  // codes for the WHOLE corpus inside every call; at 100 TB that is a
  // corpus scan per query batch. buildIvfIndex/buildIvfPqIndex pay it ONCE
  // into TxLog tables; queries encode only themselves and scan the
  // manifest-pruned candidate slice.
  // ------------------------------------------------------------------

  /** ‖v−s‖² via three float dots (deterministic cross-engine). */
  private def seedD2(v: Column, s: Column): Column =
    vecDot(v, v).cast("double") + vecDot(s, s).cast("double") -
      lit(2.0) * vecDot(v, s).cast("double")

  /** Nearest `nNear` of the broadcast `seeds` per vector — the
    * [[ivfTopKSeeded]] assignment, shared by build and query so
    * all three are bit-consistent. Ties break by cell id.
    */
  private def seededAssign(df: DataFrame, seeds: DataFrame, idAs: String,
      vecAs: String, nNear: Int): DataFrame = {
    val w = Window.partitionBy(col(idAs)).orderBy(col("d2"), col("cell"))
    df.select(col("vec_id").as(idAs), col("embedding").as(vecAs))
      .crossJoin(broadcast(seeds))
      .withColumn("d2", seedD2(col(vecAs), col("sv")))
      .withColumn("r", row_number().over(w))
      .filter(col("r") <= nNear)
      .select(col(idAs), col(vecAs), col("cell"))
  }

  /** Build (or rebuild) the persistent IVF index under `indexDir`:
    *
    *  - `centroids` (cell, sv): the [[ivfTopKSeeded]] coarse quantizer
    *    (nCells lowest-id vectors — deterministic, so the indexed query
    *    path hash-verifies against the recompute path, q222);
    *  - `cells` (vec_id, embedding, cell): every corpus vector in its
    *    nearest cell's inverted list, committed ONE BATCH PER CELL
    *    ([[graft.sources.TxLog.commitPartitioned]]) so a probe's cells
    *    manifest-prune to exactly the touched lists.
    */
  def buildIvfIndex(spark: org.apache.spark.sql.SparkSession,
      indexDir: String, emb: DataFrame, nCells: Int = 16): Unit = {
    import graft.sources.TxLog
    val f = new org.apache.hadoop.fs.Path(indexDir)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    f.delete(new org.apache.hadoop.fs.Path(indexDir), true)
    val seeds = emb.filter(col("vec_id") < nCells)
      .select(col("vec_id").as("cell"), col("embedding").as("sv"))
    TxLog.commit(spark, s"$indexDir/centroids", seeds)
    TxLog.commitPartitioned(spark, s"$indexDir/cells",
      seededAssign(emb, seeds, "vec_id", "embedding", 1), "cell")
  }

  /** [[ivfTopKSeeded]] answered from a prebuilt [[buildIvfIndex]] —
    * query time encodes ONLY the queries (one broadcast of nCells
    * centroids) and scans ONLY the probed cells' inverted lists
    * ([[graft.sources.TxLog.readWhereIn]] manifest-prunes the
    * one-batch-per-cell layout). Same assignment, same rerank
    * arithmetic, same tie-breaks ⇒ bit-identical to the recompute path
    * (q222 hash-pins it against q53's oracle SQL).
    */
  def ivfTopKIndexed(spark: org.apache.spark.sql.SparkSession,
      indexDir: String, queries: DataFrame, k: Int,
      nProbe: Int = 4): DataFrame = {
    import graft.sources.TxLog
    val seeds = TxLog.read(spark, s"$indexDir/centroids")
    // query-bounded; pinned because both the probed-cell collect and
    // the candidate join consume it
    val probes = Pins.pin(seededAssign(queries, seeds, "query_id", "qv", nProbe))
    // the probed cell set is bounded by nCells (and usually smaller)
    val probedCells = probes.select(col("cell")).distinct()
      .collect().map(_.getLong(0)).toSeq
    // empty queries degrade like the inline operator (empty result),
    // not via readWhereIn's non-empty-probe contract
    if (probedCells.isEmpty)
      return emptyAnn(spark)
    graft.plans.TxStatsRule.register(s"$indexDir/cells")
    val cells = TxLog.readWhereIn(spark, s"$indexDir/cells", "cell",
        probedCells)
      .select(col("vec_id").as("neighbor_id"), col("embedding").as("cv"),
        col("cell"))
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("cosine").desc, col("neighbor_id"))
    // the probes side is query-bounded BY CONTRACT — broadcast it
    // explicitly (its localCheckpoint pin hides its size from Catalyst,
    // which otherwise builds a broadcast hash relation out of the
    // CORPUS-scaled cell lists: measured 4x slower than the recompute
    // path before this pin). Cosine is computed BEFORE the multi-probe
    // dedup so the dedup aggregates a narrow (ids, double) row in a
    // map-side-combining HashAggregate — dropDuplicates here would drag
    // both vectors through two sorts via first(array) (measured 2x).
    // Duplicates of a pair carry the IDENTICAL cosine (same operands,
    // same fixed-order kernel), so min() is a pure tie-break.
    broadcast(probes).join(cells, Seq("cell"))
      .filter(col("query_id") =!= col("neighbor_id"))
      .withColumn("cosine",
        cosine(col("qv"), col("cv"), vecNorm(col("qv")), vecNorm(col("cv"))))
      .groupBy(col("query_id"), col("neighbor_id"))
      .agg(min(col("cosine")).as("cosine"))
      .withColumn("rnk", row_number().over(w).cast("long"))
      .filter(col("rnk") <= k)
      .select(col("query_id"), col("neighbor_id"), col("cosine"), col("rnk"))
  }

  /** Per-subspace argmin encoding against a broadcast codebook —
    * [[pqTopK]]'s encode step, shared by the recompute and indexed
    * paths.
    */
  private def encodePq(emb: DataFrame, seeds: DataFrame, m: Int,
      subDim: Int): DataFrame = {
    def sub(c: Column, i: Int): Column = slice(c, i * subDim + 1, subDim)
    emb.select(col("vec_id") +:
        (0 until m).map(i => sub(col("embedding"), i).as(s"v$i")): _*)
      .crossJoin(broadcast(seeds))
      .groupBy(col("vec_id"))
      .agg(
        min(struct(seedD2(col("v0"), col("s0")).as("d"), col("cell").as("c"))).as("m0"),
        (1 until m).map(i =>
          min(struct(seedD2(col(s"v$i"), col(s"s$i")).as("d"), col("cell").as("c"))).as(s"m$i")): _*)
      .select(col("vec_id") +: (0 until m).map(i => col(s"m$i.c").as(s"c$i")): _*)
  }

  // ------------------------------------------------------------------
  // IVF-PQ — the coarse-quantizer × product-code COMPOSITION (Jégou et
  // al. 2011 §V "IVFADC"; the FAISS IndexIVFPQ default shape): IVF
  // confines the ADC scan to the probed cells' inverted lists (plain
  // [[pqTopK]] ADC reads EVERY code — sub-linear only in bytes per
  // vector, not in vectors), and PQ shrinks what that confined
  // scan reads per vector. Codes quantize the RAW vectors, not
  // residuals (FAISS's `by_residual=false` mode): residual encoding
  // materializes elementwise float differences whose arrays the SQL
  // oracle cannot replay as plain stored-column dot products, while
  // raw-vector codes keep every stage three FloatDotProducts — a
  // documented recall-for-determinism trade, and trained
  // residual-aware codebooks swap in for production runs exactly as
  // in [[pqTopK]].
  // ------------------------------------------------------------------

  /** Seeded per-subspace PQ codebook from the corpus rows
    * [nCells, 2·nCells) — DISJOINT from the coarse seeds [0, nCells)
    * so the two quantizers don't degenerate into each other (a coarse
    * centroid's own subvectors would code its whole cell to one word).
    * Codebook ids re-base to [0, nCells) ("cell" — [[encodePq]]'s key).
    */
  private def pqCodebookSeeds(emb: DataFrame, nCells: Int, m: Int,
      subDim: Int): DataFrame = {
    def sub(c: Column, i: Int): Column = slice(c, i * subDim + 1, subDim)
    emb.filter(col("vec_id") >= nCells && col("vec_id") < 2L * nCells)
      .select((col("vec_id") - nCells).as("cell") +:
        (0 until m).map(i => sub(col("embedding"), i).as(s"s$i")): _*)
  }

  /** ADC candidate generation shared by the recompute and indexed
    * IVF-PQ paths: pair each query with the probed cells' code rows,
    * look the per-subspace centroid subvectors back up by code
    * (broadcast — the codebook is nCells rows by contract), sum the
    * subspace distances in fixed order, keep the k·oversample best per
    * query (ties by vector id). Everything query- or codebook-bounded
    * broadcasts; the only corpus-shaped input is `codes`, already
    * confined to probed cells by the caller.
    */
  private def ivfPqCandidates(codes: DataFrame, cb: DataFrame,
      probes: DataFrame, qsubs: DataFrame, k: Int, m: Int,
      oversample: Int): DataFrame = {
    var adc = codes
      .join(broadcast(probes.select(col("query_id"), col("cell"))), Seq("cell"))
      .join(broadcast(qsubs), Seq("query_id"))
    (0 until m).foreach { i =>
      adc = adc.join(
        broadcast(cb.select(col("cell").as(s"kcell$i"), col(s"s$i"))),
        col(s"c$i") === col(s"kcell$i"))
    }
    val adcDist = (0 until m).map(i => seedD2(col(s"q$i"), col(s"s$i")))
      .reduceLeft(_ + _)
    val byAdc = Window.partitionBy(col("query_id"))
      .orderBy(col("adc"), col("vec_id"))
    adc.withColumn("adc", adcDist)
      .filter(col("query_id") =!= col("vec_id"))
      .withColumn("r", row_number().over(byAdc))
      .filter(col("r") <= k * oversample)
      .select(col("query_id"), col("vec_id").as("neighbor_id"))
  }

  /** Empty result in the ANN operators' output shape — the indexed
    * paths degrade on empty probes/candidates like the inline
    * operators (empty in, empty out), never via readWhereIn's
    * non-empty-probe contract.
    */
  private def emptyAnn(spark: org.apache.spark.sql.SparkSession): DataFrame =
    spark.range(0).select(col("id").as("query_id"),
      col("id").as("neighbor_id"), col("id").cast("double").as("cosine"),
      col("id").as("rnk"))

  /** Exact-cosine rerank of bounded candidates — the final stage every
    * ANN family shares (ties by neighbor id; rnk ≤ k).
    */
  private def exactRerank(candidates: DataFrame, cv: DataFrame,
      qv: DataFrame, k: Int): DataFrame = {
    val byCos = Window.partitionBy(col("query_id"))
      .orderBy(col("cosine").desc, col("neighbor_id"))
    candidates
      .join(cv, Seq("neighbor_id"))
      .join(broadcast(qv), Seq("query_id"))
      .withColumn("cosine",
        cosine(col("qv"), col("cv"), vecNorm(col("qv")), vecNorm(col("cv"))))
      .withColumn("rnk", row_number().over(byCos).cast("long"))
      .filter(col("rnk") <= k)
      .select(col("query_id"), col("neighbor_id"), col("cosine"), col("rnk"))
  }

  /** IVF-PQ top-k, recompute path: assign corpus vectors to seeded
    * coarse cells ([[ivfTopKSeeded]]'s quantizer), PQ-encode ONLY the
    * probed cells' members ([[pqTopK]]'s encoder over the disjoint
    * seed block), ADC within the probed lists, exact-cosine rerank of
    * the k·oversample survivors. Deterministic end-to-end (argmin ties
    * by id, fixed-order double sums) so the full approximation
    * hash-verifies against the SQL oracle (q226), and
    * [[ivfPqTopKIndexed]] must reproduce it bit-for-bit (q227).
    *
    * Scale shape: two broadcast-argmin passes (coarse assign + encode,
    * corpus never shuffles with vectors attached beyond the
    * assignment-to-codes id join), ADC over (ids, m codes) rows of the
    * probed fraction only — nProbe/nCells of the corpus — and a
    * candidate-bounded rerank.
    */
  def ivfPqTopK(corpus: DataFrame, queries: DataFrame, k: Int,
      dim: Int = 64, m: Int = 4, nCells: Int = 16, nProbe: Int = 4,
      oversample: Int = 4): DataFrame = {
    require(dim % m == 0, s"dim $dim not divisible into $m subspaces")
    val subDim = dim / m
    def sub(c: Column, i: Int): Column = slice(c, i * subDim + 1, subDim)
    val coarse = corpus.filter(col("vec_id") < nCells)
      .select(col("vec_id").as("cell"), col("embedding").as("sv"))
    val cb = pqCodebookSeeds(corpus, nCells, m, subDim)
    val cells = seededAssign(corpus, coarse, "vec_id", "cv", 1)
    val probes = seededAssign(queries, coarse, "query_id", "qv", nProbe)
    val probedCells = probes.select(col("cell")).distinct()
    // IVF confinement: unprobed lists never encode, never ADC-scan
    val members = cells.join(broadcast(probedCells), Seq("cell"))
    val codes = encodePq(
        members.select(col("vec_id"), col("cv").as("embedding")),
        cb, m, subDim)
      .join(members.select(col("vec_id"), col("cell")), Seq("vec_id"))
    val qsubs = queries.select(col("vec_id").as("query_id") +:
      (0 until m).map(i => sub(col("embedding"), i).as(s"q$i")): _*)
    val cv = corpus.select(col("vec_id").as("neighbor_id"),
      col("embedding").as("cv"))
    val qv = queries.select(col("vec_id").as("query_id"),
      col("embedding").as("qv"))
    exactRerank(ivfPqCandidates(codes, cb, probes, qsubs, k, m, oversample),
      cv, qv, k)
  }

  /** Build the persistent IVF-PQ index under `indexDir`:
    *
    *  - `centroids` (cell, sv): the coarse quantizer;
    *  - `codebook` (cell, s0..s{m−1}): the per-subspace PQ
    *    codebook ([[pqCodebookSeeds]]);
    *  - `cellcodes` (vec_id, c0..c{m−1}, cell): every corpus vector's
    *    codes IN its coarse cell's inverted list, committed one batch
    *    per cell ([[graft.sources.TxLog.commitPartitioned]]) — a probe
    *    manifest-prunes the ADC scan to the touched lists, and each
    *    row is (id + m codes), the PQ sketch, never the float payload;
    *  - `vectors` (vec_id, embedding) range-clustered by id for the
    *    rerank's manifest-pruned point reads.
    */
  def buildIvfPqIndex(spark: org.apache.spark.sql.SparkSession,
      indexDir: String, emb: DataFrame, dim: Int = 64, m: Int = 4,
      nCells: Int = 16, batches: Int = 16): Unit = {
    import graft.sources.TxLog
    require(dim % m == 0, s"dim $dim not divisible into $m subspaces")
    val f = new org.apache.hadoop.fs.Path(indexDir)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    f.delete(new org.apache.hadoop.fs.Path(indexDir), true)
    val subDim = dim / m
    val coarse = emb.filter(col("vec_id") < nCells)
      .select(col("vec_id").as("cell"), col("embedding").as("sv"))
    val cb = pqCodebookSeeds(emb, nCells, m, subDim)
    TxLog.commit(spark, s"$indexDir/centroids", coarse)
    TxLog.commit(spark, s"$indexDir/codebook", cb)
    val codes = encodePq(emb, cb, m, subDim)
      .join(seededAssign(emb, coarse, "vec_id", "cv", 1)
        .select(col("vec_id"), col("cell")), Seq("vec_id"))
    TxLog.commitPartitioned(spark, s"$indexDir/cellcodes", codes, "cell")
    TxLog.commitClustered(spark, s"$indexDir/vectors",
      emb.select(col("vec_id"), col("embedding")), Seq("vec_id"), batches)
  }

  /** [[ivfPqTopK]] answered from a prebuilt [[buildIvfPqIndex]]:
    * queries alone are assigned and sub-sliced (two broadcast-small
    * reads — centroids + codebook), the ADC scan reads ONLY the probed
    * cells' committed code lists ([[graft.sources.TxLog.readWhereIn]]
    * manifest-prunes the one-batch-per-cell layout), and only the
    * k·oversample winners' raw vectors are point-read back. Same
    * quantizers, same fixed-order arithmetic, same tie-breaks ⇒
    * bit-identical to the recompute path (q227 hash-pins it against
    * q226's oracle SQL).
    */
  def ivfPqTopKIndexed(spark: org.apache.spark.sql.SparkSession,
      indexDir: String, queries: DataFrame, k: Int, nProbe: Int = 4,
      oversample: Int = 4): DataFrame = {
    import graft.sources.TxLog
    val coarse = TxLog.read(spark, s"$indexDir/centroids")
    val cb = TxLog.read(spark, s"$indexDir/codebook")
    val m = cb.columns.count(_.startsWith("s"))
    val subDim = cb.select(size(col("s0"))).head().getInt(0)
    def sub(c: Column, i: Int): Column = slice(c, i * subDim + 1, subDim)
    // query-bounded by contract; pinned because the probed-cell collect
    // and the ADC join both consume it
    val probes = Pins.pin(seededAssign(queries, coarse, "query_id", "qv", nProbe))
    val probedCells = probes.select(col("cell")).distinct()
      .collect().map(_.getLong(0)).toSeq
    if (probedCells.isEmpty)
      return emptyAnn(spark)
    graft.plans.TxStatsRule.register(s"$indexDir/cellcodes")
    graft.plans.TxStatsRule.register(s"$indexDir/vectors")
    val codes = TxLog.readWhereIn(spark, s"$indexDir/cellcodes", "cell",
      probedCells)
    val qsubs = queries.select(col("vec_id").as("query_id") +:
      (0 until m).map(i => sub(col("embedding"), i).as(s"q$i")): _*)
    // ≤ |queries|·k·oversample rows; pinned because the id collect and
    // the rerank join both consume it (re-deriving re-runs the ADC)
    val candidates = Pins.pin(
      ivfPqCandidates(codes, cb, probes, qsubs, k, m, oversample))
    val candIds = candidates.select(col("neighbor_id")).distinct()
      .collect().map(_.getLong(0)).toSeq
    if (candIds.isEmpty)
      return emptyAnn(spark)
    val cv = TxLog.readWhereIn(spark, s"$indexDir/vectors", "vec_id",
        candIds)
      .select(col("vec_id").as("neighbor_id"), col("embedding").as("cv"))
    val qv = queries.select(col("vec_id").as("query_id"),
      col("embedding").as("qv"))
    exactRerank(candidates, cv, qv, k)
  }

  /** Exact all-pairs baseline (the q49 oracle path). */
  private def bruteNearDupPairs(emb: DataFrame, threshold: Double, leftPred: Column): DataFrame = {
    val a = emb.select(col("vec_id").as("id_a"), col("embedding").as("va"))
      .filter(leftPred)
      .withColumn("na", vecNorm(col("va")))
    val b = emb.select(col("vec_id").as("id_b"), col("embedding").as("vb"))
      .withColumn("nb", vecNorm(col("vb")))
    broadcast(a).crossJoin(b)
      .filter(col("id_a") < col("id_b"))
      .withColumn("cosine", cosine(col("va"), col("vb"), col("na"), col("nb")))
      .filter(col("cosine") > threshold)
      .select(col("id_a"), col("id_b"), col("cosine"))
  }
}
