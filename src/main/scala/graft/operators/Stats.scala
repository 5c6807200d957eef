package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Distributed EXACT order statistics without a global sort.
  *
  * The reference's pandas summaries (`data/src/create_public_files.py`'s
  * describe-style stats) pull whole columns into one process; at 100 TB a
  * per-group exact quantile must instead be a selection problem. The
  * classic two-pass histogram-selection approach:
  *
  *   pass 1  per-group count/min/max                  (map-side partial agg)
  *   pass 2  fixed-width histogram per group          (G×B tiny aggregate);
  *           a B-row-per-group cumulative window locates, for every
  *           requested quantile, the bin holding the target rank
  *   pass 3  rows of CANDIDATE bins only (~n/B per group) get a per-bin
  *           row_number; the rank-within-bin row is the answer
  *
  * No stage sorts more than one bin's worth of rows; every shuffle carries
  * either G×B counts or ~|qs|·n/B candidate rows. Rank convention is
  * `ceil(q·n)` over the ascending order (SQL `percentile_disc`), so the
  * emitted value is an ACTUAL data element — bit-exact across engines,
  * which is what lets the oracle hash-verify a double column.
  *
  * Degenerate guard: a group whose min == max short-circuits in pass 2
  * (every quantile is that value) so pass 3's per-bin window never sees an
  * all-equal-values group-sized partition.
  */
object Stats {

  /** (grp, q, value) for each requested quantile q ∈ (0, 1]. */
  def exactQuantiles(
      df: DataFrame,
      valueCol: String,
      grpCol: String,
      qs: Seq[Double],
      bins: Int = 512): DataFrame = {
    require(qs.nonEmpty && qs.forall(q => q > 0.0 && q <= 1.0),
      s"quantiles must be in (0,1]: $qs")
    val spark = df.sparkSession
    import spark.implicits._

    val v = col(valueCol).cast("double")
    val base = df.select(col(grpCol).as("grp"), v.as("v")).filter($"v".isNotNull)
    // stats is G rows but feeds FOUR consumers on different plan branches
    // (flat, the binned broadcast, targets' n-join, and — transitively —
    // every re-evaluation of binned); left lazy, each consumer re-runs
    // the full pass-1 scan+aggregate. Measured on the r12 baseline plan:
    // 18 parquet scans of the input where the 3-pass algorithm needs 3.
    // Pin the tiny frame once (same rationale as the bm25Pruned pins).
    // Pins.pin = localCheckpoint locally, reliable checkpoint when the
    // context has a checkpoint dir (executor loss then degrades to
    // recompute-from-disk).
    val stats = Pins.pin(base.groupBy($"grp")
      .agg(count(lit(1)).as("n"), min($"v").as("lo"), max($"v").as("hi")))

    val qdf = qs.toDF("q")

    // Constant groups: every quantile is the single value; no pass 3.
    val flat = stats.filter($"lo" === $"hi")
      .crossJoin(broadcast(qdf))
      .select($"grp", $"q", $"lo".as("value"))

    val varying = stats.filter($"lo" =!= $"hi")
    val binned = base.join(broadcast(varying), Seq("grp"))
      .withColumn("bin",
        least(floor(($"v" - $"lo") / ($"hi" - $"lo") * bins), lit(bins - 1L)))
    val hist = binned.groupBy($"grp", $"bin").agg(count(lit(1)).as("cnt"))
    val cum = hist.withColumn("cum_hi",
        sum($"cnt").over(Window.partitionBy($"grp").orderBy($"bin")
          .rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .withColumn("cum_lo", $"cum_hi" - $"cnt")

    // For each (grp, q): the bin whose cumulative range covers rank ceil(q·n).
    // Pinned: targets is G×|qs| rows, but deriving it re-runs the whole
    // pass-2 histogram (a full input scan) — and it has two consumers
    // (candidateBins and the final rank join).
    val targets = Pins.pin(
      cum.join(broadcast(varying.select($"grp", $"n")), Seq("grp"))
        .crossJoin(broadcast(qdf))
        .withColumn("rk", ceil($"q" * $"n").cast("long"))
        .filter($"cum_lo" < $"rk" && $"rk" <= $"cum_hi")
        .select($"grp".as("t_grp"), $"q", $"bin".as("t_bin"),
          ($"rk" - $"cum_lo").as("rk_in_bin")))

    val candidateBins = targets
      .select($"t_grp".as("grp"), $"t_bin".as("bin")).distinct()
    val picked = binned
      .join(broadcast(candidateBins), Seq("grp", "bin"), "left_semi")
      .withColumn("rn", row_number().over(
        Window.partitionBy($"grp", $"bin").orderBy($"v")))
      .join(broadcast(targets),
        col("grp") === col("t_grp") && col("bin") === col("t_bin") &&
          col("rn") === col("rk_in_bin"))
      .select($"grp", $"q", $"v".as("value"))

    flat.unionByName(picked)
  }

  /** Equi-depth banding: tag every row with its quantile band (1-based;
    * ties land in the lower band since boundaries are actual data
    * elements — `bin = 1 + #{boundaries < v}`). Boundaries come from
    * [[exactQuantiles]] and broadcast as one G-row frame, so the tagging
    * itself is map-only — the standard shape for building equi-depth
    * histograms or stratifying a skewed measure at TB scale.
    */
  def quantileBins(
      df: DataFrame,
      valueCol: String,
      grpCol: String,
      qs: Seq[Double] = Seq(0.25, 0.5, 0.75),
      bins: Int = 512): DataFrame = {
    val spark = df.sparkSession
    import spark.implicits._
    val wide = exactQuantiles(df, valueCol, grpCol, qs, bins)
      .groupBy($"grp".as(grpCol))
      .agg(
        max(when($"q" === qs.head, $"value")).as("b0"),
        qs.tail.zipWithIndex.map { case (q, i) =>
          max(when($"q" === q, $"value")).as(s"b${i + 1}") }: _*)
    val v = col(valueCol).cast("double")
    df.join(broadcast(wide), Seq(grpCol))
      .withColumn("bin",
        lit(1) + qs.indices.map(i =>
          when(v > col(s"b$i"), 1).otherwise(0)).reduce(_ + _))
      .drop(qs.indices.map(i => s"b$i"): _*)
  }

  /** Per-label embedding centroids — the vector aggregation behind
    * classifier-head init, IVF codebook warm-starts and per-domain
    * drift monitoring. Element-wise: posexplode → (label, pos) partial
    * sums → repack ordered by position. The shuffle carries G×dim
    * longs, never vectors; map-side partial aggregation does the heavy
    * summing.
    *
    * Sums are FIXED-POINT (each float element quantized to 1e-5 before
    * summing) because float accumulation order differs across engines —
    * integer sums are order-independent, so the centroid hash-verifies
    * exactly. Callers wanting the mean divide `centroid_fix` by
    * `n · 100000` (exact inputs, one rounding).
    */
  def labelCentroids(emb: DataFrame, vecCol: String, labelCol: String): DataFrame = {
    val spark = emb.sparkSession
    import spark.implicits._
    emb.select(col(labelCol).as("label"),
        posexplode(col(vecCol)).as(Seq("pos", "x")))
      .withColumn("fx", expr("CAST(round(CAST(x AS DOUBLE) * 100000, 0) AS LONG)"))
      .groupBy($"label", $"pos")
      .agg(sum($"fx").as("s"), count(lit(1)).as("c"))
      .groupBy($"label")
      .agg(
        max($"c").as("n"),
        expr("transform(array_sort(collect_list(struct(pos, s))), p -> p.s)")
          .as("centroid_fix"))
  }

  /** Robust per-group outliers by median absolute deviation: rows whose
    * |v − median| exceeds k·MAD (both medians via [[exactQuantiles]], so
    * the whole detector is two histogram selections plus map-only
    * filters — never a per-group sort). Emits the identifying columns
    * plus the offending value.
    */
  def madOutliers(
      df: DataFrame,
      idCol: String,
      valueCol: String,
      grpCol: String,
      k: Double = 3.0,
      bins: Int = 512): DataFrame = {
    val spark = df.sparkSession
    import spark.implicits._
    val med = exactQuantiles(df, valueCol, grpCol, Seq(0.5), bins)
      .select($"grp".as(grpCol), $"value".as("med"))
    val dev = df.select(col(idCol), col(grpCol), col(valueCol).cast("double").as("v"))
      .join(broadcast(med), Seq(grpCol))
      .withColumn("dev", abs($"v" - $"med"))
    val mad = exactQuantiles(dev, "dev", grpCol, Seq(0.5), bins)
      .select($"grp".as(grpCol), $"value".as("mad"))
    dev.join(broadcast(mad), Seq(grpCol))
      .filter($"dev" > lit(k) * $"mad")
      .select(col(idCol), col(grpCol), $"v".as("value"))
  }
}
