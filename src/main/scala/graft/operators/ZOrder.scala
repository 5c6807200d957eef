package graft.operators

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** Z-order (Morton) clustering — multi-dimensional data skipping
  * without partitioning.
  *
  * A table sorted on `x` prunes row groups on `x` only: a `y`-band
  * probe reads every group (the O3 limitation IoSpec demonstrates for
  * secondary keys). Sorting by the bit-interleaved z-value instead
  * gives every row group a CONTIGUOUS z-interval, which is a bounded
  * box in (x, y, …) space — so parquet's ordinary per-column min/max
  * stats become tight on EVERY interleaved dimension at once and a
  * band probe on any of them skips (Bayer's UB-tree idea; the layout
  * trick under Delta's OPTIMIZE ZORDER BY and Iceberg's sort-order
  * z-curve). No query-side cooperation is needed: pruning rides the
  * stock parquet reader.
  *
  * Scale shape: one range-shuffle on the z-value (range partitioning =
  * globally contiguous files, so FILE-level stats prune too, not just
  * row groups), one in-partition sort, map-only z computation from
  * integer bit ops (whole-stage codegen; no UDF). The z column itself
  * is dropped before the write — it is a physical layout choice, not
  * schema. [[graft.sources.TxLog.compactClustered]] is the writer.
  */
object ZOrder {

  /** Bit-interleaved z-value of non-negative integer columns, `bits`
    * low bits each (col j's bit i lands at position `i*k + j` of the
    * result). `bits * cols.size` must stay ≤ 62 so the value fits a
    * positive long. Values are masked to `bits` (callers quantize
    * wider domains first — rank or fixed-grid bucketing).
    */
  def zValue(cols: Seq[Column], bits: Int = 16): Column = {
    require(cols.nonEmpty, "zValue needs at least one column")
    require(bits * cols.size <= 62,
      s"$bits bits x ${cols.size} cols overflows a long")
    val k = cols.size
    (0 until bits).flatMap { i =>
      cols.zipWithIndex.map { case (c, j) =>
        shiftright(c.cast("long"), i).bitwiseAND(lit(1L)) *
          lit(1L << (i * k + j))
      }
    }.reduce(_ + _)
  }
}
