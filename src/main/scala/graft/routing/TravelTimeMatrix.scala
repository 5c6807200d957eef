package graft.routing

import org.apache.spark.sql.{Dataset, SparkSession}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.GenericInternalRow
import org.apache.spark.sql.graftbridge.SqlBridge
import org.apache.spark.sql.types.{DoubleType, StringType, StructField, StructType}
import org.apache.spark.unsafe.types.UTF8String
import scala.collection.immutable.ArraySeq

/** The travel-time matrix operator — the computational heart of the
  * reference (SURVEY §2.9), re-expressed for Spark's execution model.
  *
  * Reference behavior being reproduced:
  *  - R4 tiling: origins × destinations cut into ≤ maxSplit blocks
  *    (/root/reference/data/src/utils/times.py:588-642);
  *  - R1 block routing: one backend `table` call per block, flattened to
  *    (origin_id, destination_id, duration) rows (times.py:389-483);
  *  - R2 degenerate 1×1 identical-pair short-circuit → duration 0
  *    (times.py:414-432);
  *  - R3 quadtree failure isolation: a failing block splits into 4
  *    quadrants recursively; at 1×1 or max depth the block's pairs are
  *    emitted with NULL duration (times.py:485-586) and become
  *    `missing_pairs` downstream.
  *
  * Spark design: instead of a thread pool on one node, the chunk grid is
  * a range of block indices that Spark schedules across executors. The
  * point sets are O(n) beside the O(n²) matrix (~240k block groups
  * nationally), so they are sorted by id on the driver and broadcast;
  * block `b` routes origin chunk `b / nDc` × destination chunk `b % nDc`,
  * contiguous slices of the sorted sets as in the reference's
  * `.sort_values("id")` + `.iloc` tiling (times.py:289-301, 344).
  * Routing + quadtree recursion run task-locally with no shuffle.
  *
  * Scale notes (100 TB / 1000-executor thinking):
  *  - the sort uses Spark's string order (UTF-8 bytes, as `orderBy("id")`),
  *    so depth-capped NULL pairs keep the reference's chunk membership;
  *  - block count = ceil(n/oSplit) × ceil(m/dSplit), spread over the
  *    default parallelism so every core gets blocks;
  *  - per-task memory is the two point arrays plus one block's
  *    O(oSplit×dSplit) table — the reference's per-request envelope
  *    (data/params.yaml:43-47).
  */
object TravelTimeMatrix {

  /** `points` in Spark's string order of their ids: UTF-8 byte order
    * ([[UTF8String.compareTo]]), which differs from `String` (UTF-16)
    * order above the BMP. Stable, like the reference's sort.
    */
  private def byId(points: collection.Seq[RoutePoint]): Array[RoutePoint] =
    points.map(p => (UTF8String.fromString(p.id), p))
      .sortBy(_._1)(Ordering.fromLessThan(_.compareTo(_) < 0))
      .map(_._2).toArray

  /** Route `origins` × `dests`. Both sets are driver-side: the caller
    * collects them, so the operator reads its inputs when it is called;
    * the returned matrix is routed each time it is evaluated.
    */
  def run(
      spark: SparkSession,
      origins: collection.Seq[RoutePoint],
      dests: collection.Seq[RoutePoint],
      router: Router,
      oSplit: Int = 5000,
      dSplit: Int = 5000,
      maxDepth: Int = 5): Dataset[TimeRecord] = {
    import spark.implicits._
    val sc = spark.sparkContext
    val os = sc.broadcast(byId(origins))
    val ds = sc.broadcast(byId(dests))
    val nOc = (origins.length + oSplit - 1) / oSplit
    val nDc = (dests.length + dSplit - 1) / dSplit

    // Emit InternalRows directly instead of going through the product
    // encoder: at matrix volume (15M rows at sf0.1, ~140B at reference
    // scale) the per-row String→UTF8String conversions of the encoder
    // dominate the whole operator. Ids are converted ONCE per block and
    // reused across the block's cross product.
    val rowRdd = sc.parallelize(0 until nOc * nDc, sc.defaultParallelism).mapPartitions { blocks =>
      // ONE mutable output row per task, updated in place: the scan's
      // UnsafeProjection copies every field before the next row is
      // requested (standard operator-iterator contract), and at matrix
      // volume a fresh GenericInternalRow + values array per pair is
      // pure GC pressure (~15M allocations at sf0.1, ~140B at
      // reference scale).
      val out = new GenericInternalRow(3)
      blocks.flatMap { b =>
        val oc = slice(os.value, b / nDc, oSplit)
        val dc = slice(ds.value, b % nDc, dSplit)
        val oIds = Array.tabulate(oc.length)(i => UTF8String.fromString(oc(i).id))
        val dIds = Array.tabulate(dc.length)(j => UTF8String.fromString(dc(j).id))
        routeRows(router, oc, dc, 0, oc.length, 0, dc.length, 0, maxDepth, oIds, dIds, out)
      }
    }
    SqlBridge.internalCreateDataFrame(spark, rowRdd, TimeRecordSchema).as[TimeRecord]
  }

  /** Chunk `c` of `pts`: the `c`-th contiguous slice of at most `size`. */
  private def slice(pts: Array[RoutePoint], c: Int, size: Int): IndexedSeq[RoutePoint] =
    ArraySeq.unsafeWrapArray(pts.slice(c * size, (c + 1) * size))

  val TimeRecordSchema: StructType = StructType(Seq(
    StructField("origin_id", StringType, nullable = true),
    StructField("destination_id", StringType, nullable = true),
    StructField("duration_sec", DoubleType, nullable = true)))

  /** window view over a point array segment (no copying in the quadtree
    * recursion — splits are index ranges, not slices).
    */
  private final class Span(base: IndexedSeq[RoutePoint], lo: Int, hi: Int)
    extends IndexedSeq[RoutePoint] {
    override def apply(k: Int): RoutePoint = base(lo + k)
    override def length: Int = hi - lo
  }

  /** Fill the SHARED output row in place — see the mapPartitions note in
    * [[run]]: consumers copy each row before requesting the next, so one
    * mutable row per task serves the whole matrix.
    */
  private def setRow(out: GenericInternalRow,
      o: UTF8String, d: UTF8String, v: Any): InternalRow = {
    out.update(0, o)
    out.update(1, d)
    out.update(2, v)
    out
  }

  /** R1/R2/R3 core: route one index-range block, quadtree-splitting on
    * failure. Mirrors the reference's `_binary_search`
    * (/root/reference/data/src/utils/times.py:485-586): quadrants are the
    * half-splits of each axis; a 1×1 block that still fails — or any block
    * at max depth — yields NULL-duration rows for its full cross product.
    * Rows are built from the caller's cached UTF8String ids into the
    * caller's shared `out` row.
    *
    * NO-BUFFERING CONTRACT: every returned InternalRow is the SAME
    * mutable `out` instance, valid only until the next `next()` call. A
    * consumer must copy each row's fields (or call `row.copy()`) before
    * advancing — the scan's UnsafeProjection and [[routeBlock]]'s
    * TimeRecord map both do. Buffering the iterator (toArray/toList
    * without copy) silently yields the last row's values duplicated.
    * Note the quadtree arm's eager `++` chain constructs sub-iterators
    * up front — safe only because construction emits no rows; keep any
    * new consumer strictly one-row-at-a-time.
    */
  private[graft] def routeRows(
      router: Router,
      os: IndexedSeq[RoutePoint],
      ds: IndexedSeq[RoutePoint],
      oLo: Int, oHi: Int, dLo: Int, dHi: Int,
      depth: Int,
      maxDepth: Int,
      oIds: Array[UTF8String],
      dIds: Array[UTF8String],
      out: GenericInternalRow): Iterator[InternalRow] = {
    val nO = oHi - oLo
    val nD = dHi - dLo
    if (nO <= 0 || nD <= 0) Iterator.empty
    else if (nO == 1 && nD == 1 && os(oLo).id == ds(dLo).id) {
      // R2: identical single origin/destination → zero duration
      // (times.py:414-432)
      Iterator.single(setRow(out, oIds(oLo), dIds(dLo), 0.0))
    } else {
      try {
        val m = router.table(new Span(os, oLo, oHi), new Span(ds, dLo, dHi))
        // NaN cells = per-pair unroutable within an otherwise-successful
        // block (OSRM returns null durations — times.py:474-478); they
        // become missing_pairs without any quadtree recursion.
        // Flat hand-rolled iterator: per-pair cost multiplies by every
        // routed pair, so no nested flatMap/closure dispatch here.
        new scala.collection.AbstractIterator[InternalRow] {
          private[this] var i = 0
          private[this] var j = 0
          override def hasNext: Boolean = i < nO
          override def next(): InternalRow = {
            val v = m(i)(j)
            val r = setRow(out, oIds(oLo + i), dIds(dLo + j),
              if (java.lang.Double.isNaN(v)) null else v)
            j += 1
            if (j == nD) { j = 0; i += 1 }
            r
          }
        }
      } catch {
        case _: RoutingFailure =>
          if (depth >= maxDepth || (nO == 1 && nD == 1)) {
            // emit the block's full cross product as missing
            // (create_empty_df semantics, times.py:551-560)
            new scala.collection.AbstractIterator[InternalRow] {
              private[this] var i = 0
              private[this] var j = 0
              override def hasNext: Boolean = i < nO
              override def next(): InternalRow = {
                val r = setRow(out, oIds(oLo + i), dIds(dLo + j), null)
                j += 1
                if (j == nD) { j = 0; i += 1 }
                r
              }
            }
          } else {
            val oMid = oLo + nO / 2
            val dMid = dLo + nD / 2
            routeRows(router, os, ds, oLo, oMid, dLo, dMid, depth + 1, maxDepth, oIds, dIds, out) ++
              routeRows(router, os, ds, oLo, oMid, dMid, dHi, depth + 1, maxDepth, oIds, dIds, out) ++
              routeRows(router, os, ds, oMid, oHi, dLo, dMid, depth + 1, maxDepth, oIds, dIds, out) ++
              routeRows(router, os, ds, oMid, oHi, dMid, dHi, depth + 1, maxDepth, oIds, dIds, out)
          }
      }
    }
  }

  /** TimeRecord view of [[routeRows]] — the unit-test / embedding surface
    * (same single implementation underneath).
    */
  private[graft] def routeBlock(
      router: Router,
      os: IndexedSeq[RoutePoint],
      ds: IndexedSeq[RoutePoint],
      depth: Int,
      maxDepth: Int): Iterator[TimeRecord] = {
    val oIds = Array.tabulate(os.length)(i => UTF8String.fromString(os(i).id))
    val dIds = Array.tabulate(ds.length)(j => UTF8String.fromString(ds(j).id))
    // the map below copies each row's fields out immediately, so the
    // shared-row contract holds here too
    val out = new GenericInternalRow(3)
    routeRows(router, os, ds, 0, os.length, 0, ds.length, depth, maxDepth, oIds, dIds, out)
      .map { r =>
        TimeRecord(r.getUTF8String(0).toString, r.getUTF8String(1).toString,
          if (r.isNullAt(2)) None else Some(r.getDouble(2)))
      }
  }
}
