package perfbench

import java.nio.file.{Files, Path, Paths}
import scala.jdk.CollectionConverters._

import org.apache.hadoop.conf.Configuration
import org.apache.parquet.example.data.Group
import org.apache.parquet.hadoop.ParquetReader
import org.apache.parquet.hadoop.example.GroupReadSupport

final class CheckFailed(msg: String) extends RuntimeException(msg)

/** Output checks made apart from the program: published trees are read with
  * the bare parquet library (no Spark, no `TableIO`), partition values come
  * from the directory names, and every expected value comes from [[Gen]].
  */
object Check {

  def require(ok: Boolean, msg: => String): Unit = if (!ok) throw new CheckFailed(msg)

  private val conf = new Configuration()

  /** Data files of a Hive-partitioned tree with their partition values. */
  def dataFiles(dir: String): Seq[(Path, Map[String, String])] = {
    val root = Paths.get(dir)
    if (!Files.isDirectory(root)) Nil
    else {
      val s = Files.walk(root)
      try s.iterator().asScala
        .filter(p => Files.isRegularFile(p) && p.getFileName.toString.endsWith(".parquet"))
        .map { p =>
          val parts = root.relativize(p.getParent).iterator().asScala.map(_.toString)
            .collect { case kv if kv.contains('=') => val Array(k, v) = kv.split("=", 2); k -> v }
          p -> parts.toMap
        }.toVector.sortBy(_._1.toString)
      finally s.close()
    }
  }

  def rows(file: Path): Iterator[Group] = {
    val r = ParquetReader.builder(new GroupReadSupport(),
      new org.apache.hadoop.fs.Path(file.toUri)).withConf(conf).build()
    Iterator.continually(r.read()).takeWhile { g => if (g == null) r.close(); g != null }
  }

  def str(g: Group, f: String): String = g.getString(f, 0)
  def dbl(g: Group, f: String): Option[Double] =
    if (g.getFieldRepetitionCount(f) == 0) None else Some(g.getDouble(f, 0))

  def fileSizes(dirs: Seq[String]): Seq[Long] =
    dirs.flatMap(dataFiles).map { case (p, _) => Files.size(p) }

  /** What a published job must satisfy, stated without the program. */
  final case class Expect(
      origins: Seq[String],
      dests: Seq[String],
      duration: (String, String) => Option[Double],
      partition: Map[String, String])

  /** Checks the four trees `CalculateTimes.run` published:
    *  - every `times` file is sorted by (origin_id, destination_id), carries
    *    the configured partition values and the origin's state;
    *  - every duration equals the closed form exactly;
    *  - `missing_pairs` is exactly the set of pairs the closed form leaves
    *    unroutable;
    *  - pair conservation: |times| + |missing_pairs| = |O|·|D|, and the
    *    `metadata` row states the same counts.
    */
  def published(res: graft.jobs.CalculateTimes.Result, e: Expect): Unit = {
    val nPairs = e.origins.size.toLong * e.dests.size
    val seen = new java.util.HashSet[String](2 * nPairs.toInt)
    var nTimes = 0L
    dataFiles(res.timesDir).foreach { case (f, part) =>
      require(e.partition.forall { case (k, v) => part.get(k).contains(v) },
        s"times file $f has partition $part, expected ${e.partition}")
      var prev: (String, String) = null
      rows(f).foreach { g =>
        val o = str(g, "origin_id")
        val d = str(g, "destination_id")
        val key = (o, d)
        require(prev == null || Ordering[(String, String)].lt(prev, key),
          s"times file $f not sorted by (origin_id, destination_id) at $key after $prev")
        prev = key
        require(part.get("state").contains(o.substring(7, 9)), s"pair $key filed under $part")
        require(seen.add(o + "|" + d), s"pair $key published twice")
        (e.duration(o, d), dbl(g, "duration_sec")) match {
          case (Some(want), Some(got)) =>
            require(want == got, s"pair $key: duration $got, closed form $want")
          case (want, got) => require(false, s"pair $key: duration $got, closed form $want")
        }
        nTimes += 1
      }
    }
    val missing = dataFiles(res.missingDir).flatMap { case (f, _) =>
      rows(f).map(g => (str(g, "origin_id"), str(g, "destination_id")))
    }
    val wantMissing = for (o <- e.origins; d <- e.dests if e.duration(o, d).isEmpty) yield (o, d)
    require(missing.size == missing.toSet.size, "missing_pairs holds a pair twice")
    require(missing.toSet == wantMissing.toSet,
      s"missing_pairs differs from the unroutable set: ${missing.toSet.diff(wantMissing.toSet).take(3)} " +
        s"extra, ${wantMissing.toSet.diff(missing.toSet).take(3)} absent")
    require(nTimes + missing.size == nPairs,
      s"pair conservation: $nTimes times + ${missing.size} missing != $nPairs pairs")
    val meta = dataFiles(res.metadataDir).flatMap { case (f, _) => rows(f) }
    require(meta.size == 1, s"metadata holds ${meta.size} rows")
    require(meta.head.getLong("calc_n_pairs", 0) == nPairs &&
      meta.head.getLong("calc_n_missing_pairs", 0) == missing.size,
      s"metadata counts ${meta.head.getLong("calc_n_pairs", 0)}/" +
        s"${meta.head.getLong("calc_n_missing_pairs", 0)} vs $nPairs/${missing.size}")
  }

  /** The signature artifact must hold one row per document and band. */
  def signatures(dir: String, docs: Seq[String], bands: Int): Unit = {
    val got = dataFiles(dir).flatMap { case (f, _) => rows(f).map(g => (str(g, "doc_id"), g.getInteger("band", 0))) }
    val want = for (d <- docs; b <- 0 until bands) yield (d, b)
    require(got.size == want.size && got.toSet == want.toSet,
      s"signatures hold ${got.size} rows, ${got.toSet.size} distinct (doc, band), expected ${want.size}")
  }

  /** The dedup output must be exactly the intra-cluster pairs, each with
    * its exact Jaccard.
    */
  def dedup(got: Seq[(String, String, Double)], want: Map[(String, String), Double]): Unit = {
    val g = got.map { case (a, b, j) => (a, b) -> j }.toMap
    require(g.size == got.size, "a pair is reported twice")
    require(g.keySet == want.keySet,
      s"pairs differ from the intra-cluster set: ${g.keySet.diff(want.keySet).take(3)} extra, " +
        s"${want.keySet.diff(g.keySet).take(3)} absent")
    g.foreach { case (k, j) => require(j == want(k), s"pair $k: Jaccard $j, exact ${want(k)}") }
  }
}
