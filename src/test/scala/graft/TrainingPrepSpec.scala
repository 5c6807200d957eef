package graft

import graft.operators.TrainingPrep
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Semantics of the training-prep operators: contamination counting,
  * deterministic mixture sampling, and the distributed prefix sum /
  * sequence packing (tiling invariants + equivalence to the naive
  * single-partition window). The arbitrary-input tiling property lives
  * in [[TrainingPrepProps]].
  */
class TrainingPrepSpec extends AnyFunSuite {
  import SparkTestSession._
  import spark.implicits._

  private def docs(rows: (Long, String, String)*) =
    rows.toDF("doc_id", "text", "source")

  test("contamination counts distinct benchmark grams; clean docs report 0") {
    val bench = docs((100L, "a b c d e f", "eval"))
    val corpus = docs(
      // contains benchmark 3-grams "a b c", "b c d" (and its own tail)
      (1L, "a b c d x y", "web"),
      // repeats "a b c" twice — still ONE distinct benchmark gram
      (2L, "a b c q a b c", "web"),
      (3L, "p q r s t", "web"))
    val got = TrainingPrep.contamination(corpus, bench, n = 3)
      .as[(Long, Long)].collect().toMap
    assert(got === Map(1L -> 2L, 2L -> 1L, 3L -> 0L))
  }

  test("decontaminate removes exactly the docs at/above minHits") {
    val bench = docs((100L, "a b c d e f", "eval"))
    val corpus = docs(
      (1L, "a b c d x y", "web"), // 2 hits
      (2L, "a b c q r s", "web"), // 1 hit
      (3L, "p q r s t", "web")) // clean
    val kept2 = TrainingPrep.decontaminate(corpus, bench, n = 3, minHits = 2)
      .select("doc_id").as[Long].collect().sorted
    assert(kept2 === Seq(2L, 3L))
    val kept1 = TrainingPrep.decontaminate(corpus, bench, n = 3)
      .select("doc_id").as[Long].collect().sorted
    assert(kept1 === Seq(3L))
  }

  test("importanceWeights survives Long-overflowing intermediates (decimal path)") {
    // scale·(cnt_t+1)·totr must exceed 2⁶³ to catch the old wrapped-Long
    // path: with scale=1e15, 7 target tokens of 'x' and 11 total tokens,
    // the numerator for 'x' is 1e15·8·11 ≈ 8.8e19 > 9.2e18. ANSI-off
    // Spark silently wrapped this negative; the DECIMAL(38,0) path must
    // return the exact BigInt quotient.
    val d = Seq(
      (1L, "x x x x x x x", true),
      (2L, "y y y y", false)
    ).toDF("doc_id", "text", "tgt")
    val scale = 1000000000000000L // 1e15
    val got = TrainingPrep.importanceWeights(d, col("tgt"), scale)
      .as[(Long, Long)].collect().toMap
    def w(cntT: Long, cntR: Long, totT: Long = 7L, totR: Long = 11L): Long =
      ((BigInt(scale) * (cntT + 1) * totR) / (BigInt(cntR + 1) * totT)).toLong
    assert(got(1L) == 7L * w(7, 7), s"doc1 score wrong: ${got(1L)}")
    assert(got(2L) == 4L * w(0, 4), s"doc2 score wrong: ${got(2L)}")
    assert(got.values.forall(_ > 0), "wrapped-Long garbage leaked through")
  }

  test("mixtureSample: weight 1.0 keeps every doc, absent source drops all, deterministic") {
    val d = Tables.documents(spark, sf0001)
    val all = TrainingPrep.mixtureSample(d, Map("src0" -> 1.0))
    val src0 = d.filter($"source" === "src0")
    assert(all.count() === src0.count(), "weight 1.0 must keep all of src0")
    assert(all.filter($"source" =!= "src0").count() === 0L, "absent sources must drop")
    val half = Map("src0" -> 0.5, "src1" -> 0.5)
    val a = TrainingPrep.mixtureSample(d, half).select("doc_id").as[Long].collect().sorted
    val b = TrainingPrep.mixtureSample(d, half).select("doc_id").as[Long].collect().sorted
    assert(a sameElements b, "hash sampling must be run-to-run deterministic")
    assert(a.nonEmpty && a.length < src0.count() + d.filter($"source" === "src1").count(),
      "0.5 weight should keep a strict nonempty subset")
  }

  test("sampleStratified: exact per-stratum quota, smallest-hash members, deterministic") {
    val d = Tables.documents(spark, sf0001)
    val k = 7
    val got = TrainingPrep.sampleStratified(d, k)
      .select("source", "doc_id").as[(String, Long)].collect()
    // exact quota per stratum (every fixture source has ≥ k docs)
    val perSrc = got.groupBy(_._1).view.mapValues(_.length).toMap
    val srcSizes = d.groupBy($"source").count()
      .as[(String, Long)].collect().toMap
    srcSizes.foreach { case (src, n) =>
      assert(perSrc.getOrElse(src, 0) == math.min(k.toLong, n),
        s"stratum $src quota: ${perSrc.getOrElse(src, 0)} of $n")
    }
    // membership = globally smallest u32 per stratum (brute-force replay)
    def u32(id: Long): Long = java.lang.Long.parseLong(
      java.security.MessageDigest.getInstance("MD5")
        .digest(id.toString.getBytes("UTF-8"))
        .take(4).map(b => f"${b & 0xff}%02x").mkString, 16)
    val all = d.select("source", "doc_id").as[(String, Long)].collect()
    val want = all.groupBy(_._1).toSeq.flatMap { case (src, rows) =>
      rows.map(_._2).sortBy(id => (u32(id), id)).take(k).map(src -> _)
    }.toSet
    assert(got.toSet == want)
  }

  test("leakageSafeSplit: only train-side near-dups of val docs are quarantined") {
    val d = Seq(
      (1L, "doc one"), (2L, "doc two"), (3L, "doc three"),
      (4L, "doc four"), (5L, "doc five"), (6L, "doc six"))
      .toDF("doc_id", "text")
    // dup graph: 1~2, 3~4, 5~6
    val pairs = Seq((1L, 2L, 1.0), (3L, 4L, 1.0), (5L, 6L, 1.0))
      .toDF("id_a", "id_b", "jaccard")
    // valFrac 0.5: split by hash — derive the realized split first, then
    // check quarantine semantics against it
    val got = TrainingPrep.leakageSafeSplit(d, pairs, valFrac = 0.5)
      .select("doc_id", "split").as[(Long, String)].collect().toMap
    assert(got.keySet == Set(1L, 2L, 3L, 4L, 5L, 6L))
    val partner = Map(1L -> 2L, 2L -> 1L, 3L -> 4L, 4L -> 3L, 5L -> 6L, 6L -> 5L)
    got.foreach { case (id, split) =>
      split match {
        case "val" => () // val docs never move
        case "train" => assert(got(partner(id)) != "val", s"doc $id leaks")
        case "quarantine" =>
          assert(got(partner(id)) == "val", s"doc $id quarantined without a val partner")
        case other => fail(s"unknown split $other")
      }
    }
    // a val doc's train partner is ALWAYS quarantined
    got.collect { case (id, "val") => id }.foreach { v =>
      assert(got(partner(v)) != "train", s"val $v's partner stayed in train")
    }
    // deterministic: same input, same split
    val again = TrainingPrep.leakageSafeSplit(d, pairs, valFrac = 0.5)
      .select("doc_id", "split").as[(Long, String)].collect().toMap
    assert(again == got)
    // valFrac 0: everything trains, nothing quarantines
    val none = TrainingPrep.leakageSafeSplit(d, pairs, valFrac = 0.0)
      .select("split").distinct().as[String].collect().toSet
    assert(none == Set("train"))
  }

  test("prefixSum equals the single-partition window cumsum") {
    val toks = Tables.documents(spark, sf0001)
      .select($"doc_id", size(split($"text", " ")).cast("long").as("ntok"))
    val got = TrainingPrep.prefixSum(toks, $"doc_id", $"ntok", "cum")
      .select("doc_id", "cum").as[(Long, Long)].collect().toMap
    val want = toks
      .withColumn("cum", sum($"ntok").over(Window.orderBy($"doc_id")))
      .select("doc_id", "cum").as[(Long, Long)].collect().toMap
    assert(got === want)
  }

  test("packSequences tiles the token stream: interior seqs full, no gaps, per-doc totals") {
    val d = Tables.documents(spark, sf0001)
    val seqLen = 128L
    val packed = TrainingPrep.packSequences(d, seqLen.toInt)
      .as[(Long, Long, Long, Long, Long)].collect()
    val totalToks = d.select(sum(size(split($"text", " ")).cast("long")))
      .as[Long].head()
    // per-sequence fill: every sequence but the last is exactly seqLen
    val bySeq = packed.groupBy(_._2).view.mapValues(_.map(_._5).sum).toMap
    val lastSeq = bySeq.keys.max
    bySeq.foreach { case (seq, tot) =>
      if (seq < lastSeq) assert(tot === seqLen, s"seq $seq under-packed: $tot")
    }
    assert(bySeq.values.sum === totalToks, "packing must conserve every token")
    // per-doc: slices reassemble the doc contiguously from offset 0
    packed.groupBy(_._1).foreach { case (doc, slices) =>
      val sorted = slices.sortBy(_._3)
      assert(sorted.head._3 === 0L, s"doc $doc does not start at offset 0")
      sorted.sliding(2).foreach {
        case Array(a, b) =>
          assert(a._3 + a._5 === b._3, s"doc $doc has a gap between slices")
        case _ =>
      }
    }
    // seq_off bounds
    packed.foreach { case (_, _, _, off, len) =>
      assert(off >= 0 && off + len <= seqLen)
    }
  }


  test("shardAssign: deterministic shuffle — partition- and seed-stable (r10)") {
    val ids = spark.range(0L, 500L).select(col("id").as("doc_id"))
    def run(df: org.apache.spark.sql.DataFrame) =
      TrainingPrep.shardAssign(df, nShards = 7, seed = 42L)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
        .sortBy(_._1).toSeq
    val a = run(ids)
    // repartitioning the input must not move a single row or position
    assert(run(ids.repartition(17)) == a)
    // complete and disjoint: every doc exactly once; positions dense 1..n
    assert(a.map(_._1) == (0L until 500L))
    val byShard = a.groupBy(_._2)
    assert(byShard.keySet == (0L until 7L).toSet)
    byShard.foreach { case (_, rows) =>
      assert(rows.map(_._3).sorted == (1L to rows.size).toSeq,
        "shard positions must be dense from 1")
    }
    // a new seed is a new epoch order (overwhelmingly: 500 rows, 7 shards)
    val b = TrainingPrep.shardAssign(ids, 7, seed = 43L)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
      .sortBy(_._1).toSeq
    assert(a != b, "re-seeding must re-shuffle")
  }
}

import org.scalacheck.{Gen, Prop, Properties}

/** Arbitrary-input packing property: the emitted (seq_id·L + seq_off,
  * len) intervals must tile [0, Σ ntok) exactly — no gaps, no overlaps —
  * for any document length profile.
  */
object TrainingPrepProps extends Properties("TrainingPrep") {
  private lazy val spark = SparkTestSession.spark

  private val genLens = Gen.choose(1, 40).flatMap(n =>
    Gen.listOfN(n, Gen.choose(1, 300)))

  property("packSequences tiles the token stream exactly") =
    Prop.forAll(genLens) { ls =>
      val s = spark
      import s.implicits._
      val df = ls.zipWithIndex
        .map { case (n, i) => (i.toLong, Seq.fill(n)("t").mkString(" ")) }
        .toDF("doc_id", "text")
      val packed = TrainingPrep.packSequences(df, 64)
        .as[(Long, Long, Long, Long, Long)].collect()
      val ivs = packed.map(p => (p._2 * 64 + p._4, p._5)).sortBy(_._1)
      val total = ls.map(_.toLong).sum
      ivs.head._1 == 0L &&
        ivs.sliding(2).forall {
          case Array(a, b) => a._1 + a._2 == b._1
          case _ => true
        } &&
        (ivs.last._1 + ivs.last._2 == total)
    }

  property("packSequencesBy tiles each group's stream independently") =
    Prop.forAll(genLens) { ls =>
      val s = spark
      import s.implicits._
      val df = ls.zipWithIndex
        .map { case (n, i) => (i.toLong, s"g${i % 3}", Seq.fill(n)("t").mkString(" ")) }
        .toDF("doc_id", "source", "text")
      val packed = TrainingPrep.packSequencesBy(df, 64, "source")
        .as[(String, Long, Long, Long, Long, Long)].collect()
      packed.groupBy(_._1).forall { case (grp, slices) =>
        val ivs = slices.map(p => (p._3 * 64 + p._5, p._6)).sortBy(_._1)
        val total = ls.zipWithIndex
          .filter { case (_, i) => s"g${i % 3}" == grp }
          .map(_._1.toLong).sum
        ivs.head._1 == 0L &&
          ivs.sliding(2).forall {
            case Array(a, b) => a._1 + a._2 == b._1
            case _ => true
          } &&
          (ivs.last._1 + ivs.last._2 == total)
      }
    }

}
