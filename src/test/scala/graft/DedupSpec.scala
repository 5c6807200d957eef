package graft

import graft.operators.{Dedup, TextAnalysis}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

class DedupSpec extends AnyFunSuite {
  import SparkTestSession._

  private lazy val docs = Tables.documents(spark, sf0001).cache()
  private lazy val exactPairs: Set[(Long, Long)] =
    Dedup.ngramPairs(docs, 3, 0.5).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet

  test("planted near-dups exist in the fixture") {
    assert(exactPairs.nonEmpty)
  }

  test("prefixJaccardJoin over 3-gram shingles equals the exact n-gram pair set") {
    // PPJoin completeness is a pigeonhole guarantee, not probability:
    // over the SAME shingle sets it must reproduce brute force exactly.
    val pp = Dedup.prefixJaccardJoin(docs, threshold = 0.5, n = 3).collect()
      .map(r => (r.getAs[Long]("doc_a"), r.getAs[Long]("doc_b"))).toSet
    assert(pp == exactPairs)
  }

  test("editDistanceJoin equals brute-force levenshtein, including sub-q shorts") {
    val s = spark
    import s.implicits._
    // near pairs (1,2) ed=2 and (4,5) ed=3; shorts 6/7 (len < q) with
    // ed=1 between them — the no-gram fallback path; 3 and 8 are far
    val docs = Seq(
      (1L, "the quick brown fox jumps over the lazy dog"),
      (2L, "the quick brown fax jumps over the lazy do"),
      (3L, "completely different text with nothing shared at all"),
      (4L, "pack my box with five dozen liquor jugs"),
      (5L, "pack my box with nine dozen liquor jug"),
      (6L, "abc"), (7L, "abd"), (8L, "zzzzzzzzzzzzzzzzzzzzzz"))
      .toDF("doc_id", "text")
    val d = 4
    val got = graft.operators.Dedup.editDistanceJoin(docs, d = d, q = 4)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSet
    val raw = docs.as[(Long, String)].collect()
    def lev(a: String, b: String): Int = {
      val dp = Array.tabulate(a.length + 1)(i => i)
      for (j <- 1 to b.length) {
        var prev = dp(0); dp(0) = j
        for (i <- 1 to a.length) {
          val cur = dp(i)
          dp(i) = math.min(math.min(dp(i) + 1, dp(i - 1) + 1),
            prev + (if (a(i - 1) == b(j - 1)) 0 else 1))
          prev = cur
        }
      }
      dp(a.length)
    }
    val want = (for {
      i <- raw.indices.iterator; j <- (i + 1) until raw.length
      dist = lev(raw(i)._2, raw(j)._2) if dist <= d
      (x, y) = if (raw(i)._1 < raw(j)._1) (raw(i)._1, raw(j)._1) else (raw(j)._1, raw(i)._1)
    } yield (x, y, dist)).toSet
    assert(got == want, s"missing ${want.diff(got)} / extra ${got.diff(want)}")
  }

  test("minhash+verify output equals the exact n-gram pair set") {
    val mh = Dedup.minhashPairs(docs, 3, 64, 16, 0.5).collect()
      .map(r => (r.getAs[Long]("id_a"), r.getAs[Long]("id_b"))).toSet
    assert(mh == exactPairs)
  }

  /** The former signature formulation, kept as the oracle of
    * [[Dedup.minhashSignatures]]: one row per distinct (doc, gram), the
    * 64 minima as parallel aggregates of one groupBy, the band buckets
    * as Spark's `xxhash64` over the comma-joined minima.
    */
  private def oracleSignatures(docs: DataFrame, maxDf: Option[Int],
      n: Int = 3, nHashes: Int = 64, nBands: Int = 16): DataFrame = {
    val shingles = docs.select(col("doc_id"), split(col("text"), " ").as("w"))
      .filter(size(col("w")) >= n)
      .select(col("doc_id"), explode(expr(
        s"transform(sequence(0, size(w) - $n), i -> concat_ws(' ', slice(w, i + 1, $n)))")).as("gram"))
      .distinct()
    val g = maxDf.fold(shingles) { cap =>
      val rare = shingles.groupBy(col("gram")).agg(count(lit(1)).as("df"))
        .filter(col("df") <= cap).select(col("gram"))
      shingles.join(rare, Seq("gram")).select(col("doc_id"), col("gram"))
    }
    val gh = g.withColumn("gh", hash(col("gram")).cast("long") + 2147483648L)
    val rowsPerBand = nHashes / nBands
    val prime = 4294967311L
    val mins = (0 until nHashes).map { i =>
      val a = ((i * 2654435761L) % 1048573L) | 1L
      val b = (i * 97531L + 12345L) % 1048573L
      min((col("gh") * a + b) % prime).as(s"mh$i")
    }
    val bandCols = (0 until nBands).map { bnd =>
      val sigStr = concat_ws(",",
        (0 until rowsPerBand).map(r => col(s"mh${bnd * rowsPerBand + r}").cast("string")): _*)
      struct(lit(bnd).as("band"), xxhash64(lit(bnd), sigStr).as("bucket"))
    }
    gh.groupBy(col("doc_id"))
      .agg(mins.head, mins.tail: _*)
      .withColumn("bb", explode(array(bandCols: _*)))
      .select(col("doc_id"), col("bb.band"), col("bb.bucket"))
  }

  test("minhashSignatures rows are bit-identical to the groupBy-over-shingles oracle") {
    import spark.implicits._
    def rows(df: DataFrame): Seq[(Long, Int, Long)] =
      df.select(col("doc_id"), col("band"), col("bucket")).as[(Long, Int, Long)]
        .collect().toSeq.sorted
    val header = "terms of service apply to this page"
    val edges = Seq(
      (1L, ""),                                        // no words
      (2L, "too short"),                               // fewer than n words
      (3L, "double  spaces   make empty  tokens here"),
      (4L, "naïve café über straße 東京 タワー ñandú"),   // non-ASCII
      (5L, "x y x y x y x y x y"),                      // repeated grams
      (6L, header),                                    // every gram capped below
      (7L, s"$header alpha beta gamma"),
      (8L, s"$header delta epsilon zeta"),
      (9L, "x y x y z w"))
      .toDF("doc_id", "text")
    val fixture = docs.select(col("doc_id"), col("text"))
    for ((corpus, maxDf) <- Seq((edges, None), (edges, Some(2)),
        (fixture, None), (fixture, Some(2)))) {
      val want = rows(oracleSignatures(corpus, maxDf))
      val got = rows(Dedup.minhashSignatures(corpus, maxDf = maxDf))
      assert(want.nonEmpty)
      assert(got == want, s"maxDf=$maxDf: ${got.diff(want).take(3)} vs ${want.diff(got).take(3)}")
    }
    // the edge cases are live: short docs and the all-capped doc sign nothing
    assert(rows(Dedup.minhashSignatures(edges)).map(_._1).distinct == Seq(3L, 4L, 5L, 6L, 7L, 8L, 9L))
    assert(!rows(Dedup.minhashSignatures(edges, maxDf = Some(2))).exists(_._1 == 6L))
  }

  test("simhash: banding is complete for hamming ≤ 3 (pigeonhole) and recalls most planted pairs") {
    val sh = Dedup.simhashPairs(docs, maxHamming = 3).collect()
      .map(r => (r.getAs[Long]("id_a"), r.getAs[Long]("id_b"))).toSet
    // ground truth by brute force over all doc pairs
    val texts = docs.collect().map(r => r.getAs[Long]("doc_id") -> r.getAs[String]("text")).toMap
    val hashes = texts.view.mapValues(Dedup.simhash64).toMap
    val ids = hashes.keys.toArray.sorted
    val want = (for {
      i <- ids.indices.iterator
      j <- (i + 1) until ids.length
      if java.lang.Long.bitCount(hashes(ids(i)) ^ hashes(ids(j))) <= 3
    } yield (ids(i), ids(j))).toSet
    assert(sh == want, s"banding missed ${want.diff(sh).size} / added ${sh.diff(want).size}")
    // planted near-dups: unigram simhash on a shared-vocab corpus is the
    // weakest of the dedup family — document its floor rather than hide it
    val recall = exactPairs.count(sh.contains).toDouble / exactPairs.size
    assert(recall >= 0.6, s"simhash recall $recall over ${exactPairs.size} planted pairs")
  }

  test("connected components: min-label propagation finds the exact clusters") {
    val s = spark
    import s.implicits._
    // two components: {1,2,3,8,9} (via 9-1 bridge) and {5,6}
    val pairs = Seq((1L, 2L), (2L, 3L), (5L, 6L), (8L, 9L), (9L, 1L)).toDF("id_a", "id_b")
    val got = Dedup.connectedComponents(pairs).collect()
      .map(r => r.getAs[Long]("id") -> r.getAs[Long]("cluster")).toMap
    assert(got == Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 8L -> 1L, 9L -> 1L, 5L -> 5L, 6L -> 5L))
    // long chain: diameter > 1 round forces multiple propagation rounds
    val chain = (0L until 40L).map(i => (i, i + 1)).toDF("id_a", "id_b")
    val cc = Dedup.connectedComponents(chain).collect().map(_.getAs[Long]("cluster")).distinct
    assert(cc.toSeq == Seq(0L))
  }

  test("exact dedup groups duplicate texts under one canonical id") {
    val s = spark
    import s.implicits._
    val df = Seq((1L, "aa bb"), (2L, "aa bb"), (3L, "cc dd")).toDF("doc_id", "text")
    val out = Dedup.exact(df).collect()
    assert(out.length == 2)
    val dupGroup = out.find(_.getAs[Long]("n_copies") == 2).get
    assert(dupGroup.getAs[Long]("canonical_id") == 1L)
  }

  test("novelAgainst equals the exact anti-join, even under a pathological fpp") {
    val s = spark
    import s.implicits._
    val prior = docs.filter($"doc_id" % 2 === 0)
    val fresh = docs.filter($"doc_id" % 2 =!= 0)
    val want = fresh.join(prior.select($"text"), Seq("text"), "left_anti")
      .select($"doc_id").as[Long].collect().sorted.toSeq
    val got = Dedup.novelAgainst(fresh, prior)
      .select($"doc_id").as[Long].collect().sorted.toSeq
    assert(got == want)
    // a filter sized 100x too small saturates (fpp -> ~1): everything
    // becomes maybe-seen, the verify join alone decides — still exact
    val gotSaturated = Dedup
      .novelAgainst(fresh, prior, expectedPrior = 10L, fpp = 0.5)
      .select($"doc_id").as[Long].collect().sorted.toSeq
    assert(gotSaturated == want,
      "bloom false positives must be closed by the exact verify join")
    // schema passthrough: the helper column never leaks
    assert(Dedup.novelAgainst(fresh, prior).columns.toSeq ==
      fresh.columns.toSeq)
  }

  test("duplicatedSpans finds exactly the cross-doc k-token windows at their positions") {
    import spark.implicits._
    val corpus = Seq(
      (1L, "a b c d e x y z"), // "a b c d e" shared with doc 2 at pos 1
      (2L, "q q a b c d e r"), // ... at pos 3
      (3L, "u v w x y z t s"), // no 5-window shared (only 3-suffix overlap)
      (4L, "short one"))       // below k, no windows
      .toDF("doc_id", "text")
    val got = Dedup.duplicatedSpans(corpus, k = 5)
      .as[(Long, Long, String)].collect().toSet
    assert(got == Set((1L, 1L, "a b c d e"), (2L, 3L, "a b c d e")))
    // within-doc repetition alone is NOT cross-doc duplication
    val solo = Seq((1L, "m m m m m m m m m m")).toDF("doc_id", "text")
    assert(Dedup.duplicatedSpans(solo, k = 5).isEmpty)
  }

  test("repetitionRatio: pure stutter scores 1-1/n, all-distinct scores 0, short docs null") {
    import spark.implicits._
    val rows = Seq(
      (1L, "m m m m m m"),     // 4 windows, 1 distinct -> 0.75
      (2L, "a b c d e f"),     // 4 windows, all distinct -> 0.0
      (3L, "a b"))             // shorter than k -> null
      .toDF("doc_id", "text")
      .select($"doc_id", TextAnalysis.repetitionRatio($"text", 3).as("r"))
      .as[(Long, Option[Double])].collect().toMap
    assert(rows(1L) == Some(0.75) && rows(2L) == Some(0.0) && rows(3L).isEmpty)
  }

  test("rolling hash is order-sensitive where token-multiset hashing is not") {
    assert(TextAnalysis.rollingHash("a b c") != TextAnalysis.rollingHash("c b a"))
    assert(TextAnalysis.rollingHash("a b c") == TextAnalysis.rollingHash("a b c"))
  }

  test("hot-shingle df cap: shared boilerplate header does not blow up candidates") {
    val s = spark
    import s.implicits._
    // 1000 docs, every one sharing the same 8-word header (every header
    // shingle has df=1000 → uncapped the header alone contributes
    // ~6 × 1000² = 6M join rows); unique bodies except two planted dups.
    val header = "terms of service apply to this document copyright"
    val body = (i: Long) => (0 until 12).map(k => s"w${i}_$k").mkString(" ")
    val docs = (0L until 1000L).map { i =>
      val b = if (i == 999L) body(0L) else body(i) // 999 duplicates 0's body
      (i, s"$header $b")
    }.toDF("doc_id", "text")

    val capped = Dedup.ngramPairs(docs, 3, 0.5, maxDf = Some(10)).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    // header shingles are df=1000 → dropped; bodies are unique except the
    // planted pair, whose filtered Jaccard is 1.0
    assert(capped == Set((0L, 999L)))

    // minhash path honors the same cap and agrees
    val mh = Dedup.minhashPairs(docs, 3, 64, 16, 0.5, maxDf = Some(10)).collect()
      .map(r => (r.getAs[Long]("id_a"), r.getAs[Long]("id_b"))).toSet
    assert(mh == capped)

    // and with no cap the header drags every pair to Jaccard 6/30 = 0.2 —
    // the adversarial quadratic case the cap exists for (checked on a
    // small slice to keep the test fast): all C(40,2) pairs vs none
    val slice = docs.filter($"doc_id" < 40)
    val uncapped = Dedup.ngramPairs(slice, 3, 0.15).count()
    val cappedSlice = Dedup.ngramPairs(slice, 3, 0.15, maxDf = Some(10)).count()
    assert(uncapped == 780L && cappedSlice == 0L)
  }

  test("incremental minhash equals the full run restricted to pairs touching the new batch") {
    val s = spark
    import s.implicits._
    val docs = Tables.documents(s, SparkTestSession.sf0001)
    val oldDocs = docs.filter($"doc_id" % 3 =!= 0)
    val newDocs = docs.filter($"doc_id" % 3 === 0)
    // the persisted-store round trip: signatures survive parquet exactly
    val store = "/tmp/graft_incr_sigs"
    Dedup.minhashSignatures(oldDocs).write.mode("overwrite").parquet(store)
    val incr = Dedup.minhashPairsIncremental(newDocs, oldDocs, s.read.parquet(store))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    val full = Dedup.minhashPairs(docs)
      .filter($"id_a" % 3 === 0 || $"id_b" % 3 === 0)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    assert(incr == full)
    assert(incr.nonEmpty, "fixture must plant near-dups across the batch split")
    // and nothing leaks from the old×old side
    assert(incr.forall { case (a, b, _) => a % 3 == 0 || b % 3 == 0 })

    // reliable-checkpoint mode (cluster shape: pins go to the store's
    // filesystem, lineage-safe under executor loss) — identical output
    val ckpt = "/tmp/graft_incr_ckpt"
    val reliable = Dedup.minhashPairsIncremental(
        newDocs, oldDocs, s.read.parquet(store), checkpointDir = Some(ckpt))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    assert(reliable == full)
    // the pinned frames landed in the store directory
    assert(new java.io.File(s"$ckpt/_ckpt_candidates").exists())
  }

  test("prefixJaccardJoin equals brute force on a planted corpus") {
    import spark.implicits._
    // docs: heavy shared vocabulary + two true near-dup pairs
    val docs = Seq(
      (1L, "alpha beta gamma delta epsilon zeta"),
      (2L, "alpha beta gamma delta epsilon eta"),      // jac 5/7 with 1
      (3L, "alpha beta gamma theta iota kappa"),
      (4L, "lambda mu nu xi omicron pi"),
      (5L, "lambda mu nu xi omicron rho"),             // jac 5/7 with 4
      (6L, "sigma tau upsilon phi chi psi")).toDF("doc_id", "text")
    val got = graft.operators.Dedup.prefixJaccardJoin(docs, 0.6)
      .select("doc_a", "doc_b").as[(Long, Long)].collect().toSet
    // brute force at the same threshold
    val sets = docs.as[(Long, String)].collect()
      .map { case (id, t) => id -> t.split(" ").toSet }
    val want = (for {
      (a, ta) <- sets; (b, tb) <- sets if a < b
      inter = (ta & tb).size
      if inter.toDouble / (ta.size + tb.size - inter) >= 0.6
    } yield (a, b)).toSet
    assert(got == want, s"got $got want $want")
    assert(want == Set((1L, 2L), (4L, 5L))) // the planted pairs, nothing else
  }

  test("connectedComponentsIncremental equals the full recompute, canonicals preserved") {
    import spark.implicits._
    // seeded random pair graph; split pairs at the median node id
    val rnd = new scala.util.Random(7)
    val pairs0 = (0 until 120).map { _ =>
      val a = rnd.nextInt(60).toLong; val b = rnd.nextInt(60).toLong
      (math.min(a, b), math.max(a, b))
    }.filter(p => p._1 != p._2).distinct
    val pairs = pairs0.toDF("id_a", "id_b")
    val oldPairs = pairs.filter($"id_a" < 30L && $"id_b" < 30L)
    val newPairs = pairs.filter($"id_a" >= 30L || $"id_b" >= 30L)
    val prev = Dedup.connectedComponents(oldPairs)
    val inc = Dedup.connectedComponentsIncremental(prev, newPairs)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val full = Dedup.connectedComponents(pairs)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(inc == full, "incremental labeling diverged from the full recompute")
    // a cluster untouched by the delta keeps its canonical id: isolate
    // one old-only component and check
    val prevMap = prev.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val newNodes = newPairs.select($"id_a").union(newPairs.select($"id_b"))
      .collect().map(_.getLong(0)).toSet
    val untouchedClusters = prevMap.groupBy(_._2)
      .filter { case (_, m) => m.keys.forall(!newNodes.contains(_)) }
    untouchedClusters.foreach { case (c, m) =>
      m.keys.foreach(n => assert(inc(n) == c, s"node $n lost cluster $c"))
    }
  }
}
