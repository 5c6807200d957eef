package perfbench

import graft.routing.RawPoint

/** Seeded input generators. Every input a workload hands the program comes
  * from here, and the same seed always yields the same inputs. The
  * generators also carry the closed forms the checks compare against, so
  * expected answers never pass through the program.
  */
object Gen {

  /** Hive `state` codes the generated ids carry at chars 8-9 (the
    * position `CalculateTimes.stateOf` reads).
    */
  val States: IndexedSeq[String] = IndexedSeq("01", "06", "17", "36", "48")

  def originId(i: Int, state: String): String = f"$i%07d$state"
  def destId(j: Int, state: String): String = f"${500000 + j}%07d$state"

  // ------------------------------------------------------------ OD sets

  /** Origins and destinations for the synthetic-router job.
    *
    * @param islandO origin ids every routing block containing them fails on
    * @param islandD destination ids likewise
    * @param noSnapAboveLat the snapper's cut-off: points above it keep
    *                       their raw coordinates
    */
  final case class OdSet(
      origins: IndexedSeq[RawPoint],
      dests: IndexedSeq[RawPoint],
      islandO: Set[String],
      islandD: Set[String],
      noSnapAboveLat: Double,
      speedMps: Double) {

    def nPairs: Long = origins.size.toLong * dests.size

    private lazy val byId = (origins ++ dests).map(p => p.id -> p).toMap
    def point(id: String): Option[RawPoint] = byId.get(id)

    /** GridSnapper's rule, restated: round to the nearest 0.5° unless the
      * point lies above the cut-off.
      */
    def snapped(p: RawPoint): (Double, Double) = {
      def half(v: Double): Double = math.floor(v * 2.0 + 0.5) / 2.0
      if (p.lat > noSnapAboveLat) (p.lon, p.lat) else (half(p.lon), half(p.lat))
    }

    /** SyntheticRouter's closed form on snapped coordinates, or None for a
      * pair that touches an island.
      */
    def duration(o: RawPoint, d: RawPoint): Option[Double] =
      if (islandO.contains(o.id) || islandD.contains(d.id)) None
      else {
        val (olon, olat) = snapped(o)
        val (dlon, dlat) = snapped(d)
        Some((math.abs(olon - dlon) + math.abs(olat - dlat)) * 111320.0 / speedMps)
      }

    /** [[duration]] by ids; None also for an unknown id. */
    def durationOf(o: String, d: String): Option[Double] =
      for (op <- point(o); dp <- point(d); v <- duration(op, dp)) yield v
  }

  def odSet(seed: Long, nO: Int, nD: Int, nIslandO: Int, nIslandD: Int): OdSet = {
    val r = new scala.util.Random(seed)
    // every seventh point lies above the snapper's cut-off (44°) and keeps
    // its raw coordinates; a fixed share, since those pairs' durations are
    // the least compressible and a share drawn at random moved
    // stored_bytes_per_item by 7 % from one seed to another
    def pt(i: Int, id: String => String): RawPoint = {
      val state = States(r.nextInt(States.size))
      val lon = -100.0 + r.nextDouble() * 20.0
      val lat = if (i % 7 == 0) 44.5 + r.nextDouble() * 0.5 else 30.0 + r.nextDouble() * 14.0
      RawPoint(id(state), lon, lat)
    }
    val origins = (0 until nO).map(i => pt(i, originId(i, _)))
    val dests = (0 until nD).map(j => pt(j, destId(j, _)))
    val islandO = r.shuffle(origins.map(_.id)).take(nIslandO).toSet
    val islandD = r.shuffle(dests.map(_.id)).take(nIslandD).toSet
    OdSet(origins, dests, islandO, islandD, noSnapAboveLat = 44.0, speedMps = 30.0)
  }

  // ------------------------------------------------------ lookup mix

  sealed trait Query { def kind: String }
  final case class PairQ(o: String, d: String) extends Query { val kind = "pair" }
  final case class OriginQ(o: String) extends Query { val kind = "origin" }
  final case class DestQ(d: String) extends Query { val kind = "destination" }
  final case class JoinQ(o: String) extends Query { val kind = "coord_join" }

  /** One round of consumer queries: `perKind` of each kind, interleaved.
    * The last query of each kind has an empty right answer: a pair whose
    * origin is an island (a missing pair), an unknown origin, an unknown
    * destination, and an island origin's coordinate join.
    */
  def lookupRound(seed: Long, od: OdSet, perKind: Int): IndexedSeq[Query] = {
    val r = new scala.util.Random(seed)
    val islandO = od.islandO.toIndexedSeq.sorted
    def anyO = od.origins(r.nextInt(od.origins.size)).id
    def anyD = od.dests(r.nextInt(od.dests.size)).id
    def island = islandO(r.nextInt(islandO.size))
    def state = States(r.nextInt(States.size))
    (0 until perKind).flatMap { k =>
      if (k < perKind - 1) Seq(PairQ(anyO, anyD), OriginQ(anyO), DestQ(anyD), JoinQ(anyO))
      else Seq(PairQ(island, anyD), OriginQ(originId(9000000 + r.nextInt(100000), state)),
        DestQ(destId(9000000 + r.nextInt(100000), state)), JoinQ(island))
    }
  }

  // ------------------------------------------------------- documents

  /** Near-duplicate clusters of 1 to 4 documents (cycling, so every seed
    * yields the same number of documents and pairs). Each cluster draws from
    * its own vocabulary
    * (no word is shared between clusters, so cross-cluster Jaccard is 0
    * under any shingling); each copy differs from its cluster's base by
    * `edits` substituted words. With `words`=300 and `edits`=2 every
    * intra-cluster pair has 3-shingle Jaccard above 0.9, where 64-hash /
    * 16-band LSH misses a pair with probability below 1e-7.
    */
  final case class Corpus(docs: IndexedSeq[(String, String)], clusterOf: Map[String, Int]) {
    def expectedPairs: Set[(String, String)] =
      docs.map(_._1).groupBy(clusterOf).values.flatMap { ids =>
        val s = ids.sorted
        for (i <- s.indices; j <- i + 1 until s.size) yield (s(i), s(j))
      }.toSet
  }

  def corpus(seed: Long, clusters: Int, words: Int, edits: Int): Corpus = {
    val r = new scala.util.Random(seed)
    val vocab = 4 * words
    val docs = (0 until clusters).flatMap { c =>
      def w(): String = s"c${c}w${r.nextInt(vocab)}"
      val base = Array.fill(words)(w())
      val copies = 1 + c % 4
      (0 until copies).map { k =>
        val doc = base.clone()
        if (k > 0) (0 until edits).foreach(_ => doc(r.nextInt(words)) = w())
        (f"d$c%04d_$k", doc.mkString(" "))
      }
    }
    Corpus(r.shuffle(docs), docs.map { case (id, _) => id -> id.substring(1, 5).toInt }.toMap)
  }

  /** Word 3-gram Jaccard over distinct shingles — the definition
    * `Dedup.minhashPairs` verifies with, computed here apart from Spark.
    */
  def jaccard(a: String, b: String, n: Int = 3): Double = {
    def sh(t: String): Set[String] = t.split(" ").sliding(n).map(_.mkString(" ")).toSet
    val (x, y) = (sh(a), sh(b))
    val both = x.intersect(y).size
    both.toDouble / (x.size + y.size - both)
  }
}
