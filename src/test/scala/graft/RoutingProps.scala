package graft

import graft.routing._
import org.scalacheck.{Gen, Prop, Properties}

/** Property tests (sbt runs ScalaCheck Properties natively): the routing
  * operator's core invariant — FIXTURES.md §C3 pair conservation — must
  * hold for arbitrary block shapes, island sets, and depth limits.
  */
object RoutingProps extends Properties("Routing") {

  private val genCase = for {
    nO <- Gen.choose(1, 40)
    nD <- Gen.choose(1, 25)
    islandsO <- Gen.someOf(0 until nO)
    islandsD <- Gen.someOf(0 until nD)
    depth <- Gen.choose(0, 12)
  } yield (nO, nD, islandsO.toSet, islandsD.toSet, depth)

  property("pair set is conserved: every OD pair exactly once, any islands, any depth") =
    Prop.forAll(genCase) { case (nO, nD, io, id, depth) =>
      val os = (0 until nO).map(i => RoutePoint(f"o$i%03d", 120.0 + i * 0.25, 30.0)).toIndexedSeq
      val ds = (0 until nD).map(i => RoutePoint(f"d$i%03d", 121.0, 30.0 + i * 0.25)).toIndexedSeq
      val router = new SyntheticRouter(30.0,
        p => io(p.id.drop(1).toInt), p => id(p.id.drop(1).toInt))
      val out = TravelTimeMatrix.routeBlock(router, os, ds, 0, depth).toList
      val pairs = out.map(r => (r.origin_id, r.destination_id))
      pairs.size == nO * nD && pairs.toSet.size == nO * nD
    }

  property("with sufficient depth, nulls are exactly the island pairs") =
    Prop.forAll(genCase) { case (nO, nD, io, id, _) =>
      val os = (0 until nO).map(i => RoutePoint(f"o$i%03d", 120.0 + i * 0.25, 30.0)).toIndexedSeq
      val ds = (0 until nD).map(i => RoutePoint(f"d$i%03d", 121.0, 30.0 + i * 0.25)).toIndexedSeq
      val router = new SyntheticRouter(30.0,
        p => io(p.id.drop(1).toInt), p => id(p.id.drop(1).toInt))
      // depth ≥ log2(max side) + 1 always isolates islands to 1×1
      val out = TravelTimeMatrix.routeBlock(router, os, ds, 0, 12).toList
      out.forall { r =>
        val isIsland = io(r.origin_id.drop(1).toInt) || id(r.destination_id.drop(1).toInt)
        r.duration_sec.isEmpty == isIsland
      }
    }
}
