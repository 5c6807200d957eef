package graft

import com.sun.net.httpserver.{HttpExchange, HttpHandler, HttpServer}
import graft.routing._
import java.net.InetSocketAddress
import org.scalatest.funsuite.AnyFunSuite

/** OSRM wire-protocol parity against a local mock server speaking the
  * `/table` JSON format (durations matrix with nulls).
  */
class OsrmSpec extends AnyFunSuite {
  import SparkTestSession._

  private def withMockOsrm[T](f: String => T): T = {
    val server = HttpServer.create(new InetSocketAddress(0), 0)
    server.createContext("/table/v1/", new HttpHandler {
      override def handle(ex: HttpExchange): Unit = {
        val path = ex.getRequestURI.getPath
        val query = ex.getRequestURI.getQuery
        val coords = path.split("/").last.split(";").map { c =>
          val Array(lon, lat) = c.split(","); (lon.toDouble, lat.toDouble)
        }
        def idxs(param: String): Array[Int] = query.split("&")
          .find(_.startsWith(param + "=")).get.drop(param.length + 1)
          .split(";").map(_.toInt)
        val src = idxs("sources").map(coords)
        val dst = idxs("destinations").map(coords)
        // Manhattan durations; lat exactly 28.0 → unroutable (null cell)
        val rows = src.map { case (olon, olat) =>
          dst.map { case (dlon, dlat) =>
            if (olat == 28.0 || dlat == 28.0) "null"
            else ((math.abs(olon - dlon) + math.abs(olat - dlat)) * 111320.0 / 30.0).toString
          }.mkString("[", ",", "]")
        }.mkString("[", ",", "]")
        val body = s"""{"code":"Ok","durations":$rows}"""
        val bytes = body.getBytes("UTF-8")
        ex.sendResponseHeaders(200, bytes.length)
        ex.getResponseBody.write(bytes)
        ex.close()
      }
    })
    server.start()
    try f(s"http://localhost:${server.getAddress.getPort}")
    finally server.stop(0)
  }

  test("durations parser handles nested arrays, nulls, scientific notation") {
    val m = OsrmRouter.parseDurations(
      """{"code":"Ok","durations":[[1.5,null,2e3],[  -0.0, 4 , 5.25 ]]}""")
    assert(m.length == 2 && m(0).length == 3)
    assert(m(0)(0) == 1.5 && m(0)(1).isNaN && m(0)(2) == 2000.0)
    assert(m(1)(2) == 5.25)
  }

  test("OsrmRouter against a mock /table server matches the synthetic router; nulls become missing") {
    withMockOsrm { base =>
      val s = spark
      val os = (0 until 30).map(i => RoutePoint(f"o$i%03d", 120.0 + (i % 7) * 0.25, 28.0 + (i % 5) * 0.25))
      val ds = (0 until 10).map(i => RoutePoint(f"d$i%03d", 121.0 + (i % 3) * 0.25, 28.25 + (i % 4) * 0.25))
      val got = TravelTimeMatrix.run(s, os, ds, new OsrmRouter(base),
          oSplit = 16, dSplit = 4, maxDepth = 8)
        .collect().map(r => (r.origin_id, r.destination_id) -> r.duration_sec).toMap
      assert(got.size == 300)
      // lat==28.0 points (i%5==0 origins) are null in the wire response
      val missing = got.filter(_._2.isEmpty).keys.map(_._1).toSet
      assert(missing == os.filter(_.lat == 28.0).map(_.id).toSet)
      // routable pairs match the synthetic formula exactly
      val syn = new SyntheticRouter(30.0)
      os.filter(_.lat != 28.0).take(3).foreach { o =>
        ds.foreach { d =>
          val want = syn.table(IndexedSeq(o), IndexedSeq(d))(0)(0)
          assert(got((o.id, d.id)).contains(want), s"${o.id}->${d.id}")
        }
      }
    }
  }

  test("transport failure triggers quadtree nulls, not a crash") {
    val r = new OsrmRouter("http://localhost:1") // nothing listens
    val out = TravelTimeMatrix.routeBlock(r,
      IndexedSeq(RoutePoint("a", 1, 2)), IndexedSeq(RoutePoint("b", 3, 4)), 0, 2).toList
    assert(out == List(TimeRecord("a", "b", None)))
  }
}
