package graft

import org.scalatest.funsuite.AnyFunSuite
import scala.collection.mutable

/** Wave-55 bound: the distributed Brandes ladder matches an independent
  * driver-side Brandes (same %97 sources, same depth-4 truncation) to
  * 1e-6 on the sf0.001 and sf0.01 fixtures.
  */
class Round10yySpec extends AnyFunSuite with SharedSpark {

  private def localBrandes(sf: String): Map[Long, Double] = {
    val ids = Tables(spark, sf, "documents").select("doc_id")
      .collect().map(_.getLong(0))
    val nRows = ids.length.toLong
    val adj = mutable.Map[Long, mutable.Set[Long]]()
    def addEdge(a: Long, b: Long): Unit = if (a != b) {
      adj.getOrElseUpdate(a, mutable.Set()) += b
      adj.getOrElseUpdate(b, mutable.Set()) += a
    }
    ids.filter(_ % 4 != 0).foreach { src =>
      (1L to (1L + src % 2)).foreach { k =>
        addEdge(src, (src * 3 + k) % nRows)
      }
    }
    val bc = mutable.Map[Long, Double]().withDefaultValue(0.0)
    ids.filter(_ % 97 == 0).foreach { s =>
      val dist = mutable.Map[Long, Int](s -> 0)
      val sigma = mutable.Map[Long, Long](s -> 1L).withDefaultValue(0L)
      val order = mutable.ArrayBuffer[Long](s)
      var frontier = Seq(s)
      (1 to 4).foreach { i =>
        val next = mutable.LinkedHashSet[Long]()
        frontier.foreach { v =>
          adj.getOrElse(v, Set.empty).foreach { w =>
            if (!dist.contains(w)) next += w
          }
        }
        // σ accumulates over ALL edges from the previous layer
        frontier.foreach { v =>
          adj.getOrElse(v, Set.empty).foreach { w =>
            if (next.contains(w)) sigma(w) = sigma(w) + sigma(v)
          }
        }
        next.foreach { w => dist(w) = i; order += w }
        frontier = next.toSeq
      }
      val delta = mutable.Map[Long, Double]().withDefaultValue(0.0)
      order.reverse.foreach { w =>
        adj.getOrElse(w, Set.empty).foreach { v =>
          if (dist.contains(v) && dist(v) == dist(w) - 1) {
            delta(v) += sigma(v).toDouble / sigma(w) * (1.0 + delta(w))
          }
        }
        if (w != s && delta(w) > 0.0) bc(w) = bc(w) + delta(w)
      }
    }
    bc.toMap
  }

  Seq("/root/testdata/sf0.001", "/root/testdata/sf0.01").foreach { sf =>
    test(s"graph_betweenness_sampled matches driver Brandes at $sf") {
      val got = SparkEntry.queries("graph_betweenness_sampled")(spark, sf)
        .collect().map(r => r.getLong(0) -> r.getDouble(2)).toMap
      val want = localBrandes(sf)
      assert(got.keySet == want.keySet,
             s"node sets differ: extra=${got.keySet -- want.keySet} " +
             s"missing=${want.keySet -- got.keySet}")
      got.foreach { case (v, b) =>
        assert(math.abs(b - want(v)) < 1e-5, s"node $v: $b vs ${want(v)}")
      }
      assert(got.nonEmpty)
    }
  }
}
