package graft.operators

import graft.util.Sessions
import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** [[DupGraph.triangleCounts]] against hand-countable graphs and a
  * brute-force reference on a random graph.
  */
class TrianglesSpec extends AnyFunSuite {

  lazy val spark: SparkSession = Sessions.local(4)

  import spark.implicits._

  private def run(edges: Seq[(Long, Long)]): Map[Long, (Long, Long)] =
    DupGraph.triangleCounts(edges.toDF("a", "b"))
      .as[(Long, Long, Long)].collect()
      .map(r => r._1 -> ((r._2, r._3))).toMap

  test("K4: every node has degree 3 and 3 triangles") {
    val k4 = for (i <- 0L until 4L; j <- (i + 1) until 4L) yield (i, j)
    val got = run(k4)
    assert(got.keySet == Set(0L, 1L, 2L, 3L))
    assert(got.values.forall(_ == ((3L, 3L))))
  }

  test("triangle plus pendant edge") {
    // 0-1-2 triangle, 2-3 pendant: node 2 degree 3, node 3 no triangle
    val got = run(Seq((0L, 1L), (0L, 2L), (1L, 2L), (2L, 3L)))
    assert(got == Map(
      0L -> ((2L, 1L)), 1L -> ((2L, 1L)), 2L -> ((3L, 1L)),
      3L -> ((1L, 0L))))
  }

  test("star graph has no triangles; all nodes present") {
    val got = run((1L to 5L).map(i => (0L, i)))
    assert(got(0L) == ((5L, 0L)))
    assert((1L to 5L).forall(i => got(i) == ((1L, 0L))))
  }

  test("matches brute force on a random graph") {
    val rnd = new scala.util.Random(11)
    val n = 30
    val edges = (for {
      i <- 0L until n.toLong; j <- (i + 1) until n.toLong
      if rnd.nextDouble() < 0.2
    } yield (i, j)).toSeq
    val adj = edges.toSet
    def connected(x: Long, y: Long) =
      adj.contains((math.min(x, y), math.max(x, y)))
    val want = (0L until n.toLong).map { v =>
      val nbrs = (0L until n.toLong).filter(u => u != v && connected(u, v))
      val tri = (for {
        x <- nbrs; y <- nbrs if x < y && connected(x, y)
      } yield 1).size.toLong
      v -> ((nbrs.size.toLong, tri))
    }.filter(_._2._1 > 0).toMap
    assert(run(edges) == want)
  }
}
