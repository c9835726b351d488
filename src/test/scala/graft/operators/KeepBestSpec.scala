package graft.operators

import graft.util.Sessions
import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** [[DupGraph.dropNearDupsKeepBest]]: keeper selection by score with
  * deterministic tie-break, singleton preservation, and equality with
  * [[DupGraph.dropNearDupsByComponents]] when the score is `-id`.
  */
class KeepBestSpec extends AnyFunSuite {

  lazy val spark: SparkSession = Sessions.local(4)

  import spark.implicits._

  test("keeps the max-score member per cluster; ties to the lower id") {
    // clusters {1,2,3} and {10,11}; 4 is a singleton
    val pairs = Seq((1L, 2L), (2L, 3L), (10L, 11L)).toDF("id1", "id2")
    val docs = Seq(
      (1L, 5L), (2L, 9L), (3L, 9L), (4L, 1L), (10L, 7L), (11L, 3L))
      .toDF("doc_id", "score")
    val comps = DupGraph.components(pairs)
    val kept = DupGraph.dropNearDupsKeepBest(docs, comps, "score")
      .select("doc_id").as[Long].collect().toSet
    // cluster 1: scores 5,9,9 -> tie between 2 and 3 -> keep 2
    // cluster 2: 10 (7) beats 11 (3); singleton 4 survives
    assert(kept == Set(2L, 4L, 10L))
  }

  test("score = -id reduces to the min-id keeper of dropNearDups") {
    val rnd = new scala.util.Random(3)
    val pairs = (1 to 40)
      .map(_ => (rnd.nextInt(30).toLong, rnd.nextInt(30).toLong))
      .filter { case (a, b) => a != b }
      .map { case (a, b) => (math.min(a, b), math.max(a, b)) }
      .distinct.toDF("id1", "id2")
    val docs = (0L until 30L).map(i => (i, -i)).toDF("doc_id", "score")
    val comps = DupGraph.components(pairs)
    val best = DupGraph.dropNearDupsKeepBest(docs, comps, "score")
      .select("doc_id").as[Long].collect().toSet
    val minId = DupGraph.dropNearDupsByComponents(docs, comps)
      .select("doc_id").as[Long].collect().toSet
    assert(best == minId)
  }
}
