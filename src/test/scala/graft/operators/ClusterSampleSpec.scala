package graft.operators

import graft.Tables
import graft.util.Sessions
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** diversitySample must take EXACTLY min(quota, |cell|) from every
  * k-means cell, picked by the stable md5 hash rank.
  */
class ClusterSampleSpec extends AnyFunSuite {

  lazy val spark: SparkSession = Sessions.local(4)

  val sf = "/root/testdata/sf0.001"

  test("per-cell counts are exactly min(quota, cell size)") {
    import spark.implicits._
    val emb = Tables.embeddings(spark, sf)
    val n = 5
    val out = ClusterSample.diversitySample(emb, nPerCluster = n,
      nClusters = 8)

    // independent assignment with the same deterministic centroids
    val cents = Ivf.trainCentroids(emb, 8, 3, "vec_id", "embedding")
    val bc = spark.sparkContext.broadcast(cents)
    val cellSizes = emb
      .select(col("vec_id").cast("long").as("id"), col("embedding"))
      .as[(Long, Array[Float])]
      .map { case (_, v) => Ivf.nearestCell(v, bc.value) }
      .toDF("cell").groupBy("cell").count()
      .as[(Int, Long)].collect().toMap

    val picked = out.groupBy("cell").count()
      .as[(Int, Long)].collect().toMap
    assert(picked.keySet == cellSizes.keySet)
    picked.foreach { case (cell, k) =>
      assert(k == math.min(n.toLong, cellSizes(cell)),
        s"cell $cell picked $k of ${cellSizes(cell)}")
    }
  }

  test("selection is stable: re-running picks the same ids") {
    import spark.implicits._
    val emb = Tables.embeddings(spark, sf)
    val a = ClusterSample.diversitySample(emb, 3, nClusters = 4)
      .orderBy("cell", "rn").as[(Int, Long, Long)].collect().toSeq
    val b = ClusterSample.diversitySample(emb, 3, nClusters = 4)
      .orderBy("cell", "rn").as[(Int, Long, Long)].collect().toSeq
    assert(a == b)
  }
}
