package graft.operators

import graft.Tables
import graft.util.Sessions
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.FileSourceScanExec
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Measured proof that the clustered layout actually skips data: the
  * same selective filter over the same rows reads a fraction of the
  * table when range-clustered and (nearly) all of it when the layout is
  * adversarially shuffled. The assertion is on the scan's OWN
  * numOutputRows metric — rows surviving parquet row-group/file pruning
  * — not on the query result, which is identical in both layouts.
  */
class ClusteredWriteSpec extends AnyFunSuite {

  lazy val spark: SparkSession = Sessions.local(4)

  /** Rows the parquet reader actually surfaced for `df`'s scan(s). */
  private def scannedRows(df: DataFrame): Long = {
    df.collect()
    df.queryExecution.executedPlan
      .collect { case s: FileSourceScanExec => s.metrics("numOutputRows").value }
      .sum
  }

  test("range-clustered layout skips row groups a shuffled layout reads") {
    val ev = Tables.events(spark, "/root/testdata/sf0.01").drop("props")
    val total = ev.count()
    val dir = java.nio.file.Files.createTempDirectory("clustered").toString

    // clustered: 8 non-overlapping user_id ranges, sorted inside, small
    // row groups so pruning has granularity
    ClusteredWrite.write(ev, s"$dir/clustered", Seq("user_id"),
      rowGroupBytes = 64 * 1024, numFiles = 8)
    // adversarial twin: same rows, same row-group size, layout shuffled
    // by content hash so every row group spans the whole key range
    ev.orderBy(md5(concat_ws("|", col("event_id"), col("ts"))))
      .repartition(8)
      .write.option("parquet.block.size", (64 * 1024).toString)
      .mode("overwrite").parquet(s"$dir/shuffled")

    def q(path: String): DataFrame =
      spark.read.parquet(path).filter(col("user_id") === 7)

    val want = ev.filter(col("user_id") === 7).count()
    assert(want > 0)
    assert(q(s"$dir/clustered").count() == want)
    assert(q(s"$dir/shuffled").count() == want)

    val clustered = scannedRows(q(s"$dir/clustered"))
    val shuffled = scannedRows(q(s"$dir/shuffled"))
    info(s"scanned rows: clustered=$clustered shuffled=$shuffled total=$total")
    // the shuffled layout defeats min/max pruning (reads ~everything);
    // the clustered layout reads a small fraction of the table
    assert(shuffled >= total / 2, s"shuffled layout unexpectedly pruned: $shuffled")
    assert(clustered * 5 <= shuffled,
      s"clustered layout should scan ≤20% of the shuffled layout's rows " +
        s"($clustered vs $shuffled)")
  }
}
