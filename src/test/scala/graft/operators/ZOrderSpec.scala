package graft.operators

import graft.Tables
import graft.util.Sessions
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.FileSourceScanExec
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Morton-key correctness plus the measured claim that justifies
  * Z-order over a linear sort: after a z-ordered write, selective
  * filters on EITHER of the two layout columns skip most of the table
  * (scan-metric proof, q87's methodology), where the linear layout
  * skips only on its leading key.
  */
class ZOrderSpec extends AnyFunSuite {

  lazy val spark: SparkSession = Sessions.local(4)

  /** Plain-Scala Morton reference: bit i of a → 2i, bit i of b → 2i+1. */
  private def mortonRef(a: Long, b: Long, bits: Int): Long =
    (0 until bits).foldLeft(0L) { (acc, i) =>
      acc | ((a >> i & 1L) << (2 * i)) | ((b >> i & 1L) << (2 * i + 1))
    }

  test("mortonKey matches the bitwise reference on exhaustive 6-bit pairs") {
    import spark.implicits._
    val pairs = for (a <- 0L until 64L; b <- 0L until 64L) yield (a, b)
    val got = pairs.toDF("a", "b")
      .select(col("a"), col("b"),
        ClusteredWrite.mortonKey(col("a"), col("b"), bits = 6).as("z"))
      .collect()
    got.foreach { r =>
      val (a, b, z) = (r.getLong(0), r.getLong(1), r.getLong(2))
      assert(z == mortonRef(a, b, 6), s"morton($a,$b)")
    }
    // interleave is a bijection on the 6-bit square
    assert(got.map(_.getLong(2)).distinct.length == 64 * 64)
  }

  test("bucketize clamps and spreads over [lo, hi)") {
    import spark.implicits._
    val vals = Seq(-5.0, 0.0, 2.5, 9.999, 10.0, 42.0).toDF("v")
      .select(ClusteredWrite.bucketize(col("v"), 0.0, 10.0, 3).as("b"))
      .collect().map(_.getLong(0)).toSeq
    // 8 buckets over [0,10): clamp below → 0, above → 7
    assert(vals == Seq(0L, 0L, 2L, 7L, 7L, 7L))
  }

  test("z-order skips on BOTH dimensions; linear sort only on its leading key") {
    val ev = Tables.events(spark, "/root/testdata/sf0.01").drop("props")
    val total = ev.count()
    val dir = java.nio.file.Files.createTempDirectory("zorder").toString

    // 32 z-range files: the file grid resolves 2-3 leading bits per
    // dimension, which is what makes single-dimension slabs prunable
    ClusteredWrite.writeZOrder(ev, s"$dir/z", "user_id", "value",
      bits = 8, rowGroupBytes = 64 * 1024, numFiles = 32)
    ClusteredWrite.write(ev, s"$dir/linear", Seq("user_id"),
      rowGroupBytes = 64 * 1024, numFiles = 8)

    def scanned(path: String, pred: DataFrame => DataFrame): Long = {
      val df = pred(spark.read.parquet(path))
      df.collect()
      df.queryExecution.executedPlan
        .collect { case s: FileSourceScanExec => s.metrics("numOutputRows").value }
        .sum
    }
    val byUser: DataFrame => DataFrame = _.filter(col("user_id").between(10, 19))
    val byValue: DataFrame => DataFrame = _.filter(col("value").between(100.0, 150.0))

    // answers are layout-invisible
    assert(byUser(spark.read.parquet(s"$dir/z")).count() ==
      byUser(ev).count())
    assert(byValue(spark.read.parquet(s"$dir/z")).count() ==
      byValue(ev).count())

    val zUser = scanned(s"$dir/z", byUser)
    val zValue = scanned(s"$dir/z", byValue)
    val linUser = scanned(s"$dir/linear", byUser)
    val linValue = scanned(s"$dir/linear", byValue)
    info(s"user-filter rows: z=$zUser linear=$linUser of $total")
    info(s"value-filter rows: z=$zValue linear=$linValue of $total")

    // the linear layout prunes its leading key well...
    assert(linUser * 3 <= total, s"linear layout should skip on user_id: $linUser")
    // ...but reads essentially everything for the value filter
    assert(linValue * 2 >= total, s"linear layout unexpectedly pruned value: $linValue")
    // the z-order layout prunes BOTH
    assert(zUser * 2 <= total, s"z layout should skip on user_id: $zUser")
    assert(zValue * 2 <= total, s"z layout should skip on value: $zValue")
  }
}
