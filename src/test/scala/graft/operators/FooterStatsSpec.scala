package graft.operators

import graft.util.Sessions
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** The round-19 footer-based commit stats (GraftTable.fileRangesFromFooters,
  * optimization guide §6 / VERDICT r18 next-round #5): per-file min/max
  * read from parquet footers must reproduce the row-scan stats pass
  * BIT-FOR-BIT on its supported domain (signed INT32/INT64 columns) —
  * including the all-NULL-column "no range, forever rewrite candidate"
  * rule and the zero-row part-file drop — and must REFUSE (None → caller
  * falls back to the exact scan) any column shape it cannot reproduce.
  */
class FooterStatsSpec extends AnyFunSuite {

  lazy val spark: SparkSession = Sessions.local(4)

  private def tmpRoot(): String = {
    val d = java.nio.file.Files.createTempDirectory("footer_stats_").toString
    d
  }

  private def partsUnder(root: String, rel: String): Seq[String] = {
    new java.io.File(s"$root/$rel").listFiles()
      .map(_.getName).filter(_.startsWith("part-")).sorted.toSeq
      .map(n => s"$rel/$n")
  }

  test("footer ranges == scan ranges on int64/int32 files with nulls and a zero-row part") {
    import spark.implicits._
    val root = tmpRoot()
    // three part files: plain values / a null-bearing + all-null-col mix /
    // a zero-row part (written by an empty partition)
    val df = Seq(
      (1L, Some(7), Some(100L)),
      (5L, Some(-3), Some(90L)),
      (9L, None, None)
    ).toDF("k64", "k32", "knull")
      .withColumn("knull", when(lit(true), lit(null).cast("long")))
    df.repartition(4, col("k64")).write.parquet(s"$root/data")
    val parts = partsUnder(root, "data")
    val keys = Seq("k64", "k32", "knull")
    val footer = GraftTable.fileRangesFromFooters(spark, root, parts, keys)
    assert(footer.isDefined, "int columns must take the footer path")
    val scan = GraftTable.fileRanges(spark, root, parts, keys)
    assert(footer.get._1 == scan._1,
      s"footer ranges diverge from scan ranges:\n${footer.get._1}\nvs\n${scan._1}")
    assert(footer.get._2 == scan._2,
      "zero-row part files must be reported absent identically")
    // the all-null column yields NO range anywhere, but files stay seen
    assert(footer.get._1.values.forall(!_.contains("knull")))
  }

  test("unsupported column shapes refuse the footer path (fallback stays exact)") {
    import spark.implicits._
    val root = tmpRoot()
    Seq((1L, "a"), (2L, "b")).toDF("k", "s")
      .coalesce(1).write.parquet(s"$root/data")
    val parts = partsUnder(root, "data")
    // a string stats column is outside the footer domain: must be None,
    // never a silently-different range
    assert(GraftTable.fileRangesFromFooters(spark, root, parts,
      Seq("k", "s")).isEmpty)
    // a missing column likewise
    assert(GraftTable.fileRangesFromFooters(spark, root, parts,
      Seq("nope")).isEmpty)
  }
}
