package graftbench

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.Paths
import java.security.MessageDigest

import org.apache.spark.sql.{Dataset, SparkSession}

/** Checks of the seeded generators, at the sizes the benchmark runs:
  *   - one seed gives byte-identical inputs when generated twice;
  *   - another seed gives different inputs with the same line count and
  *     shape (tab-field count and n-gram token count of every line);
  *   - every DIRT corpus carries its planted twin, disjoint and partial
  *     families, and the dedup docs their identical-twin families.
  *
  * Usage: GenCheck --work <dir>. Exits 1 on the first failed check.
  */
object GenCheck {

  private def hex(b: Array[Byte]): String = b.map(x => f"$x%02x").mkString

  def digest(ds: Dataset[String]): String = {
    import ds.sparkSession.implicits._
    val parts = ds.mapPartitions { it =>
      val md = MessageDigest.getInstance("SHA-256")
      it.foreach { l => md.update(l.getBytes(UTF_8)); md.update('\n'.toByte) }
      Iterator(hex(md.digest()))
    }.collect()
    hex(MessageDigest.getInstance("SHA-256").digest(parts.mkString.getBytes(UTF_8)))
  }

  def shape(ds: Dataset[String]): Map[(Int, Int), Long] = {
    import ds.sparkSession.implicits._
    ds.map { l =>
      val f = l.split("\t", -1)
      (f.length, if (f.length > 1) f(1).split(" ").length else 0)
    }.toDF("fields", "tokens").groupBy("fields", "tokens").count()
      .collect().map(r => (r.getInt(0), r.getInt(1)) -> r.getLong(2)).toMap
  }

  /** Planted family lines per family tag in a DIRT corpus. */
  def families(ds: Dataset[String]): Map[String, Long] = {
    import ds.sparkSession.implicits._
    ds.flatMap { l =>
      val head = l.takeWhile(_ != '\t')
      Seq("vtw", "vdj", "vpt").find(t => head.startsWith(t) &&
        head.length > 3 && head.drop(3).forall(_.isDigit))
    }.groupBy("value").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
  }

  def main(args: Array[String]): Unit = {
    val work = Paths.get(args(args.indexOf("--work") + 1))
    val cores = Runtime.getRuntime.availableProcessors
    val spark = SparkSession.builder().master(s"local[$cores]")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", work.resolve("spark-local").toString)
      .config("spark.sql.warehouse.dir", work.resolve("warehouse").toString)
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    var failures = 0
    def check(ok: Boolean, what: String): Unit = {
      println(s"${if (ok) "ok  " else "FAIL"} $what")
      if (!ok) failures += 1
    }
    def inputs(name: String, seed: Long) =
      Main.workload(name, spark, seed, work, cores).generated

    for (name <- Main.Workloads) {
      val a = inputs(name, 1)
      val again = inputs(name, 1)
      val b = inputs(name, 2)
      a.zip(again).zip(b).foreach { case (((part, x), (_, x2)), (_, y)) =>
        val what = s"$name/$part"
        val dx = digest(x)
        check(dx == digest(x2), s"$what: same seed, byte-identical")
        check(dx != digest(y), s"$what: other seed, different bytes")
        val sx = shape(x)
        check(sx == shape(y), s"$what: other seed, same shape " +
          s"(${sx.values.sum} lines)")
        if (part == "docs") {
          val n = x.count()
          check(x.map(_.dropWhile(_ != '\t'))(spark.implicits.newStringEncoder)
            .distinct().count() == n - n / 8,
            s"$what: one identical-twin family in four")
        } else if (part != "test_set") {
          val fam = families(x)
          check(fam.size == 3 && fam.values.toSet.size == 1 &&
            fam.values.head % (Gen.LinesPerGroup / 3) == 0,
            s"$what: planted families $fam")
        }
      }
    }
    spark.stop()
    println(s"generator checks: $failures failed")
    sys.exit(if (failures == 0) 0 else 1)
  }
}
