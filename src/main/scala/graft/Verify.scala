package graft
import graft.util.Json.quote
import graft.util.Sessions
import java.nio.file.{Files, Paths}
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. An optional
  * third arg (comma-separated query names) restricts the dump — in-round
  * spot checks of a new query don't need the full 70+-query sweep.
  */
object Verify {
  def main(args: Array[String]): Unit = {
    val (sfDir, outDir, only) = args match {
      case Array(s, o)    => (s, o, Option.empty[Set[String]])
      case Array(s, o, f) => (s, o, Some(f.split(",").toSet))
    }
    val spark = Sessions.local(Sessions.envCpus(4))
    new java.io.File(outDir).mkdirs()
    SparkEntry.queries
      .filter { case (name, _) => only.forall(_.contains(name)) }
      .foreach { case (name, fn) =>
      try fn(spark, sfDir).coalesce(1).write.mode("overwrite")
        .parquet(s"$outDir/$name")
      catch { case e: Throwable =>
        System.err.println(s"[verify] $name failed: ${e.getMessage}")
      } finally spark.catalog.clearCache() // per-query cache lifetime
    }
    // Json.quote escapes every control character: a tab or CR in a
    // query's SQL must not make oracle_sql.json unparseable
    val json = SparkEntry.oracleSql
      .map { case (k, v) => s"${quote(k)}: ${quote(v)}" }
      .mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    spark.stop()
  }
}
