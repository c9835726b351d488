package graft.util

import org.apache.spark.sql.SparkSession

/** The one local `SparkSession` shape every graft entry point and spec
  * runs on: `local[cpus]` with as many shuffle partitions, UTC session
  * time zone, no UI, WARN logging. `extra` confs are applied last, so
  * they may override a default (the skew specs widen the shuffle).
  */
object Sessions {
  def local(cpus: Int, extra: (String, String)*): SparkSession = {
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config(extra.toMap)
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }

  /** `SPARK_GRAFT_CPUS` when set, else the entry point's own default. */
  def envCpus(default: Int): Int =
    sys.env.get("SPARK_GRAFT_CPUS").fold(default)(_.toInt)
}
