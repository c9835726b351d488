package graft.functions

import graft.text.Porter
import graft.util.Sessions
import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** The native `porter_stem` expression must agree with the scalar kernel
  * on every path (interpreted eval, whole-stage codegen, SQL registry,
  * extensions injection) and survive inside a codegen'd project.
  */
class PorterStemExpressionSpec extends AnyFunSuite {

  lazy val spark: SparkSession = Sessions.local(4)

  val words = Seq("causes", "accompanied", "dying", "lead", "associations",
    "flies", "caresses", "ponies", "relational", "a", "")

  test("registered SQL function matches the scalar kernel, under codegen") {
    import spark.implicits._
    GraftFunctions.register(spark)
    val got = words.toDF("w")
      .selectExpr("w", "porter_stem(w) AS s")
      .as[(String, String)].collect().toMap
    words.foreach(w => assert(got(w) == Porter.stem(w), s"word $w"))

    // distributed source (Range), so the projection must run inside
    // whole-stage codegen — LocalTableScan would eval eagerly instead
    val wordArr = words.filter(_.nonEmpty)
    val arrSql = wordArr.map(w => s"'$w'").mkString("array(", ", ", ")")
    val df = spark.range(wordArr.size)
      .selectExpr(s"element_at($arrSql, cast(id AS INT) + 1) AS w")
      .selectExpr("w", "porter_stem(w) AS s")
    // "*(n)" prefixes mark operators fused into a WholeStageCodegen stage
    val planStr = df.queryExecution.executedPlan.toString
    val stemLine = planStr.linesIterator.find(_.contains("porter_stem")).get
    assert(stemLine.trim.startsWith("*("), planStr)
    val viaCodegen = df.as[(String, String)].collect().toMap
    wordArr.foreach(w => assert(viaCodegen(w) == Porter.stem(w), s"codegen $w"))
  }

  test("Column API and nulls") {
    import spark.implicits._
    GraftFunctions.register(spark)
    val out = Seq(Some("causes"), None).toDF("w")
      .select(GraftFunctions.porterStem($"w").as("s"))
      .collect().map(r => Option(r.getString(0))).toSeq
    assert(out == Seq(Some("caus"), None))
  }

  test("GraftExtensions injection registers a resolvable porter_stem") {
    // a shared-context test JVM can't build a truly fresh session, so
    // exercise the extensions path directly: apply the injector to a real
    // SparkSessionExtensions and install its functions into a session
    // state, exactly as BaseSessionStateBuilder does at session build.
    val exts = new org.apache.spark.sql.SparkSessionExtensions
    new GraftExtensions().apply(exts)
    val s2 = spark.newSession()
    // registerFunctions is private[sql] in source but public in bytecode
    exts.getClass
      .getMethod("registerFunctions",
        classOf[org.apache.spark.sql.catalyst.analysis.FunctionRegistry])
      .invoke(exts, s2.sessionState.functionRegistry)
    assert(s2.sql("SELECT porter_stem('conditional') AS s")
      .collect().head.getString(0) == Porter.stem("conditional"))
    // the base session did NOT get the function this way (isolation)
    GraftFunctions.register(spark)
  }
}
