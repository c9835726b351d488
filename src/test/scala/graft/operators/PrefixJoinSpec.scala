package graft.operators

import graft.util.Sessions
import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** Closed-form kernels for the longest-prefix-match join: q159's oracle
  * rows prove cross-engine agreement at fixture scale; this pins the
  * boundary semantics (segment boundaries only — no `/a/bc` false
  * match), longest-wins selection, the unmatched contract and the
  * empty-rule guard on inputs small enough to verify by eye.
  */
class PrefixJoinSpec extends AnyFunSuite {

  lazy val spark: SparkSession = Sessions.local(4)

  import spark.implicits._

  private def run(paths: Seq[(Long, String)], rules: Seq[String]) =
    PrefixJoin.longestPrefixMatch(
      paths.toDF("doc_id", "path"), rules.toDF("prefix"))
      .collect()
      .map(r => r.getLong(0) -> ((r.getString(2), r.getLong(3)))).toMap

  test("longest matching rule wins over shorter ones") {
    val got = run(
      Seq((1L, "/a/b/c"), (2L, "/a/x")),
      Seq("/a", "/a/b", "/a/b/c"))
    assert(got(1L) == (("/a/b/c", 6L)))
    assert(got(2L) == (("/a", 2L)))
  }

  test("matches only at segment boundaries: /a/b does not match /a/bc") {
    val got = run(Seq((1L, "/a/bc"), (2L, "/a/b")), Seq("/a/b"))
    assert(got(1L) == (("", 0L)))
    assert(got(2L) == (("/a/b", 4L)))
  }

  test("unmatched items survive with empty prefix and zero length") {
    val got = run(Seq((1L, "/z/z")), Seq("/a"))
    assert(got(1L) == (("", 0L)))
  }

  test("a rule deeper than the path does not match") {
    val got = run(Seq((1L, "/a")), Seq("/a/b"))
    assert(got(1L) == (("", 0L)))
  }

  test("empty rule is rejected loudly (it would match everything)") {
    val e = intercept[IllegalArgumentException] {
      run(Seq((1L, "/a")), Seq(""))
    }
    assert(e.getMessage.contains("match everything"))
  }
}
