package graft.operators

import graft.Tables
import graft.util.Sessions
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Content-hash curation: sampling/splitting must be deterministic and
  * content-stable (the point of hashing over RNG), and packing bins must
  * respect the first-fit running-sum contract.
  */
class CurationSpec extends AnyFunSuite {

  lazy val spark: SparkSession = Sessions.local(4)

  val sf = "/root/testdata/sf0.001"

  test("hashSample is deterministic, monotone in fraction, ~proportional") {
    val docs = Tables.documents(spark, sf)
    val n = docs.count().toDouble
    val s20a = Curation.hashSample(docs, 0.2).select("doc_id").collect().toSet
    val s20b = Curation.hashSample(docs, 0.2).select("doc_id").collect().toSet
    assert(s20a == s20b) // rerun-stable
    val s50 = Curation.hashSample(docs, 0.5).select("doc_id").collect().toSet
    assert(s20a.subsetOf(s50)) // growing the fraction keeps prior picks
    assert(math.abs(s20a.size / n - 0.2) < 0.06, s"${s20a.size / n}")
    assert(Curation.hashSample(docs, 0.0).count() == 0L)
    assert(Curation.hashSample(docs, 1.0).count() == n.toLong)
  }

  test("splitLabel partitions the corpus disjointly and exhaustively") {
    import spark.implicits._
    val docs = Tables.documents(spark, sf)
    val byId = docs
      .select(col("doc_id"), Curation.splitLabel(col("text")).as("split"))
      .as[(Long, String)].collect()
    assert(byId.length == docs.count())
    val counts = byId.groupBy(_._2).view.mapValues(_.length).toMap
    assert(counts.keySet.subsetOf(Set("train", "val", "test")))
    assert(counts("train") > counts.getOrElse("val", 0))
    // a duplicated text must land in the same split (content-keyed)
    val dup = Seq((1L, "same text"), (2L, "same text"))
      .toDF("doc_id", "text")
      .select(Curation.splitLabel(col("text")).as("s"))
      .as[String].collect()
    assert(dup.distinct.length == 1)
  }

  test("mixtureSample applies per-source fractions and nests in hashSample") {
    import spark.implicits._
    val docs = Tables.documents(spark, "/root/testdata/sf0.01")
    val mixed = Curation.mixtureSample(docs,
      fractions = Map("src0" -> 0.9, "src1" -> 0.0), defaultFraction = 0.3)
    val bySrc = mixed.groupBy("source").count()
      .as[(String, Long)].collect().toMap
    assert(!bySrc.contains("src1")) // 0-fraction source fully dropped
    assert(bySrc.getOrElse("src0", 0L) > bySrc.getOrElse("src2", 0L))
    // same bucket as hashSample: a mixture row at fraction f is exactly
    // the hashSample(f) pick for its source
    val s30 = Curation.hashSample(docs, 0.3).select("doc_id")
      .as[Long].collect().toSet
    val defaults = mixed.filter(!col("source").isin("src0", "src1"))
      .select("doc_id").as[Long].collect().toSet
    assert(defaults == s30.intersect(
      docs.filter(!col("source").isin("src0", "src1"))
        .select("doc_id").as[Long].collect().toSet))
  }

  test("repetitionStats: hand-computed bigram and duplicate metrics") {
    import spark.implicits._
    val docs = Seq(
      (1L, "a b a b a b"),     // n=6, top bigram "a b" x3, distinct 2
      (2L, "x y z"),           // no repeats
      (3L, "w"),               // single token: no bigram
      (4L, "")).toDF("doc_id", "text")
    val got = TextAnalysis.repetitionStats(docs)
      .as[(Long, Long, Long, Long, Long)].collect()
      .map(r => r._1 -> ((r._2, r._3, r._4, r._5))).toMap
    assert(got(1L) == ((6L, 3L, 1000L, 666L))) // 2000*3/6, 1000*4/6
    assert(got(2L) == ((3L, 1L, 666L, 0L)))
    assert(got(3L) == ((1L, 0L, 0L, 0L)))
    // non-empty-token semantics (round 13): empty/whitespace-only text
    // contributes ZERO tokens — the convention the SQL twin mirrors
    // with list_filter (Java .trim vs SQL trim made the old
    // one-empty-token contract diverge cross-engine on edge newlines)
    assert(got(4L) == ((0L, 0L, 0L, 0L)))
  }

  test("blocklistFilter is exact even with a tiny, high-FPP bloom") {
    import spark.implicits._
    val docs = Tables.documents(spark, sf)
    val blocklist = docs.filter(col("doc_id") % 7 === 0)
    // deliberately undersized filter at 40% fpp: plenty of false
    // positives, all of which the verify anti-join must remove
    val got = Curation.blocklistFilter(docs, blocklist,
      expectedItems = 8, fpp = 0.4)
      .select("doc_id").as[Long].collect().toSet
    val want = docs.join(blocklist.select("text").distinct(),
      Seq("text"), "left_anti")
      .select("doc_id").as[Long].collect().toSet
    assert(got == want)
    assert(got.nonEmpty && got.size < docs.count())
  }

  test("auto-sized bloom keeps fpp bounded on a large blocklist") {
    import spark.implicits._
    // 100k entries is 10x the old fixed default of 10000, which would
    // have driven expectedFpp toward 1 (every corpus row a "suspect");
    // deriving the size from blocklist.count() keeps the configured fpp
    val blocklist = spark.range(100000)
      .select(concat(lit("blocked-entry-"), col("id")).as("text"))
    val auto = Curation.sizedBloom(blocklist, "text",
      expectedItems = -1L, fpp = 0.01)
    assert(auto.expectedFpp() < 0.02, s"auto fpp=${auto.expectedFpp()}")
    val fixed = Curation.sizedBloom(blocklist, "text",
      expectedItems = 10000L, fpp = 0.01)
    assert(fixed.expectedFpp() > 0.5, // the failure mode being guarded
      s"undersized fpp=${fixed.expectedFpp()}")
  }

  test("packBins: contiguous bins, conserved tokens, bounded overflow") {
    import spark.implicits._
    val docs = Tables.documents(spark, sf)
    val ctx = 256
    val bins = Curation.packBins(docs, ctxTokens = ctx, nShards = 4)
      .as[(String, Long, Long, Long, Long)].collect()

    val totalTokens = docs
      .select(sum(size(split(trim(col("text")), "\\s+")).cast("long")))
      .head().getLong(0)
    assert(bins.map(_._5).sum == totalTokens) // every token lands in a bin

    val maxDoc = docs
      .select(max(size(split(trim(col("text")), "\\s+")).cast("long")))
      .head().getLong(0)
    bins.groupBy(b => (b._1, b._2)).foreach { case (key, bs) =>
      val ids = bs.map(_._3).sorted
      assert(ids.toList == (0L until ids.length).toList,
        s"non-contiguous bins for $key: ${ids.toSeq}")
      // first-fit: a bin only exceeds ctx by the doc that crosses the
      // boundary, so sum < ctx + maxDoc; and every non-final bin must
      // have reached the ctx boundary (otherwise the next doc would
      // have joined it)
      bs.foreach(b => assert(b._5 < ctx + maxDoc, s"$key bin ${b._3}"))
    }
  }

  test("normalizeUrl: case, ports, fragments, utm params, slashes") {
    import spark.implicits._
    val cases = Seq(
      ("HTTP://Example.COM:80/A/?utm_source=x#top", "http://example.com/A"),
      ("https://Ex.com:443/a/b/", "https://ex.com/a/b"),
      ("https://ex.com:8443/a", "https://ex.com:8443/a"), // non-default port kept
      ("http://ex.com/?utm_a=1&utm_b=2", "http://ex.com"),
      ("http://ex.com/p?utm_a=1&id=2&utm_b=3", "http://ex.com/p?id=2"),
      ("http://ex.com/p?id=2", "http://ex.com/p?id=2"),
      ("ftp://Ex.com:80/f", "ftp://ex.com:80/f"), // :80 only default for http
      ("Example.COM/Path/", "example.com/Path"), // schemeless passthrough
      ("http://ex.com", "http://ex.com"),
      // utm_ NOT at a parameter boundary must never be touched: in a
      // path segment, in a value, or inside a suffixed parameter name
      ("http://ex.com/utm_page?a=1&b=2", "http://ex.com/utm_page?a=1&b=2"),
      ("http://ex.com/p?a=utm_x&b=1", "http://ex.com/p?a=utm_x&b=1"),
      ("http://ex.com/p?xutm_a=1&b=2", "http://ex.com/p?xutm_a=1&b=2"),
      ("http://ex.com/p?a=1&utm_x", "http://ex.com/p?a=1"))
    val got = cases.map(_._1).toDF("url")
      .select(col("url"), Curation.normalizeUrl(col("url")).as("norm"))
      .as[(String, String)].collect().toMap
    cases.foreach { case (in, want) =>
      assert(got(in) == want, s"normalizeUrl($in)")
    }
  }

  test("registrableDomain: subdomains collapse, ports/www strip, bare hosts pass") {
    import spark.implicits._
    val cases = Seq(
      ("http://a.blog.Example.COM/x", "example.com"),
      ("https://b.blog.example.com:443/y", "example.com"),
      ("HTTP://WWW.Example3.COM:80/Path", "example3.com"),
      ("http://ex.com:8080/p", "ex.com"),
      ("http://localhost/p", "localhost"),         // bare host passes whole
      ("example.com/schemeless", "example.com"),
      ("http://www.co.uk/", "co.uk"))              // two-label heuristic, documented
    val got = cases.map(_._1).toDF("url")
      .select(col("url"), Curation.registrableDomain(col("url")).as("d"))
      .as[(String, String)].collect().toMap
    cases.foreach { case (in, want) =>
      assert(got(in) == want, s"registrableDomain($in)")
    }
  }

  test("winsorize: NULL group keys clip within their own group, never drop") {
    import spark.implicits._
    val df = Seq(
      (1L, Some("a"), 1.0), (2L, Some("a"), 2.0), (3L, Some("a"), 100.0),
      (4L, None, 10.0), (5L, None, 20.0), (6L, None, 1000.0))
      .toDF("id", "grp", "v")
    val got = Curation.winsorize(df, "v", "grp", lo = 0.0, hi = 0.5)
      .select("id", "v_winsorized").as[(Long, Double)].collect().toMap
    assert(got.size == 6, "NULL-group rows must survive winsorization")
    // NULL group {10,20,1000}: hi = median 20 clips 1000 -> 20
    assert(got(6L) == 20.0)
    assert(got(4L) == 10.0 && got(5L) == 20.0)
    // group a {1,2,100}: hi = 2 clips 100 -> 2
    assert(got(3L) == 2.0)
  }

  test("temperatureWeights: α=1/2 closed form, integer-exact") {
    import spark.implicits._
    // counts 4 and 1 -> sqrt scores 2e6 and 1e6 -> weights 2/3 and 1/3
    val docs = (Seq.fill(4)("a") ++ Seq("b")).zipWithIndex
      .map { case (s, i) => (i.toLong, s"t$i", s) }
      .toDF("doc_id", "text", "source")
    val got = Curation.temperatureWeights(docs, budget = 9000L)
      .as[(String, Long, Long, Long)].collect().map(r => r._1 -> r).toMap
    assert(got("a") == (("a", 4L, 666666L, 5999L)))
    assert(got("b") == (("b", 1L, 333333L, 2999L)))
  }

  test("stratifiedSample: exact per-stratum sizes, growth-stable picks") {
    import spark.implicits._
    val docs = Tables.documents(spark, sf)
    val n = 7
    val got = Curation.stratifiedSample(docs, n)
      .as[(String, Long, Long)].collect().toSeq
    val byStratum = got.groupBy(_._1)
    val sizes = docs.groupBy("lang").count()
      .as[(String, Long)].collect().toMap
    // every stratum filled to min(|stratum|, n), ranks 1..k dense
    assert(byStratum.keySet == sizes.keySet)
    byStratum.foreach { case (lang, rows) =>
      assert(rows.size == math.min(sizes(lang), n.toLong))
      assert(rows.map(_._3).sorted == (1L to rows.size).toSeq)
    }
    // stability: sampling a GROWN corpus keeps every pick whose rank
    // survives — the no-RNG membership contract (object doc)
    val grown = docs.unionByName(
      docs.withColumn("doc_id", col("doc_id") + 1000000L))
    val got2 = Curation.stratifiedSample(grown, n)
      .as[(String, Long, Long)].collect().toSeq
    val picked2 = got2.map(t => (t._1, t._2)).toSet
    val survivors = got.map(t => (t._1, t._2)).count(picked2.contains)
    // at least some originals survive and none shifts rank order among
    // survivors; with ~2x candidates expect roughly half to survive
    assert(survivors > 0)
    // surviving picks keep their relative order: a grown corpus can
    // displace picks with smaller hashes but never reorder survivors
    got2.groupBy(_._1).foreach { case (lang, rows2) =>
      val order1 = got.filter(_._1 == lang).sortBy(_._3).map(_._2)
        .filter(id => rows2.exists(_._2 == id))
      val order2 = rows2.sortBy(_._3).map(_._2)
        .filter(order1.contains)
      assert(order1 == order2, s"relative order drifted in $lang")
    }
  }
}
