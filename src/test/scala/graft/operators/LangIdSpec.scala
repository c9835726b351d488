package graft.operators

import graft.util.Sessions
import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** Trained NB language-ID gates: held-out accuracy on the committed
  * test sentences (never seen by training), the operator contracts
  * (und for null/empty, gram-count closed form, first-wins tie-break),
  * native-expression parity with the kernel, and golden weight pins so
  * a training-recipe change fails loudly (the corpus is the checkpoint;
  * training is exact integer counting, so these pins can only move if
  * the recipe itself moves).
  */
class LangIdSpec extends AnyFunSuite {

  lazy val spark: SparkSession = Sessions.local(4)

  test("held-out accuracy: every committed test sentence classified correctly") {
    val wrong = LangId.HeldOut.filter { case (lang, text) =>
      LangId.predict(text) != lang
    }
    assert(wrong.isEmpty,
      s"misclassified held-out sentences: ${wrong.map { case (l, t) =>
        s"[$l -> ${LangId.predict(t)}] ${t.take(40)}" }.mkString("; ")}")
  }

  test("per-language held-out gate: every language has 8 sentences, all correct") {
    val byLang = LangId.HeldOut.groupBy(_._1)
    assert(byLang.keySet == LangId.Langs.toSet,
      s"held-out language set drifted: ${byLang.keySet}")
    byLang.foreach { case (lang, sents) =>
      assert(sents.size == 8, s"$lang has ${sents.size} held-out sentences")
      val wrong = sents.filterNot { case (_, t) => LangId.predict(t) == lang }
      assert(wrong.isEmpty,
        s"$lang: ${wrong.size}/8 held-out misclassified: " +
          wrong.map { case (_, t) =>
            s"[-> ${LangId.predict(t)}] ${t.take(40)}" }.mkString("; "))
    }
  }

  test("per-language seed counts: 30 per language, so priors stay uniform") {
    val byLang = LangId.SeedCorpus.groupBy(_._1)
    assert(byLang.keySet == LangId.Langs.toSet)
    byLang.foreach { case (lang, sents) =>
      assert(sents.size == 30, s"$lang has ${sents.size} seed sentences")
    }
  }

  test("training sentences classify to their own language") {
    val wrong = LangId.SeedCorpus.filter { case (lang, text) =>
      LangId.predict(text) != lang
    }
    assert(wrong.isEmpty, s"${wrong.size} training sentences misclassified")
  }

  test("null, empty and whitespace-only text predict 'und'") {
    assert(LangId.predict(null) == LangId.Unknown)
    assert(LangId.predict("") == LangId.Unknown)
    assert(LangId.predict("  \t \n ") == LangId.Unknown)
    assert(LangId.scores("  ")._1 == 0L)
  }

  test("gram count closed form: 4*len - 6 for len >= 4") {
    val t = "abcdef"
    val (n, _) = LangId.scores(t)
    assert(n == 4L * t.length - 6)
    assert(LangId.scores("a")._1 == 1L) // only the 1-gram
    assert(LangId.scores("ab")._1 == 3L) // two 1-grams + one 2-gram
    assert(LangId.scores("abc")._1 == 6L) // + two 2-grams, one 3-gram
  }

  test("normalization collapses whitespace and lowercases before gramming") {
    assert(LangId.normalize("  The\tQuick\n\nFox ") == "the quick fox")
    val (n1, s1) = LangId.scores("THE QUICK FOX")
    val (n2, s2) = LangId.scores("the   quick\tfox")
    assert(n1 == n2 && s1.sameElements(s2))
    // parity edges: U+000B collapses like any whitespace (the oracle's
    // class is widened to [\s\x0B] to match Java \s); case folding is
    // ASCII-only, so full-case expansions (U+0130) pass through
    // unfolded in BOTH engines instead of diverging
    assert(LangId.normalize("a\u000Bb") == "a b")
    assert(LangId.normalize("İstanbul") == "İstanbul")
  }

  test("model shape: deltas nonnegative, floors negative, priors uniform") {
    val m = LangId.model
    assert(m.deltas.forall(_.forall(_ >= 0L)))
    assert(m.floors.forall(_ < 0L))
    // 24 committed sentences per language -> uniform log prior
    assert(m.priors.distinct.length == 1)
  }

  test("golden weight pins: a recipe change fails loudly") {
    val m = LangId.model
    // bucket of the 1-gram "e" = 'e'.toInt % 4096 = 101
    assert(('e'.toInt % LangId.Dim) == 101)
    val en = LangId.Langs.indexOf("en")
    val zh = LangId.Langs.indexOf("zh")
    // 'e' is frequent in English training text; bucket 101 only sees
    // zh mass through hash collisions (a handful of CJK codepoints at
    // this Dim), so the en delta dominates by an order of magnitude
    assert(m.deltas(en)(101) > 0L)
    assert(m.deltas(en)(101) > 5 * m.deltas(zh)(101))
    // exact pins (computed from the committed corpus; any change to
    // corpus, Dim, GramB, Scale or the smoothing formula moves these).
    // Re-pinned in round 14: (Dim 1024 -> 4096, MaxN 3 -> 4, 6 new
    // seed themes per language) was a deliberate recipe change (see
    // LangId.Dim scaladoc), so both pins moved with it.
    assert(m.floors(en) == -9201905L,
      s"en floor moved: ${m.floors(en)}")
    assert(m.deltas(en)(101) == 5288267L,
      s"en delta('e') moved: ${m.deltas(en)(101)}")
  }

  test("native lang_id_model expression matches the kernel, incl. codegen") {
    graft.functions.GraftFunctions.register(spark)
    import spark.implicits._
    val samples = (LangId.HeldOut.map(_._2) ++ Seq("", "  ", "mixed 文本 text"))
      .toDF("text")
    val viaExpr = samples
      .selectExpr("coalesce(lang_id_model(text), 'und') AS p")
      .as[String].collect()
    val viaKernel = (LangId.HeldOut.map(_._2) ++ Seq("", "  ", "mixed 文本 text"))
      .map(LangId.predict)
    assert(viaExpr.toSeq == viaKernel)
  }

  test("predictDocs emits the kernel's scores and argmax") {
    import spark.implicits._
    val docs = LangId.HeldOut.zipWithIndex
      .map { case ((_, t), i) => (i.toLong, t) }
      .toDF("doc_id", "text")
    val out = LangId.predictDocs(docs)
    // schema is built from Langs (ADVICE r13): id, n_grams, one score
    // column per language, lang_pred — for ANY language-set size
    assert(out.columns.toSeq ==
      ("doc_id" +: "n_grams" +: LangId.Langs.map(l => s"s_$l")) :+ "lang_pred")
    val got = out.orderBy("doc_id").collect()
    val nL = LangId.Langs.length
    got.zip(LangId.HeldOut).foreach { case (row, (lang, text)) =>
      val (n, s) = LangId.scores(text)
      assert(row.getLong(1) == n)
      assert((2 until 2 + nL).map(row.getLong) == s.toSeq)
      assert(row.getString(2 + nL) == lang)
    }
  }
}
