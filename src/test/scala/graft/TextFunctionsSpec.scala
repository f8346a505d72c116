package graft

import org.scalatest.funsuite.AnyFunSuite

import graft.functions.{TextFunctions => T}

class TextFunctionsSpec extends AnyFunSuite with SparkTestBase {

  private def one[A](c: org.apache.spark.sql.Column, input: String): A = {
    import spark.implicits._
    Seq(input).toDF("text").select(c.as("v")).collect().head.getAs[A]("v")
  }

  test("tokenCount counts whitespace tokens") {
    import spark.implicits._
    val out = Seq("a b c", "  padded   words  ", "one").toDF("text")
      .select(T.tokenCount($"text").as("n")).collect().map(_.getLong(0))
    assert(out.toSeq == Seq(3L, 2L, 1L))
  }

  test("empty and whitespace-only text has zero tokens, not one") {
    import spark.implicits._
    val out = Seq("", "   ", "\t\n").toDF("text")
      .select(T.tokenCount($"text").as("n")).collect().map(_.getLong(0))
    assert(out.forall(_ == 0L))
  }

  test("qualityScore is 0.0 for empty text (no NaN)") {
    import spark.implicits._
    val q = one[Double](T.qualityScore($"text"), "")
    assert(q == 0.0)
  }

  test("qualityScore favors clean prose over punctuation soup") {
    import spark.implicits._
    val clean = one[Double](T.qualityScore($"text"), "clean readable words")
    val soup = one[Double](T.qualityScore($"text"), "@#$% !!! ^^&* ###")
    assert(clean > 0.8 && soup < 0.3)
  }

  test("langId identifies obvious samples") {
    import spark.implicits._
    assert(one[String](T.langId($"text"),
      "the cat and the dog sat in a house that is big") == "en")
    assert(one[String](T.langId($"text"),
      "der Hund und die Katze ist nicht ein Haus mit") == "de")
    assert(one[String](T.langId($"text"),
      "le chat et la maison est un des les jours") == "fr")
  }

  test("shingles: sliding windows, short text collapses to one shingle") {
    import spark.implicits._
    val sh = Seq("a b c d").toDF("text")
      .select(T.shingles($"text", 3).as("s")).collect().head
      .getSeq[String](0)
    assert(sh == Seq("a b c", "b c d"))
    val short = Seq("a b").toDF("text")
      .select(T.shingles($"text", 3).as("s")).collect().head
      .getSeq[String](0)
    assert(short == Seq("a b"))
  }

  test("fingerprint is order-sensitive and deterministic") {
    import spark.implicits._
    val fps = Seq("alpha beta gamma", "gamma beta alpha", "alpha beta gamma")
      .toDF("text").select(T.fingerprint($"text").as("fp"))
      .collect().map(_.getLong(0))
    assert(fps(0) == fps(2))
    assert(fps(0) != fps(1))
  }

  test("subTokenCount splits letter runs, digit runs, punctuation") {
    import spark.implicits._
    // "ab12-cd" -> ab, 12, -, cd = 4
    assert(one[Long](T.subTokenCount($"text"), "ab12-cd") == 4L)
  }

  test("nfc_normalize composes, strip_accents de-accents but keeps " +
      "non-decomposables, normalizeText chains with casefold") {
    import spark.implicits._
    // decomposed e + combining acute \u2192 one composed codepoint
    assert(one[String](T.nfc($"text"), "re\u0301sume\u0301") ===
      "r\u00e9sum\u00e9")
    // ASCII fast path is the identity
    assert(one[String](T.nfc($"text"), "plain ascii") === "plain ascii")
    assert(one[String](T.stripAccents($"text"),
      "Caf\u00e9 na\u00efve \u00f1") === "Cafe naive n")
    // \u00f8 and \u00df do NOT decompose \u2014 they must survive accent stripping
    assert(one[String](T.stripAccents($"text"), "\u00f8 \u00df") ===
      "\u00f8 \u00df")
    assert(one[String](T.normalizeText($"text"),
      "\u00dcBERM\u00c4SSIG re\u0301sume\u0301") ===
      "ubermassig resume")
    // normalization-variant dedup: NFC and NFD spellings of one word
    // hash identically after normalizeText
    val forms = Seq("r\u00e9sum\u00e9", "re\u0301sume\u0301")
      .toDF("text").select(T.normalizeText($"text").as("n"))
      .distinct().count()
    assert(forms === 1L)
  }

  test("maskTokens/maskedTargets: deterministic id-derived positions, " +
      "inputs and targets partition the tokens, empty text is safe") {
    import spark.implicits._
    val out = Seq((0L, "a b c d e f g h i j k l"), (7L, ""), (3L, "x"))
      .toDF("doc_id", "text")
      .select($"doc_id",
        T.maskTokens($"doc_id", $"text").as("inp"),
        T.maskedTargets($"doc_id", $"text").as("tgt"))
      .collect().map(r => r.getLong(0) ->
        (r.getSeq[String](1), r.getSeq[String](2))).toMap
    // doc 0: (0*131 + i) % 10 < 2 → positions 0,1,10,11 mask
    assert(out(0L)._1 ===
      Seq("<mask>", "<mask>", "c", "d", "e", "f", "g", "h", "i", "j",
        "<mask>", "<mask>"))
    assert(out(0L)._2 === Seq("a", "b", "k", "l"))
    // masked positions + surviving tokens partition the original
    assert(out(0L)._1.count(_ == "<mask>") === out(0L)._2.length)
    // empty text → empty arrays, no phantom mask
    assert(out(7L)._1 === Seq.empty[String])
    assert(out(7L)._2 === Seq.empty[String])
    // doc 3, token 0: (3*131 + 0) % 10 = 3 → unmasked
    assert(out(3L)._1 === Seq("x") && out(3L)._2.isEmpty)
  }

  test("shingles on a non-array child fails at analysis, not runtime") {
    import spark.implicits._
    import org.apache.spark.sql.functions.call_function
    val e = intercept[org.apache.spark.sql.AnalysisException] {
      Seq(1L).toDF("x")
        .select(call_function("shingles", $"x",
          org.apache.spark.sql.functions.lit(3)))
        .collect()
    }
    assert(e.getMessage.contains("shingles") ||
      e.getMessage.toLowerCase.contains("type"))
  }

  test("GraftExtensions injects every graft SQL function into new " +
      "sessions; SQL text matches the column helpers") {
    import spark.implicits._
    val s = spark.newSession()
    graft.functions.GraftFunctions.functions.foreach { case (id, _, _) =>
      assert(s.sessionState.functionRegistry.functionExists(id), id)
      assert(s.sessionState.functionRegistry.lookupFunction(id)
        .exists(_.getClassName.startsWith("graft.functions.")), id)
    }
    val texts = "VALUES ('a b  c d'), ('x') AS v(text)"
    val viaSql = s.sql("SELECT text, ws_tokens(text), " +
      s"shingles(ws_tokens(text), 2), simhash64(ws_tokens(text)) FROM $texts")
      .orderBy("text").collect().toSeq
    val viaCols = Seq("a b  c d", "x").toDF("text").select($"text",
      T.tokens($"text"), T.shingles($"text", 2),
      graft.functions.GraftFunctions.simhash64(T.tokens($"text")))
      .orderBy("text").collect().toSeq
    assert(viaSql == viaCols)
    assert(viaSql.head.getSeq[String](2) == Seq("a b", "b c", "c d"))
    // the shingle size must be an int literal
    val e = intercept[org.apache.spark.sql.AnalysisException] {
      s.sql(s"SELECT shingles(array('a', 'b'), length(text)) FROM $texts")
    }
    assert(e.getMessage.contains("shingles"), e.getMessage)
  }
}
