package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.operators.LangId

/** Accuracy of the LEARNED rank-profile language classifier on a
  * corpus with GENUINE language signal. The driver corpus's `lang`
  * labels are uncorrelated with its (English-vocabulary) text by
  * construction — measured: per-label word distributions are uniform —
  * so the declared `q_lang_id_learned` pins the trained pipeline's
  * determinism via the DuckDB hash check, and THIS spec pins the
  * model quality the mechanism delivers when the labels mean
  * something: real five-language sentences, held-out split, accuracy
  * asserted.
  */
class LangIdSpec extends AnyFunSuite with SparkTestBase {

  // ten short sentences per language, deliberately ordinary prose —
  // the char-bigram profiles must separate these on orthography alone
  private val samples: Map[String, Seq[String]] = Map(
    "en" -> Seq(
      "the quick brown fox jumps over the lazy dog near the river",
      "she walked through the old town and bought fresh bread",
      "we should think about what this change means for everyone",
      "the weather has been cold and rainy for the whole week",
      "he reads the newspaper every morning with a cup of coffee",
      "they are planning a long trip across the mountains this year",
      "this house was built more than a hundred years ago",
      "the children play football in the park after school",
      "i would like to know when the next train leaves",
      "there is nothing better than a quiet evening at home"),
    "fr" -> Seq(
      "le chat dort sur le canapé pendant toute la journée",
      "elle a acheté du pain frais et du fromage au marché",
      "nous devons réfléchir à ce que cela signifie pour nous",
      "le temps a été froid et pluvieux toute la semaine",
      "il lit le journal chaque matin avec une tasse de café",
      "ils préparent un long voyage à travers les montagnes",
      "cette maison a été construite il y a plus de cent ans",
      "les enfants jouent au ballon dans le parc après l'école",
      "je voudrais savoir quand part le prochain train",
      "rien ne vaut une soirée tranquille à la maison"),
    "de" -> Seq(
      "der hund läuft schnell durch den großen dunklen wald",
      "sie kaufte frisches brot und käse auf dem markt",
      "wir müssen überlegen was diese änderung für uns bedeutet",
      "das wetter war die ganze woche kalt und regnerisch",
      "er liest jeden morgen die zeitung mit einer tasse kaffee",
      "sie planen eine lange reise über die berge dieses jahr",
      "dieses haus wurde vor mehr als hundert jahren gebaut",
      "die kinder spielen nach der schule fußball im park",
      "ich möchte wissen wann der nächste zug fährt",
      "es gibt nichts besseres als einen ruhigen abend zu hause"),
    "es" -> Seq(
      "el perro corre rápido por la calle hacia la plaza",
      "ella compró pan fresco y queso en el mercado",
      "debemos pensar en lo que este cambio significa para todos",
      "el tiempo ha sido frío y lluvioso toda la semana",
      "él lee el periódico cada mañana con una taza de café",
      "están planeando un largo viaje a través de las montañas",
      "esta casa fue construida hace más de cien años",
      "los niños juegan al fútbol en el parque después de clase",
      "me gustaría saber cuándo sale el próximo tren",
      "no hay nada mejor que una tarde tranquila en casa"),
    "zh" -> Seq(
      "今天天气很好我们一起去公园散步吧",
      "他每天早上喝一杯咖啡然后看报纸",
      "这座房子已经有一百多年的历史了",
      "孩子们放学以后在公园里踢足球",
      "我想知道下一班火车什么时候出发",
      "没有什么比在家里安静地度过一个晚上更好的了",
      "她在市场上买了新鲜的面包和奶酪",
      "我们应该考虑这个变化对大家意味着什么",
      "他们计划今年进行一次穿越山脉的长途旅行",
      "这个星期的天气一直又冷又下雨"))

  private def corpus(): DataFrame = {
    import spark.implicits._
    samples.toSeq.sortBy(_._1).zipWithIndex.flatMap {
      case ((lang, texts), li) =>
        texts.zipWithIndex.map { case (t, i) =>
          (li * 100L + i, lang, t)
        }
    }.toDF("doc_id", "lang", "text")
  }

  test("rank-profile classifier: 100% held-out accuracy on a " +
      "five-language corpus with real signal") {
    val docs = corpus()
    // hold out two sentences per language (ids ending 8 and 9)
    val train = docs.filter(col("doc_id") % 100 < 8)
    val test = docs.filter(col("doc_id") % 100 >= 8)
    val prof = LangId.trainProfiles(train, "lang", "text", m = 100)
    val pred = LangId.classify(test, "doc_id", "text", prof)
      .join(test.select(col("doc_id"), col("lang")), "doc_id")
      .select(col("doc_id"), col("lang"), col("pred_lang"))
      .collect()
    assert(pred.length == 10)
    val wrong = pred.filter(r => r.getString(1) != r.getString(2))
    assert(wrong.isEmpty,
      s"misclassified: ${wrong.map(r =>
        s"${r.getLong(0)} ${r.getString(1)}->${r.getString(2)}")
        .mkString(", ")}")
  }

  test("profiles are learned, not hardcoded: dropping a language from " +
      "training removes it from the candidate set") {
    val docs = corpus()
    val train = docs.filter(col("lang") =!= "zh")
    val prof = LangId.trainProfiles(train, "lang", "text", m = 100)
    val langs = prof.select(col("lang")).distinct()
      .collect().map(_.getString(0)).toSet
    assert(langs == Set("en", "fr", "de", "es"))
    // a zh doc now resolves to SOME remaining language (never zh) —
    // the classifier has no candidates outside what it was trained on
    val pred = LangId.classify(docs.filter(col("lang") === "zh"),
      "doc_id", "text", prof)
      .collect().map(_.getString(1)).toSet
    assert(pred.nonEmpty && !pred.contains("zh"))
  }

  test("zero-overlap documents fall back to the deterministic " +
      "tie-break (first language code), never to a missing row") {
    import spark.implicits._
    val train = corpus().filter(col("lang").isin("en", "fr"))
    val prof = LangId.trainProfiles(train, "lang", "text", m = 50)
    // digits only: no char bigram of it appears in any profile
    val pred = LangId.classify(
      Seq((1L, "0123456789")).toDF("doc_id", "text"),
      "doc_id", "text", prof).collect()
    assert(pred.length == 1 && pred.head.getString(1) == "en")
  }

  /** The relational form the row kernel replaced, kept as the
    * reference: explode the grams, tf per (doc, gram), join the
    * profile, Σ tf·w per (doc, lang), every language a candidate at
    * score 0, argmax by (score desc, lang asc).
    */
  private def relational(docs: DataFrame, profiles: DataFrame): DataFrame = {
    val tf = docs
      .select(col("doc_id"),
        explode(graft.functions.GraftFunctions.charGrams(col("text")))
          .as("gram"))
      .groupBy(col("doc_id"), col("gram"))
      .agg(count(lit(1)).as("tf"))
    val scores = tf.join(profiles, "gram")
      .groupBy(col("doc_id"), col("lang"))
      .agg(sum(col("tf") * col("w")).as("score"))
    val best = Window.partitionBy(col("doc_id"))
      .orderBy(col("score").desc, col("lang"))
    docs.select(col("doc_id"))
      .crossJoin(profiles.select(col("lang")).distinct())
      .join(scores, Seq("doc_id", "lang"), "left")
      .withColumn("score", coalesce(col("score"), lit(0L)))
      .withColumn("rn", row_number().over(best))
      .filter(col("rn") === 1)
      .select(col("doc_id"), col("lang").as("pred_lang"))
  }

  test("row kernel equals the relational argmax on random profiles: " +
      "ties, null and empty text, zero overlap, multi-byte text") {
    import spark.implicits._
    val rnd = new scala.util.Random(23)
    val alphabet = Seq("a", "A", "b", " ", "é", "世", "😀")
    def word(n: Int): String =
      Seq.fill(n)(alphabet(rnd.nextInt(alphabet.length))).mkString
    (1 to 4).foreach { round =>
      val langs = Seq("de", "en", "fr", "zh").take(2 + round % 3)
      // weights 1..3 over a tiny gram space: equal scores are common;
      // a repeated (lang, gram) row adds up, as the join summed it
      val prof = (for {
        l <- langs
        g <- Seq.fill(6)(word(1 + rnd.nextInt(2))).distinct
      } yield (l, g.toLowerCase, 1L + rnd.nextInt(3))) :+
        ((langs.head, "a", 1L))
      val texts = Seq(null, "", "0123456789", "A", "😀😀") ++
        Seq.fill(40)(word(rnd.nextInt(12)))
      val docs = texts.zipWithIndex
        .map { case (t, i) => (i.toLong, t) }.toDF("doc_id", "text")
      val profiles = prof.toDF("lang", "gram", "w")
      val got = LangId.classify(docs, "doc_id", "text", profiles)
        .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
      val want = relational(docs, profiles)
        .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
      assert(got == want, s"round $round")
      assert(got.size == texts.size)
      // null, empty and zero-overlap text score 0 everywhere
      Seq(0L, 1L, 2L).foreach(id => assert(got(id) == langs.head))
    }
  }

  test("an empty profile yields no rows") {
    import spark.implicits._
    val none = Seq.empty[(String, String, Long)].toDF("lang", "gram", "w")
    assert(LangId.classify(Seq((1L, "abc")).toDF("doc_id", "text"),
      "doc_id", "text", none).collect().isEmpty)
  }

  test("a score of 2^46 or more refuses with an error naming the score") {
    import spark.implicits._
    val prof = Seq(("en", "a", 1L << 45), ("fr", "b", 1L))
      .toDF("lang", "gram", "w")
    // one occurrence: 2^45, in range
    assert(LangId.classify(Seq((1L, "a")).toDF("doc_id", "text"),
      "doc_id", "text", prof).collect().head.getString(1) == "en")
    // two occurrences: 2^46, refused
    val e = intercept[Exception](
      LangId.classify(Seq((1L, "aa")).toDF("doc_id", "text"),
        "doc_id", "text", prof).collect())
    val msgs = Iterator.iterate[Throwable](e)(_.getCause)
      .takeWhile(_ != null).map(_.getMessage).mkString(" | ")
    assert(msgs.contains(s"score=${1L << 46}"), msgs)
  }
}
