package graft

import org.scalatest.funsuite.AnyFunSuite

/** Pins the [[graft.functions.CharGrams]] kernel to the builtin chain
  * it replaced ([[graft.operators.LangId.charGrams]]: split("") +
  * transform bigrams over the lowercased text) — identical gram
  * streams, element for element, or the learned language-ID profiles
  * and scores silently shift.
  */
class CharGramsSpec extends AnyFunSuite with SparkTestBase {

  private def bothWays(s: String): (Seq[String], Seq[String]) = {
    import spark.implicits._
    val row = Seq(s).toDF("text")
      .select(
        graft.functions.GraftFunctions.charGrams($"text").as("n"),
        graft.operators.LangId.charGrams($"text").as("o"))
      .collect().head
    (row.getSeq[String](0), row.getSeq[String](1))
  }

  test("kernel matches the builtin chain on edges and multi-byte text") {
    val cases = Seq(
      "", "a", "ab", "ABC def", "  spaced  ",
      "Üben MÄßig", "café", "世界和平", "a世b界", "😀x😀",
      "MiXeD CaSe 123 !?")
    cases.foreach { s =>
      val (n, o) = bothWays(s)
      assert(n === o, s"mismatch on '$s'")
    }
  }

  test("kernel matches the builtin chain on 200 random strings") {
    val rnd = new scala.util.Random(11)
    val alphabet = "aA bB1é世😀.".toCharArray
    (1 to 200).foreach { _ =>
      val s = new String(Array.fill(rnd.nextInt(25))(
        alphabet(rnd.nextInt(alphabet.length))))
      val (n, o) = bothWays(s)
      assert(n === o, s"mismatch on ${s.map(_.toInt)}")
    }
  }
}
