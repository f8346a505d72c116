package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Pins the [[graft.functions.WsTokens]] kernel to the builtin chain
  * it replaced: `filter(split(trim(text), "\\s+"), t => t =!= "")`.
  * The two must agree on EVERY string — the kernel backs
  * `TextFunctions.tokens`, which sits under the whole text-operator
  * family, so a divergence here would silently shift dozens of
  * oracle-checked queries.
  */
class WsTokensSpec extends AnyFunSuite with SparkTestBase {

  private def oldTokens(text: org.apache.spark.sql.Column) =
    filter(split(trim(text), "\\s+"), t => t =!= lit(""))

  private def bothWays(s: String): (Seq[String], Seq[String]) = {
    import spark.implicits._
    val row = Seq(s).toDF("text")
      .select(graft.functions.TextFunctions.tokens($"text").as("n"),
        oldTokens($"text").as("o"))
      .collect().head
    (row.getSeq[String](0), row.getSeq[String](1))
  }

  test("kernel matches the builtin split/trim/filter chain on edges") {
    val cases = Seq(
      "", " ", "\t", "  \t \n ", "a", " a ", "a b", "  a   b  ",
      "a\tb\ncd\fe\rf", "\ta", "a\t", "word",
      "multi  space\t\ttab mix \r\n end",
      // non-ASCII: U+00A0 is NOT \s-whitespace — stays inside a token
      "a b c", "café über  straße",
      // multi-byte sequences adjacent to whitespace
      "世界 hello 世 界", "😀 x 😀")
    cases.foreach { s =>
      val (n, o) = bothWays(s)
      assert(n === o, s"mismatch on ${s.map(_.toInt)}")
    }
  }

  test("kernel matches the builtin chain on 500 random strings") {
    val rnd = new scala.util.Random(42)
    val alphabet =
      "ab \t\n\f\r  xyzé世 09".toCharArray
    (1 to 500).foreach { _ =>
      val s = Array.fill(rnd.nextInt(40))(
        alphabet(rnd.nextInt(alphabet.length))).mkString
      val (n, o) = bothWays(s)
      assert(n === o, s"mismatch on ${s.map(_.toInt)}")
    }
  }

  test("null text yields null, not a crash") {
    import spark.implicits._
    val row = Seq[Option[String]](None).toDF("text")
      .select(graft.functions.TextFunctions.tokens($"text").as("n"))
      .collect().head
    assert(row.isNullAt(0))
  }
}
