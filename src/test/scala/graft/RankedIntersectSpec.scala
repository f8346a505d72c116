package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Pins [[graft.functions.RankedIntersectCount]] to the
  * `size(array_intersect(tokens_a, tokens_b))` it replaced in the
  * similarity-join verify stage: over rank-sorted duplicate-free
  * struct arrays the merge count must equal the hash-set intersection
  * of the token sets, for every overlap shape.
  */
class RankedIntersectSpec extends AnyFunSuite with SparkTestBase {

  private def check(a: Seq[(Long, String)], b: Seq[(Long, String)]): Unit = {
    import spark.implicits._
    val df = Seq((a, b)).toDF("a", "b")
      .select(
        // inputs arrive pre-sorted in the operator; sort here so the
        // generator below can be sloppy
        array_sort(expr("transform(a, x -> struct(x._1 as f, x._2 as tok))"))
          .as("ra"),
        array_sort(expr("transform(b, x -> struct(x._1 as f, x._2 as tok))"))
          .as("rb"))
      .select(
        graft.functions.GraftFunctions
          .rankedIntersectCount(col("ra"), col("rb")).as("merge"),
        size(array_intersect(
          expr("transform(ra, e -> e.tok)"),
          expr("transform(rb, e -> e.tok)"))).cast("long").as("hash"))
    val row = df.collect().head
    assert(row.getLong(0) === row.getLong(1),
      s"merge vs hash mismatch on a=$a b=$b")
  }

  test("merge count equals array_intersect on edge shapes") {
    check(Seq.empty, Seq.empty)
    check(Seq((1L, "x")), Seq.empty)
    check(Seq((1L, "x")), Seq((1L, "x")))
    check(Seq((1L, "x")), Seq((1L, "y")))
    // same f, different tok (the string-tiebreak branch)
    check(Seq((1L, "a"), (1L, "b"), (2L, "c")),
      Seq((1L, "b"), (2L, "c"), (3L, "d")))
    // disjoint ranges
    check(Seq((1L, "a"), (2L, "b")), Seq((5L, "x"), (6L, "y")))
  }

  private def checkLongs(a: Seq[Long], b: Seq[Long]): Unit = {
    import spark.implicits._
    val df = Seq((a.distinct.sorted, b.distinct.sorted)).toDF("ra", "rb")
      .select(
        graft.functions.GraftFunctions
          .rankedIntersectCount(col("ra"), col("rb")).as("merge"),
        size(array_intersect(col("ra"), col("rb")))
          .cast("long").as("hash"))
    val row = df.collect().head
    assert(row.getLong(0) === row.getLong(1),
      s"long-form merge vs hash mismatch on a=$a b=$b")
  }

  test("long-form merge count equals array_intersect (dense rank ids)") {
    checkLongs(Seq.empty, Seq.empty)
    checkLongs(Seq(1L), Seq.empty)
    checkLongs(Seq(1L), Seq(1L))
    checkLongs(Seq(1L, 5L, 9L), Seq(5L, 9L, 11L))
    checkLongs(Seq(1L, 2L), Seq(5L, 6L))
    val rnd = new scala.util.Random(13)
    (1 to 300).foreach { _ =>
      def randSet(): Seq[Long] =
        (1 to rnd.nextInt(30)).map(_ => rnd.nextInt(40).toLong)
      checkLongs(randSet(), randSet())
    }
  }

  test("merge count equals array_intersect on 300 random set pairs") {
    val rnd = new scala.util.Random(7)
    (1 to 300).foreach { _ =>
      def randSet(): Seq[(Long, String)] = {
        val toks = (1 to rnd.nextInt(30)).map(_ =>
          "t" + rnd.nextInt(40)).distinct
        // f mimics a global frequency: a function of the token
        toks.map(t => (1L + (t.hashCode & 7).toLong, t))
      }
      check(randSet(), randSet())
    }
  }
}
