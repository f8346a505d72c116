package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Pins [[graft.functions.GramRepStats]] to the aggregate formulation
  * it replaced in q_gopher_filter: per-document distinct tokens, max
  * bigram count, and distinct trigram count must match exact
  * sliding-window counting on every input shape.
  */
class GramRepStatsSpec extends AnyFunSuite with SparkTestBase {

  private def reference(toks: Seq[String]): (Long, Long, Long) = {
    val nDistinct = toks.distinct.size.toLong
    val maxBg =
      if (toks.size < 2) 0L
      else toks.sliding(2).toSeq.groupBy(identity).values
        .map(_.size).max.toLong
    val triDistinct =
      if (toks.size < 3) 0L
      else toks.sliding(3).toSeq.distinct.size.toLong
    (nDistinct, maxBg, triDistinct)
  }

  private def kernel(toks: Seq[String]): (Long, Long, Long) = {
    import spark.implicits._
    val r = Seq(Tuple1(toks)).toDF("toks")
      .select(graft.functions.GraftFunctions.gramRepStats(col("toks"))
        .as("st"))
      .select(col("st.n_distinct"), col("st.max_bigram"),
        col("st.tri_distinct"))
      .collect().head
    (r.getLong(0), r.getLong(1), r.getLong(2))
  }

  test("kernel matches sliding-window reference on edge shapes") {
    val cases = Seq(
      Seq.empty[String], Seq("a"), Seq("a", "a"), Seq("a", "b"),
      Seq("a", "a", "a"), Seq("a", "b", "a", "b", "a"),
      Seq("x", "y", "z", "x", "y", "z", "x", "y"),
      Seq.fill(50)("same"),
      ('a' to 'z').map(_.toString))
    cases.foreach { t =>
      assert(kernel(t) === reference(t), s"mismatch on $t")
    }
  }

  test("kernel matches sliding-window reference on 200 random docs") {
    val rnd = new scala.util.Random(23)
    (1 to 200).foreach { _ =>
      val vocab = (1 to (1 + rnd.nextInt(12))).map(i => s"w$i")
      val t = Seq.fill(rnd.nextInt(60))(vocab(rnd.nextInt(vocab.size)))
      assert(kernel(t) === reference(t), s"mismatch on $t")
    }
  }
}
