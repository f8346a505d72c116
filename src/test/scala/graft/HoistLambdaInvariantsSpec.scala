package graft

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.catalyst.expressions.{Alias, LambdaFunction,
  Rand, StringSplit, Upper}
import org.apache.spark.sql.catalyst.plans.logical.{LogicalPlan, Project}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.plans.HoistLambdaInvariants

class HoistLambdaInvariantsSpec extends AnyFunSuite with SparkTestBase {

  /** Word trigrams the way a caller writes them with built-ins only
    * (the benchmark's curation tokenizer): `w` is inlined four times.
    */
  private def trigrams(text: Column): Column = {
    val w = split(text, " ")
    transform(sequence(lit(1), size(w) - 2), i =>
      concat_ws(" ", element_at(w, i), element_at(w, i + 1),
        element_at(w, i + 2)))
  }

  /** A parquet-backed frame, so the optimizer cannot fold the query
    * into a local relation.
    */
  private lazy val docs: DataFrame = {
    import spark.implicits._
    val rnd = new scala.util.Random(3)
    val dir = java.nio.file.Files.createTempDirectory("hoist").toString
    (0 until 200).map { i =>
      (i.toLong, Seq.fill(3 + rnd.nextInt(30))(s"w${rnd.nextInt(40)}")
        .mkString(" "), Seq.fill(rnd.nextInt(4))(s"a${rnd.nextInt(9)}"),
        i % 3)
    }.toDF("id", "text", "arr", "n").write.mode("overwrite").parquet(dir)
    spark.read.parquet(dir)
  }

  private def optimized(df: DataFrame): LogicalPlan =
    df.queryExecution.optimizedPlan

  private def count(plan: LogicalPlan)(
      pf: PartialFunction[org.apache.spark.sql.catalyst.expressions.Expression,
        Unit]): Int =
    plan.collect { case n => n.expressions.map(_.collect(pf).size).sum }.sum

  private def hoisted(plan: LogicalPlan): Int =
    plan.collect { case p: Project =>
      p.projectList.count {
        case a: Alias => a.name == "_lambda_invariant"
        case _ => false
      }
    }.sum

  /** `body` with the rule left out of the optimizer. */
  private def unhoisted[T](body: => T): T = {
    val key = "spark.sql.optimizer.excludedRules"
    spark.conf.set(key, HoistLambdaInvariants.ruleName)
    try body finally spark.conf.unset(key)
  }

  test("trigrams: the split runs once per row, with the same rows as " +
      "the inlined form") {
    val q = docs.select(col("id"), trigrams(col("text")).as("tg"))
    assert(count(optimized(q)) { case _: StringSplit => () } == 1)
    assert(hoisted(optimized(q)) == 1)
    val (before, splits) = unhoisted {
      val u = docs.select(col("id"), trigrams(col("text")).as("tg"))
      (u.collect().toSet, count(optimized(u)) { case _: StringSplit => () })
    }
    assert(splits == 4)
    val after = q.collect().toSet
    assert(after == before && after.size == 200)
  }

  /** An explode over a transform whose lambda re-reads the split. */
  private def generate: DataFrame =
    docs.select(col("id"), explode(transform(split(col("text"), " "),
      w => concat(w, element_at(split(col("text"), " "), -1)))).as("e"))

  test("the rule is idempotent: a second pass changes nothing") {
    val p = optimized(generate.join(
      docs.select(col("id"), trigrams(col("text")).as("tg")), "id"))
    assert(hoisted(p) == 2)
    assert(HoistLambdaInvariants(p).fastEquals(p))
    val again = spark.sessionState.optimizer.execute(p)
    assert(again.canonicalized == p.canonicalized)
  }

  test("rand() is never hoisted") {
    val p = optimized(docs.select(rand(7).as("r"),
      transform(col("arr"), x => concat(x, rand(7).cast("string")))
        .as("t")))
    assert(hoisted(p) == 0)
    assert(count(p) { case _: Rand => () } == 2)
  }

  test("an invariant only inside the lambda, or only under a " +
      "conditional branch outside it, is never hoisted") {
    val inLambda = transform(col("arr"), x => concat(x, upper(col("text"))))
    val cases = Seq(
      Seq(inLambda),
      Seq(inLambda, when(col("n") > 0, upper(col("text")))),
      Seq(inLambda, coalesce(col("text"), upper(col("text")))),
      Seq(inLambda, col("n") > 0 && upper(col("text")) === "W1"))
    cases.foreach { cols =>
      val p = optimized(docs.select(cols.zipWithIndex.map {
        case (c, i) => c.as(s"c$i")
      }: _*))
      assert(hoisted(p) == 0, p)
      assert(count(p) { case _: Upper => () } == cols.size)
    }
    // common to every branch, else included: evaluated unconditionally
    val common = optimized(docs.select(inLambda.as("t"),
      when(col("n") > 0, upper(col("text")))
        .otherwise(reverse(upper(col("text")))).as("c")))
    assert(hoisted(common) == 1, common)
    assert(count(common) { case _: Upper => () } == 1)
  }

  test("an invariant that would throw inside a lambda over an empty " +
      "array raises no new error") {
    // element_at past the end throws under ANSI; the lambda never runs
    // over an empty array, and the branch outside is never taken
    val bad = element_at(array(col("text"), col("text")), 10)
    val empty = docs.filter(size(col("arr")) === 0)
    assert(empty.count() > 0)
    val rows = empty.select(
      transform(col("arr"), x => concat(x, bad)).as("t"),
      when(col("n") > 5, bad).as("w")).collect()
    assert(rows.forall(r => r.getSeq[String](0).isEmpty && r.isNullAt(1)))
  }

  test("Filter and Generate evaluate the invariant once too, with " +
      "unchanged output") {
    val f = docs.filter(col("n") =!= 1 &&
      exists(split(col("text"), " "), w =>
        w === element_at(split(col("text"), " "), 1) && w =!= "w0"))
    Seq(f, generate).foreach { df =>
      val p = optimized(df)
      assert(count(p) { case _: StringSplit => () } == 1, p)
      assert(!p.exists(_.expressions.exists(_.exists {
        case l: LambdaFunction =>
          l.function.exists(_.isInstanceOf[StringSplit])
        case _ => false
      })), p)
      val before = unhoisted(df.collect().toSeq.map(_.toString).sorted)
      assert(df.collect().toSeq.map(_.toString).sorted == before)
      assert(df.schema == unhoisted(df.schema))
      assert(p.output.map(_.name) == df.columns.toSeq)
    }
    // the filter keeps its pushable conjunct apart from the bound one
    assert(optimized(f).collectFirst {
      case org.apache.spark.sql.catalyst.plans.logical.Filter(c, _) =>
        c.find(_.isInstanceOf[org.apache.spark.sql.catalyst.expressions.And])
          .isDefined
    }.contains(true))
  }
}
