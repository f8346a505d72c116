package graft

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.catalyst.expressions.{ScalaUDF, Size, XxHash64}
import org.apache.spark.sql.catalyst.plans.logical.{Filter, LogicalPlan, RepartitionByExpression}
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.functions._
import org.apache.spark.sql.util.QueryExecutionListener
import org.scalatest.funsuite.AnyFunSuite

import graft.operators.SetSimilarity
import graft.sources.Tables

/** Plan and configuration pins for [[SetSimilarity.jaccardSelfJoin]]:
  * the caller's tokenizer runs once per record, above the scan spread
  * (never on the under-split scan task below its exchange), and the
  * verified pairs do not depend on the shuffle partition count or on
  * whether the spread fires.
  */
class SetSimilaritySpec extends AnyFunSuite with SparkTestBase {

  private def words(text: org.apache.spark.sql.Column) =
    filter(split(trim(text), "\\s+"), x => x =!= "")

  private def pairs(df: DataFrame): Seq[Row] =
    df.orderBy(col("id_a"), col("id_b")).collect().toSeq

  test("the tokenizer runs once per record and nothing of it sits " +
      "under the spread exchange") {
    val docs = Tables.documents(spark, sfDir)
    val n = docs.count()
    val calls = spark.sparkContext.longAccumulator("simjoin_tokenizer")
    val tokenize = udf { (s: String) =>
      calls.add(1)
      if (s == null) null else s.trim.split("\\s+").toSeq
    }
    val plans = new java.util.concurrent.ConcurrentLinkedQueue[LogicalPlan]
    val listener = new QueryExecutionListener {
      def onSuccess(f: String, qe: QueryExecution, ns: Long): Unit =
        plans.add(qe.optimizedPlan)
      def onFailure(f: String, qe: QueryExecution, e: Exception): Unit = ()
    }
    def spreads: Seq[RepartitionByExpression] =
      plans.toArray(Array.empty[LogicalPlan]).toSeq.flatMap(_.collect {
        case r: RepartitionByExpression
            if r.partitionExpressions.exists(_.isInstanceOf[XxHash64]) => r
      })
    spark.listenerManager.register(listener)
    try {
      SetSimilarity.jaccardSelfJoin(docs, "doc_id",
        tokenize(col("text")), 0.4).collect()
      assert(calls.value == n,
        s"tokenizer ran ${calls.value} times over $n records")
      // the listener bus is asynchronous: wait for the spread's plan
      val deadline = System.currentTimeMillis() + 10000
      while (spreads.isEmpty && System.currentTimeMillis() < deadline)
        Thread.sleep(100)
      assert(spreads.nonEmpty, "precondition: the spread must fire")
      spreads.foreach { r =>
        val below = r.child.flatMap(_.expressions.flatMap(_.collect {
          case u: ScalaUDF => u
        }))
        assert(below.isEmpty, s"tokenizer under the spread:\n$r")
        val sizeFilters = r.child.collect {
          case f: Filter if f.condition.exists(_.isInstanceOf[Size]) => f
        }
        assert(sizeFilters.isEmpty, s"size filter under the spread:\n$r")
      }
    } finally spark.listenerManager.unregister(listener)
  }

  test("jaccardSelfJoin output is identical across shuffle partition " +
      "counts and with the spread off") {
    val docs = Tables.documents(spark, sfDir)
    def run(): Seq[Row] = pairs(SetSimilarity.jaccardSelfJoin(docs,
      "doc_id", words(col("text")), 0.4))
    def under(k: String, v: String): Seq[Row] = {
      val prior = spark.conf.getOption(k)
      spark.conf.set(k, v)
      try run()
      finally prior.fold(spark.conf.unset(k))(spark.conf.set(k, _))
    }
    val base = run()
    assert(base.nonEmpty, "precondition: the corpus must have pairs")
    assert(under("spark.sql.shuffle.partitions", "1") == base)
    assert(under("spark.sql.shuffle.partitions", "7") == base)
    assert(under("spark.graft.scan.spread", "false") == base)
  }
}
