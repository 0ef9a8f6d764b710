package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.LogicalRDD

/** Resource lifetime is set by code: after a query's scope closes, the
  * only persisted RDDs it leaves are the session memos' own. */
class PinLeakSpec extends SparkSpec {
  import spark.implicits._

  private def persisted: Set[Int] =
    spark.sparkContext.getPersistentRDDs.keySet.toSet

  private def ownRdds(df: DataFrame): Set[Int] =
    df.queryExecution.analyzed.collect { case lr: LogicalRDD => lr.rdd.id }
      .toSet

  test("duplicateClusters releases every round's checkpoint: a " +
      "multi-round call leaves only the returned frame's own blocks") {
    // a 40-doc chain needs several pointer-jumping rounds
    val pairs = (1L until 40L).map(i => (i, i + 1)).toDF("doc_a", "doc_b")
    val before = persisted
    val out = graft.llm.Dedup.duplicateClusters(pairs, "doc_a", "doc_b")
    val left = persisted -- before
    assert(left == ownRdds(out),
      s"left $left, the returned frame reads ${ownRdds(out)}")
    assert(out.select("cluster").distinct().as[Long].collect().toSeq ==
      Seq(1L))
  }

  private val gate = Seq("q46_", "q60_", "q69_", "q193_", "q287_", "q333_",
    "q349_", "q374_")

  gate.foreach { prefix =>
    test(s"registry leak gate: ${prefix}* leaves only named memo pins " +
        "(sf0.001)") {
      val (name, fn) = SparkEntry.queries.find(_._1.startsWith(prefix)).get
      val before = persisted
      Graft.scoped(fn(spark, sf001).write.format("noop").mode("overwrite")
        .save())
      val left = persisted -- before
      assert(left == engine.Pin.memoRddIds -- before,
        s"$name left pinned RDDs beyond the memos: " +
          s"${left -- engine.Pin.memoRddIds}")
    }
  }
}
