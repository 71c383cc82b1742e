package graft

import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener
import org.scalatest.funsuite.AnyFunSuite
import graft.pipeline.Dedup

/** The store doors' driver tier evaluates its projections on the driver,
  * one fold per collected query. A `QueryExecutionListener` counts the
  * queries of one minhash novel call whose plan signs (holds a
  * [[graft.plans.MinHashSig]]): the store pass and the within-batch pass
  * share one signed projection, so there is one. */
class DriverSignFoldSpec extends AnyFunSuite {

  private lazy val spark = TestSpark.spark
  import spark.implicits._

  private def docText(i: Int): String =
    s"document number $i talks about topic ${i % 7} and shares a long " +
      s"common preamble with its siblings while sentence $i diverges in " +
      s"the tail with unique content ${i * 31}"

  test("a driver-tier minhash novel call folds the sign projection once") {
    val table = "graft_sign_fold_mh"
    Dedup.dropMinhashStore(spark, table)
    val signFolds = new java.util.concurrent.atomic.AtomicInteger()
    val sentinel = "sign-fold-sentinel"
    val drained = new java.util.concurrent.CountDownLatch(1)
    def signs(qe: QueryExecution): Boolean =
      qe.analyzed.exists(_.expressions.exists(_.exists(_.isInstanceOf[graft.plans.MinHashSig])))
    val listener = new QueryExecutionListener {
      override def onSuccess(f: String, qe: QueryExecution, ns: Long): Unit =
        if (qe.analyzed.toString.contains(sentinel)) drained.countDown()
        else if (signs(qe)) signFolds.incrementAndGet()
      override def onFailure(f: String, qe: QueryExecution, e: Exception): Unit = ()
    }
    try {
      Dedup.writeMinhashStore((0 until 30).map(i => (i.toLong, docText(i)))
        .toDF("doc_id", "text"), table)
      // a corpus copy, two in-batch copies and two fresh rows
      val alpha = "orchard ledger piano thirteen brick quantum marble"
      val batch = Seq((10000L, docText(3)), (10001L, alpha),
        (10002L, "velvet compass winter granite ninety lantern oboe"),
        (10003L, alpha)).toDF("doc_id", "text")
      spark.listenerManager.register(listener)
      val novel = Dedup.minhashNovelAgainstStore(spark, batch, table, threshold = 0.5)
      assert(novel.queryExecution.logical.isInstanceOf[
        org.apache.spark.sql.catalyst.plans.logical.LocalRelation], "the driver tier did not run")
      assert(novel.select($"doc_id").as[Long].collect().sorted.toSeq === Seq(10001L, 10002L))
      spark.range(1).selectExpr(s"'$sentinel' AS s").collect()
      assert(drained.await(60, java.util.concurrent.TimeUnit.SECONDS),
        "the listener never saw the sentinel")
      assert(signFolds.get === 1,
        "the driver tier signed the batch more than once")
    } finally {
      spark.listenerManager.unregister(listener)
      Dedup.dropMinhashStore(spark, table)
    }
  }
}
