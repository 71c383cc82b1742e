package graft

import org.apache.spark.sql.catalyst.expressions.ScalaUDF
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.types.LongType
import org.apache.spark.sql.util.QueryExecutionListener
import org.scalatest.funsuite.AnyFunSuite
import graft.pipeline.Dedup

/** The store doors' driver tier evaluates its projections on the driver,
  * one fold per collected query. A `QueryExecutionListener` measures
  * the queries of one novel call: for minhash, the queries whose plan
  * signs (holds a [[graft.plans.MinHashSig]]) — the store pass and the
  * within-batch pass share one signed projection, so there is one; for
  * the embedding tier, the sign-LSH plane evaluations per row — the
  * within-batch pass's keys are the store keys, projected once. */
class DriverSignFoldSpec extends AnyFunSuite {

  private lazy val spark = TestSpark.spark
  import spark.implicits._

  private def docText(i: Int): String =
    s"document number $i talks about topic ${i % 7} and shares a long " +
      s"common preamble with its siblings while sentence $i diverges in " +
      s"the tail with unique content ${i * 31}"

  /** `measure` summed over the queries `body` runs. */
  private def measured(measure: QueryExecution => Int)(body: => Unit): Int = {
    val total = new java.util.concurrent.atomic.AtomicInteger()
    val sentinel = "sign-fold-sentinel"
    val drained = new java.util.concurrent.CountDownLatch(1)
    val listener = new QueryExecutionListener {
      override def onSuccess(f: String, qe: QueryExecution, ns: Long): Unit =
        if (qe.analyzed.toString.contains(sentinel)) drained.countDown()
        else total.addAndGet(measure(qe))
      override def onFailure(f: String, qe: QueryExecution, e: Exception): Unit = ()
    }
    spark.listenerManager.register(listener)
    try {
      body
      spark.range(1).selectExpr(s"'$sentinel' AS s").collect()
      assert(drained.await(60, java.util.concurrent.TimeUnit.SECONDS),
        "the listener never saw the sentinel")
      total.get
    } finally spark.listenerManager.unregister(listener)
  }

  private def isLocal(df: org.apache.spark.sql.DataFrame): Boolean =
    df.queryExecution.logical.isInstanceOf[
      org.apache.spark.sql.catalyst.plans.logical.LocalRelation]

  test("a driver-tier minhash novel call folds the sign projection once") {
    val table = "graft_sign_fold_mh"
    Dedup.dropMinhashStore(spark, table)
    def signs(qe: QueryExecution): Boolean =
      qe.analyzed.exists(_.expressions.exists(_.exists(_.isInstanceOf[graft.plans.MinHashSig])))
    try {
      Dedup.writeMinhashStore((0 until 30).map(i => (i.toLong, docText(i)))
        .toDF("doc_id", "text"), table)
      // a corpus copy, two in-batch copies and two fresh rows
      val alpha = "orchard ledger piano thirteen brick quantum marble"
      val batch = Seq((10000L, docText(3)), (10001L, alpha),
        (10002L, "velvet compass winter granite ninety lantern oboe"),
        (10003L, alpha)).toDF("doc_id", "text")
      val signFolds = measured(qe => if (signs(qe)) 1 else 0) {
        val novel = Dedup.minhashNovelAgainstStore(spark, batch, table, threshold = 0.5)
        assert(isLocal(novel), "the driver tier did not run")
        assert(novel.select($"doc_id").as[Long].collect().sorted.toSeq === Seq(10001L, 10002L))
      }
      assert(signFolds === 1, "the driver tier signed the batch more than once")
    } finally Dedup.dropMinhashStore(spark, table)
  }

  test("a driver-tier embedding novel call evaluates the sign-LSH planes once per row") {
    val table = "graft_sign_fold_emb"
    Dedup.dropEmbeddingStore(spark, table)
    val tables = 3
    val rnd = new java.util.Random(0x5E1F)
    val vecs = Seq.fill(24)(Seq.fill(8)(rnd.nextGaussian()))
    // one sign-LSH signature (a one-argument LONG UDF) per table per
    // evaluation of the key array; cosine is built from native columns
    def signUdfs(qe: QueryExecution): Int =
      qe.optimizedPlan.collect { case p => p.expressions.map(_.collect {
        case u: ScalaUDF if u.children.size == 1 && u.dataType == LongType => u
      }.size).sum }.sum
    val excluded = "spark.sql.optimizer.excludedRules"
    try {
      Dedup.writeEmbeddingStore(vecs.indices.map(i => (i.toLong, vecs(i)))
        .toDF("vec_id", "embedding"), table, bits = 12, tables = tables)
      // a corpus copy, two in-batch copies and a fresh vector
      val fresh = Seq.fill(8)(rnd.nextGaussian())
      val batch = Seq((10000L, vecs(3)), (10001L, fresh.map(_ * -1)),
        (10002L, Seq.fill(8)(rnd.nextGaussian())), (10003L, fresh.map(_ * -1)))
        .toDF("vec_id", "embedding")
      // keep the driver tier's projections in the optimized plans: folded
      // into local relations, they would show no expression at all
      spark.conf.set(excluded,
        "org.apache.spark.sql.catalyst.optimizer.ConvertToLocalRelation")
      val evals = measured(signUdfs) {
        val novel = Dedup.embeddingNovelAgainstStore(spark, batch, table, threshold = 0.95)
        assert(isLocal(novel), "the driver tier did not run")
        assert(novel.select($"vec_id").as[Long].collect().sorted.toSeq ===
          Seq(10001L, 10002L))
      }
      assert(evals === tables, s"$evals sign-LSH evaluations per row, want $tables")
    } finally {
      spark.conf.unset(excluded)
      Dedup.dropEmbeddingStore(spark, table)
    }
  }
}
