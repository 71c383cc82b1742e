package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.{FileSourceScanExec, LeafExecNode, RDDScanExec,
  SparkPlan}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec,
  AdaptiveSparkPlanHelper, QueryStageExec}
import org.apache.spark.sql.execution.exchange.ReusedExchangeExec
import org.apache.spark.sql.execution.joins.BaseJoinExec
import org.apache.spark.sql.types.{DataType, DoubleType, IntegerType, LongType,
  StructField, StructType}
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite
import graft.pipeline.Dedup

/** The five self-join near-dup doors ([[Dedup.minhashCandidates]],
  * [[Dedup.nearDupMinhash]], [[Dedup.nearDupNgram]],
  * [[Dedup.nearDupSimhash]], [[Dedup.nearDupEmbedding]]) on one small
  * parquet fixture, each with the census skipped (the default cap) and
  * run (a cap of 2; `nearDupMinhash` takes no cap). Each result is forced, then its final adaptive plan
  * is read: every leaf is a scan of a snapshot or a reused exchange, so
  * no join side re-reads the source and the sign pass runs once, in the
  * snapshot's job. The output schemas and the eager jobs each door runs
  * at frame-build time are pinned. */
class PairPassSpec extends AnyFunSuite with BeforeAndAfterAll
    with AdaptiveSparkPlanHelper {

  private lazy val spark = TestSpark.spark
  import spark.implicits._

  private def docText(i: Int): String =
    s"document number $i talks about topic ${i % 7} and shares a long " +
      s"common preamble with its siblings while sentence $i diverges in " +
      s"the tail with unique content ${i * 31}"

  private lazy val dir = java.nio.file.Files.createTempDirectory("graft_pair_pass").toFile

  override def afterAll(): Unit =
    try org.apache.commons.io.FileUtils.deleteQuietly(dir) finally super.afterAll()

  /** 40 documents, 10 of them exact copies and 5 with a changed tail, and
    * a null text; read back from parquet, so the source is a file scan. */
  private lazy val docs: DataFrame = {
    val rows = (0 until 40).map(i => (i.toLong, docText(i))) ++
      (0 until 10).map(i => (100L + i, docText(i))) ++
      (0 until 5).map(i => (200L + i, docText(i) + " with one more clause")) :+
      ((300L, null.asInstanceOf[String]))
    val path = new java.io.File(dir, "docs").toString
    rows.toDF("doc_id", "text").repartition(2).write.parquet(path)
    spark.read.parquet(path)
  }

  /** 30 random 8-d vectors, 8 exact copies, 4 slightly moved, a null. */
  private lazy val vecs: DataFrame = {
    val rnd = new java.util.Random(0x9A1125)
    val base = (0 until 30).map(i => (i.toLong, Seq.fill(8)(rnd.nextGaussian())))
    val rows = base ++ base.take(8).map { case (i, v) => (100L + i, v) } ++
      base.take(4).map { case (i, v) => (200L + i, v.map(_ + 1e-3)) } :+
      ((300L, null.asInstanceOf[Seq[Double]]))
    val path = new java.io.File(dir, "vecs").toString
    rows.toDF("vec_id", "embedding").repartition(2).write.parquet(path)
    spark.read.parquet(path)
  }

  private def pairSchema(scores: (String, DataType)*): StructType =
    StructType((Seq("id_a" -> LongType, "id_b" -> LongType) ++ scores).map {
      case (n, t) => StructField(n, t) })

  /** A door called at one cap: its output score columns and types, and
    * the eager jobs it ran at frame-build time before the doors shared
    * one pass. */
  private case class Door(name: String, cap: Int, make: () => DataFrame,
      scores: Seq[(String, DataType)], jobs: Int)

  private def doors: Seq[Door] = Seq(100000, 2).flatMap { cap =>
    Seq(
      Door("minhashCandidates", cap,
        () => Dedup.minhashCandidates(docs, "doc_id", "text", maxBucketSize = cap),
        Seq("jaccard_est" -> DoubleType), 1),
      Door("nearDupNgram", cap, () => Dedup.nearDupNgram(docs, "doc_id", "text", 0.5,
        maxBucketSize = cap), Seq("jaccard" -> DoubleType), 1),
      Door("nearDupSimhash", cap, () => Dedup.nearDupSimhash(docs, "doc_id", "text",
        maxBucketSize = cap), Seq("hamming" -> IntegerType), 1),
      // the widened radius counts its dropped groups eagerly past the cap
      Door("nearDupSimhash(maxHamming=6)", cap, () => Dedup.nearDupSimhash(docs,
        "doc_id", "text", maxHamming = 6, maxBucketSize = cap),
        Seq("hamming" -> IntegerType), if (cap < 100000) 5 else 1),
      Door("nearDupEmbedding", cap, () => Dedup.nearDupEmbedding(vecs, "vec_id",
        "embedding", 0.99, maxBucketSize = cap), Seq("cosine" -> DoubleType), 1))
  } :+ Door("nearDupMinhash", 100000, () => Dedup.nearDupMinhash(docs, "doc_id",
    "text", 0.5), Seq("jaccard_est" -> DoubleType, "jaccard" -> DoubleType), 2)

  /** The leaves of a final adaptive plan, looking through query stages. */
  private def leaves(plan: SparkPlan): Seq[SparkPlan] =
    collect(plan) {
      case l: LeafExecNode if !l.isInstanceOf[QueryStageExec] &&
        !l.isInstanceOf[AdaptiveSparkPlanExec] => l
    }

  test("each self-join door signs once: its join sides read a snapshot or a reused exchange") {
    doors.foreach { d =>
      withClue(s"${d.name}(maxBucketSize=${d.cap}): ") {
        val df = d.make()
        assert(df.schema === pairSchema(d.scores: _*))
        assert(df.collect().nonEmpty, "fixture sanity: the planted copies must pair")
        val plan = df.queryExecution.executedPlan
        assert(plan.isInstanceOf[AdaptiveSparkPlanExec] &&
          plan.asInstanceOf[AdaptiveSparkPlanExec].isFinalPlan, "the plan was not forced")
        assert(collect(plan) { case j: BaseJoinExec => j }.nonEmpty, "no join ran")
        val ls = leaves(plan)
        assert(!ls.exists(_.isInstanceOf[FileSourceScanExec]),
          s"the final plan re-reads the source:\n$plan")
        assert(ls.forall(l => l.isInstanceOf[RDDScanExec] || l.isInstanceOf[ReusedExchangeExec]),
          s"a join side reads neither a snapshot nor a reused exchange " +
            s"(${ls.map(_.getClass.getSimpleName).mkString(", ")}):\n$plan")
      }
    }
  }

  test("each self-join door's eager jobs stay at or under the measured count") {
    docs.count(); vecs.count()
    doors.foreach { d =>
      val (_, jobs) = SparkJobs.jobsOf(spark, s"pair-pass-${d.name}-${d.cap}")(d.make())
      assert(jobs.size <= d.jobs, s"${d.name}(maxBucketSize=${d.cap}) ran " +
        s"${jobs.size} eager jobs:\n${jobs.mkString("\n---\n")}")
    }
  }
}
