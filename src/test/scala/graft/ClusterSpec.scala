package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.plans.logical.LocalRelation
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.pipeline.Dedup

/** [[Dedup.connectedComponents]] and the near-dup clustering built on it.
  * Every graph here is small, so `connectedComponents` takes its driver
  * (union-find) tier; each one also runs through the star rounds
  * ([[Dedup.starRoundComponents]]) directly, and the two tiers must give
  * the same frame. */
class ClusterSpec extends AnyFunSuite {

  private lazy val spark = TestSpark.spark
  import spark.implicits._

  /** `(id -> component)` of `pairs` (binary ids as byte Seqs), asserting that the driver tier and
    * the star rounds agree on every label and on the output schema. */
  private def bothTiers(pairs: DataFrame): Map[Any, Any] = {
    val driver = Dedup.connectedComponents(pairs, "a", "b")
    val star = Dedup.starRoundComponents(
      Dedup.canonicalEdges(pairs, "a", "b"), maxIter = 25)
    assert(driver.queryExecution.logical.isInstanceOf[LocalRelation],
      "a small graph must take the driver tier")
    assert(driver.schema === star.schema, "tiers disagree on the schema")
    // binary ids compare by content
    def value(x: Any): Any = x match {
      case b: Array[Byte] => b.toSeq
      case other => other
    }
    def labels(df: DataFrame): Map[Any, Any] =
      df.collect().map(r => value(r.get(0)) -> value(r.get(1))).toMap
    val got = labels(driver)
    assert(got === labels(star), "driver tier and star rounds disagree")
    got
  }

  private def components(edges: Seq[(Long, Long)]): Map[Long, Long] =
    bothTiers(edges.toDF("a", "b")).map { case (k, v) =>
      k.asInstanceOf[Long] -> v.asInstanceOf[Long] }

  test("path graph collapses to its minimum (transitive closure)") {
    // 0-1-2-...-9 one long chain: plain pair-dedup would keep 0 and drop
    // only direct partners; components must label ALL nodes 0
    val got = components((0L until 9L).map(i => (i, i + 1)))
    assert(got == (0L to 9L).map(_ -> 0L).toMap)
  }

  test("triangles, singleton edges, reversed and duplicated input") {
    val edges = Seq((5L, 3L), (3L, 8L), (8L, 5L), // triangle {3,5,8}
      (10L, 11L), (11L, 10L), (10L, 11L), // dup + reversed pair
      (20L, 21L))
    val got = components(edges)
    assert(got == Map(3L -> 3L, 5L -> 3L, 8L -> 3L,
      10L -> 10L, 11L -> 10L, 20L -> 20L, 21L -> 20L))
  }

  test("random graphs agree with a local union-find") {
    val rnd = new scala.util.Random(42)
    for (trial <- 0 until 3) {
      val n = 60
      val edges = Seq.fill(70)((rnd.nextInt(n).toLong, rnd.nextInt(n).toLong))
        .filter { case (a, b) => a != b }
      // local union-find reference
      val parent = Array.tabulate(n)(identity)
      def find(x: Int): Int = if (parent(x) == x) x else { parent(x) = find(parent(x)); parent(x) }
      edges.foreach { case (a, b) =>
        val (ra, rb) = (find(a.toInt), find(b.toInt))
        if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
      }
      val want = edges.flatMap { case (a, b) => Seq(a, b) }.distinct
        .map(id => id -> {
          // min of the union-find class (parent roots are not min-canonical
          // under path compression order; normalize explicitly)
          val root = find(id.toInt)
          (0 until n).filter(j => find(j) == root).min.toLong
        }).toMap
      assert(components(edges) == want, s"trial $trial")
    }
  }

  test("string ids cluster too (no numeric cast)") {
    val got = bothTiers(
      Seq(("doc-b", "doc-a"), ("doc-b", "doc-c"), ("x", "y")).toDF("a", "b"))
    assert(got == Map("doc-a" -> "doc-a", "doc-b" -> "doc-a", "doc-c" -> "doc-a",
      "x" -> "x", "y" -> "x"))
  }

  test("binary ids are keyed by value and ordered as Spark orders them") {
    // fresh arrays per edge: equal ids must meet by content, not identity;
    // 0x80 sorts AFTER 0x01 under Spark's unsigned byte order
    def id(bs: Int*): Array[Byte] = bs.map(_.toByte).toArray
    val pairs = Seq((id(0x80), id(0x01, 0x02)), (id(0x01, 0x02), id(0x7f)),
      (id(0x05), id(0x06))).toDF("a", "b")
    val got = bothTiers(pairs)
    val hi = id(0x01, 0x02).toSeq
    assert(got == Map(id(0x80).toSeq -> hi, hi -> hi, id(0x7f).toSeq -> hi,
      id(0x05).toSeq -> id(0x05).toSeq, id(0x06).toSeq -> id(0x05).toSeq))
  }

  test("empty and self-loop-only edge sets give no rows in both tiers") {
    assert(components(Seq.empty) === Map.empty)
    assert(components(Seq((1L, 1L), (7L, 7L), (7L, 7L))) === Map.empty)
  }

  test("the star rounds fail loudly when maxIter runs out") {
    // the 10-node path needs more than one round: one round used to
    // return the wrong labels 0,0,0,1,2,... silently
    val edges = Dedup.canonicalEdges(
      (0L until 9L).map(i => (i, i + 1)).toDF("a", "b"), "a", "b")
    val e = intercept[IllegalStateException] {
      Dedup.starRoundComponents(edges, maxIter = 1)
    }
    assert(e.getMessage.contains("maxIter = 1") && e.getMessage.contains("9 edges"),
      e.getMessage)
    // maxIter bounds the star rounds only: the driver tier ignores it
    val driver = Dedup.connectedComponents(
      (0L until 9L).map(i => (i, i + 1)).toDF("a", "b"), "a", "b", maxIter = 1)
    assert(driver.as[(Long, Long)].collect().toMap == (0L to 9L).map(_ -> 0L).toMap)
  }

  test("reliable checkpointing is used when a checkpoint dir is configured") {
    val sc = spark.sparkContext
    val dir = java.nio.file.Files.createTempDirectory("graft_cc_ckpt").toString
    try {
      sc.setCheckpointDir(dir)
      // same answer as the localCheckpoint path...
      val got = Dedup.starRoundComponents(Dedup.canonicalEdges(
          (0L until 9L).map(i => (i, i + 1)).toDF("a", "b"), "a", "b"), maxIter = 25)
        .as[(Long, Long)].collect().toMap
      assert(got == (0L to 9L).map(_ -> 0L).toMap)
      // ...and the rounds actually hit the reliable store
      val wrote = java.nio.file.Files.walk(java.nio.file.Paths.get(dir))
        .filter(java.nio.file.Files.isRegularFile(_)).count()
      assert(wrote > 0, "no files written to the reliable checkpoint dir")
    } finally {
      // SparkContext has no unsetCheckpointDir; point it at a throwaway so
      // later suites keep exercising the localCheckpoint path semantics
      // (checkpoint(true) there would still be correct, just slower).
      org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(dir))
    }
  }

  test("near-dup clustering end to end: triples collapse to one survivor each") {
    val docs = Seq(
      (0L, "the quick brown fox jumps over the lazy dog again and again"),
      (1L, "completely different text about spark and scala engines"),
      (2L, "yet another unrelated document mentioning parquet files")
    ).toDF("doc_id", "text")
    // three exact copies of every doc (ids +100, +200)
    val all = docs
      .unionAll(docs.select((col("doc_id") + 100).as("doc_id"), col("text")))
      .unionAll(docs.select((col("doc_id") + 200).as("doc_id"), col("text")))
    val clusters = Dedup.clusterNearMinhash(all, "doc_id", "text", threshold = 1.0)
    val byCluster = clusters.collect().map(r => r.getLong(0) -> r.getLong(1))
      .groupBy(_._2).view.mapValues(_.map(_._1).sorted.toSeq).toMap
    assert(byCluster == Map(
      0L -> Seq(0L, 100L, 200L), 1L -> Seq(1L, 101L, 201L), 2L -> Seq(2L, 102L, 202L)))
    val survivors = Dedup.dedupNearMinhash(all, "doc_id", "text", threshold = 1.0)
    assert(survivors.select("doc_id").as[Long].collect().sorted.toSeq == Seq(0L, 1L, 2L))
    // survivors keep their full row
    assert(survivors.columns.toSeq == Seq("doc_id", "text"))
  }
}
