package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** [[graft.plans.DotProduct]]: the native similarity inner kernel must be
  * bit-exact vs the `aggregate(zip_with(...))` formulation it replaced,
  * including the degenerate null paths. */
class ArrayExprSpec extends AnyFunSuite {

  private lazy val spark = TestSpark.spark

  private def legacyDot(a: org.apache.spark.sql.Column, b: org.apache.spark.sql.Column) =
    aggregate(zip_with(a, b, (x, y) => x * y), lit(0.0), (acc, v) => acc + v)

  test("array_dot matches aggregate(zip_with) bit-exactly on random vectors") {
    import spark.implicits._
    val rnd = new scala.util.Random(7)
    val rows = Seq.fill(200)((Array.fill(64)(rnd.nextDouble * 2 - 1),
      Array.fill(64)(rnd.nextDouble * 2 - 1)))
    val df = rows.toDF("a", "b")
    val got = df.select(
      graft.pipeline.Similarity.dot(col("a"), col("b")).as("d1"),
      legacyDot(col("a"), col("b")).as("d2")).collect()
    got.foreach { r =>
      assert(java.lang.Double.compare(r.getDouble(0), r.getDouble(1)) == 0,
        s"${r.getDouble(0)} vs ${r.getDouble(1)}")
    }
  }

  test("null array, null element, and length mismatch all yield null (zip_with parity)") {
    import spark.implicits._
    val df = Seq(
      (Some(Seq(Some(1.0), Some(2.0))), Some(Seq(Some(3.0), Some(4.0)))), // 11.0
      (None, Some(Seq(Some(1.0), Some(2.0)))), // null array
      (Some(Seq(Some(1.0), None)), Some(Seq(Some(1.0), Some(2.0)))), // null element
      (Some(Seq(Some(1.0), Some(2.0), Some(3.0))), Some(Seq(Some(1.0), Some(2.0)))) // mismatch
    ).toDF("a", "b")
    val both = df.select(
      graft.pipeline.Similarity.dot(col("a"), col("b")).as("d1"),
      legacyDot(col("a"), col("b")).as("d2")).collect()
    assert(both(0).getDouble(0) == 11.0)
    both.foreach { r =>
      assert(r.isNullAt(0) == r.isNullAt(1),
        s"null-parity break: ${r.get(0)} vs ${r.get(1)}")
      if (!r.isNullAt(0))
        assert(java.lang.Double.compare(r.getDouble(0), r.getDouble(1)) == 0)
    }
  }

  test("native minhash signature is value-identical to the UDF formulation") {
    import spark.implicits._
    val texts = Seq(
      "the quick brown fox jumps over the lazy dog",
      "short", "ab", "", "aaaaaaaaaaaaaaaa", // duplicate shingles
      "unicode: émojis 🦊 and 中文字符 here",
      "  spaced   out\ttext\nwith newlines  ")
    val df = texts.toDF("text")
      .select(graft.pipeline.TextAnalysis.normalized(col("text")).as("norm"))
    val both = df.select(
      graft.pipeline.Dedup.minhashSigNative(col("norm"), 5, 64).as("a"),
      graft.pipeline.Dedup.minhashSignatureHashed(64)(
        graft.pipeline.Dedup.shingleHashes(col("norm"), 5)).as("b")).collect()
    both.foreach { r =>
      assert(r.getSeq[Long](0) == r.getSeq[Long](1))
    }
  }

  test("both MinHash signature UDFs equal the per-seed fold bit for bit on seeded random input") {
    import spark.implicits._
    // the fold as the signature UDFs each wrote it before they shared
    // MinHashKernel.fold: seed j keeps min over shingles of
    // fmix64(fmix64(h * phi + 1) ^ j * c)
    def fmix64(x0: Long): Long = {
      var x = x0
      x ^= x >>> 30; x *= 0xbf58476d1ce4e5b9L
      x ^= x >>> 27; x *= 0x94d049bb133111ebL
      x ^= x >>> 31
      x
    }
    def reference(hashes: Seq[Long], numHashes: Int): Seq[Long] =
      (0 until numHashes).map { j =>
        hashes.map(h => fmix64(fmix64(h * 0x9e3779b97f4a7c15L + 1) ^
          (j * 0xc2b2ae3d27d4eb4fL))).foldLeft(Long.MaxValue)(math.min)
      }
    val rnd = new scala.util.Random(11)
    val hashed = Seq.fill(100)(Seq.fill(1 + rnd.nextInt(40))(rnd.nextLong()))
    val strings = Seq.fill(100)(Seq.fill(1 + rnd.nextInt(40))(
      rnd.alphanumeric.take(1 + rnd.nextInt(8)).mkString))
    for (numHashes <- Seq(1, 16, 64)) {
      val gotHashed = hashed.toDF("sh")
        .select(graft.pipeline.Dedup.minhashSignatureHashed(numHashes)(col("sh")))
        .as[Seq[Long]].collect().toSeq
      assert(gotHashed === hashed.map(reference(_, numHashes)), s"hashed, $numHashes seeds")
      val gotStrings = strings.toDF("sh")
        .select(graft.pipeline.Dedup.minhashSignature(numHashes)(col("sh")))
        .as[Seq[Long]].collect().toSeq
      assert(gotStrings === strings.map(sh => reference(sh.map(_.hashCode.toLong), numHashes)),
        s"string shingles, $numHashes seeds")
    }
  }

  test("array_dot is registered in SQL and codegens") {
    val r = spark.sql(
      "SELECT array_dot(array(1.0d, 2.0d, 3.0d), array(4.0d, 5.0d, 6.0d)) AS d").collect()
    assert(r.head.getDouble(0) == 32.0)
    // non-double arrays are an analysis-time error, not a runtime cast crash
    val e = intercept[Exception] {
      spark.sql("SELECT array_dot(array('a'), array('b'))").collect()
    }
    assert(e.getMessage.toLowerCase.contains("array_dot") ||
      e.getMessage.toLowerCase.contains("data type"))
  }
}
