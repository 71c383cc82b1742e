package graft

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{ArrayType, LongType}
import org.scalatest.funsuite.AnyFunSuite
import graft.pipeline.Dedup

/** The one-pass shingle-set kernel ([[graft.plans.ShingleSet]], behind
  * [[Dedup.shingleHashesNorm]]) against the expression formulation it
  * replaces: `array_distinct` over the per-window
  * `xxhash64(substr(norm, i, k))` array, a shorter-than-k string hashed
  * whole, null text → null. Values, ORDER and the column type must
  * match — the exact-verify jaccard reads the values, and the
  * streaming state encoders carry the column's type. */
class ShingleSetSpec extends AnyFunSuite {

  lazy val spark = TestSpark.spark
  import spark.implicits._

  /** The expression form: one `substr` + `xxhash64` per window, then
    * `array_distinct` (first-occurrence order). */
  private def reference(norm: Column, k: Int): Column =
    array_distinct(
      when(norm.isNull, lit(null).cast("array<bigint>"))
        .when(length(norm) >= k,
          transform(sequence(lit(1), length(norm) - (k - 1)),
            i => xxhash64(norm.substr(i, lit(k)))))
        .otherwise(array(xxhash64(norm))))

  /** Random strings over ASCII, Latin-1, CJK and non-BMP characters
    * (surrogate pairs in UTF-16, 4-byte sequences in UTF-8), with
    * repeats so the distinct pass has duplicates to remove. */
  private def randomString(rnd: java.util.Random): String = {
    val alphabet = Seq("a", "b", "c", " ", "é", "ß", "中", "文",
      "😀", "𐐷", "𝄞")
    val n = rnd.nextInt(24)
    (0 until n).map(_ => alphabet(rnd.nextInt(alphabet.size))).mkString
  }

  private def compare(texts: Seq[String], k: Int): Unit = {
    val df = texts.zipWithIndex.map { case (t, i) => (i, t) }.toDF("i", "s")
    val out = df.select(col("i"), col("s"),
      reference(col("s"), k).as("ref"),
      Dedup.shingleHashesNorm(col("s"), k).as("kern"))
    assert(out.schema("kern").dataType === out.schema("ref").dataType)
    assert(out.schema("kern").dataType === ArrayType(LongType, containsNull = true))
    val rows = out.collect()
    assert(rows.length === texts.size)
    rows.foreach { r =>
      val ref = Option(r.getSeq[Long](2))
      val kern = Option(r.getSeq[Long](3))
      assert(kern === ref, s"k=$k text=${Option(r.getString(1))}")
    }
  }

  test("edge strings: null, empty, shorter than k, exactly k, surrogate pairs") {
    val edge = Seq(null, "", "a", "abcd", "abcde", "abcdef", "aaaaaaaa",
      "abababab", "😀", "ab😀cd", "😀" * 7,
      "中文中文中文", "x𝄞y𝄞z")
    Seq(1, 3, 5).foreach(k => compare(edge, k))
  }

  test("2,000 seeded random strings: values and order match the expression form") {
    val rnd = new java.util.Random(0x5A1E)
    val texts = Seq.fill(2000)(randomString(rnd))
    Seq(2, 5).foreach(k => compare(texts, k))
  }

  test("interpreted eval matches the codegen path") {
    import org.apache.spark.sql.catalyst.expressions.Literal
    Seq("", "abc", "abcdefgh", "ab😀cd").foreach { s =>
      val interp = graft.plans.ShingleSet(Literal(s), 3).eval()
        .asInstanceOf[org.apache.spark.sql.catalyst.util.ArrayData].toLongArray().toSeq
      val viaFrame = Seq(s).toDF("s")
        .select(Dedup.shingleHashesNorm(col("s"), 3)).head().getSeq[Long](0)
      assert(interp === viaFrame, s"text=$s")
    }
    assert(graft.plans.ShingleSet(Literal(null, org.apache.spark.sql.types.StringType), 3)
      .eval() == null)
  }
}
