package perfbench

import java.util.SplittableRandom

/** Seeded generators shared by the workloads. */
object Gen {
  /** Uniform random permutation of 0 until n (Fisher–Yates). */
  def permutation(n: Int, r: SplittableRandom): Array[Int] = {
    val a = Array.tabulate(n)(identity)
    var i = n - 1
    while (i > 0) {
      val j = r.nextInt(i + 1)
      val t = a(i); a(i) = a(j); a(j) = t
      i -= 1
    }
    a
  }

  /** A vocabulary of distinct lowercase words, 3 to 9 letters. */
  def vocabulary(n: Int, r: SplittableRandom): Array[String] = {
    val seen = scala.collection.mutable.LinkedHashSet.empty[String]
    while (seen.size < n) {
      val len = 3 + r.nextInt(7)
      seen += new String(Array.fill(len)(('a' + r.nextInt(26)).toChar))
    }
    seen.toArray
  }

  /** A document of `words` vocabulary words joined by single spaces
    * (already in the normalized form the dedup doors shingle). */
  def document(vocab: Array[String], words: Int, r: SplittableRandom): String =
    Array.fill(words)(vocab(r.nextInt(vocab.length))).mkString(" ")

  /** Near-duplicate: one word replaced by a different vocabulary word. */
  def mutate(doc: String, vocab: Array[String], r: SplittableRandom): String = {
    val ws = doc.split(' ')
    val i = r.nextInt(ws.length)
    var w = ws(i)
    while (w == ws(i)) w = vocab(r.nextInt(vocab.length))
    ws(i) = w
    ws.mkString(" ")
  }

  /** Exact jaccard of the distinct character k-shingles of two texts. */
  def jaccard(a: String, b: String, k: Int = 5): Double = {
    def sh(s: String) = if (s.length < k) Set(s) else (0 to s.length - k).map(i => s.substring(i, i + k)).toSet
    val (sa, sb) = (sh(a), sh(b))
    (sa intersect sb).size.toDouble / (sa union sb).size
  }
}
