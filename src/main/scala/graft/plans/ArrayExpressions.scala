package graft.plans

import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types.{ArrayType, DataType, DoubleType}

/** Codegen'd dot product over two `array<double>` columns.
  *
  * Semantically identical to
  * `aggregate(zip_with(a, b, (x, y) => x * y), 0.0, (acc, v) => acc + v)`
  * — same left-to-right double accumulation (bit-exact), same null
  * behavior (null array, length mismatch, or any null element → null) —
  * but evaluated as one fused loop over the Catalyst [[ArrayData]]: no
  * zipped intermediate array, no per-element lambda dispatch. This is the
  * inner kernel of every similarity-search pair score
  * ([[graft.pipeline.Similarity]]); at 100 TB the score loop runs
  * corpus × queries times, so constant-factor work per pair is the whole
  * game.
  *
  * (zip_with pads the shorter array with nulls, making any length
  * mismatch propagate to a null sum — hence mismatch → null here, not an
  * error.)
  */
case class DotProduct(left: Expression, right: Expression) extends BinaryExpression {

  override def dataType: DataType = DoubleType
  override def nullable: Boolean = true

  override def checkInputDataTypes(): TypeCheckResult =
    Seq(left, right).find(c => !c.dataType.isInstanceOf[ArrayType] ||
        c.dataType.asInstanceOf[ArrayType].elementType != DoubleType) match {
      case None => TypeCheckResult.TypeCheckSuccess
      case Some(c) => TypeCheckResult.TypeCheckFailure(
        s"array_dot expects array<double>, got ${c.dataType}")
    }

  override def eval(input: org.apache.spark.sql.catalyst.InternalRow): Any = {
    val a = left.eval(input)
    if (a == null) return null
    val b = right.eval(input)
    if (b == null) return null
    val ad = a.asInstanceOf[ArrayData]
    val bd = b.asInstanceOf[ArrayData]
    val n = ad.numElements()
    if (n != bd.numElements()) return null
    var acc = 0.0
    var i = 0
    while (i < n) {
      if (ad.isNullAt(i) || bd.isNullAt(i)) return null
      acc += ad.getDouble(i) * bd.getDouble(i)
      i += 1
    }
    acc
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) => {
      val n = ctx.freshName("n")
      val i = ctx.freshName("i")
      val acc = ctx.freshName("acc")
      s"""
         |int $n = $a.numElements();
         |if ($n != $b.numElements()) {
         |  ${ev.isNull} = true;
         |} else {
         |  double $acc = 0.0;
         |  for (int $i = 0; $i < $n; $i++) {
         |    if ($a.isNullAt($i) || $b.isNullAt($i)) { ${ev.isNull} = true; break; }
         |    $acc += $a.getDouble($i) * $b.getDouble($i);
         |  }
         |  if (!${ev.isNull}) ${ev.value} = $acc;
         |}
       """.stripMargin
    })

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): DotProduct =
    copy(left = newLeft, right = newRight)
}

/** Static kernels behind [[MinHashSig]] and [[ShingleSet]]: both walk
  * the same character k-shingle windows ([[windowHashes]]). */
object MinHashKernel {
  import org.apache.spark.sql.catalyst.expressions.XXH64
  import org.apache.spark.sql.catalyst.util.ArrayData
  import org.apache.spark.unsafe.Platform
  import org.apache.spark.unsafe.types.UTF8String

  /** splitmix64 finalizer — cheap, high-quality per-seed mixing; the one
    * copy behind every MinHash, SimHash and sign-LSH hash of the engine. */
  def fmix64(x0: Long): Long = {
    var x = x0
    x ^= x >>> 30; x *= 0xbf58476d1ce4e5b9L
    x ^= x >>> 27; x *= 0x94d049bb133111ebL
    x ^= x >>> 31
    x
  }

  /** Fold one shingle hash `h` into the running per-seed minima `sig`:
    * seed j sees fmix64(fmix64(h · φ + 1) ^ j · c). The one MinHash fold
    * — [[sig]] and both signature UDFs (`Dedup.minhashSignature`,
    * `Dedup.minhashSignatureHashed`) call it, so the shingle tier's and
    * the n-gram tier's signatures cannot drift apart. */
  def fold(sig: Array[Long], h: Long): Unit = {
    val base = fmix64(h * 0x9e3779b97f4a7c15L + 1)
    var p = 0
    while (p < sig.length) {
      val v = fmix64(base ^ (p * 0xc2b2ae3d27d4eb4fL))
      if (v < sig(p)) sig(p) = v
      p += 1
    }
  }

  /** xxhash64 (seed 42) of the UTF-8 bytes of every character
    * `k`-shingle window of `s`, in window order — identical values to
    * Spark's `xxhash64(substr(s, i, k))` for i = 1 .. length − k + 1.
    * Windows are per CHARACTER (code point), like `substr`; a string
    * shorter than k is one window over the whole string (the expression
    * formulation's `otherwise` arm), so "" yields xxhash64(""). */
  def windowHashes(s: UTF8String, k: Int): Array[Long] = {
    val bytes = s.getBytes
    val n = bytes.length
    // codepoint start offsets
    var cp = 0
    var i = 0
    while (i < n) {
      if ((bytes(i) & 0xc0) != 0x80) cp += 1
      i += 1
    }
    val starts = new Array[Int](cp + 1)
    var j = 0
    i = 0
    while (i < n) {
      if ((bytes(i) & 0xc0) != 0x80) { starts(j) = i; j += 1 }
      i += 1
    }
    starts(cp) = n
    val nWin = if (cp >= k) cp - k + 1 else 1
    val winLen = if (cp >= k) k else cp
    val out = new Array[Long](nWin)
    var w = 0
    while (w < nWin) {
      val from = starts(w)
      out(w) = XXH64.hashUnsafeBytes(bytes, Platform.BYTE_ARRAY_OFFSET + from,
        starts(w + winLen) - from, 42L)
      w += 1
    }
    out
  }

  /** MinHash signature of the character `k`-shingle set of `s`: every
    * window hash folds into the running per-seed minima. No shingle
    * array, no distinct pass (min is idempotent over duplicates), no
    * boxing. */
  def sig(s: UTF8String, k: Int, numHashes: Int): ArrayData = {
    val hs = windowHashes(s, k)
    val out = Array.fill(numHashes)(Long.MaxValue)
    var w = 0
    while (w < hs.length) { fold(out, hs(w)); w += 1 }
    ArrayData.toArrayData(out)
  }

  /** The distinct window hashes of `s` in first-occurrence order — the
    * values and order of `array_distinct` over the per-window
    * `xxhash64(substr(...))` array. Dedup runs through an
    * open-addressing long set sized to twice the window count. */
  def shingleSet(s: UTF8String, k: Int): ArrayData = {
    val hs = windowHashes(s, k)
    var cap = 2
    while (cap < 2 * hs.length) cap <<= 1
    val slots = new Array[Long](cap)
    val used = new Array[Boolean](cap)
    val mask = cap - 1
    val out = new Array[Long](hs.length)
    var m = 0
    var w = 0
    while (w < hs.length) {
      val h = hs(w)
      var slot = (fmix64(h) & mask).toInt
      while (used(slot) && slots(slot) != h) slot = (slot + 1) & mask
      if (!used(slot)) {
        used(slot) = true; slots(slot) = h
        out(m) = h; m += 1
      }
      w += 1
    }
    ArrayData.toArrayData(if (m == out.length) out else java.util.Arrays.copyOf(out, m))
  }
}

/** MinHash signature over the normalized text, as ONE codegen'd
  * expression: the `shingle-hash array → distinct → per-seed min` chain
  * (`xxhash64` per shingle window + `minhashSignatureHashed`) collapses into a single pass over the
  * string's UTF-8 bytes with a 64-long running-minimum buffer — no
  * intermediate array, no UDF encoder boxing. Values are IDENTICAL to the
  * UDF formulation (same xxhash64-seed-42 shingle hash, same splitmix64
  * seed mixing), so the two tiers are interchangeable. */
case class MinHashSig(child: Expression, shingleK: Int, numHashes: Int)
    extends org.apache.spark.sql.catalyst.expressions.UnaryExpression {
  import org.apache.spark.sql.types.StringType

  override def dataType: DataType = ArrayType(org.apache.spark.sql.types.LongType, false)

  override def checkInputDataTypes(): TypeCheckResult =
    if (child.dataType == StringType) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"minhash_sig expects STRING, got ${child.dataType}")

  override protected def nullSafeEval(input: Any): Any =
    MinHashKernel.sig(input.asInstanceOf[org.apache.spark.unsafe.types.UTF8String],
      shingleK, numHashes)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev,
      c => s"graft.plans.MinHashKernel.sig($c, $shingleK, $numHashes)")

  override protected def withNewChildInternal(newChild: Expression): MinHashSig =
    copy(child = newChild)
}

/** Distinct character `k`-shingle hashes of the normalized text, as ONE
  * codegen'd expression ([[MinHashKernel.shingleSet]]): the values and
  * order of `array_distinct(transform(sequence(1, length − k + 1),
  * i => xxhash64(substr(norm, i, k))))` (a string shorter than k hashes
  * whole), from one pass over the UTF-8 bytes — no per-window lambda,
  * no substring objects. The type stays the expression form's
  * `array<bigint>` with nullable elements, so the streaming state
  * encoders that carry this column see an unchanged schema. Null text →
  * null. */
case class ShingleSet(child: Expression, shingleK: Int)
    extends org.apache.spark.sql.catalyst.expressions.UnaryExpression {
  import org.apache.spark.sql.types.{LongType, StringType}

  override def dataType: DataType = ArrayType(LongType, containsNull = true)
  override def nullable: Boolean = true

  override def checkInputDataTypes(): TypeCheckResult =
    if (child.dataType == StringType) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"shingle_set expects STRING, got ${child.dataType}")

  override protected def nullSafeEval(input: Any): Any =
    MinHashKernel.shingleSet(input.asInstanceOf[org.apache.spark.unsafe.types.UTF8String],
      shingleK)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.plans.MinHashKernel.shingleSet($c, $shingleK)")

  override protected def withNewChildInternal(newChild: Expression): ShingleSet =
    copy(child = newChild)
}
