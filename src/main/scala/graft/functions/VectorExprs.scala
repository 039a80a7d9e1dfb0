package graft.functions

import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, ImplicitCastInputTypes, Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types._

/** Shared input-type contracts for the native expressions. All are
  * reachable from raw SQL via the `graft_*` functions, so each must
  * reject wrong-typed arguments with an AnalysisException at planning
  * time (ExpectsInputTypes) rather than a ClassCastException mid-query. */
private[functions] object GraftInputTypes {
  import org.apache.spark.sql.graftbridge.Bridge
  /** array<bigint> token-id input. */
  val TokenArray: Bridge.AbstractType = ArrayType(LongType)
  /** array<float|double> vector input. */
  val VecArray: Bridge.AbstractType =
    Bridge.oneOf(ArrayType(FloatType), ArrayType(DoubleType))
  /** array<array<float|double>> multi-vector input. */
  val MultiVecArray: Bridge.AbstractType =
    Bridge.oneOf(ArrayType(ArrayType(FloatType)), ArrayType(ArrayType(DoubleType)))
  /** array<bigint|int> id-set input (SQL int literals arrive as int). */
  val IdArray: Bridge.AbstractType =
    Bridge.oneOf(ArrayType(LongType), ArrayType(IntegerType))
}

/** Static kernels for the native vector expressions — plain methods the
  * generated Java calls directly (Scala objects emit static forwarders),
  * so the expressions participate in whole-stage codegen instead of
  * breaking their region with CodegenFallback. */
object VectorKernels {

  def pooledSums(tids: ArrayData, dim: Int): ArrayData = {
    val n = tids.numElements()
    val out = new Array[Long](dim)
    var i = 0
    while (i < n) {
      val t = tids.getLong(i)
      val base = t * K.A + K.C
      var d = 0
      while (d < dim) {
        out(d) += (base + d.toLong * K.B) % K.M
        d += 1
      }
      i += 1
    }
    new GenericArrayData(out)
  }

  def simhashSig(tids: ArrayData, bits: Int): Long = {
    val n = tids.numElements()
    val votes = new Array[Long](bits)
    var i = 0
    while (i < n) {
      val t = tids.getLong(i)
      val base = t * K.A2 + K.C2
      var b = 0
      while (b < bits) {
        votes(b) += (if (((base + b.toLong * K.B2) % K.M) % 2L == 1L) 1L else -1L)
        b += 1
      }
      i += 1
    }
    var sig = 0L
    var b = bits - 1
    while (b >= 0) {
      sig = sig * 2L + (if (votes(b) > 0L) 1L else 0L)
      b -= 1
    }
    sig
  }

  /** Word n-gram shingle ids: for each window start p, fold
    * (a*31 + tid) % M over the n tids — identical arithmetic to the HOF
    * in [[graft.operators.Dedup.shinglesHof]]. Empty when fewer than n
    * tokens. */
  def shingles(tids: ArrayData, n: Int): ArrayData = {
    val len = tids.numElements()
    val m = len - n + 1
    if (m <= 0) return new GenericArrayData(Array.emptyLongArray)
    val out = new Array[Long](m)
    var p = 0
    while (p < m) {
      var a = 0L
      var i = 0
      while (i < n) { a = (a * 31L + tids.getLong(p + i)) % K.M; i += 1 }
      out(p) = a
      p += 1
    }
    new GenericArrayData(out)
  }

  /** MinHash signature over a shingle-id array: for each of `numHashes`
    * universal-hash permutations h_i(x) = (x·a_i + b_i) % P32, the min
    * over the array — identical arithmetic to the relational
    * min-aggregate formulation (MIN over the same set; duplicates in the
    * array cannot change a min). One pass, shingles outer. Empty array →
    * all P32 (the "no shingles" sentinel callers filter out). */
  def minhashSigs(shingles: ArrayData, as: Array[Long], bs: Array[Long]): ArrayData = {
    val nh = as.length
    val out = new Array[Long](nh)
    java.util.Arrays.fill(out, K.P32)
    val n = shingles.numElements()
    var i = 0
    while (i < n) {
      val x = shingles.getLong(i)
      var h = 0
      while (h < nh) {
        val v = (x * as(h) + bs(h)) % K.P32
        if (v < out(h)) out(h) = v
        h += 1
      }
      i += 1
    }
    new GenericArrayData(out)
  }

  /** Splice flagged spans out of a token stream: token i survives iff no
    * start s in `starts` (SORTED ascending — enforced, one comparison
    * per consumed start) covers it (s ≤ i < s+n). Two-pointer sweep —
    * `starts` is consumed once and coverage is the running max of s+n,
    * so the pass is O(tokens + starts) instead of the O(tokens × starts)
    * per-row `exists` HOF it replaces (identical drop-set: with sorted
    * starts, ∃s: s ≤ i < s+n ⟺ maxEnd(starts ≤ i) > i). Always returns
    * a FRESH array — never the input ArrayData, which may alias a
    * reused UnsafeRow buffer. */
  def spliceSpans(tids: ArrayData, starts: ArrayData, n: Int): ArrayData = {
    val len = tids.numElements()
    val ns = starts.numElements()
    val out = new Array[Long](len)
    var m = 0
    var j = 0
    var prev = Long.MinValue
    var coverEnd = -1L
    var i = 0
    while (i < len) {
      while (j < ns && starts.getLong(j) <= i) {
        val s = starts.getLong(j)
        if (s < prev)
          throw new IllegalArgumentException(
            s"SpliceSpans: starts must be sorted ascending (saw $s after $prev)")
        prev = s
        val e = s + n
        if (e > coverEnd) coverEnd = e
        j += 1
      }
      if (i >= coverEnd) { out(m) = tids.getLong(i); m += 1 }
      i += 1
    }
    new GenericArrayData(if (m == len) out else java.util.Arrays.copyOf(out, m))
  }

  /** Repetition stats over an id array in one pass: (n_items,
    * n_distinct, top_cnt) where top_cnt is the multiplicity of the most
    * frequent value — exact integers, computed on a sorted copy (sorting
    * cannot change counts), identical to the relational
    * explode→groupBy-count formulation the SQL oracle uses. */
  def runStats(arr: ArrayData): org.apache.spark.sql.catalyst.InternalRow = {
    val n = arr.numElements()
    if (n == 0)
      return new org.apache.spark.sql.catalyst.expressions.GenericInternalRow(
        Array[Any](0L, 0L, 0L))
    val a = new Array[Long](n)
    var i = 0
    while (i < n) { a(i) = arr.getLong(i); i += 1 }
    java.util.Arrays.sort(a)
    var distinct = 1L
    var top = 1L
    var run = 1L
    i = 1
    while (i < n) {
      if (a(i) == a(i - 1)) { run += 1; if (run > top) top = run }
      else { distinct += 1; run = 1 }
      i += 1
    }
    new org.apache.spark.sql.catalyst.expressions.GenericInternalRow(
      Array[Any](n.toLong, distinct, top))
  }

  def cosine(a: ArrayData, b: ArrayData, leftFloat: Boolean, rightFloat: Boolean): Double = {
    @inline def get(x: ArrayData, i: Int, isFloat: Boolean): Double =
      if (isFloat) x.getFloat(i).toDouble else x.getDouble(i)
    val na = a.numElements()
    val nb = b.numElements()
    var sa = 0.0
    var i = 0
    while (i < na) { val x = get(a, i, leftFloat); sa += x * x; i += 1 }
    var sb = 0.0
    i = 0
    while (i < nb) { val y = get(b, i, rightFloat); sb += y * y; i += 1 }
    val normA = math.sqrt(sa)
    val normB = math.sqrt(sb)
    if (normA == 0.0 || normB == 0.0) 0.0
    else {
      val n = math.min(na, nb)
      var dot = 0.0
      i = 0
      while (i < n) { dot += get(a, i, leftFloat) * get(b, i, rightFloat); i += 1 }
      dot / (normA * normB)
    }
  }

  /** The dot fold of [[cosine]] alone (stops at the shorter array,
    * left-to-right) — the per-pair piece once the per-vector norms
    * factor out of a pair loop. */
  def dotOnly(a: ArrayData, b: ArrayData, leftFloat: Boolean, rightFloat: Boolean): Double = {
    @inline def get(x: ArrayData, i: Int, isFloat: Boolean): Double =
      if (isFloat) x.getFloat(i).toDouble else x.getDouble(i)
    val n = math.min(a.numElements(), b.numElements())
    var dot = 0.0
    var i = 0
    while (i < n) { dot += get(a, i, leftFloat) * get(b, i, rightFloat); i += 1 }
    dot
  }

  /** The norm fold of [[cosine]] alone: sqrt of the left-to-right sum
    * of squares over the full array. */
  def norm(a: ArrayData, isFloat: Boolean): Double = {
    @inline def get(x: ArrayData, i: Int): Double =
      if (isFloat) x.getFloat(i).toDouble else x.getDouble(i)
    val n = a.numElements()
    var s = 0.0
    var i = 0
    while (i < n) { val x = get(a, i); s += x * x; i += 1 }
    math.sqrt(s)
  }
}

/** Native integer-pooled projection (the inner loop of the hashing
  * projector): for each dim d, Σ_tokens (t*A + d*B + C) % M — identical
  * exact integer sums as the HOF formulation in [[Kernel.pooledSums]]
  * (addition commutes, so iteration order is irrelevant), but as two
  * tight JVM loops instead of ~dim×tokens interpreted lambda calls. */
case class PooledSums(child: Expression, dim: Int)
    extends UnaryExpression with ImplicitCastInputTypes {
  override def inputTypes: Seq[org.apache.spark.sql.graftbridge.Bridge.AbstractType] = Seq(GraftInputTypes.TokenArray)

  override def dataType: DataType = ArrayType(LongType, containsNull = false)

  override def nullSafeEval(input: Any): Any =
    VectorKernels.pooledSums(input.asInstanceOf[ArrayData], dim)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.functions.VectorKernels.pooledSums($c, $dim)")

  override protected def withNewChildInternal(newChild: Expression): PooledSums =
    copy(child = newChild)
}

/** Native exact-int64 mat-vec for learned projection heads:
  * y_d = Σ_e wq[d·dimIn + e] · x[e]. The whole product evaluates ONCE
  * per row — the HOF formulation (an `aggregate` referencing the
  * pooled-sums column inside a nested lambda) gets the sums expression
  * inlined by Catalyst's project collapse and re-evaluated per
  * (d, e) element: measured ~30× slower on the q82 gate at sf0.1.
  * The bank rides as a plan reference object, like [[NearestCell]]. */
case class MatVecQ(child: Expression, wq: IndexedSeq[Long], dimIn: Int, dimOut: Int)
    extends UnaryExpression with ImplicitCastInputTypes {
  require(wq.length == dimIn * dimOut, s"bank of ${wq.length} != $dimOut x $dimIn")

  override def inputTypes: Seq[org.apache.spark.sql.graftbridge.Bridge.AbstractType] = Seq(GraftInputTypes.TokenArray)

  override def dataType: DataType = ArrayType(LongType, containsNull = false)

  private val w = wq.toArray

  override def nullSafeEval(input: Any): Any =
    evalRow(input.asInstanceOf[ArrayData])

  def evalRow(x: ArrayData): ArrayData = {
    val out = new Array[Long](dimOut)
    var d = 0
    while (d < dimOut) {
      var s = 0L
      var e = 0
      val base = d * dimIn
      while (e < dimIn) { s += w(base + e) * x.getLong(e); e += 1 }
      out(d) = s
      d += 1
    }
    new GenericArrayData(out)
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val ref = ctx.addReferenceObj("matvec", this, classOf[MatVecQ].getName)
    defineCodeGen(ctx, ev, c => s"$ref.evalRow($c)")
  }

  override protected def withNewChildInternal(newChild: Expression): MatVecQ =
    copy(child = newChild)
}

/** Native exact-int64 sparse-linear dot for the learned BGE-M3 head
  * (q76): Σ_d hidden(tid, pos, d) · w[d] with
  * hidden = ((tid % M3)·A3 + d·B3 + (pos+1)·C3) % M3 — identical
  * arithmetic to the HOF `aggregate` formulation, one tight JVM loop
  * per row instead of dimIn interpreted lambda calls. */
case class SparseDotQ(left: Expression, right: Expression, wq: IndexedSeq[Long])
    extends BinaryExpression with ImplicitCastInputTypes {

  override def inputTypes: Seq[org.apache.spark.sql.graftbridge.Bridge.AbstractType] =
    Seq(LongType, LongType)

  override def dataType: DataType = LongType

  private val w = wq.toArray

  override def nullSafeEval(tid: Any, pos: Any): Any =
    evalRow(tid.asInstanceOf[Long], pos.asInstanceOf[Long])

  def evalRow(tid: Long, pos: Long): Long = SparseDotQ.dot(w, tid, pos)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val ref = ctx.addReferenceObj("sparseDot", this, classOf[SparseDotQ].getName)
    defineCodeGen(ctx, ev, (t, p) => s"$ref.evalRow($t, $p)")
  }

  override protected def withNewChildrenInternal(newLeft: Expression, newRight: Expression): SparseDotQ =
    copy(left = newLeft, right = newRight)
}

object SparseDotQ {
  /** Σ_d hidden(tid, pos, d) · w[d], exact int64. */
  def dot(w: Array[Long], tid: Long, pos: Long): Long = {
    val base = (tid % graft.functions.K.M3) * graft.functions.K.A3 +
      (pos + 1L) * graft.functions.K.C3
    var s = 0L
    var d = 0
    while (d < w.length) {
      s += ((base + d.toLong * graft.functions.K.B3) % graft.functions.K.M3) * w(d)
      d += 1
    }
    s
  }
}

/** The learned BGE-M3 sparse head of one row (q76): for each token id
  * > 3 (XLM-R specials skipped) at position p, wq = [[SparseDotQ.dot]] +
  * bq; strictly-positive wq kept, duplicate ids max-merged, ids
  * ascending, weight = wq / scale — the reference's per-input HashMap
  * then sort (the reference's sparse_text_embedding/impl.rs:256-304)
  * as one native pass. Exact integers up to the one final division, so
  * the rows equal the explode → groupBy(doc, token).max formulation's
  * for every input with distinct ids. */
case class SparseWeightedPairs(child: Expression, wq: IndexedSeq[Long], bq: Long, scale: Long)
    extends UnaryExpression with ImplicitCastInputTypes {
  override def inputTypes: Seq[org.apache.spark.sql.graftbridge.Bridge.AbstractType] =
    Seq(ArrayType(LongType))

  override def dataType: DataType = ArrayType(
    StructType(Seq(
      StructField("token_id", LongType, nullable = false),
      StructField("weight", DoubleType, nullable = false))),
    containsNull = false)

  private val w = wq.toArray

  override def nullSafeEval(input: Any): Any = evalRow(input.asInstanceOf[ArrayData])

  def evalRow(tids: ArrayData): ArrayData = {
    val n = tids.numElements()
    val toks = new Array[Long](n)
    val qs = new Array[Long](n)
    var m = 0
    var p = 0
    while (p < n) {
      val t = tids.getLong(p)
      if (t > 3L) {
        val q = SparseDotQ.dot(w, t, p.toLong) + bq
        if (q > 0L) { toks(m) = t; qs(m) = q; m += 1 }
      }
      p += 1
    }
    // distinct kept ids, ascending
    val ids = java.util.Arrays.copyOf(toks, m)
    java.util.Arrays.sort(ids)
    var k = 0
    var i = 0
    while (i < m) {
      if (k == 0 || ids(i) != ids(k - 1)) { ids(k) = ids(i); k += 1 }
      i += 1
    }
    val best = new Array[Long](k)
    i = 0
    while (i < m) {
      val j = java.util.Arrays.binarySearch(ids, 0, k, toks(i))
      if (qs(i) > best(j)) best(j) = qs(i)
      i += 1
    }
    val out = new Array[Any](k)
    i = 0
    while (i < k) {
      out(i) = org.apache.spark.sql.catalyst.InternalRow(ids(i), best(i).toDouble / scale.toDouble)
      i += 1
    }
    new GenericArrayData(out)
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val ref = ctx.addReferenceObj("sparseWeighted", this, classOf[SparseWeightedPairs].getName)
    defineCodeGen(ctx, ev, c => s"$ref.evalRow($c)")
  }

  override protected def withNewChildInternal(newChild: Expression): SparseWeightedPairs =
    copy(child = newChild)
}

/** Native SimHash signature: bit b of the result is set iff
  * Σ_tokens (±1 by the low bit of (t*A2 + b*B2 + C2) % M) > 0, assembled
  * high-bit-first as acc*2 + bit. Exact integer votes (order-free) —
  * identical to the HOF formulation in [[graft.operators.Dedup.simhashSigHof]]
  * and the DuckDB oracle. */
case class SimhashSig(child: Expression, bits: Int)
    extends UnaryExpression with ImplicitCastInputTypes {
  override def inputTypes: Seq[org.apache.spark.sql.graftbridge.Bridge.AbstractType] = Seq(GraftInputTypes.TokenArray)

  override def dataType: DataType = LongType

  override def nullSafeEval(input: Any): Any =
    VectorKernels.simhashSig(input.asInstanceOf[ArrayData], bits)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.functions.VectorKernels.simhashSig($c, $bits)")

  override protected def withNewChildInternal(newChild: Expression): SimhashSig =
    copy(child = newChild)
}

/** Native shingle expression over a token-id array — one rolling JVM
  * pass instead of an interpreted fold per window position. */
case class Shingles(child: Expression, n: Int)
    extends UnaryExpression with ImplicitCastInputTypes {
  override def inputTypes: Seq[org.apache.spark.sql.graftbridge.Bridge.AbstractType] = Seq(GraftInputTypes.TokenArray)

  override def dataType: DataType = ArrayType(LongType, containsNull = false)

  override def nullSafeEval(input: Any): Any =
    VectorKernels.shingles(input.asInstanceOf[ArrayData], n)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.functions.VectorKernels.shingles($c, $n)")

  override protected def withNewChildInternal(newChild: Expression): Shingles =
    copy(child = newChild)
}

/** Native MinHash signature expression: array<bigint> of `numHashes`
  * per-permutation minima over a shingle-id array — the NARROW
  * formulation of the signature (no explode, no exchange; the
  * relational groupBy-min formulation stays in
  * [[graft.operators.Dedup.minhashSignatures]] as the oracle-mirrored
  * cross-check, spec-asserted equal). Permutation constants come from
  * [[graft.operators.Dedup.minhashPerm]] via the constructor. */
case class MinhashSigs(child: Expression, as: Array[Long], bs: Array[Long])
    extends UnaryExpression with ImplicitCastInputTypes {
  override def inputTypes: Seq[org.apache.spark.sql.graftbridge.Bridge.AbstractType] =
    Seq(GraftInputTypes.TokenArray)

  override def dataType: DataType = ArrayType(LongType, containsNull = false)

  override def nullSafeEval(input: Any): Any =
    VectorKernels.minhashSigs(input.asInstanceOf[ArrayData], as, bs)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val aRef = ctx.addReferenceObj("mhAs", as, "long[]")
    val bRef = ctx.addReferenceObj("mhBs", bs, "long[]")
    defineCodeGen(ctx, ev, c =>
      s"graft.functions.VectorKernels.minhashSigs($c, $aRef, $bRef)")
  }

  override protected def withNewChildInternal(newChild: Expression): MinhashSigs =
    copy(child = newChild)
}

/** Native repetition-stats expression (the Gopher-style repetition
  * filters' inner loop): struct(n_items, n_distinct, top_cnt) over a
  * token-id or shingle-id array — narrow, zero exchange; the SQL oracle
  * mirrors it relationally (explode → per-value count → max/sum). */
case class RunStats(child: Expression)
    extends UnaryExpression with ImplicitCastInputTypes {
  override def inputTypes: Seq[org.apache.spark.sql.graftbridge.Bridge.AbstractType] =
    Seq(GraftInputTypes.TokenArray)

  override def dataType: DataType = StructType(Seq(
    StructField("n_items", LongType, nullable = false),
    StructField("n_distinct", LongType, nullable = false),
    StructField("top_cnt", LongType, nullable = false)))

  override def nullSafeEval(input: Any): Any =
    VectorKernels.runStats(input.asInstanceOf[ArrayData])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.functions.VectorKernels.runStats($c)")

  override protected def withNewChildInternal(newChild: Expression): RunStats =
    copy(child = newChild)
}

/** Native span-splice expression (the cut step of the suffix-array
  * dedup method): drops every token covered by a flagged length-`n`
  * window start. `right` MUST be sorted ascending (the caller's
  * array_sort(collect_set(pos)) guarantees it, and the kernel enforces
  * it — an inversion fails fast instead of silently under-splicing) —
  * the linear two-pointer sweep replaces the O(tokens × starts)
  * per-token `exists` HOF, with an identical drop-set (spec-asserted,
  * including the all-flagged pathological doc). */
case class SpliceSpans(left: Expression, right: Expression, n: Int)
    extends BinaryExpression with ImplicitCastInputTypes {
  override def inputTypes: Seq[org.apache.spark.sql.graftbridge.Bridge.AbstractType] =
    Seq(GraftInputTypes.TokenArray, GraftInputTypes.TokenArray)

  override def dataType: DataType = ArrayType(LongType, containsNull = false)

  override def nullSafeEval(tids: Any, starts: Any): Any =
    VectorKernels.spliceSpans(
      tids.asInstanceOf[ArrayData], starts.asInstanceOf[ArrayData], n)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, (a, b) =>
      s"graft.functions.VectorKernels.spliceSpans($a, $b, $n)")

  override protected def withNewChildrenInternal(l: Expression, r: Expression): SpliceSpans =
    copy(left = l, right = r)
}

/** Native sign-LSH bucket id: bit p set iff the vector's dot product
  * with pseudo-random hyperplane p is > 0. Plane weights come from the
  * same integer cell stream as the HOF formulation in
  * [[graft.operators.Similarity.lshBucketHof]] —
  * w(p,d) = (((p+7)*A + d*B + C) % M) / M * 2 - 1 — and the dot
  * accumulates in dimension order, so results are bit-identical
  * (spec-asserted) and the SQL oracle needs no change. */
case class LshBucket(child: Expression, dim: Int, nPlanes: Int)
    extends UnaryExpression with ImplicitCastInputTypes {
  override def inputTypes: Seq[org.apache.spark.sql.graftbridge.Bridge.AbstractType] = Seq(GraftInputTypes.VecArray)

  override def dataType: DataType = LongType

  private lazy val elemIsFloat =
    child.dataType.asInstanceOf[ArrayType].elementType == FloatType

  // plane weight table, built once per expression instance
  @transient private lazy val weights: Array[Array[Double]] =
    Array.tabulate(nPlanes, dim) { (p, d) =>
      (((p.toLong + 7L) * K.A + d.toLong * K.B + K.C) % K.M).toDouble / K.M.toDouble * 2.0 - 1.0
    }

  override def nullSafeEval(input: Any): Any =
    evalVec(input.asInstanceOf[ArrayData])

  def evalVec(v: ArrayData): Long = {
    // HOF parity: zip_with pads length-mismatched inputs with nulls,
    // which null-poisons every plane dot → bucket 0; mirror that rather
    // than silently hashing a prefix
    if (v.numElements() != dim) return 0L
    val n = dim
    var bucket = 0L
    var p = 0
    while (p < nPlanes) {
      val w = weights(p)
      var s = 0.0
      var d = 0
      while (d < n) {
        val x = if (elemIsFloat) v.getFloat(d).toDouble else v.getDouble(d)
        s += x * w(d)
        d += 1
      }
      if (s > 0.0) bucket += (1L << p)
      p += 1
    }
    bucket
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val ref = ctx.addReferenceObj("lshBucket", this, classOf[LshBucket].getName)
    defineCodeGen(ctx, ev, c => s"$ref.evalVec($c)")
  }

  override protected def withNewChildInternal(newChild: Expression): LshBucket =
    copy(child = newChild)
}

/** Native cosine similarity with the reference's zero-vector guard
  * (/root/reference/src/similarity.rs:19-26). Bit-identical to the HOF
  * formulation in [[Kernel.cosineHof]]: elements widen to double, the
  * dot and both norm folds run left-to-right in array order, norms via
  * IEEE sqrt, guard returns exactly 0.0. Dot stops at the shorter array
  * (src/similarity.rs:14-16); norms run over each full array. */
case class CosineSim(left: Expression, right: Expression)
    extends BinaryExpression with ImplicitCastInputTypes {
  override def inputTypes: Seq[org.apache.spark.sql.graftbridge.Bridge.AbstractType] =
    Seq(GraftInputTypes.VecArray, GraftInputTypes.VecArray)

  override def dataType: DataType = DoubleType

  private def elemIsFloat(e: Expression): Boolean =
    e.dataType.asInstanceOf[ArrayType].elementType == FloatType

  // lazy: dataType is unresolved while the expression tree is being built
  private lazy val leftFloat = elemIsFloat(left)
  private lazy val rightFloat = elemIsFloat(right)

  override def nullSafeEval(l: Any, r: Any): Any =
    VectorKernels.cosine(l.asInstanceOf[ArrayData], r.asInstanceOf[ArrayData],
      leftFloat, rightFloat)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, (a, b) =>
      s"graft.functions.VectorKernels.cosine($a, $b, $leftFloat, $rightFloat)")

  override protected def withNewChildrenInternal(l: Expression, r: Expression): CosineSim =
    copy(left = l, right = r)
}

/** The dot fold of [[CosineSim]] alone — exactly its inner loop
  * (element widening, shorter-array stop, left-to-right). Composed
  * with [[VecNorm]] columns as `dot / (normLeft * normRight)` under
  * the zero guard it is BIT-identical to [[CosineSim]] (spec-pinned):
  * the factorization that lets an n×m pair loop compute each side's
  * norm once instead of per pair. */
case class DotProd(left: Expression, right: Expression)
    extends BinaryExpression with ImplicitCastInputTypes {
  override def inputTypes: Seq[org.apache.spark.sql.graftbridge.Bridge.AbstractType] =
    Seq(GraftInputTypes.VecArray, GraftInputTypes.VecArray)

  override def dataType: DataType = DoubleType

  private def elemIsFloat(e: Expression): Boolean =
    e.dataType.asInstanceOf[ArrayType].elementType == FloatType

  private lazy val leftFloat = elemIsFloat(left)
  private lazy val rightFloat = elemIsFloat(right)

  override def nullSafeEval(l: Any, r: Any): Any =
    VectorKernels.dotOnly(l.asInstanceOf[ArrayData], r.asInstanceOf[ArrayData],
      leftFloat, rightFloat)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, (a, b) =>
      s"graft.functions.VectorKernels.dotOnly($a, $b, $leftFloat, $rightFloat)")

  override protected def withNewChildrenInternal(l: Expression, r: Expression): DotProd =
    copy(left = l, right = r)
}

/** The norm fold of [[CosineSim]] alone (per-vector ‖v‖, full array,
  * IEEE sqrt of the left-to-right sum of squares). */
case class VecNorm(child: Expression)
    extends UnaryExpression with ImplicitCastInputTypes {
  override def inputTypes: Seq[org.apache.spark.sql.graftbridge.Bridge.AbstractType] =
    Seq(GraftInputTypes.VecArray)

  override def dataType: DataType = DoubleType

  private lazy val isFloat =
    child.dataType.asInstanceOf[ArrayType].elementType == FloatType

  override def nullSafeEval(v: Any): Any =
    VectorKernels.norm(v.asInstanceOf[ArrayData], isFloat)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.functions.VectorKernels.norm($c, $isFloat)")

  override protected def withNewChildInternal(newChild: Expression): VecNorm =
    copy(child = newChild)
}
