package graft.functions

import org.apache.spark.sql.catalyst.expressions.{Expression, ImplicitCastInputTypes, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types.{ArrayType, DataType, StringType}
import org.apache.spark.unsafe.types.UTF8String

/** THE normalizer word stream — the per-char classification every
  * tokenizer family shares ([[charClass]]: lowercase landing in
  * [a-z0-9] joins the current word, everything else separates; U+0130
  * contributes 'i' then separates, because its string lowercase is
  * "i" + combining dot). One definition instead of a hand-maintained
  * invariant: [[Tokens]] (`Kernel.tokens`), [[WordPieceIds]],
  * [[BpeIds]] and [[UnigramIds]] walk [[foreachWord]], and the fused
  * per-char loops of [[TokenIdsKernel]], [[TextNorm]] and [[LangId]]
  * call [[charClass]], so every word stream is equal by construction
  * (and equal to the `lower()` chain of `Kernel.tokensHof` — pinned by
  * the cross-family specs). */
object WordStream {

  /** [[charClass]]: `c` separates. */
  final val Sep = -1
  /** [[charClass]]: `c` contributes 'i', then separates (U+0130 only). */
  final val ISep = -2

  /** `c`'s contribution if its lowercase lands in [a-z0-9], else [[Sep]]
    * or [[ISep]]. Non-ASCII chars lower with `Character.toLowerCase`, so
    * the Kelvin sign U+212A contributes 'k'; U+0130 is [[ISep]] because
    * its string lowercase is "i" + U+0307 and the combining dot
    * separates. */
  def charClass(c: Char): Int =
    if (c >= 'a' && c <= 'z' || c >= '0' && c <= '9') c.toInt
    else if (c >= 'A' && c <= 'Z') c.toInt + 32
    else if (c < 128) Sep
    else if (c == 'İ') ISep
    else {
      val l = Character.toLowerCase(c)
      if (l >= 'a' && l <= 'z' || l >= '0' && l <= '9') l.toInt else Sep
    }

  /** Invoke `f` once per normalized word of `s`, in order. */
  def foreachWord(s: String, f: String => Unit): Unit = {
    val n = s.length
    val word = new java.lang.StringBuilder
    def flush(): Unit =
      if (word.length > 0) { f(word.toString); word.setLength(0) }
    var i = 0
    while (i < n) {
      val lc = charClass(s.charAt(i))
      if (lc >= 0) word.append(lc.toChar)
      else if (lc == ISep) { word.append('i'); flush() }
      else flush()
      i += 1
    }
    flush()
  }

  /** The words of `input` as an array of strings — [[Tokens]]' body, a
    * static method so generated code calls it directly. */
  def words(input: UTF8String): ArrayData = {
    val out = scala.collection.mutable.ArrayBuffer.empty[Any]
    foreachWord(input.toString, w => out += UTF8String.fromString(w))
    new GenericArrayData(out.toArray)
  }
}

/** `Kernel.tokens`: text → array<string> of its [[WordStream]] words, in
  * one native pass. Semantics are EXACTLY `Kernel.tokensHof`'s
  * `filter(split(regexp_replace(lower(text), '[^a-z0-9 ]', ' '), '\\s+'), t -> t != '')`
  * (null in, null out; no words, empty array), spec-asserted on the
  * non-ASCII fixtures — without `lower()`, whose first call in a JVM
  * builds Spark's ICU title-case table (about 2 s of one task's CPU
  * while the stage's other tasks wait on the class initializer).
  *
  * Generates code (no CodegenFallback): the call site stays inside its
  * WholeStageCodegen region. */
case class Tokens(child: Expression) extends UnaryExpression with ImplicitCastInputTypes {

  override def inputTypes: Seq[org.apache.spark.sql.graftbridge.Bridge.AbstractType] = Seq(StringType)

  override def dataType: DataType = ArrayType(StringType, containsNull = false)

  override def nullSafeEval(input: Any): Any = WordStream.words(input.asInstanceOf[UTF8String])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.functions.WordStream.words($c)")

  override protected def withNewChildInternal(newChild: Expression): Tokens =
    copy(child = newChild)
}
