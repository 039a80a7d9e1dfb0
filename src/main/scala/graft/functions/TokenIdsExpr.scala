package graft.functions

import org.apache.spark.sql.catalyst.expressions.{ImplicitCastInputTypes, Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types.{ArrayType, DataType, LongType, StringType}
import org.apache.spark.unsafe.types.UTF8String

/** The tokenize+hash inner loop as a plain static method so both the
  * interpreted path and generated Java call the same JIT-friendly code
  * (Scala objects emit static forwarders, so generated code can call
  * `graft.functions.TokenIdsKernel.eval(...)` directly). */
object TokenIdsKernel {
  def eval(input: UTF8String, maxLen: Int): ArrayData = {
    val s = input.toString
    val n = s.length
    // capacity n, not n/2+1: the U+0130 branch emits a token per CHAR
    // with no separator, so token count can reach the char count
    val out = new Array[Long](math.min(maxLen, n))
    var count = 0
    var acc = 0L
    var inTok = false
    var i = 0
    while (i < n && count < maxLen) {
      val lc = WordStream.charClass(s.charAt(i))
      if (lc >= 0) {
        acc = (acc * 31L + lc.toLong) % K.M
        inTok = true
      } else if (lc == WordStream.ISep) {
        acc = (acc * 31L + 'i'.toLong) % K.M
        out(count) = acc; count += 1
        acc = 0L; inTok = false
      } else if (inTok) {
        out(count) = acc; count += 1
        acc = 0L; inTok = false
      }
      i += 1
    }
    if (inTok && count < maxLen) { out(count) = acc; count += 1 }
    val trimmed = new Array[Long](count)
    System.arraycopy(out, 0, trimmed, 0, count)
    new GenericArrayData(trimmed)
  }
}

/** Native tokenize + polynomial-hash expression — the hot inner loop of
  * every text operator, as one imperative pass over the string instead of
  * the interpreted HOF chain (split → per-char ascii → fold), which
  * profiled ~100× slower per row.
  *
  * Semantics are EXACTLY
  * `transform(slice(filter(split(regexp_replace(lower(text),'[^a-z0-9 ]',' '),'\\s+'), t -> t != ''), 1, maxLen), polyHash)`
  * for any input: a char survives iff its (string) lowercase lands in
  * [a-z0-9]; everything else acts as a separator (see
  * [[WordStream.charClass]] for the U+212A/U+0130 Unicode notes). The HOF
  * formulation stays in [[Kernel.tokenIdsHof]] and a spec asserts
  * bit-equality between the two, including on non-ASCII fixtures.
  *
  * Generates code (no CodegenFallback): the call site stays inside its
  * WholeStageCodegen region instead of forcing interpreted evaluation of
  * the enclosing subtree.
  *
  * LOCALE NOTE: [[WordStream.charClass]] lowercases per char with
  * `Character.toLowerCase(char)`, which ignores the locale. Spark's
  * `lower()` in the HOF formulation does not: on Spark 4.1 (with
  * `spark.sql.icu.caseMappings.enabled`, the default) it calls
  * `CollationAwareUTF8String.toLowerCase`, which lowercases an all-ASCII
  * string byte by byte and any other string with ICU's
  * `UCharacter.toLowerCase(String)` under the JVM default locale (under
  * tr-TR, 'I' in a non-ASCII string lowers to dotless 'ı' there but to
  * 'i' here). The spec-asserted equality of the two formulations
  * therefore assumes a non-Turkic default locale, the production default
  * for Spark clusters; pin `-Duser.language=en` (or assert
  * `Locale.getDefault`) if deploying to machines with a Turkic default
  * locale. */
case class TokenIds(child: Expression, maxLen: Int)
    extends UnaryExpression with ImplicitCastInputTypes {

  override def inputTypes: Seq[org.apache.spark.sql.graftbridge.Bridge.AbstractType] = Seq(StringType)

  override def dataType: DataType = ArrayType(LongType, containsNull = false)

  override def nullSafeEval(input: Any): Any =
    TokenIdsKernel.eval(input.asInstanceOf[UTF8String], maxLen)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.functions.TokenIdsKernel.eval($c, $maxLen)")

  override protected def withNewChildInternal(newChild: Expression): TokenIds =
    copy(child = newChild)
}
