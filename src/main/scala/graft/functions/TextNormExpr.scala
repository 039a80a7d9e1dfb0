package graft.functions

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{ImplicitCastInputTypes, Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** One-pass text normalization + curation stats — everything the
  * exact-dedup and quality operators need from the tokenizer, computed in
  * a single traversal with the engine-wide normalization rule (lowercase;
  * any char whose lowercase is outside [a-z0-9] separates):
  *
  *  - norm: tokens joined by single spaces (the exact-dedup group key)
  *  - n_words: token count
  *  - alpha_chars: total chars across tokens
  *    (== length(regexp_replace(lower(text), "[^a-z0-9]", "")))
  *  - stops: multiset count of tokens in the stopword set
  *  - ws_tokens: count of maximal non-whitespace runs
  *    (== size(filter(split(text, "\\s+"), t -> t != '')))
  *
  * Replaces 3-4 interpreted regexp/HOF chains per row; the HOF
  * formulations remain in the operators' *Hof variants and the SQL
  * oracles, spec-asserted equal. */
case class TextNorm(child: Expression, stopwords: Seq[String])
    extends UnaryExpression with ImplicitCastInputTypes {
  override def inputTypes: Seq[org.apache.spark.sql.graftbridge.Bridge.AbstractType] =
    Seq(StringType)


  override def dataType: DataType = StructType(Seq(
    StructField("norm", StringType, nullable = false),
    StructField("n_words", LongType, nullable = false),
    StructField("alpha_chars", LongType, nullable = false),
    StructField("stops", LongType, nullable = false),
    StructField("ws_tokens", LongType, nullable = false)))

  @transient private lazy val stopSet: java.util.HashSet[String] = {
    val s = new java.util.HashSet[String]()
    stopwords.foreach(s.add)
    s
  }
  @transient private lazy val maxStopLen: Int =
    if (stopwords.isEmpty) 0 else stopwords.map(_.length).max

  override def nullSafeEval(input: Any): Any = evalUtf8(input.asInstanceOf[UTF8String])

  def evalUtf8(input: UTF8String): InternalRow = {
    val s = input.toString
    val n = s.length
    val out = new java.lang.StringBuilder(n)
    var nWords = 0L
    var alphaChars = 0L
    var stops = 0L
    var wsTokens = 0L
    var inWsRun = false // inside a maximal non-whitespace run
    var tokStart = -1 // start of current token in `out`, -1 = none

    def endToken(): Unit = {
      if (tokStart >= 0) {
        nWords += 1
        val len = out.length - tokStart
        alphaChars += len
        if (len <= maxStopLen && stopSet.contains(out.substring(tokStart))) stops += 1
        tokStart = -1
      }
    }

    var i = 0
    while (i < n) {
      val c = s.charAt(i)
      // Java regex \s = [ \t\n\x0B\f\r]
      val isWs = c == ' ' || c == '\t' || c == '\n' || c == '\u000B' || c == '\f' || c == '\r'
      if (isWs) inWsRun = false
      else if (!inWsRun) { wsTokens += 1; inWsRun = true }
      val lc = WordStream.charClass(c)
      if (lc >= 0) {
        if (tokStart < 0) {
          if (out.length > 0) out.append(' ')
          tokStart = out.length
        }
        out.append(lc.toChar)
      } else if (lc == WordStream.ISep) {
        if (tokStart < 0) {
          if (out.length > 0) out.append(' ')
          tokStart = out.length
        }
        out.append('i')
        endToken()
      } else endToken()
      i += 1
    }
    endToken()
    InternalRow(UTF8String.fromString(out.toString), nWords, alphaChars, stops, wsTokens)
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val ref = ctx.addReferenceObj("textNormExpr", this, classOf[TextNorm].getName)
    defineCodeGen(ctx, ev, c => s"$ref.evalUtf8($c)")
  }

  override protected def withNewChildInternal(newChild: Expression): TextNorm =
    copy(child = newChild)
}
