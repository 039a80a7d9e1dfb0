package graft.functions

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{ImplicitCastInputTypes, Expression, UnaryExpression}
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** One-pass language ID: tokenizes the string with EXACTLY the
  * [[TokenIds]]/`Kernel.tokens` normalization (lowercase; any char whose
  * lowercase is outside [a-z0-9] separates; no length cap — `tokens` has
  * none) and counts marker-lexicon hits per language in a single
  * traversal, then resolves the earliest-max argmax. Replaces the
  * per-language × per-marker `filter(toks, isin(...))` HOF chain (35
  * interpreted comparisons per token per row — the slowest real query in
  * round 1's bench). Returns struct(lang_pred string, lang_score bigint);
  * ties keep the earliest language in `markers` order — identical to the
  * strict-> fold in the HOF formulation and the SQL oracle. */
case class LangId(child: Expression, markers: Seq[(String, Seq[String])])
    extends UnaryExpression with ImplicitCastInputTypes {
  override def inputTypes: Seq[org.apache.spark.sql.graftbridge.Bridge.AbstractType] =
    Seq(StringType)


  override def dataType: DataType = StructType(Seq(
    StructField("lang_pred", StringType, nullable = false),
    StructField("lang_score", LongType, nullable = false)))

  @transient private lazy val nLangs = markers.length
  /** marker token → per-language increment vector (a marker word can
    * appear in several lexicons, e.g. "de"/"le"). */
  @transient private lazy val table: java.util.HashMap[String, Array[Int]] = {
    val m = new java.util.HashMap[String, Array[Int]]()
    markers.zipWithIndex.foreach { case ((_, words), li) =>
      words.foreach { w =>
        val inc = m.computeIfAbsent(w, _ => new Array[Int](markers.length))
        inc(li) += 1
      }
    }
    m
  }
  @transient private lazy val maxMarkerLen: Int =
    markers.flatMap(_._2).map(_.length).max

  override def nullSafeEval(input: Any): Any = evalUtf8(input.asInstanceOf[UTF8String])

  /** Public entry for generated code (the marker table lives on this
    * instance, passed into codegen as a reference object). */
  def evalUtf8(input: UTF8String): InternalRow = {
    val s = input.toString
    val n = s.length
    val counts = new Array[Long](nLangs)
    val sb = new java.lang.StringBuilder(16)
    var overflow = false // token longer than any marker — skip lookup

    def endToken(): Unit = {
      if (!overflow && sb.length > 0) {
        val inc = table.get(sb.toString)
        if (inc != null) {
          var l = 0
          while (l < nLangs) { counts(l) += inc(l); l += 1 }
        }
      }
      sb.setLength(0)
      overflow = false
    }

    var i = 0
    while (i < n) {
      val lc = WordStream.charClass(s.charAt(i))
      if (lc >= 0) {
        if (sb.length >= maxMarkerLen) overflow = true
        else sb.append(lc.toChar)
      } else if (lc == WordStream.ISep) {
        if (sb.length >= maxMarkerLen) overflow = true else sb.append('i')
        endToken()
      } else endToken()
      i += 1
    }
    endToken()

    // earliest-max argmax (strict > keeps the first language)
    var best = 0
    var l = 1
    while (l < nLangs) {
      if (counts(l) > counts(best)) best = l
      l += 1
    }
    InternalRow(UTF8String.fromString(markers(best)._1), counts(best))
  }

  override protected def doGenCode(
      ctx: org.apache.spark.sql.catalyst.expressions.codegen.CodegenContext,
      ev: org.apache.spark.sql.catalyst.expressions.codegen.ExprCode)
      : org.apache.spark.sql.catalyst.expressions.codegen.ExprCode = {
    val ref = ctx.addReferenceObj("langIdExpr", this, classOf[LangId].getName)
    defineCodeGen(ctx, ev, c => s"$ref.evalUtf8($c)")
  }

  override protected def withNewChildInternal(newChild: Expression): LangId =
    copy(child = newChild)
}
