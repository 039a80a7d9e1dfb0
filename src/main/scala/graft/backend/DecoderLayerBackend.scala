package graft.backend

import graft.functions.K

/** The COMPLETE learned decoder layer — the reference's
  * `Qwen3DecoderLayer::forward` composition (/root/reference/src/models/
  * qwen3.rs:871-893) with every weight read from the [[LayerBank]]
  * three-shard checkpoint:
  *
  * {{{
  *   residual = x
  *   h  = input_layernorm(x)            // learned RMSNorm gains
  *   h  = self_attn(h, rope, mask)      // the q86 GQA block
  *   x  = residual + h                  // residual add 1
  *   residual = x
  *   h2 = post_attention_layernorm(x)   // learned RMSNorm gains
  *   h2 = mlp(h2)                       // the q87 gated-MLP block
  *   x  = residual + h2                 // residual add 2
  *   ...
  *   out = model.norm(x)                // final norm (qwen3.rs:926-930)
  * }}}
  *
  * then last-token pooling and l2 normalize — the reference's
  * single-layer model shape end-to-end. RMSNorm follows qwen3.rs:38-47
  * (`x · weight / sqrt(mean(x²) + eps)`, eps 1e-6).
  *
  * The residual stream is fixed-point int64 at scale [[DecoderLayerBackend.QS]]:
  * each stage's double arithmetic (the norm scale, the per-head mix,
  * the o_proj/down_proj rescale) is a per-element rational expression
  * with one fixed parenthesization mirrored verbatim in the DuckDB
  * oracle (`OracleSql.q88_decoder_layer`), quantized back to longs
  * before anything crosses elements — so the whole layer is exact,
  * batch-composition invariant, and bit-identical to the pad-free
  * oracle. Attention internals (projection reduce into Z_M3, head-local
  * rational rotation, repeat_kv, quantized per-head mix) are exactly
  * the q86 [[GqaAttentionBackend]] semantics over the NORMALIZED
  * states; the MLP is the q87 [[GatedMlpBackend]] semantics. Layers
  * stack by feeding [[layerOut]] states back in (spec-pinned). */
final case class DecoderLayerBackend(
    layers: IndexedSeq[LayerBank.Weights],
    gFinal: IndexedSeq[Long],
    padId: Long = 0L,
    // Some(flat [vocab·H] k/1024 numerators) → LEARNED token
    // embeddings: an in-vocab id's table row IS its layer-0 residual
    // stream (the reference's embed_tokens output is the hidden state,
    // qwen3.rs:892-925), quantized to the fixed-point scale;
    // out-of-table ids fall back to the hash stream. None → hash.
    embTable: Option[IndexedSeq[Long]] = None,
    vocabSize: Int = EmbTableBank.VocabSize) extends EmbeddingBackend {
  // pooledHidden pads the whole micro-batch to its longest sequence
  override def padsBatchLongest: Boolean = true
  import K.{M3, A3, B3, C3}
  import DecoderLayerBackend.{QS, QSd, RmsEps}
  import AttnBank.{Hidden => H, NHeads, HeadDim => D, QOut, KvOut}
  import MlpBank.Inter

  require(layers.nonEmpty && gFinal.length == H)
  embTable.foreach(t => require(t.length == vocabSize * H,
    s"embedding table of ${t.length} != $vocabSize x $H"))
  layers.foreach { w =>
    require(w.attn.length == AttnBank.Total && w.mlp.length == MlpBank.Total)
    require(w.g1.length == H && w.g2.length == H)
  }

  def dim: Int = H

  private val kvGroups = NHeads / AttnBank.NKvHeads
  private val offK = QOut * H
  private val offV = offK + KvOut * H
  private val offO = offV + KvOut * H
  private val offUp = Inter * H
  private val offDown = 2 * Inter * H
  // unboxed copies, made once per instance (the layers' own copies live
  // on LayerBank.Weights)
  @transient private lazy val gFinalA: Array[Long] = gFinal.toArray
  @transient private lazy val embA: Array[Long] = embTable.map(_.toArray).orNull

  /** The embedding state — the layer-0 residual stream. With a learned
    * table and an in-vocab id: the real table row quantized to the
    * fixed-point scale (k/1024 values are exact in double, so
    * `floor(k/1024 · QS + 0.5)` is the one parenthesization mirrored
    * in the oracle). Otherwise: the hash cell scaled into [0, QS) by
    * exact integer division. */
  def s0(t: Long): Array[Long] = {
    val out = new Array[Long](H)
    val emb = embA
    var d = 0
    if (emb != null && t >= 0 && t < vocabSize) {
      val base = (t * H).toInt
      while (d < H) { out(d) = math.floor(emb(base + d).toDouble / 1024.0 * QSd + 0.5).toLong; d += 1 }
    } else {
      while (d < H) { out(d) = (((t % M3) * A3 + d.toLong * B3 + C3) % M3) * QS / M3; d += 1 }
    }
    out
  }

  /** Learned RMSNorm, quantized back to the fixed-point stream:
    * out = round(((s/QS) / sqrt(mean((s/QS)²) + eps)) · gain · QS). */
  private def rmsNormQ(s: Array[Long], g: Array[Long]): Array[Long] = {
    var sq = 0L
    var e = 0
    while (e < H) { sq += s(e) * s(e); e += 1 }
    val rms = math.sqrt((sq.toDouble / QSd / QSd) / H.toDouble + RmsEps)
    val out = new Array[Long](H)
    var i = 0
    while (i < H) {
      out(i) = math.floor(((s(i).toDouble / QSd) / rms) * (g(i).toDouble / 2048.0) * QSd + 0.5).toLong
      i += 1
    }
    out
  }

  /** The final model norm — doubles, feeds l2 directly. */
  def finalNormD(s: Array[Long]): Array[Double] = {
    var sq = 0L
    var e = 0
    while (e < H) { sq += s(e) * s(e); e += 1 }
    val rms = math.sqrt((sq.toDouble / QSd / QSd) / H.toDouble + RmsEps)
    val g = gFinalA
    val out = new Array[Double](H)
    var i = 0
    while (i < H) { out(i) = ((s(i).toDouble / QSd) / rms) * (g(i).toDouble / 2048.0); i += 1 }
    out
  }

  /** Projected cell d of layer weights' attention block at `off`, from
    * a normalized state vector, reduced into [0, M3) — the q86 proj
    * over x1 instead of raw hash cells. */
  @inline private def projA(attn: Array[Long], x: Array[Long], off: Int, d: Int): Long = {
    var s = 0L
    var e = 0
    val base = off + d * H
    while (e < H) { s += attn(base + e) * x(e); e += 1 }
    (s % M3 + M3) % M3
  }

  /** q86's head-local rational rotation over projected cells. */
  private def rotProjInto(attn: Array[Long], x: Array[Long], p: Int, off: Int, width: Int, out: Array[Long]): Unit = {
    var i = 0
    while (i < width) { // step by pairs: each projects its two cells once
      val hh = (i % D) / 2
      val x0 = projA(attn, x, off, i)
      val x1 = projA(attn, x, off, i + 1)
      val u = (p + hh + 2).toLong
      val c = u * u - 1L
      val s = 2L * u
      out(i) = (((x0 * c - x1 * s) % M3) + M3) % M3
      out(i + 1) = (((x0 * s + x1 * c) % M3) + M3) % M3
      i += 2
    }
  }

  /** Per-head score/mix over PRECOMPUTED rotated q and per-position
    * rotated k / projected v, then the z → o_proj+residual → norm →
    * MLP+residual tail — shared by the one-query and all-positions
    * layer entry points (identical arithmetic). */
  private def attnMlpTail(w: LayerBank.Weights, sQi: Array[Long], qq: Array[Long],
                          kk: Array[Array[Long]], vv: Array[Array[Long]],
                          mask: Array[Int], qi: Int): Array[Long] = {
    val attn = w.attnA
    val mlp = w.mlpA
    val y = new Array[Long](QOut)
    val tw = new Array[Long](NHeads)
    var j = 0
    while (j <= qi) { // additive causal + padding mask → skip
      if (mask(j) == 1) {
        val kj = kk(j)
        val vj = vv(j)
        var n = 0
        while (n < NHeads) {
          val kvHead = n / kvGroups // repeat_kv
          var s = 0L
          var d = 0
          while (d < D) { s += qq(n * D + d) * kj(kvHead * D + d); d += 1 }
          val wgt = (s % M3) + 1L
          var d2 = 0
          while (d2 < D) { y(n * D + d2) += wgt * vj(kvHead * D + d2); d2 += 1 }
          tw(n) += wgt
          n += 1
        }
      }
      j += 1
    }
    val z = new Array[Long](QOut)
    var i = 0
    while (i < QOut) {
      val m = (y(i).toDouble / tw(i / D).toDouble / M3.toDouble) * 2.0 - 1.0
      z(i) = math.floor(m * QSd + 0.5).toLong
      i += 1
    }
    // o_proj back to the residual-stream scale: weights are k/1024
    // fixed-point numerators, so the matmul result divides by 1024
    val r1 = new Array[Long](H)
    var dd = 0
    while (dd < H) {
      var s = 0L
      var e = 0
      val base = offO + dd * QOut
      while (e < QOut) { s += attn(base + e) * z(e); e += 1 }
      r1(dd) = sQi(dd) + math.floor(s.toDouble / 1024.0 + 0.5).toLong
      dd += 1
    }
    // ---- gated MLP (q87 semantics over the post-attention norm) ----
    val x2 = rmsNormQ(r1, w.g2A)
    @inline def projM(off: Int, i: Int): Long = {
      var s = 0L
      var e = 0
      val base = off + i * H
      while (e < H) { s += mlp(base + e) * x2(e); e += 1 }
      (s % M3 + M3) % M3
    }
    // gated activation lanes, computed once and reused across dims
    val al = new Array[Long](Inter)
    var ii = 0
    while (ii < Inter) {
      val act = math.max(0L, projM(0, ii) - GatedMlpBackend.Center)
      if (act != 0L) al(ii) = act * projM(offUp, ii)
      ii += 1
    }
    val r2 = new Array[Long](H)
    var d = 0
    while (d < H) {
      var s = 0L
      var i2 = 0
      val base = offDown + d * Inter
      while (i2 < Inter) { s += mlp(base + i2) * al(i2); i2 += 1 }
      // down_proj rescale: k/1024 weights over two Z_M3 factors
      r2(d) = r1(d) + math.floor((s.toDouble / 1024.0 / M3.toDouble / M3.toDouble) * QSd + 0.5).toLong
      d += 1
    }
    r2
  }

  /** Rotated k and projected v of every real position — computed ONCE
    * per layer pass and shared across queries. */
  private def kvPrecomp(w: LayerBank.Weights, x1: Array[Array[Long]], mask: Array[Int],
                        pos: Array[Int]): (Array[Array[Long]], Array[Array[Long]]) = {
    val attn = w.attnA
    val seqLen = x1.length
    val kk = new Array[Array[Long]](seqLen)
    val vv = new Array[Array[Long]](seqLen)
    var j = 0
    while (j < seqLen) {
      if (mask(j) == 1) {
        val k = new Array[Long](KvOut)
        rotProjInto(attn, x1(j), pos(j), offK, KvOut, k)
        kk(j) = k
        val v = new Array[Long](KvOut)
        var d = 0
        while (d < KvOut) { v(d) = projA(attn, x1(j), offV, d); d += 1 }
        vv(j) = v
      }
      j += 1
    }
    (kk, vv)
  }

  /** One decoder layer at query index `qi`: input states (fixed-point
    * residual stream, one per tensor position) → the post-layer state
    * at `qi` (fixed-point longs). Exposed so specs can stack layers. */
  def layerOut(w: LayerBank.Weights, states: IndexedSeq[Array[Long]], mask: Array[Int], pos: Array[Int], qi: Int): Array[Long] = {
    require(mask(qi) == 1, s"query index $qi is a padded position")
    val seqLen = states.length
    val x1 = Array.tabulate(seqLen)(j =>
      if (mask(j) == 1 || j == qi) rmsNormQ(states(j), w.g1A) else null)
    val (kk, vv) = kvPrecomp(w, x1, mask, pos)
    val qq = new Array[Long](QOut)
    rotProjInto(w.attnA, x1(qi), pos(qi), 0, QOut, qq)
    attnMlpTail(w, states(qi), qq, kk, vv, mask, qi)
  }

  /** One decoder layer advanced at EVERY real position — the
    * non-final-layer step of the stack. Pad positions carry their
    * input state (every consumer masks them). The per-position k/v
    * projections are computed once and shared across queries, so a
    * full pass is O(n²) in the cheap score/mix arithmetic only. */
  def layerAllOut(w: LayerBank.Weights, states: IndexedSeq[Array[Long]], mask: Array[Int],
                  pos: Array[Int]): IndexedSeq[Array[Long]] = {
    val seqLen = states.length
    val x1 = Array.tabulate(seqLen)(j =>
      if (mask(j) == 1) rmsNormQ(states(j), w.g1A) else null)
    val (kk, vv) = kvPrecomp(w, x1, mask, pos)
    (0 until seqLen).map { qi =>
      if (mask(qi) == 0) states(qi)
      else {
        val qq = new Array[Long](QOut)
        rotProjInto(w.attnA, x1(qi), pos(qi), 0, QOut, qq)
        attnMlpTail(w, states(qi), qq, kk, vv, mask, qi)
      }
    }
  }

  def embedBatch(batch: Seq[Array[Long]]): Seq[Array[Double]] =
    pooledHidden(batch).map(l2normalized)

  /** Post-stack per-position states of EVERY real position, pad-free
    * (fixed-point longs, before the final model norm) — the per-token
    * hidden sequence a ColBERT or vocab-projection head consumes (the
    * reference's BGE-M3 emits per-token outputs the same way:
    * /root/reference/src/bgem3_embedding/impl.rs:218,273-281). Every
    * layer advances every position; per-doc, so batch composition is
    * trivially irrelevant. */
  def allStates(tids: Array[Long]): IndexedSeq[Array[Long]] = {
    if (tids.isEmpty) return IndexedSeq.empty
    val n = tids.length
    val mask = Array.fill(n)(1)
    val pos = (0 until n).toArray
    var states: IndexedSeq[Array[Long]] = (0 until n).map(j => s0(tids(j)))
    var l = 0
    while (l < layers.length) {
      states = layerAllOut(layers(l), states, mask, pos)
      l += 1
    }
    states
  }

  /** SPLADE-style sparse extraction through the TIED vocab head: with
    * `tie_word_embeddings` (qwen3.rs:39, set true by the reference's
    * Qwen3 configs, :1491) the output projection IS `embed_tokens`, so
    * token j's logit for vocab id v is the exact int64 dot of its
    * post-stack state with the learned table row. relu then max-merge
    * across tokens (the reference's `(1 + x.max(0.0))`-style rectify,
    * sparse_text_embedding/impl.rs:229, kept in exact integers — the
    * established no-ln gate form), zeros dropped. */
  def tiedSparseWeights(tids: Array[Long]): Seq[(Long, Long)] = {
    val emb = embA
    if (emb == null) throw new IllegalStateException(
      "tiedSparseWeights needs the learned embed table (the tied head)")
    if (tids.isEmpty) return Seq.empty
    val states = allStates(tids)
    val out = new Array[Long](vocabSize)
    states.foreach { st =>
      var v = 0
      while (v < vocabSize) {
        var s = 0L
        var d = 0
        while (d < H) { s += st(d) * emb(v * H + d); d += 1 }
        if (s > out(v)) out(v) = s
        v += 1
      }
    }
    (0 until vocabSize).iterator
      .filter(v => out(v) > 0L)
      .map(v => (v.toLong, out(v))).toSeq
  }

  /** Learned ColBERT head: per-token vectors — every post-stack state
    * except the FIRST token's (the reference's colbert output is
    * `[batch, seq_len - 1, dim]`, the leading special dropped:
    * bgem3_embedding/impl.rs:218,277) projected through a real
    * [outDim × hidden] F32 row-major matrix (k/1024 numerators), then
    * l2-normalized per token. One fixed scale order
    * (`sum / QS / 1024`) mirrored in the oracle. */
  def colbertTokens(tids: Array[Long], w: IndexedSeq[Long], outDim: Int): Seq[Array[Double]] =
    colbertTokens(tids, w.toArray, outDim)

  /** [[colbertTokens]] over an unboxed head, the per-row form. */
  private[backend] def colbertTokens(tids: Array[Long], w: Array[Long], outDim: Int): Seq[Array[Double]] = {
    require(w.length == outDim * H, s"head of ${w.length} != $outDim x $H")
    if (tids.length < 2) return Seq.empty
    allStates(tids).drop(1).map { st =>
      val y = new Array[Double](outDim)
      var k = 0
      while (k < outDim) {
        var s = 0L
        var d = 0
        while (d < H) { s += st(d) * w(k * H + d); d += 1 }
        y(k) = s.toDouble / QSd / 1024.0
        k += 1
      }
      l2normalized(y)
    }
  }

  /** The pooled PRE-normalize hidden state per row: the final hidden at
    * the last real token through the model norm, WITHOUT l2 — what a
    * sequence-classification head consumes (the reference reranker
    * reads raw `logits`, /root/reference/src/reranking/impl.rs:167-180).
    * `embedBatch` is exactly this + l2 (a zero row l2-normalizes to
    * itself, so the empty-encoding contract is unchanged). */
  def pooledHidden(batch: Seq[Array[Long]]): Seq[Array[Double]] = {
    if (batch.isEmpty) return Seq.empty
    val seqLen = math.max(1, batch.iterator.map(_.length).max)
    batch.map { tids =>
      if (tids.isEmpty) new Array[Double](dim)
      else {
        val padLen = seqLen - tids.length
        val ids = new Array[Long](seqLen)
        val mask = new Array[Int](seqLen)
        var i = 0
        while (i < padLen) { ids(i) = padId; i += 1 }
        while (i < seqLen) { ids(i) = tids(i - padLen); mask(i) = 1; i += 1 }
        val pos = new Array[Int](seqLen)
        var c = 0
        i = 0
        while (i < seqLen) {
          if (mask(i) == 1) c += 1
          pos(i) = math.max(0, c - 1)
          i += 1
        }
        var states: IndexedSeq[Array[Long]] = (0 until seqLen).map(j => s0(ids(j)))
        // the reference's layer loop (qwen3.rs:897-931): every layer
        // but the last advances ALL real positions (its outputs are the
        // next layer's keys/values); the last layer runs only at the
        // pooled query. Pad positions keep a placeholder state — every
        // consumer masks them.
        var l = 0
        while (l < layers.length - 1) {
          states = layerAllOut(layers(l), states, mask, pos)
          l += 1
        }
        // last-token pooling through the final norm (left padding makes
        // seqLen−1 the real last token)
        finalNormD(layerOut(layers.last, states, mask, pos, seqLen - 1))
      }
    }
  }

  private def l2normalized(v: Array[Double]): Array[Double] = {
    var ss = 0.0
    var j = 0
    while (j < v.length) { ss += v(j) * v(j); j += 1 }
    val norm = math.sqrt(ss) + K.Eps
    var k = 0
    while (k < v.length) { v(k) = v(k) / norm; k += 1 }
    v
  }
}

object DecoderLayerBackend {
  /** Fixed-point scale of the residual stream. */
  val QS: Long = 1000000L
  val QSd: Double = 1000000.0
  /** The reference's rms_norm_eps (qwen3.rs:35, config default 1e-6). */
  val RmsEps: Double = 1e-6

  /** The q88 instance: layer 0 + final norm from the [[LayerBank]]
    * three-shard checkpoint. */
  def fromBank(): DecoderLayerBackend = {
    val (l0, gf) = LayerBank.loaded
    DecoderLayerBackend(IndexedSeq(l0), gf)
  }

  /** The q90 instance: the full [[LayerBank.NLayers]]-deep stack with
    * distinct per-layer weights. */
  def stacked(): DecoderLayerBackend = {
    val (ls, gf) = LayerBank.loadedStack
    DecoderLayerBackend(ls, gf)
  }

  /** The q95 instance: the COMPLETE learned model from the one
    * checkpoint — learned `model.embed_tokens` seeding the residual
    * stream, the full decoder stack, the final model norm. Composed
    * with the real-vocab WordPiece tokenizer every gated id is
    * in-table, so no stage of the forward touches the hash stream. */
  def fullModel(): DecoderLayerBackend = full

  // one instance per JVM, so its registry key and unboxed weights are
  // derived once
  private lazy val full: DecoderLayerBackend = {
    val (emb, ls, gf) = LayerBank.loadedFull
    DecoderLayerBackend(ls, gf, embTable = Some(emb))
  }
}
