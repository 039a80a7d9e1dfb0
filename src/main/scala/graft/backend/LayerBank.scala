package graft.backend

import graft.functions.K
import graft.model.Safetensors

/** The FULL learned decoder-stack checkpoint — every tensor of
  * [[NLayers]] Qwen3 decoder layers plus the model-level final norm,
  * exactly the parameter set the reference's layer loop +
  * `model.norm` pull from a candle VarBuilder
  * (/root/reference/src/models/qwen3.rs:897-931: `layers.{l}.` prefix
  * per layer), spread over a THREE-SHARD checkpoint with mixed tensor
  * kinds per shard — the realistic sharded-model layout.
  *
  * Layer 0's attention and MLP tensors reuse the
  * [[AttnBank]]/[[MlpBank]] generating formulas — the q86/q87 banks
  * ARE that layer's blocks (spec-pinned equal), so the composed layer
  * is built from the same learned pieces gated individually; layer
  * l ≥ 1 continues the same streams at offset l·Total. Norm gains are
  * 1 + k/2048 (exact in F32; re-quantized to 2048 + k on load), a
  * distinct constant stream, laid out g1₀, g2₀, final, g1₁, g2₁, … so
  * the single-layer (q88) gain indices are stable. */
object LayerBank {
  import K.{A3, C3}

  val Hidden: Int = AttnBank.Hidden
  val NLayers: Int = 2
  val GainScale: Long = 2048L

  /** Gain numerator k at gain index i. Layout: [0, H) = layer-0
    * input_layernorm, [H, 2H) = layer-0 post_attention_layernorm,
    * [2H, 3H) = model.norm, then [3H, 5H) = layer-1 norms, etc. */
  def gainK(i: Int): Long = (((i + 1).toLong * A3 + C3) % 2049L) - 1024L

  /** Gain base index of layer l's two norms. */
  def gainBase(l: Int): Int = if (l == 0) 0 else (1 + 2 * l) * Hidden

  private def gainFloats(off: Int): Array[Float] =
    Array.tabulate(Hidden)(e => (1.0 + gainK(off + e).toDouble / 2048.0).toFloat)

  private def attnSlice(l: Int, off: Int, len: Int): Array[Float] =
    Array.tabulate(len)(j => AttnBank.weightK(l * AttnBank.Total + off + j).toFloat / AttnBank.Scale)

  private def mlpSlice(l: Int, off: Int, len: Int): Array[Float] =
    Array.tabulate(len)(j => MlpBank.weightK(l * MlpBank.Total + off + j).toFloat / MlpBank.Scale)

  /** Three shards, mixed tensor kinds, all layers interleaved. The
    * first shard also carries `model.embed_tokens.weight` — the
    * [[EmbTableBank]] values under the model-prefixed candle name the
    * reference's VarBuilder walk uses (qwen3.rs:892-925), so the ONE
    * checkpoint holds every parameter of the full tiny model:
    * embed_tokens + N decoder layers + model.norm. */
  def shardFiles: Map[String, Array[Byte]] = {
    import AttnBank.{QOut, KvOut, Hidden => H}
    import MlpBank.Inter
    val names = Safetensors.shardFileNames(3)
    def attnQK(l: Int) = Seq(
      (s"model.layers.$l.self_attn.q_proj.weight", Seq(QOut, H), attnSlice(l, AttnBank.OffQ, QOut * H)),
      (s"model.layers.$l.self_attn.k_proj.weight", Seq(KvOut, H), attnSlice(l, AttnBank.OffK, KvOut * H)))
    def attnVO(l: Int) = Seq(
      (s"model.layers.$l.self_attn.v_proj.weight", Seq(KvOut, H), attnSlice(l, AttnBank.OffV, KvOut * H)),
      (s"model.layers.$l.self_attn.o_proj.weight", Seq(H, QOut), attnSlice(l, AttnBank.OffO, H * QOut)))
    def norms(l: Int) = Seq(
      (s"model.layers.$l.input_layernorm.weight", Seq(H), gainFloats(gainBase(l))),
      (s"model.layers.$l.post_attention_layernorm.weight", Seq(H), gainFloats(gainBase(l) + Hidden)))
    def mlp(l: Int) = Seq(
      (s"model.layers.$l.mlp.gate_proj.weight", Seq(Inter, H), mlpSlice(l, MlpBank.OffGate, Inter * H)),
      (s"model.layers.$l.mlp.up_proj.weight", Seq(Inter, H), mlpSlice(l, MlpBank.OffUp, Inter * H)),
      (s"model.layers.$l.mlp.down_proj.weight", Seq(H, Inter), mlpSlice(l, MlpBank.OffDown, H * Inter)))
    val ls = 0 until NLayers
    Map(
      names(0) -> Safetensors.write(
        (("model.embed_tokens.weight",
          Seq(EmbTableBank.VocabSize, EmbTableBank.Dim): Seq[Int],
          EmbTableBank.bank)) +: ls.flatMap(attnQK)),
      names(1) -> Safetensors.write(
        ls.flatMap(attnVO) ++ ls.flatMap(norms) :+
          (("model.norm.weight", Seq(H): Seq[Int], gainFloats(2 * Hidden)))),
      names(2) -> Safetensors.write(ls.flatMap(mlp)))
  }

  /** One decoder layer's weights: attention/MLP banks in their
    * q86/q87 layouts, norm gains as 2048 + k longs. */
  final case class Weights(
      attn: IndexedSeq[Long],
      mlp: IndexedSeq[Long],
      g1: IndexedSeq[Long],
      g2: IndexedSeq[Long]) extends Serializable {
    // unboxed copies, made once per instance: the forward's hot loops
    // index them per multiply-add
    @transient private[backend] lazy val attnA: Array[Long] = attn.toArray
    @transient private[backend] lazy val mlpA: Array[Long] = mlp.toArray
    @transient private[backend] lazy val g1A: Array[Long] = g1.toArray
    @transient private[backend] lazy val g2A: Array[Long] = g2.toArray
  }

  private def load(): (IndexedSeq[Long], IndexedSeq[Weights], IndexedSeq[Long]) = {
    val sh = Safetensors.resolved(shardFiles)
    def quant(name: String, scale: Long): IndexedSeq[Long] = sh.quantized(name, scale).toIndexedSeq
    val layers = (0 until NLayers).map { l =>
      Weights(
        Seq("q_proj", "k_proj", "v_proj", "o_proj")
          .flatMap(p => quant(s"model.layers.$l.self_attn.$p.weight", AttnBank.Scale)).toIndexedSeq,
        Seq("gate_proj", "up_proj", "down_proj")
          .flatMap(p => quant(s"model.layers.$l.mlp.$p.weight", MlpBank.Scale)).toIndexedSeq,
        quant(s"model.layers.$l.input_layernorm.weight", GainScale),
        quant(s"model.layers.$l.post_attention_layernorm.weight", GainScale))
    }
    (quant("model.embed_tokens.weight", EmbTableBank.Scale),
      layers, quant("model.norm.weight", GainScale))
  }

  /** The FULL model view of the checkpoint, materialized ONCE per JVM:
    * the learned `model.embed_tokens` table (quantized to its k/1024
    * numerators, token-major — the [[EmbTableBank]] values,
    * spec-pinned equal), the decoder stack, and the final norm
    * gains. */
  lazy val loadedFull: (IndexedSeq[Long], IndexedSeq[Weights], IndexedSeq[Long]) = load()

  /** The loaded stack: per-layer weights plus the model-level final
    * norm gains (a view of [[loadedFull]] — the shards parse once). */
  def loadedStack: (IndexedSeq[Weights], IndexedSeq[Long]) =
    (loadedFull._2, loadedFull._3)

  /** Layer 0 + final gains — the single-layer (q88) view. */
  def loaded: (Weights, IndexedSeq[Long]) = {
    val (layers, gf) = loadedStack
    (layers.head, gf)
  }
}
