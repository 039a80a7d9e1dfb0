package graft.backend

import graft.functions.K
import graft.model.Safetensors

/** The FULL learned NomicBert-MoE checkpoint — every tensor the
  * reference's `NomicBertModel::new` VarBuilder walk pulls
  * (/root/reference/src/models/nomic_v2_moe.rs:594-607):
  * `embeddings.word_embeddings` + `embeddings.token_type_embeddings`
  * (:180-190), the separate `emb_ln` LayerNorm (:597), and per block
  * `encoder.layers.{l}.` (:560-561) the combined `attn.Wqkv` +
  * `attn.out_proj` Linears WITH biases (`qkv_proj_bias` defaults
  * true, :56-57,227-236), the post-norm pair `norm1`/`norm2`
  * (:528-529), and the block's MLP — layer 0 a standard
  * `mlp.fc1`/`mlp.fc2` (with biases, :324-338), layer 1 the
  * megablocks MoE tensor set `mlp.router.layer.weight` +
  * `mlp.experts.mlp.w1`/`w2` + `mlp.experts.bias` (:366-371,
  * q93's key layout) — `is_moe = layer_idx % moe_every_n_layers == 1`
  * with the default every-2 (:521, :72-74).
  *
  * Spread over a TWO-shard checkpoint ([[Safetensors.shardFileNames]])
  * so the sharded-resolution probe stays on the loaded path. Weights
  * are k/1024 F32 (exact), norm gains 1 + k/2048, from streams
  * disjoint from every other bank's (base offset 20000 on the
  * (B3, A3) multiplier pair; gains on the otherwise-unused (B3, C3)
  * mod-2049 pair). */
object NomicBank {
  import K.{A3, B3, C3}

  val Hidden: Int = 8
  val NHeads: Int = 2
  val HeadDim: Int = 4
  /** rotary_emb_fraction = 0.5 → rotate the first 2 dims of each head,
    * pass the tail through — the `rotary_dim < head_dim` narrow/concat
    * branch of `apply_rotary_emb` (nomic_v2_moe.rs:146-156). */
  val RotaryDim: Int = 2
  val Inter: Int = 4
  val NExperts: Int = 4
  val VocabSize: Int = EmbTableBank.VocabSize // the WordPiece fixture id space
  val TypeVocab: Int = 1 // default_type_vocab_size (nomic_v2_moe.rs:65-67)
  val NLayers: Int = 2
  val Scale: Long = 1024L
  val GainScale: Long = 2048L
  /** layer_norm_epsilon default (nomic_v2_moe.rs:83-85). */
  val LnEps: Double = 1e-5

  /** One shared weight stream; every tensor owns a disjoint base range. */
  def weightK(i: Int): Long = (((i + 1 + 20000).toLong * B3 + A3) % 4001L) - 2000L
  /** Norm gain numerators: 1 + k/2048 exact in F32. */
  def gainK(i: Int): Long = (((i + 1).toLong * B3 + C3) % 2049L) - 1024L

  // global index layout (single stream, disjoint per-tensor ranges)
  val OffWord: Int = 0
  val OffType: Int = OffWord + VocabSize * Hidden
  val OffEmbLnB: Int = OffType + Hidden
  private val LayerBase0: Int = OffEmbLnB + Hidden
  // per-layer relative offsets
  val RWqkv: Int = 0
  val RWqkvB: Int = RWqkv + 3 * Hidden * Hidden
  val ROut: Int = RWqkvB + 3 * Hidden
  val ROutB: Int = ROut + Hidden * Hidden
  val RN1B: Int = ROutB + Hidden
  val RN2B: Int = RN1B + Hidden
  val RMlp: Int = RN2B + Hidden
  // layer-0 std MLP block: fc1 [I×H] + fc1b [I] + fc2 [H×I] + fc2b [H]
  val RFc1: Int = RMlp
  val RFc1B: Int = RFc1 + Inter * Hidden
  val RFc2: Int = RFc1B + Inter
  val RFc2B: Int = RFc2 + Hidden * Inter
  // layer-1 MoE block: router [E×H] + w1 [E·I×H] + w2 [E·I×H] + bias [H]
  val RRouter: Int = RMlp
  val RW1: Int = RRouter + NExperts * Hidden
  val RW2: Int = RW1 + NExperts * Inter * Hidden
  val REb: Int = RW2 + NExperts * Inter * Hidden
  val LayerSpan: Int = REb + Hidden // the MoE block is the wider one

  def layerBase(l: Int): Int = LayerBase0 + l * LayerSpan

  // gain-stream layout: emb_ln, then (norm1, norm2) per layer
  val GEmbLn: Int = 0
  def gN1(l: Int): Int = Hidden + 2 * l * Hidden
  def gN2(l: Int): Int = 2 * Hidden + 2 * l * Hidden

  private def wSlice(base: Int, len: Int): Array[Float] =
    Array.tabulate(len)(j => weightK(base + j).toFloat / Scale)
  private def gSlice(base: Int, len: Int): Array[Float] =
    Array.tabulate(len)(j => (1.0 + gainK(base + j).toDouble / 2048.0).toFloat)

  /** Two shards, candle tensor names. */
  def shardFiles: Map[String, Array[Byte]] = {
    val names = Safetensors.shardFileNames(2)
    val H = Hidden
    def attn(l: Int) = {
      val b = layerBase(l)
      Seq(
        (s"encoder.layers.$l.attn.Wqkv.weight", Seq(3 * H, H), wSlice(b + RWqkv, 3 * H * H)),
        (s"encoder.layers.$l.attn.Wqkv.bias", Seq(3 * H), wSlice(b + RWqkvB, 3 * H)),
        (s"encoder.layers.$l.attn.out_proj.weight", Seq(H, H), wSlice(b + ROut, H * H)),
        (s"encoder.layers.$l.attn.out_proj.bias", Seq(H), wSlice(b + ROutB, H)))
    }
    def norms(l: Int) = {
      val b = layerBase(l)
      Seq(
        (s"encoder.layers.$l.norm1.weight", Seq(H), gSlice(gN1(l), H)),
        (s"encoder.layers.$l.norm1.bias", Seq(H), wSlice(b + RN1B, H)),
        (s"encoder.layers.$l.norm2.weight", Seq(H), gSlice(gN2(l), H)),
        (s"encoder.layers.$l.norm2.bias", Seq(H), wSlice(b + RN2B, H)))
    }
    val b0 = layerBase(0)
    val b1 = layerBase(1)
    Map(
      names(0) -> Safetensors.write(
        Seq(
          ("embeddings.word_embeddings.weight", Seq(VocabSize, H), wSlice(OffWord, VocabSize * H)),
          ("embeddings.token_type_embeddings.weight", Seq(TypeVocab, H), wSlice(OffType, H)),
          ("emb_ln.weight", Seq(H), gSlice(GEmbLn, H)),
          ("emb_ln.bias", Seq(H), wSlice(OffEmbLnB, H))) ++
          (0 until NLayers).flatMap(attn)),
      names(1) -> Safetensors.write(
        (0 until NLayers).flatMap(norms) ++ Seq(
          ("encoder.layers.0.mlp.fc1.weight", Seq(Inter, H), wSlice(b0 + RFc1, Inter * H)),
          ("encoder.layers.0.mlp.fc1.bias", Seq(Inter), wSlice(b0 + RFc1B, Inter)),
          ("encoder.layers.0.mlp.fc2.weight", Seq(H, Inter), wSlice(b0 + RFc2, H * Inter)),
          ("encoder.layers.0.mlp.fc2.bias", Seq(H), wSlice(b0 + RFc2B, H)),
          ("encoder.layers.1.mlp.router.layer.weight", Seq(NExperts, H), wSlice(b1 + RRouter, NExperts * H)),
          ("encoder.layers.1.mlp.experts.mlp.w1", Seq(NExperts * Inter, H), wSlice(b1 + RW1, NExperts * Inter * H)),
          ("encoder.layers.1.mlp.experts.mlp.w2", Seq(NExperts * Inter, H), wSlice(b1 + RW2, NExperts * Inter * H)),
          ("encoder.layers.1.mlp.experts.bias", Seq(H), wSlice(b1 + REb, H)))))
  }

  /** The standard (layer-0) MLP tensors, quantized to numerators. */
  final case class MlpStd(fc1: IndexedSeq[Long], fc1b: IndexedSeq[Long],
                          fc2: IndexedSeq[Long], fc2b: IndexedSeq[Long]) extends Serializable
  /** The megablocks MoE (layer-1) tensors. */
  final case class MlpMoe(router: IndexedSeq[Long], w1: IndexedSeq[Long],
                          w2: IndexedSeq[Long], eb: IndexedSeq[Long]) extends Serializable
  final case class LayerW(wqkv: IndexedSeq[Long], wqkvB: IndexedSeq[Long],
                          outW: IndexedSeq[Long], outB: IndexedSeq[Long],
                          n1w: IndexedSeq[Long], n1b: IndexedSeq[Long],
                          n2w: IndexedSeq[Long], n2b: IndexedSeq[Long],
                          std: Option[MlpStd], moe: Option[MlpMoe]) extends Serializable
  final case class Weights(word: IndexedSeq[Long], typeRow: IndexedSeq[Long],
                           embLnW: IndexedSeq[Long], embLnB: IndexedSeq[Long],
                           layers: IndexedSeq[LayerW]) extends Serializable

  private def load(): Weights = {
    val sh = Safetensors.resolved(shardFiles)
    def quant(name: String, scale: Long): IndexedSeq[Long] = sh.quantized(name, scale).toIndexedSeq
    val layers = (0 until NLayers).map { l =>
      val p = s"encoder.layers.$l"
      LayerW(
        quant(s"$p.attn.Wqkv.weight", Scale), quant(s"$p.attn.Wqkv.bias", Scale),
        quant(s"$p.attn.out_proj.weight", Scale), quant(s"$p.attn.out_proj.bias", Scale),
        quant(s"$p.norm1.weight", GainScale), quant(s"$p.norm1.bias", Scale),
        quant(s"$p.norm2.weight", GainScale), quant(s"$p.norm2.bias", Scale),
        std = if (l % 2 == 0) Some(MlpStd(
          quant(s"$p.mlp.fc1.weight", Scale), quant(s"$p.mlp.fc1.bias", Scale),
          quant(s"$p.mlp.fc2.weight", Scale), quant(s"$p.mlp.fc2.bias", Scale))) else None,
        moe = if (l % 2 == 1) Some(MlpMoe(
          quant(s"$p.mlp.router.layer.weight", Scale),
          quant(s"$p.mlp.experts.mlp.w1", Scale),
          quant(s"$p.mlp.experts.mlp.w2", Scale),
          quant(s"$p.mlp.experts.bias", Scale))) else None)
    }
    Weights(
      quant("embeddings.word_embeddings.weight", Scale),
      quant("embeddings.token_type_embeddings.weight", Scale),
      quant("emb_ln.weight", GainScale), quant("emb_ln.bias", Scale),
      layers)
  }

  /** Parsed once per JVM. */
  lazy val loaded: Weights = load()
}
