package graft.backend

import graft.functions.K
import graft.model.Safetensors

/** Learned per-head q_norm/k_norm gains — the two `[head_dim]` RMSNorm
  * weights the reference's Qwen3 attention applies to the reshaped
  * q/k projections BEFORE rotation
  * (/root/reference/src/models/qwen3.rs:765-767 `Qwen3RMSNorm::new(
  * head_dim, ...)`, applied at :797-807): ONE gain vector of head_dim
  * entries, shared across every head. Gains are 1 + k/2048 (exact in
  * F32, re-quantized to 2048 + k on load), a distinct constant
  * stream; single-file checkpoint. */
object QkNormBank {
  import K.{B3, C3}

  val HeadDim: Int = AttnBank.HeadDim

  /** Gain numerator k at gain index i (q_norm = 0..D−1,
    * k_norm = D..2D−1). */
  def gainK(i: Int): Long = (((i + 1).toLong * C3 + B3) % 2049L) - 1024L

  private def gainFloats(off: Int): Array[Float] =
    Array.tabulate(HeadDim)(d => (1.0 + gainK(off + d).toDouble / 2048.0).toFloat)

  def files: Map[String, Array[Byte]] = Map(
    "model.safetensors" -> Safetensors.write(Seq(
      ("model.layers.0.self_attn.q_norm.weight", Seq(HeadDim), gainFloats(0)),
      ("model.layers.0.self_attn.k_norm.weight", Seq(HeadDim), gainFloats(HeadDim)))))

  /** Resolve → load → re-quantize: (q_norm gains, k_norm gains) as
    * 2048 + k longs. */
  def loaded: (IndexedSeq[Long], IndexedSeq[Long]) = {
    val sh = Safetensors.resolved(files)
    def quant(name: String): IndexedSeq[Long] = sh.quantized(name, 2048L).toIndexedSeq
    (quant("model.layers.0.self_attn.q_norm.weight"),
      quant("model.layers.0.self_attn.k_norm.weight"))
  }
}
