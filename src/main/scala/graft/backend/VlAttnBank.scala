package graft.backend

import graft.functions.K
import graft.model.Safetensors

/** Learned attention projections for the MULTIMODAL (fused-sequence)
  * forward — the reference embeds images with the same Qwen3 text
  * model after splicing vision features over the image-pad span
  * (/root/reference/src/models/qwen3.rs:1397-1452), so this is the
  * q86 projection set in the VL model's configuration: ONE head of
  * head_dim 8 (q/k/v/o all `[8 × 8]`), which makes every MRoPE id
  * plane steer a rotation angle (4 pairs → sections t, h, w, t —
  * qwen3.rs:539-710 splits the rotary width into t/h/w sections).
  * Single-file checkpoint; k/1024 fixed-point entries; a distinct
  * constant stream (same A3·B3 pair as [[AttnBank]], different
  * modulus). */
object VlAttnBank {
  import K.{A3, B3}

  val Hidden: Int = 8
  val HeadDim: Int = 8
  val Scale: Long = 1024L

  val OffQ: Int = 0
  val OffK: Int = OffQ + HeadDim * Hidden
  val OffV: Int = OffK + HeadDim * Hidden
  val OffO: Int = OffV + HeadDim * Hidden
  val Total: Int = OffO + Hidden * HeadDim

  /** Integer numerator at flat bank index i. */
  def weightK(i: Int): Long = (((i + 1).toLong * B3 + A3) % 3001L) - 1500L

  private def slice(off: Int, len: Int): Array[Float] =
    Array.tabulate(len)(j => weightK(off + j).toFloat / Scale)

  private val layout: Seq[(String, Int)] = Seq(
    ("model.layers.0.self_attn.q_proj.weight", OffQ),
    ("model.layers.0.self_attn.k_proj.weight", OffK),
    ("model.layers.0.self_attn.v_proj.weight", OffV),
    ("model.layers.0.self_attn.o_proj.weight", OffO))

  def files: Map[String, Array[Byte]] = Map(
    "model.safetensors" -> Safetensors.write(
      layout.map { case (n, off) => (n, Seq(HeadDim, Hidden), slice(off, HeadDim * Hidden)) }))

  def loadedQuantized: IndexedSeq[Long] = {
    val sh = Safetensors.resolved(files)
    layout.flatMap { case (name, _) => sh.quantized(name, Scale) }.toIndexedSeq
  }
}
