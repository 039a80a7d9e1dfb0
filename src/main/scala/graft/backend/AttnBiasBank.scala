package graft.backend

import graft.functions.K
import graft.model.Safetensors

/** Learned ATTENTION BIASES — the `attention_bias = true` branch of
  * the reference's Qwen3 attention (/root/reference/src/models/
  * qwen3.rs:743-763: `linear(...)` instead of `linear_no_bias(...)`
  * for all four projections): `.bias` vectors for q/k/v at their
  * projection widths and for o_proj at the hidden width, under the
  * candle names. Single-file checkpoint; quantized integer numerators;
  * a distinct constant stream (C3·A3 pair, modulus 3001). */
object AttnBiasBank {
  import K.{A3, C3}
  import AttnBank.{QOut, KvOut, Hidden}

  val OffQ: Int = 0
  val OffK: Int = OffQ + QOut
  val OffV: Int = OffK + KvOut
  val OffO: Int = OffV + KvOut
  val Total: Int = OffO + Hidden
  val Scale: Long = 1024L

  /** Integer numerator at flat index i (q/k/v/o bias order). */
  def biasK(i: Int): Long = (((i + 1).toLong * C3 + A3) % 3001L) - 1500L

  private def slice(off: Int, len: Int): Array[Float] =
    Array.tabulate(len)(j => biasK(off + j).toFloat / Scale)

  private val layout: Seq[(String, Int, Int)] = Seq(
    ("model.layers.0.self_attn.q_proj.bias", OffQ, QOut),
    ("model.layers.0.self_attn.k_proj.bias", OffK, KvOut),
    ("model.layers.0.self_attn.v_proj.bias", OffV, KvOut),
    ("model.layers.0.self_attn.o_proj.bias", OffO, Hidden))

  def files: Map[String, Array[Byte]] = Map(
    "model.safetensors" -> Safetensors.write(
      layout.map { case (n, off, len) => (n, Seq(len), slice(off, len)) }))

  /** Resolve → load → re-quantize: the flat [[Total]] integer bank. */
  def loadedQuantized: IndexedSeq[Long] = {
    val sh = Safetensors.resolved(files)
    layout.flatMap { case (name, _, _) => sh.quantized(name, Scale) }.toIndexedSeq
  }
}
