package graft.backend

import graft.functions.K
import graft.model.Safetensors

/** Learned GATED-MLP weights — the three `Linear` layers of the
  * reference's Qwen3 MLP block (/root/reference/src/models/qwen3.rs:
  * 510-536: `gate_proj`/`up_proj` expand hidden → intermediate,
  * `down_proj` contracts back), row-major `[out, in]` under the
  * candle-visible `model.layers.0.mlp.*` names, with the real
  * expansion shape (intermediate = 2 × hidden).
  *
  * Single-file `model.safetensors` with all three tensors — the
  * several-tensors-one-file case of the resolution matrix (q82 is
  * single-file/single-tensor, q86 two-shards/two-tensors-each, q83
  * one-tensor-per-shard). Same exactness scheme as the other banks. */
object MlpBank {
  import K.{A3, C3}

  val Hidden: Int = 8
  val Inter: Int = 16
  val Scale: Long = 1024L

  val OffGate: Int = 0
  val OffUp: Int = OffGate + Inter * Hidden
  val OffDown: Int = OffUp + Inter * Hidden
  val Total: Int = OffDown + Hidden * Inter

  /** Integer numerator at flat bank index i — a distinct constant
    * stream from the other banks. */
  def weightK(i: Int): Long = (((i + 1).toLong * C3 + A3) % 4001L) - 2000L

  private def slice(off: Int, len: Int): Array[Float] =
    Array.tabulate(len)(j => weightK(off + j).toFloat / Scale)

  private val layout: Seq[(String, Seq[Int], Int)] = Seq(
    ("model.layers.0.mlp.gate_proj.weight", Seq(Inter, Hidden), OffGate),
    ("model.layers.0.mlp.up_proj.weight", Seq(Inter, Hidden), OffUp),
    ("model.layers.0.mlp.down_proj.weight", Seq(Hidden, Inter), OffDown))

  def files: Map[String, Array[Byte]] = Map(
    "model.safetensors" -> Safetensors.write(
      layout.map { case (n, sh, off) => (n, sh, slice(off, sh.product)) }))

  /** Resolve → load → re-quantize: the flat [[Total]] integer bank in
    * gate/up/down layout order. */
  def loadedQuantized: IndexedSeq[Long] = {
    val sharded = Safetensors.resolved(files)
    layout.flatMap { case (name, _, _) => sharded.quantized(name, Scale) }.toIndexedSeq
  }
}
