package graft.backend

import graft.functions.K
import graft.model.Safetensors

/** Learned MoE ROUTER weights — the `mlp.router.layer.weight`
  * `[num_experts × hidden_size]` Linear of the reference's megablocks
  * convention (/root/reference/src/models/nomic_v2_moe.rs:315,
  * 330-336: `linear_no_bias(hidden_size, num_experts, vb.pp("layer"))`).
  * The router consumes the SAME hidden vector the experts do; its
  * logits drive the stable top-k selection (score desc, tie → lower
  * index). Single-file checkpoint; k/1024 fixed-point entries; a
  * distinct constant stream (B3·C3 pair, modulus 3001). */
object RouterBank {
  import K.{B3, C3}

  val NExperts: Int = 8
  val HiddenDim: Int = 8
  val Scale: Long = 1024L

  /** Integer numerator at flat index i = e·HiddenDim + h. */
  def weightK(i: Int): Long = (((i + 1).toLong * B3 + C3) % 3001L) - 1500L

  def bank: Array[Float] =
    Array.tabulate(NExperts * HiddenDim)(i => weightK(i).toFloat / Scale)

  def files: Map[String, Array[Byte]] = Map(
    "model.safetensors" -> Safetensors.write(Seq(
      ("mlp.router.layer.weight", Seq(NExperts, HiddenDim), bank))))

  def loadedQuantized: IndexedSeq[Long] =
    Safetensors.resolved(files).quantized("mlp.router.layer.weight", Scale).toIndexedSeq
}
