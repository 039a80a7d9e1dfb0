package graft.backend

import graft.functions.K
import graft.model.Safetensors

/** The COMPLETE learned NomicMoELayer checkpoint — all four megablocks
  * tensors of the reference's MoE layer under their exact names
  * (/root/reference/src/models/nomic_v2_moe.rs:314-318, 378-396):
  *
  *  - `mlp.router.layer.weight` `[nE, hidden]` — the q92 router rows
  *    (same generating formula; spec-pinned equal to [[RouterBank]])
  *  - `mlp.experts.mlp.w1` `[nE·inter, hidden]` — up projection,
  *    consumed TRANSPOSED (`selected @ w1ᵀ`)
  *  - `mlp.experts.mlp.w2` `[nE·inter, hidden]` — down projection,
  *    consumed UN-transposed (megablocks convention, :452)
  *  - `mlp.experts.bias` `[hidden]` — the shared output bias added
  *    once after all experts (:473)
  *
  * Single-file checkpoint; k/1024 fixed-point; distinct streams. */
object ExpertMlpBank {
  import K.{A3, B3, C3}

  val NExperts: Int = 8
  val Inter: Int = 8
  val HiddenDim: Int = 8
  val Scale: Long = 1024L

  def w1K(i: Int): Long = (((i + 1).toLong * A3 + B3) % 3001L) - 1500L
  def w2K(i: Int): Long = (((i + 1).toLong * C3 + B3) % 3001L) - 1500L
  def biasK(i: Int): Long = (((i + 1).toLong * A3 + C3) % 3001L) - 1500L

  private def slice(f: Int => Long, len: Int): Array[Float] =
    Array.tabulate(len)(i => f(i).toFloat / Scale)

  def files: Map[String, Array[Byte]] = Map(
    "model.safetensors" -> Safetensors.write(Seq(
      ("mlp.router.layer.weight", Seq(NExperts, HiddenDim),
        slice(RouterBank.weightK, NExperts * HiddenDim)),
      ("mlp.experts.mlp.w1", Seq(NExperts * Inter, HiddenDim),
        slice(w1K, NExperts * Inter * HiddenDim)),
      ("mlp.experts.mlp.w2", Seq(NExperts * Inter, HiddenDim),
        slice(w2K, NExperts * Inter * HiddenDim)),
      ("mlp.experts.bias", Seq(HiddenDim), slice(biasK, HiddenDim)))))

  /** The loaded layer: quantized integer banks. */
  final case class Weights(
      router: IndexedSeq[Long],
      w1: IndexedSeq[Long],
      w2: IndexedSeq[Long],
      bias: IndexedSeq[Long]) extends Serializable

  def loaded: Weights = {
    val sh = Safetensors.resolved(files)
    def quant(name: String): IndexedSeq[Long] = sh.quantized(name, Scale).toIndexedSeq
    Weights(
      quant("mlp.router.layer.weight"),
      quant("mlp.experts.mlp.w1"),
      quant("mlp.experts.mlp.w2"),
      quant("mlp.experts.bias"))
  }
}
