package graft.backend

import graft.functions.K
import graft.model.Safetensors

/** Learned PatchMerger projection for the vision tower — the MLP that
  * maps each merge window's concatenated patch values to the LLM width
  * (/root/reference/src/models/qwen3_vl.rs PatchMerger: hidden =
  * merge²·vision_dim → out_dim through learned linear layers). A real
  * F32 [outDim × nVals] matrix in a single-file checkpoint; k/1024
  * fixed-point entries, re-quantized losslessly, applied in exact
  * int64 with the l2 normalize dividing the common scales out (the
  * [[ProjectionBank]] scheme at the vision tower's merger site). */
object MergerBank {
  import K.{B3, C3}

  /** nVals = mergeSize² · 3·patchSize² (4 · 12 with the gate config). */
  val NVals: Int = 48
  val OutDim: Int = 16
  val Scale: Long = 1024L

  /** Integer numerator at flat index i = d·NVals + j; the deepstack
    * merger continues the same stream at offset [[Total]]. */
  def weightK(i: Int): Long = (((i + 1).toLong * B3 + C3) % 4001L) - 2000L

  val Total: Int = OutDim * NVals

  def bank: Array[Float] =
    Array.tabulate(Total)(i => weightK(i).toFloat / Scale)

  /** The deepstack merger's matrix — a DISTINCT learned PatchMerger
    * per deepstack layer in the reference
    * (`deepstack_merger_list.{i}`, qwen3_vl.rs:476-480). */
  def deepstackBank: Array[Float] =
    Array.tabulate(Total)(i => weightK(Total + i).toFloat / Scale)

  def files: Map[String, Array[Byte]] = Map(
    "model.safetensors" -> Safetensors.write(Seq(
      ("merger.mlp.weight", Seq(OutDim, NVals), bank),
      ("deepstack_merger_list.0.mlp.weight", Seq(OutDim, NVals), deepstackBank))))

  private def loadTensor(name: String): IndexedSeq[Long] =
    Safetensors.resolved(files).quantized(name, Scale).toIndexedSeq

  def loadedQuantized: IndexedSeq[Long] = loadTensor("merger.mlp.weight")

  def loadedDeepstackQuantized: IndexedSeq[Long] =
    loadTensor("deepstack_merger_list.0.mlp.weight")
}
