package graft.backend

import graft.functions.K
import graft.model.Safetensors

/** A learned DENSE PROJECTION head over the pooled token sums — the
  * linear output layer role (the reference's transformer forwards end
  * in learned projections; its BGE-M3 sparse head is the 1-row special
  * case this generalizes, bgem3_weights.rs:14-43). The weight matrix is
  * a real F32 [out × in] tensor living in a SINGLE-FILE safetensors
  * checkpoint named `model.safetensors` — so the q82 gate exercises the
  * reference's non-sharded resolution branch (qwen3.rs:1033-1035:
  * `model.safetensors` wins outright), the complement of q76's sharded
  * branch.
  *
  * Same exactness scheme as [[SparseLinearBank]]: entries are k/1024
  * fixed-point (exact in F32, losslessly re-quantized), the projection
  * y = W·sums stays in exact int64, and the final l2 normalize divides
  * out the common 1/1024 scale — so no explicit rescale is even needed
  * before normalization. */
object ProjectionBank {
  import K.{A3, B3}

  /** Input width = the pooled-sum dimensionality (the flagship dense
    * chain's K.Dim); output width = the projected embedding size. */
  val DimIn: Int = K.Dim
  val DimOut: Int = 16

  val Scale: Long = 1024L

  /** Integer numerator of W[d][e] at flat index i = d·DimIn + e. */
  def weightK(i: Int): Long = (((i + 1).toLong * B3 + A3) % 4001L) - 2000L

  /** The flat row-major F32 bank. */
  def bank: Array[Float] =
    Array.tabulate(DimOut * DimIn)(i => weightK(i).toFloat / Scale)

  /** The single-file checkpoint under the reference's priority name. */
  def files: Map[String, Array[Byte]] = Map(
    "model.safetensors" ->
      Safetensors.write(Seq(("dense.weight", Seq(DimOut, DimIn), bank))))

  /** Resolve (single-file branch) → load → re-quantize to the integer
    * grid the projection runs on. */
  def loadedQuantized: Array[Long] =
    Safetensors.resolved(files).quantized("dense.weight", Scale)
}
