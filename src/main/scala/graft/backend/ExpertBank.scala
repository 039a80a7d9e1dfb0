package graft.backend

import graft.functions.K
import graft.model.Safetensors

/** Learned EXPERT weights for the MoE backend — each expert is a real
  * F32 [dim × hidden] projection applied to the token's hidden vector,
  * the learned-weight half of the NomicBert-MoE dispatch
  * (/root/reference/src/models/nomic_v2_moe.rs:369-471 gathers each
  * routed token through its experts' weight matrices; :704-727 loads
  * them from the sharded checkpoint). The checkpoint here is ONE SHARD
  * PER EXPERT under the reference's `model-XXXXX-of-YYYYY` naming, so
  * the q83 gate walks the full multi-shard resolution — the deep case
  * of the probe q76 exercises with two shards.
  *
  * Same exactness scheme as [[SparseLinearBank]]/[[ProjectionBank]]:
  * k/1024 fixed-point entries (exact in F32), per-token arithmetic in
  * exact int64, quantize before the cross-token mean. */
object ExpertBank {
  import K.{A3, C3}

  val NExperts: Int = 8
  val Dim: Int = 8
  val HiddenDim: Int = 8
  val Scale: Long = 1024L

  /** Integer numerator at flat index i = (e·Dim + d)·HiddenDim + h —
    * a distinct constant stream from the other banks. */
  def weightK(i: Int): Long = (((i + 1).toLong * A3 + C3) % 4001L) - 2000L

  /** Expert e's [Dim × HiddenDim] F32 matrix. */
  def expertMatrix(e: Int): Array[Float] =
    Array.tabulate(Dim * HiddenDim)(j =>
      weightK(e * Dim * HiddenDim + j).toFloat / Scale)

  /** One shard per expert, reference shard naming; shard e carries
    * `experts.{e}.weight`. */
  def shardFiles: Map[String, Array[Byte]] =
    Safetensors.shardFileNames(NExperts).zipWithIndex.map { case (name, e) =>
      name -> Safetensors.write(Seq(
        (s"experts.$e.weight", Seq(Dim, HiddenDim), expertMatrix(e))))
    }.toMap

  /** Resolve the full shard walk → load → re-quantize: the flat
    * [NExperts · Dim · HiddenDim] integer bank, expert-major. */
  def loadedQuantized: IndexedSeq[Long] = {
    val sharded = Safetensors.resolved(shardFiles)
    (0 until NExperts).flatMap(e => sharded.quantized(s"experts.$e.weight", Scale))
  }
}
