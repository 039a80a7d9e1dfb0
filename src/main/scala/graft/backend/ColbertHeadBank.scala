package graft.backend

import graft.functions.K
import graft.model.Safetensors

/** A learned COLBERT PROJECTION for per-token vectors — the linear
  * that produces the reference's BGE-M3 third output head
  * (`colbert_vecs: [batch, seq_len - 1, dim]`,
  * /root/reference/src/bgem3_embedding/impl.rs:218,273-281; the
  * leading special token is dropped). The FlagEmbedding checkpoint
  * name is `colbert_linear.weight`; a real [outDim × hidden] F32
  * row-major tensor, k/1024 fixed-point entries (exact in F32),
  * re-quantized on load. */
object ColbertHeadBank {
  import K.{B3, C3}

  val Hidden: Int = AttnBank.Hidden
  val OutDim: Int = 8
  val Scale: Long = 1024L

  /** Integer numerator at flat index i. The +6000 offset makes this
    * a DISTINCT slice of the (B3, C3) stream from [[MergerBank]]
    * (which reads indices < 1537): the two banks disagree at every
    * shared index, so wiring the wrong one into a gate fails the
    * oracle instead of silently passing. */
  def headK(i: Int): Long = (((i + 1 + 6000).toLong * B3 + C3) % 4001L) - 2000L

  def files: Map[String, Array[Byte]] = Map(
    "model.safetensors" -> Safetensors.write(Seq(
      ("colbert_linear.weight", Seq(OutDim, Hidden),
        Array.tabulate(OutDim * Hidden)(i => headK(i).toFloat / Scale)))))

  def loadedQuantized: IndexedSeq[Long] =
    Safetensors.resolved(files).quantized("colbert_linear.weight", Scale).toIndexedSeq
}
