package graft.backend

import graft.functions.K
import graft.model.Safetensors

/** A learned SEQUENCE-CLASSIFICATION HEAD for the cross-encoder route —
  * the linear that produces the reference reranker's score: its ONNX
  * models emit a `logits` tensor and the score is `logits[:, 0]`
  * (/root/reference/src/reranking/impl.rs:167-180, `slice(s![.., 0])`),
  * i.e. ONE row of a classification Linear over the pooled hidden
  * state. Here that row is a real F32 `score.weight` [1 × hidden] +
  * `score.bias` [1] pair in a single-file safetensors checkpoint
  * (the HF sequence-classification naming), k/1024 fixed-point entries
  * (exact in F32), re-quantized on load. */
object RerankHeadBank {
  import K.{A3, B3}

  val Hidden: Int = AttnBank.Hidden
  val Scale: Long = 1024L

  /** Integer numerator at index i — weight rows at i < [[Hidden]], the
    * bias at i == [[Hidden]]. The +5000 offset makes this a DISTINCT
    * slice of the (B3, A3) stream from [[SparseLinearBank]]/
    * [[ProjectionBank]] (which read indices < 1025): the banks
    * disagree at every shared index, so a wrong-bank wiring fails the
    * oracle instead of silently passing. */
  def headK(i: Int): Long = (((i + 1 + 5000).toLong * B3 + A3) % 4001L) - 2000L

  def files: Map[String, Array[Byte]] = Map(
    "model.safetensors" -> Safetensors.write(Seq(
      ("score.weight", Seq(1, Hidden),
        Array.tabulate(Hidden)(d => headK(d).toFloat / Scale)),
      ("score.bias", Seq(1), Array(headK(Hidden).toFloat / Scale)))))

  /** Resolve → load → re-quantize: (flat weight row, bias). */
  def loadedQuantized: (IndexedSeq[Long], Long) = {
    val sh = Safetensors.resolved(files)
    def quant(name: String): IndexedSeq[Long] = sh.quantized(name, Scale).toIndexedSeq
    (quant("score.weight"), quant("score.bias").head)
  }
}

/** The learned cross-encoder scorer: pair-encoded ids → the full
  * learned decoder forward → pooled pre-normalize hidden → the learned
  * linear head. A dim-1 [[EmbeddingBackend]], so the score rides the
  * standard embed plumbing: `embedding[0]` IS `logits[:, 0]`.
  *
  * The dot product folds left-to-right over the hidden dims starting
  * at 0.0 with the bias added LAST — one fixed order mirrored in the
  * DuckDB oracle, so scores are bit-identical doubles. */
final case class RerankHeadBackend(
    model: DecoderLayerBackend,
    w: IndexedSeq[Long],
    bias: Long) extends EmbeddingBackend {
  require(w.length == model.dim, s"head width ${w.length} != hidden ${model.dim}")

  def dim: Int = 1

  // delegates to the model's batch-longest-padded pooledHidden
  override def padsBatchLongest: Boolean = model.padsBatchLongest

  // unboxed copy, made once per instance
  @transient private lazy val wA: Array[Long] = w.toArray

  def embedBatch(batch: Seq[Array[Long]]): Seq[Array[Double]] =
    model.pooledHidden(batch).map { h =>
      val w = wA
      var s = 0.0
      var d = 0
      while (d < h.length) { s += (w(d).toDouble / 1024.0) * h(d); d += 1 }
      Array(s + bias.toDouble / 1024.0)
    }
}
