package graft.backend

import graft.functions.K
import graft.model.Safetensors

/** A learned TOKEN EMBEDDING TABLE for the transformer forward — the
  * `embed_tokens` lookup that starts the reference's Qwen3 forward
  * (/root/reference/src/models/qwen3.rs:892-925:
  * `candle_nn::embedding(vocab_size, hidden_size, vb.pp("embed_tokens"))`).
  * A real F32 [vocab × dim] tensor under the candle name in a
  * single-file `model.safetensors`; entries are k/1024 fixed-point
  * (exact in F32) and are re-quantized then mapped into [0, M3) so the
  * integer attention arithmetic keeps its overflow bounds.
  *
  * The vocab is sized to the WordPiece fixture's id space — composing
  * the real-vocab tokenizer with the learned table means every gated
  * token hits the table, while ids ≥ vocabSize fall back to the hash
  * stream (the contract behavior for out-of-table ids, spec-pinned). */
object EmbTableBank {
  import K.{B3, C3}

  val VocabSize: Int = 64
  val Dim: Int = 8
  val Scale: Long = 1024L

  /** Integer numerator at flat index i = t·Dim + d — a distinct
    * constant stream from the other banks. */
  def weightK(i: Int): Long = (((i + 1).toLong * C3 + B3) % 4001L) - 2000L

  def bank: Array[Float] =
    Array.tabulate(VocabSize * Dim)(i => weightK(i).toFloat / Scale)

  def files: Map[String, Array[Byte]] = Map(
    "model.safetensors" -> Safetensors.write(Seq(
      ("embed_tokens.weight", Seq(VocabSize, Dim), bank))))

  /** Resolve → load → re-quantize, flat token-major. */
  def loadedQuantized: IndexedSeq[Long] =
    Safetensors.resolved(files).quantized("embed_tokens.weight", Scale).toIndexedSeq
}
