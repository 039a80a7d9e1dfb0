package graft.backend

import graft.functions.K
import graft.model.Safetensors

/** The learned-weight half of the BGE-M3 sparse path: a REAL F32 weight
  * bank living in a safetensors container, consumed exactly the way the
  * reference consumes `sparse_linear.safetensors` —
  *
  *   token_weight = relu(hidden · weight + bias)
  *
  * (/root/reference/src/sparse_text_embedding/bgem3_weights.rs:14-43
  * loads the flat F32 `weight` tensor + scalar `bias`;
  * impl.rs:256-304 applies it per unmasked, non-special token and
  * max-merges duplicate token ids).
  *
  * The bank itself is deterministic (no network, no fixture blob): the
  * weights are the fixed-point grid values k(d)/1024 with
  * k(d) = ((d+1)·B3 + A3) mod 4001 − 2000, written through
  * [[Safetensors.write]] into a TWO-SHARD checkpoint (weight in shard 1,
  * bias in shard 2) and read back through the S10 sharded path
  * ([[Safetensors.resolved]]) —
  * so the round trip exercised by the q76 correctness gate is
  * bytes → header → LE f32 → quantized grid, not a Scala constant.
  *
  * Denominator-1024 fractions with |k| ≤ 2000 are exact in F32, so
  * `floor(w·1024 + 0.5)` recovers k(d) losslessly and every cross-token
  * reduction stays in the integer domain (the repo's oracle-exactness
  * recipe); the ONLY doubles are the final `/1024` scale.
  */
object SparseLinearBank {
  import K.{M3, A3, B3, C3}

  /** Hidden width of the contract backend (the reference's is the model
    * hidden_size; the arithmetic contract is width-independent). */
  val Dim: Int = 16

  /** Fixed-point denominator of the weight grid. */
  val Scale: Long = 1024L

  /** bias = BiasK/1024 ≈ −4.88. */
  val BiasK: Long = -5000L

  /** Integer numerator of weight dim d: ((d+1)·B3 + A3) mod 4001 − 2000. */
  def weightK(d: Int): Long = (((d + 1) * B3 + A3) % 4001L) - 2000L

  /** The F32 bank as the reference would ship it. */
  def bank: Array[Float] = Array.tabulate(Dim)(d => weightK(d).toFloat / Scale)

  def biasF: Float = BiasK.toFloat / Scale

  /** The two-shard checkpoint, keyed by the reference's probe names. */
  def shardFiles: Map[String, Array[Byte]] = Map(
    "model-00001-of-00002.safetensors" ->
      Safetensors.write(Seq(("weight", Seq(Dim), bank))),
    "model-00002-of-00002.safetensors" ->
      Safetensors.write(Seq(("bias", Seq(1), Array(biasF)))))

  /** Resolve → load → quantize: the (weightQ, biasQ) integer grid the
    * operator consumes, recovered from the sharded container bytes. */
  def loadedQuantized: (Array[Long], Long) = {
    val sharded = Safetensors.resolved(shardFiles)
    (sharded.quantized("weight", Scale), sharded.quantized("bias", Scale)(0))
  }

  /** Per-(token, position) hidden cell in [0, M3) — the deterministic
    * "hidden state" stream of the contract backends (position-dependent,
    * like the real encoder output the reference dots against). */
  def hiddenCell(tid: Long, pos: Long, d: Int): Long =
    ((tid % M3) * A3 + d.toLong * B3 + (pos + 1L) * C3) % M3
}
