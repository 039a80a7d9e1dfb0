package graft.backend

import graft.functions.K
import graft.model.Safetensors

/** Learned ATTENTION PROJECTIONS for the transformer forward — the four
  * `Linear` weights of the reference's Qwen3 attention block
  * (/root/reference/src/models/qwen3.rs:715-782:
  * `linear_no_bias(hidden_size, q_out, vb.pp("q_proj"))` and k/v/o),
  * stored row-major `[out, in]` exactly as candle's `Linear` expects,
  * under the candle-visible `model.layers.0.self_attn.*` names.
  *
  * The shapes encode GQA (grouped-query attention): two query heads but
  * ONE kv head (`num_kv_heads < num_heads`, qwen3.rs:727-737), so
  * `k_proj`/`v_proj` are half the size of `q_proj` and both query heads
  * read the same projected k/v rows — the `repeat_kv` contract
  * (qwen3.rs:818-820).
  *
  * The checkpoint is TWO SHARDS with two tensors each (q76 walks two
  * shards with one tensor each; q83 one tensor per shard — this is the
  * several-tensors-per-shard case). Same exactness scheme as the other
  * banks: k/1024 fixed-point entries (exact in F32), re-quantized on
  * load, all forward arithmetic in exact int64. */
object AttnBank {
  import K.{A3, B3}

  val Hidden: Int = 8
  val NHeads: Int = 2
  val HeadDim: Int = 4
  val NKvHeads: Int = 1
  val QOut: Int = NHeads * HeadDim
  val KvOut: Int = NKvHeads * HeadDim
  val Scale: Long = 1024L

  /** Flat layout offsets of the concatenated quantized bank, in
    * q/k/v/o order. */
  val OffQ: Int = 0
  val OffK: Int = OffQ + QOut * Hidden
  val OffV: Int = OffK + KvOut * Hidden
  val OffO: Int = OffV + KvOut * Hidden
  val Total: Int = OffO + Hidden * QOut

  /** Integer numerator at flat bank index i — a distinct constant
    * stream from the other banks. */
  def weightK(i: Int): Long = (((i + 1).toLong * A3 + B3) % 4001L) - 2000L

  private def slice(off: Int, len: Int): Array[Float] =
    Array.tabulate(len)(j => weightK(off + j).toFloat / Scale)

  private val layout: Seq[(String, Seq[Int], Int)] = Seq(
    ("model.layers.0.self_attn.q_proj.weight", Seq(QOut, Hidden), OffQ),
    ("model.layers.0.self_attn.k_proj.weight", Seq(KvOut, Hidden), OffK),
    ("model.layers.0.self_attn.v_proj.weight", Seq(KvOut, Hidden), OffV),
    ("model.layers.0.self_attn.o_proj.weight", Seq(Hidden, QOut), OffO))

  /** Two shards, two tensors each, reference shard naming. */
  def shardFiles: Map[String, Array[Byte]] = {
    val names = Safetensors.shardFileNames(2)
    val (first, second) = layout.splitAt(2)
    def write(ts: Seq[(String, Seq[Int], Int)]) = Safetensors.write(
      ts.map { case (n, sh, off) => (n, sh, slice(off, sh.product)) })
    Map(names(0) -> write(first), names(1) -> write(second))
  }

  /** Resolve the shard walk → load → re-quantize: the flat [[Total]]
    * integer bank in q/k/v/o layout order. */
  def loadedQuantized: IndexedSeq[Long] = {
    val sharded = Safetensors.resolved(shardFiles)
    layout.flatMap { case (name, _, _) => sharded.quantized(name, Scale) }.toIndexedSeq
  }
}
