package graft.backend

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.types._
import graft.functions.K

/** Pluggable per-executor inference backend — the Spark analogue of the
  * reference's ONNX `Session` held behind `&mut self`
  * (/root/reference/src/text_embedding/impl.rs:69-111, 392-410).
  *
  * Contract: given a micro-batch of token-id sequences, produce one dense
  * vector per sequence. Implementations must be:
  *   - deterministic (reference test: 100 identical calls,
  *     tests/text-embeddings.rs:605-622)
  *   - batch-size invariant (tests/text-embeddings.rs:494-523): results
  *     must not depend on how the iterator was chunked — which is exactly
  *     Spark's partitioning-invariance requirement.
  */
trait EmbeddingBackend extends Serializable {
  def dim: Int
  /** Embed one micro-batch. Must not retain state across calls that
    * affects results. */
  def embedBatch(batch: Seq[Array[Long]]): Seq[Array[Double]]
  /** True when [[embedBatch]] pads the whole micro-batch to its longest
    * sequence (one shared tensor width, the reference's
    * `PaddingDirection::Left` encode_batch): forward cost per doc then
    * scales with the BATCH max length, so a length-skewed batch wastes
    * compute on pad positions. [[BackendEmbedder.embed]] pre-sorts rows
    * by length within each partition for such backends — near-uniform
    * batches, results unchanged (batch-size invariance is the trait
    * contract). Per-sequence backends leave this false and skip the
    * sort. */
  def padsBatchLongest: Boolean = false

  /** The [[BackendRegistry]] key, computed once per instance: a
    * case-class backend's `toString` prints every weight it holds. */
  @transient private[backend] lazy val registryKey: String = toString
}

/** The default deterministic backend: the same feature-hashing projector
  * as the SQL pipeline ([[graft.functions.Kernel]]), computed in plain
  * Scala with identical IEEE-754 operation order — so its output is
  * bit-identical to the Catalyst-expression path and shares its DuckDB
  * oracle. Stands in for an ONNX session in this zero-egress environment;
  * a real ONNX backend plugs in behind the same trait. */
final case class HashingBackend(dim: Int = K.Dim) extends EmbeddingBackend {
  def embedBatch(batch: Seq[Array[Long]]): Seq[Array[Double]] = batch.map { tids =>
    val n = tids.length
    val out = new Array[Double](dim)
    // empty encoding → zero vector (never NaN from 0/0; the SQL path
    // filters size > 0, and the reference cannot embed an empty encoding)
    if (n == 0) out
    else embedOne(tids, out)
  }

  private def embedOne(tids: Array[Long], out: Array[Double]): Array[Double] = {
    val n = tids.length
    var d = 0
    while (d < dim) {
      var s = 0L
      var i = 0
      while (i < n) {
        s += (tids(i) * K.A + d.toLong * K.B + K.C) % K.M
        i += 1
      }
      // mirror Kernel.meanScaled: (s / n / M) * 2 - 1
      out(d) = (s.toDouble / n.toDouble / K.M.toDouble) * 2.0 - 1.0
      d += 1
    }
    // mirror Kernel.l2normalize: left-fold sum of squares, + eps
    var ss = 0.0
    var j = 0
    while (j < dim) { ss += out(j) * out(j); j += 1 }
    val norm = math.sqrt(ss) + K.Eps
    var k = 0
    while (k < dim) { out(k) = out(k) / norm; k += 1 }
    out
  }
}

/** Per-executor backend registry: one lazily-created backend instance per
  * executor JVM (not per task), the analogue of the reference's
  * once-per-process session init. Thread-safe via ConcurrentHashMap —
  * multiple task threads share the instance (HashingBackend is
  * stateless; a real ONNX session would synchronize or pool here). */
object BackendRegistry {
  private val cache = new java.util.concurrent.ConcurrentHashMap[String, EmbeddingBackend]()
  def getOrCreate(key: String, create: () => EmbeddingBackend): EmbeddingBackend =
    cache.computeIfAbsent(key, _ => create())
}

/** Registry-driven backend construction (the S5/A4 wiring for the
  * sequence-dependent backends): model name → the per-executor backend
  * the [[BackendEmbedder]] instantiates — the analogue of the
  * reference's registry → session init
  * (/root/reference/src/text_embedding/init.rs:88-138). */
object Backends {
  def forModel(name: String): EmbeddingBackend = {
    val info = graft.model.ModelRegistry(name) // throws on unknown names
    require(info.kind == graft.model.ModelKind.Dense,
      s"no embedding backend for ${info.kind} model '$name'")
    // dim always comes from the registry — one source of truth
    name match {
      case "graft-transformer-8" => TransformerBackend(dim = info.dim)
      case "graft-moe-8" => MoEBackend(dim = info.dim)
      case "graft-qwen3-8" => DecoderLayerBackend.fromBank()
      case "graft-qwen3-8-x2" => DecoderLayerBackend.stacked()
      case "graft-qwen3-8-full" => DecoderLayerBackend.fullModel()
      case "graft-nomic-8" => NomicModelBackend()
      case "graft-gqa-8" => GqaAttentionBackend.withQkNorm()
      case _ => HashingBackend(info.dim)
    }
  }
}

/** The mapPartitions inference operator (I1 analogue,
  * /root/reference/src/text_embedding/impl.rs:352-416): iterate a
  * partition in micro-batches of `batchSize` (reference default 256,
  * src/text_embedding/mod.rs:5), run the per-executor backend once per
  * micro-batch, emit (id, embedding) rows. Narrow — no shuffle; the
  * partition iterator never materializes more than one micro-batch.
  * Every route crosses one typed boundary ([[rows]]): rows stay in
  * Tungsten encoding, the operator applies unchanged to Structured
  * Streaming DataFrames, and a call builds four Datasets with encoders
  * derived once per JVM. */
object BackendEmbedder {
  import org.apache.spark.sql.{Encoder, Encoders}
  import org.apache.spark.sql.functions.col

  // derived by Scala reflection, so once per JVM, not per call
  private lazy val idTids: Encoder[(Long, Array[Long])] = Encoders.product
  private lazy val idVec: Encoder[(Long, Array[Double])] = Encoders.product
  private lazy val idPosVec: Encoder[(Long, Long, Array[Double])] = Encoders.product
  private lazy val idTermWeight: Encoder[(Long, Long, Long)] = Encoders.product

  /** The one typed boundary of the backend routes: `(id, tids)` rows
    * with at least `minTokens` ids reach `f` a partition at a time,
    * with the executor's registry instance of `backend` under `key`;
    * `f`'s tuples come back as columns `names`. `minTokens` filters
    * inside the partition function: a Catalyst Filter on size(tids)
    * gets pushed below the projection and re-evaluates the whole
    * tokenizer expression per row (2x the scan-stage cost for the heavy
    * WordPiece/BPE tokenizers), while here the materialized array just
    * checks its length. */
  private def rows[B <: EmbeddingBackend, O](df: DataFrame, idCol: String, tidsCol: String,
      backend: B, key: String, minTokens: Int, out: Encoder[O], names: String*)
      (f: (B, Iterator[(Long, Array[Long])]) => Iterator[O]): DataFrame =
    df.select(col(idCol).cast("long"), col(tidsCol)).as(idTids)
      .mapPartitions { it =>
        val be = BackendRegistry.getOrCreate(key, () => backend).asInstanceOf[B]
        f(be, it.filter(r => r._2 != null && r._2.length >= minTokens))
      }(out)
      .toDF(names: _*)

  def embed(df: DataFrame, idCol: String, tidsCol: String,
            backend: EmbeddingBackend, batchSize: Int = 256,
            minTokens: Int = 0): DataFrame = {
    val lengthClasses = backend.padsBatchLongest
    rows(df, idCol, tidsCol, backend, backend.registryKey, minTokens, idVec,
        idCol, "embedding") { (be, it) =>
      // padded-tensor backends get length-CLASSED micro-batches: rows
      // stream into per-length-class buffers and a batch flushes when
      // its class fills, so every tensor the backend pads is near-
      // uniform in length. O(1) per row and bounded memory (a few
      // batchSize buffers) — measured cheaper than sortWithinPartitions
      // bucketing, whose full-partition materialization cost MORE task
      // time than the padding it saved (sf1 A/B on q95/q98). Results
      // are batch-composition-invariant by the trait contract.
      val groups =
        if (lengthClasses) lengthClassed(it, batchSize)
        else it.grouped(batchSize)
      groups.flatMap { group =>
        val embs = be.embedBatch(group.map(_._2))
        group.map(_._1).zip(embs)
      }
    }
  }

  /** Group a partition's rows into micro-batches of near-uniform token
    * length WITHOUT sorting: each row lands in its length class
    * (width-8 buckets — at most 7 pad positions per row from class
    * spread), a class flushes as a batch when it reaches `batchSize`,
    * and leftovers flush at the end. Deterministic for a deterministic
    * input iterator; memory is bounded by (#distinct classes ≤
    * maxLen/8) × batchSize rows. */
  private[graft] def lengthClassed(
      it: Iterator[(Long, Array[Long])], batchSize: Int)
      : Iterator[Seq[(Long, Array[Long])]] =
    new scala.collection.AbstractIterator[Seq[(Long, Array[Long])]] {
      private val classes = scala.collection.mutable.LinkedHashMap
        .empty[Int, scala.collection.mutable.ArrayBuffer[(Long, Array[Long])]]
      private var staged: Seq[(Long, Array[Long])] = null

      private def advance(): Unit = {
        while (staged == null && it.hasNext) {
          val row = it.next()
          val cls = row._2.length >> 3
          val buf = classes.getOrElseUpdate(cls,
            new scala.collection.mutable.ArrayBuffer[(Long, Array[Long])](batchSize))
          buf += row
          if (buf.length >= batchSize) {
            classes.remove(cls)
            staged = buf.toSeq
          }
        }
        if (staged == null && classes.nonEmpty) {
          val (cls, buf) = classes.head
          classes.remove(cls)
          staged = buf.toSeq
        }
      }

      def hasNext: Boolean = { if (staged == null) advance(); staged != null }
      def next(): Seq[(Long, Array[Long])] = {
        if (!hasNext) throw new NoSuchElementException
        val out = staged; staged = null; out
      }
    }

  /** Per-token learned-ColBERT outputs over the full learned stack:
    * one forward per doc serves all its token rows
    * ([[DecoderLayerBackend.colbertTokens]] — the reference's
    * `[batch, seq_len - 1, dim]` third head). Narrow flatMap, no
    * shuffle; the model instantiates once per executor through the
    * registry (the S5 per-executor-session pattern, like [[embed]]).
    * The typed boundary emits ONE row per token (id, pos, vector);
    * the per-dim fan-out is a codegen'd in-plan posexplode — profiled
    * ~10% faster at sf0.1 than per-dim Scala tuples (the remaining
    * cost is the forward itself: per-token outputs need the layer-1
    * pass at EVERY position, unlike the pooled single-position q95). */
  def colbertTokens(df: DataFrame, idCol: String, tidsCol: String,
                    model: DecoderLayerBackend,
                    w: IndexedSeq[Long], outDim: Int,
                    minTokens: Int = 0): DataFrame = {
    import org.apache.spark.sql.functions.posexplode
    val head = w.toArray
    rows(df, idCol, tidsCol, model, "colbert:" + model.registryKey, minTokens, idPosVec,
        idCol, "pos", "__vec") { (be, it) =>
      it.flatMap { case (id, tids) =>
        be.colbertTokens(tids, head, outDim).iterator.zipWithIndex.map {
          case (vec, p) => (id, p.toLong, vec)
        }
      }
    }
      .select(col(idCol), col("pos"), posexplode(col("__vec")).as(Seq("dim", "val")))
      .select(col(idCol), col("pos"), col("dim").cast("long").as("dim"), col("val"))
  }

  /** Tied-vocab sparse extraction over the full learned stack
    * ([[DecoderLayerBackend.tiedSparseWeights]]): (id, term_id,
    * weight) rows, zeros dropped. Narrow flatMap per doc. */
  def tiedSparse(df: DataFrame, idCol: String, tidsCol: String,
                 model: DecoderLayerBackend,
                 minTokens: Int = 0): DataFrame =
    rows(df, idCol, tidsCol, model, "tied:" + model.registryKey, minTokens, idTermWeight,
        idCol, "term_id", "weight") { (be, it) =>
      it.flatMap { case (id, tids) =>
        be.tiedSparseWeights(tids).iterator.map { case (v, w) => (id, v, w) }
      }
    }

  /** Padding-minimization variant (SURVEY §4 "sort-by-length within
    * partition"): rows sort by token count inside each partition before
    * micro-batching, so every batch a real padded-tensor backend sees is
    * near-uniform in length — batch-longest padding waste collapses.
    * A narrow, shuffle-free transformation; results are identical for
    * any contract-abiding backend (batch-size invariance, spec-checked
    * here via the hashing backend). The explicit form: [[embed]] now
    * applies the same sort automatically whenever
    * `backend.padsBatchLongest`, so call this only to force bucketing
    * for a per-sequence backend (e.g. to co-batch by length for cache
    * locality). */
  def embedLengthBucketed(df: DataFrame, idCol: String, tidsCol: String,
                          backend: EmbeddingBackend, batchSize: Int = 256): DataFrame =
    embed(
      df.sortWithinPartitions(org.apache.spark.sql.functions.size(
        org.apache.spark.sql.functions.col(tidsCol))),
      idCol, tidsCol, backend, batchSize)
}
