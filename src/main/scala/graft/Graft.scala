package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.functions.K
import graft.model.{ModelKind, ModelRegistry}
import graft.operators._

/** Init options — the analogue of the reference's `InitOptions` /
  * `InitOptionsWithLength` (/root/reference/src/init.rs:11-21). Fields
  * that govern a local ONNX runtime (execution providers, cache dir,
  * download progress, intra-op threads) have no meaning on a cluster —
  * executor parallelism replaces them — and are intentionally absent.
  * Batch size is likewise not an init option here or in the reference
  * (it's an `embed(texts, batch_size)` call argument; the
  * mapPartitions operators take it the same way). */
final case class InitOptions(
    modelName: String = ModelRegistry.DefaultModel,
    maxLength: Option[Int] = None)

/** The reference-shaped facade: one constructor per fastembed-rs entry
  * point, returning the Spark-native operator configured from the model
  * registry. The mapping for a migrating user:
  *
  * | fastembed-rs | graft |
  * |---|---|
  * | `TextEmbedding::try_new(opts)` then `.embed(texts, bs)` | `Graft.textEmbedding(opts).embed(df, "text", "emb")` |
  * | `SparseTextEmbedding` → `Vec<SparseEmbedding>` | `Graft.sparseTextEmbedding(...)` → `(id, sparse struct)` rows |
  * | `Bgem3Embedding` → dense+sparse+colbert | `Graft.bgem3Embedding(...)` → `(id, bgem3 struct)` rows |
  * | `TextRerank::rerank(query, docs, ret, bs)` | `Graft.textRerank(spark, docs, …, query)` |
  * | `ImageEmbedding::embed(paths/bytes)` | `Graft.imageEmbedding(...)` over a binary column / `ImagePipeline.readImages` |
  * | `cosine_similarity` / `top_k` | `Kernel.cosine` / `Similarity.topK` |
  *
  * Each row's `doc_id` plays the role of the reference's positional
  * index (Spark rows are unordered; order is recovered with ORDER BY). */
object Graft {

  /** Recommended session settings for the bucketed/partial-agg
    * operators at scale, for callers that bring their own SparkSession
    * (sessions from [[tunedBuilder]] already carry them).
    * The critical one: Spark's ObjectHashAggregate falls back to
    * SORT-BASED aggregation at 128 distinct keys per partition
    * (`spark.sql.objectHashAggregate.sortBased.fallbackThreshold`),
    * which silently turns every partial top-k / sketch aggregate here
    * (thousands-to-millions of group keys) into a full sort of the
    * per-partition candidate stream — measured 10× slower on a 100×
    * corpus. 128k keys is the measured sweet spot (see the Bench
    * scaladoc for the two-sided calibration: graft's typed aggregate
    * buffers are bounded, so the map stays ~10 MB/task, while builtins
    * with unbounded buffers still fall back before the map itself
    * becomes the memory problem).
    *
    * BOTH knobs are gated on the input size, because both have a
    * measured small-input cost, not just a large-input win: a
    * same-session A/B of the full 147-query suite (round 14,
    * DRIFT_AB_*.json) put the widened threshold at +8.9% TOTAL at
    * sf0.1 (17 MB — the per-partition candidate streams are small
    * enough that the sort-based fallback's sequential merge beats the object hash
    * map's per-update indirection, worst on the ANN clustering gates:
    * q120 1.34×, q119 1.32×), while the same cohort at 10× the data
    * (154 MB) already runs 13% FASTER widened — and 100× unwidened is
    * the catastrophic regime (22× on auto-sized clustering). The gate
    * sits at [[ScaleConfigMinBytes]] (64 MB, the power-of-two nearest
    * the geometric midpoint of the two measured points); an UNKNOWN
    * input size widens — the small side costs percent, the large side
    * costs multiples. Mutates only runtime-settable SQL confs; returns
    * the same session for chaining. */
  def tuneForScale(spark: SparkSession, inputBytes: Option[Long] = None): SparkSession = {
    spark.conf.set(
      "spark.sql.objectHashAggregate.sortBased.fallbackThreshold",
      fallbackThresholdFor(inputBytes).toString)
    // With AQE on, the INITIAL shuffle partition count is what bounds
    // per-task aggregate/join state — a fixed cores-sized number makes
    // big exchanges spill once per-partition data outgrows the task's
    // hash map, which is how exact distinct-counts went super-linear at
    // 100× (measured: q114's distinct 6.7× for 3× data). But a flat
    // wide constant taxes SMALL workloads (measured: +6% across a
    // 147-query sf0.1 suite at 8× parallelism — many tiny exchanges
    // each paying extra shuffle buckets and AQE planning). So size the
    // initial count to the data when the caller knows it
    // ([[initialPartitionsFor]]); default to 8 × parallelism when it
    // doesn't (the cluster-safe side: wide costs buckets, narrow costs
    // spill).
    val init = inputBytes
      .map(b => initialPartitionsFor(b, spark.sparkContext.defaultParallelism))
      .getOrElse(spark.sparkContext.defaultParallelism * 8)
    spark.conf.set("spark.sql.adaptive.coalescePartitions.initialPartitionNum",
      init.toString)
    spark
  }

  /** Input-size gate for the scale config: below this, Spark's
    * defaults win (measured +8.9% suite cost for the widened threshold
    * at 17 MB); at or above it, the widened settings win (measured
    * −13% at 154 MB, and they are the difference between linear and
    * catastrophic at 1.6 GB). 64 MB = the power of two nearest the
    * geometric midpoint of the two measured points (~51 MB). */
  val ScaleConfigMinBytes: Long = 64L << 20

  /** The hash-agg fallback threshold for a given input size: Spark's
    * default 128 below [[ScaleConfigMinBytes]], the calibrated 128k at
    * or above it — and for UNKNOWN sizes, because the mis-sized cost
    * is asymmetric (percent vs multiples; see [[tuneForScale]]). */
  def fallbackThresholdFor(inputBytes: Option[Long]): Int =
    if (inputBytes.forall(_ >= ScaleConfigMinBytes)) 1 << 17 else 128

  /** Initial shuffle partition count for `inputBytes` of on-disk input:
    * one initial partition per ~4 MB of raw input (headroom for the
    * ~10–20× post-tokenize/explode blowup of text pipelines, keeping
    * per-task exchange state well under task memory), clamped to
    * [parallelism, 16 × parallelism]. AQE's coalescer merges the
    * post-shuffle reads of stages that turn out small, so the cost of
    * the upper bound is map-side bucket count, not reducer tasks. */
  def initialPartitionsFor(inputBytes: Long, parallelism: Int): Int = {
    val perPartition = 4L << 20
    math.max(parallelism,
      math.min(16L * parallelism, inputBytes / perPartition).toInt)
  }

  /** The one local session builder: every session in the repo is built
    * here, so the bit-exact gates and the tests run under the
    * configuration that is timed. Its callers: `graft.Bench`,
    * `graft.Verify` (the gate dump and `--entry`/`--plan`), the test
    * session (`SparkSessionTestWrapper`), `ScaleGen`, `RecallProbe`,
    * `TokTrainProbe` and perfbench. It sets
    * `local[cpus]`, cores-sized shuffle partitions with AQE on, the data-GATED hash-agg fallback threshold
    * ([[fallbackThresholdFor]] — Spark's default below 64 MB of input,
    * the calibrated 128k above; see the Bench scaladoc and
    * [[tuneForScale]] for the two-sided measurements), a data-sized
    * initial exchange width ([[initialPartitionsFor]] over
    * [[dirBytes]] of the input directory), the UTC session time zone,
    * the nanos-as-long parquet compat for ns-timestamp test data, and
    * excludes `InferFiltersFromGenerate`: that rule copies an explode's
    * generator child into a Filter, which is pushed below the
    * projection that computes it, so an expensive projected column
    * (every `explode` over a `Kernel.tokenIds` alias) is evaluated
    * twice per row. */
  def tunedBuilder(sfDir: String, cpus: Int): SparkSession.Builder = {
    val bytes = dirBytes(sfDir)
    SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.objectHashAggregate.sortBased.fallbackThreshold",
        fallbackThresholdFor(Some(bytes)).toString)
      .config("spark.sql.adaptive.coalescePartitions.initialPartitionNum",
        initialPartitionsFor(bytes, cpus).toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.optimizer.excludedRules",
        "org.apache.spark.sql.catalyst.optimizer.InferFiltersFromGenerate")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.ui.enabled", "false")
  }

  /** Total bytes of regular files under `dir` (0 if absent) — the
    * `inputBytes` feeder for [[initialPartitionsFor]] when the input is
    * a local/posix directory of parquet tables. */
  def dirBytes(dir: String): Long = {
    val p = java.nio.file.Paths.get(dir)
    if (!java.nio.file.Files.exists(p)) 0L
    else {
      val s = java.nio.file.Files.walk(p)
      try s.filter(q => java.nio.file.Files.isRegularFile(q))
        .mapToLong(q => java.nio.file.Files.size(q)).sum
      finally s.close()
    }
  }

  private def resolved(opts: InitOptions) = {
    val m = ModelRegistry(opts.modelName)
    (m, opts.maxLength.getOrElse(m.maxLength))
  }

  /** `TextEmbedding::try_new` analogue. */
  def textEmbedding(opts: InitOptions = InitOptions()): TextEmbedder = {
    val (m, maxLen) = resolved(opts)
    TextEmbedder(dim = m.dim, maxLength = maxLen, pooling = m.pooling,
      quantization = m.quantization)
  }

  /** `SparseTextEmbedding` analogue: (idCol, sparse struct(indices,
    * values)) — SPLADE-style max-over-positions extraction. */
  def sparseTextEmbedding(df: DataFrame, idCol: String, textCol: String,
                          opts: InitOptions = InitOptions(modelName = "graft-sparse-64"))
      : DataFrame = {
    val (_, maxLen) = resolved(opts)
    SparseEmbedder.sparseStruct(df, idCol, textCol, maxLen)
  }

  /** The LEARNED-WEIGHT sparse route the reference's
    * `SparseTextEmbedding` actually runs for BGE-M3 — the
    * `relu(hidden·w + bias)` head over the safetensors bank
    * (sparse_text_embedding/impl.rs:256-304, bgem3_weights.rs:14-43):
    * (idCol, token_id, weight) rows, duplicate ids max-merged, special
    * ids skipped. The bank loads once on the driver (dim-sized) and
    * rides in the plan. */
  def sparseTextEmbeddingWeighted(df: DataFrame, idCol: String, textCol: String,
                                  opts: InitOptions = InitOptions(modelName = "graft-sparse-64"))
      : DataFrame = {
    val (_, maxLen) = resolved(opts)
    val (wq, bq) = graft.backend.SparseLinearBank.loadedQuantized
    SparseEmbedder.weightedExploded(df, idCol, textCol,
      wq, bq, graft.backend.SparseLinearBank.Scale, maxLen)
  }

  /** `Bgem3Embedding` analogue: one narrow pass to
    * struct(dense, sparse, colbert). */
  def bgem3Embedding(df: DataFrame, idCol: String, textCol: String,
                     opts: InitOptions = InitOptions(modelName = "graft-bgem3-64"),
                     colbertDim: Int = 16): DataFrame = {
    val (m, maxLen) = resolved(opts)
    Bgem3Embedder.embed(df, idCol, textCol,
      denseDim = m.dim, colbertDim = colbertDim, maxLength = maxLen)
  }

  /** `TextRerank::rerank` analogue (single query, score-desc order with
    * the original index carried through). */
  def textRerank(spark: SparkSession, docs: DataFrame, idCol: String,
                 textCol: String, query: String,
                 returnDocuments: Boolean = true): DataFrame =
    Reranker.rerank(spark, docs, idCol, textCol, query, returnDocuments)

  /** The backend route of `TextRerank` — pair encoding through a
    * [[graft.backend.RawBackend]] forward, score = `logits[:, 0]`
    * (the reference's actual cross-encoder execution,
    * /root/reference/src/reranking/impl.rs:156-180). */
  def textRerankBackend(queries: DataFrame, qIdCol: String, qTextCol: String,
                        docs: DataFrame, idCol: String, textCol: String,
                        backend: graft.backend.RawBackend =
                          graft.backend.HashingCrossEncoder()): DataFrame =
    Reranker.rerankBackendAll(queries, qIdCol, qTextCol, docs, idCol, textCol, backend)

  /** The FULL learned-model text-embedding route — the reference's
    * Qwen3 chain with every parameter from one safetensors checkpoint:
    * real-vocab tokenize (WordPiece `tokenizer.json` or the BPE
    * `vocab`+`merges` the Qwen3 models actually ship) → learned
    * `model.embed_tokens` → learned decoder stack → final norm →
    * last-token pool → l2. (id, embedding) rows; sequences cap at
    * `maxLen` (the P3 truncation rule). */
  def textEmbeddingLearned(df: DataFrame, idCol: String, textCol: String,
                           tokenizer: String = "bpe",
                           maxLen: Int = graft.oracle.OracleSql.q95MaxLen): DataFrame = {
    import org.apache.spark.sql.functions.{col, slice}
    val bridge = org.apache.spark.sql.graftbridge.Bridge
    val (ids, minTokens) = tokenizer match {
      case "bpe" => (bridge.column(graft.functions.BpeIds(
        bridge.expression(col(textCol)), graft.model.Bpe.fixture)), 1)
      case "wordpiece" => (bridge.column(graft.functions.WordPieceIds(
        bridge.expression(col(textCol)), graft.model.WordPiece.fixture)), 3)
      case other => throw new IllegalArgumentException(
        s"unknown tokenizer '$other' (want 'bpe' or 'wordpiece')")
    }
    graft.backend.BackendEmbedder.embed(
      df.select(col(idCol), slice(ids, 1, maxLen).as("__tids")),
      idCol, "__tids", graft.backend.DecoderLayerBackend.fullModel(),
      minTokens = minTokens)
  }

  /** The FULL learned NomicBert-MoE route — the reference's second
    * architecture family (`NomicV2MoeTextEmbedding::embed`,
    * nomic_v2_moe.rs:764-800) with every parameter from one two-shard
    * checkpoint: WordPiece ids → learned word+type embeddings →
    * `emb_ln` → post-norm bidirectional blocks (layer 0 std MLP,
    * layer 1 megablocks MoE) → masked mean pool → l2.
    * (id, embedding) rows. */
  def textEmbeddingNomicMoE(df: DataFrame, idCol: String, textCol: String,
                            maxLen: Int = graft.oracle.OracleSql.q104MaxLen): DataFrame = {
    import org.apache.spark.sql.functions.{col, slice}
    val bridge = org.apache.spark.sql.graftbridge.Bridge
    val ids = bridge.column(graft.functions.WordPieceIds(
      bridge.expression(col(textCol)), graft.model.WordPiece.fixture))
    graft.backend.BackendEmbedder.embed(
      df.select(col(idCol), slice(ids, 1, maxLen).as("__tids")),
      idCol, "__tids", graft.backend.NomicModelBackend(), minTokens = 3)
  }

  /** The LEARNED cross-encoder rerank route — pair ids through the
    * full learned model's pooled pre-normalize hidden, then the real
    * `score.weight`/`score.bias` classification row: the reference's
    * `logits[:, 0]` (reranking/impl.rs:167-180) with every weight
    * from safetensors. (id, score) rows, score-desc order recovered
    * with ORDER BY like the reference's sort (impl.rs:194). */
  def textRerankLearned(df: DataFrame, idCol: String, textCol: String,
                        query: String,
                        maxLen: Int = graft.oracle.OracleSql.q96MaxLen): DataFrame = {
    import org.apache.spark.sql.functions.{col, element_at}
    val bridge = org.apache.spark.sql.graftbridge.Bridge
    val wp = graft.model.WordPiece.fixture
    val qWords = query.toLowerCase.replaceAll("[^a-z0-9 ]", " ")
      .split("\\s+").filter(_.nonEmpty).toSeq
    val qIds = qWords.flatMap(wp.tokenizeWord)
    val pe = df
      .select(col(idCol),
        bridge.column(graft.functions.WordPieceIds(
          bridge.expression(col(textCol)), wp)).as("__ids"))
      .select(col(idCol),
        Reranker.wordPiecePairEncode(qWords, col("__ids"), wp, maxLen)("input_ids").as("__tids"))
    graft.backend.BackendEmbedder.embed(pe, idCol, "__tids", learnedRerankHead,
      minTokens = qIds.length + 4)
      .select(col(idCol), element_at(col("embedding"), 1).as("score"))
  }

  // one instance per JVM: the head parses its checkpoint once, and the
  // backend's registry key and unboxed weights are derived once
  private lazy val learnedRerankHead: graft.backend.RerankHeadBackend = {
    val (w, b) = graft.backend.RerankHeadBank.loadedQuantized
    graft.backend.RerankHeadBackend(graft.backend.DecoderLayerBackend.fullModel(), w, b)
  }

  /** The LEARNED ColBERT route — per-token vectors from the full
    * learned stack through the real `colbert_linear.weight` matrix
    * (the reference's `[batch, seq_len − 1, dim]` third head,
    * bgem3_embedding/impl.rs:218,273-281). (id, pos, dim, val) rows. */
  def colbertEmbeddingLearned(df: DataFrame, idCol: String, textCol: String,
                              maxLen: Int = graft.oracle.OracleSql.q95MaxLen): DataFrame = {
    import org.apache.spark.sql.functions.{col, slice}
    val bridge = org.apache.spark.sql.graftbridge.Bridge
    val ids = bridge.column(graft.functions.WordPieceIds(
      bridge.expression(col(textCol)), graft.model.WordPiece.fixture))
    graft.backend.BackendEmbedder.colbertTokens(
      df.select(col(idCol), slice(ids, 1, maxLen).as("__tids")),
      idCol, "__tids", graft.backend.DecoderLayerBackend.fullModel(),
      graft.backend.ColbertHeadBank.loadedQuantized,
      graft.backend.ColbertHeadBank.OutDim, minTokens = 3)
  }

  /** The TIED-vocab-head sparse route — `tie_word_embeddings`
    * (qwen3.rs:39) makes the output projection the learned
    * embed_tokens table; SPLADE-style relu + max-merge over the full
    * learned stack's per-token states. (id, term_id, weight) rows. */
  def sparseTextEmbeddingTied(df: DataFrame, idCol: String, textCol: String,
                              maxLen: Int = graft.oracle.OracleSql.q95MaxLen): DataFrame = {
    import org.apache.spark.sql.functions.{col, slice}
    val bridge = org.apache.spark.sql.graftbridge.Bridge
    val ids = bridge.column(graft.functions.BpeIds(
      bridge.expression(col(textCol)), graft.model.Bpe.fixture))
    graft.backend.BackendEmbedder.tiedSparse(
      df.select(col(idCol), slice(ids, 1, maxLen).as("__tids")),
      idCol, "__tids", graft.backend.DecoderLayerBackend.fullModel(),
      minTokens = 1)
  }

  /** `ImageEmbedding::embed` analogue over a binary column; pair with
    * [[ImagePipeline.readImages]] for the path-based entry. */
  def imageEmbedding(df: DataFrame, idCol: String, bytesCol: String,
                     preprocessor: Preprocess.Compose = Preprocess.Compose.clipDefault,
                     dim: Int = K.Dim): DataFrame =
    ImagePipeline.embedImagesCompose(df, idCol, bytesCol, preprocessor, dim)

  /** `TextEmbedding::list_supported_models` analogue (and per-kind
    * variants, matching the reference's five registries). */
  def listSupportedModels(kind: ModelKind = ModelKind.Dense): Seq[graft.model.ModelInfo] =
    ModelRegistry.listSupportedModels(kind)
}
