package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import graft.functions.{K, Kernel}

/** Sparse (lexical) embedding extraction — the Spark re-expression of the
  * reference's two sparse paths:
  *
  *  - SPLADE: per-position vocab scores, relu'd, max over the sequence
  *    axis, keep strictly-positive dims
  *    (/root/reference/src/sparse_text_embedding/impl.rs:225-254)
  *  - BGE-M3: per-token weight, skip special ids, merge duplicate token
  *    ids by max, indices sorted ascending
  *    (/root/reference/src/sparse_text_embedding/impl.rs:256-304)
  *
  * Both are per-doc max-merges over (doc, pos, token_id) scores, kept
  * strictly positive. The routes merge inside one native per-row
  * expression, so they are narrow; [[sparseExplodedRelational]] keeps
  * the explode → groupBy(doc, token_id).agg(max) formulation the oracle
  * mirrors. MAX is comparison-based, so both are exact and
  * order-independent.
  */
object SparseEmbedder {

  /** Per-occurrence score in (-1, 1): pseudo-random in (token, position),
    * mirroring "logit at position p for vocab dim t". */
  def occurrenceScore(tid: Column, pos: Column): Column =
    (((tid * lit(K.A2) + pos * lit(K.B2) + lit(K.C2)) % lit(K.M)).cast("double") /
      lit(K.M.toDouble)) * lit(2.0) - lit(1.0)

  /** Per-row sorted (token_id, s) pairs via the native kernel
    * ([[graft.functions.SparsePairs]]). */
  private def pairsCol(tids: Column, skipSpecial: Boolean): Column = {
    val bridge = org.apache.spark.sql.graftbridge.Bridge
    bridge.column(graft.functions.SparsePairs(bridge.expression(tids),
      if (skipSpecial) 3L else -1L))
  }

  /** Exploded sparse representation: (idCol, token_id, weight) rows with
    * weight = max over positions of relu(score) kept strictly positive.
    * `skipSpecial` drops token ids 0..3 (BGE-M3 semantics,
    * impl.rs:276-277).
    *
    * NARROW: the per-doc max-merge happens inside the per-row native
    * kernel, so there is no explode→groupBy exchange at all — at 100 TB
    * the operator scales with input splits like the dense path. The
    * relational formulation (what the DuckDB oracle mirrors, and the
    * shape you'd use if weights came from a rank-3 tensor column) stays
    * in [[sparseExplodedRelational]], spec-asserted equal. */
  def sparseExploded(df: DataFrame, idCol: String, textCol: String,
                     maxLength: Int = K.MaxLength,
                     skipSpecial: Boolean = false): DataFrame =
    df.select(col(idCol), Kernel.tokenIds(col(textCol), maxLength).as("__tids"))
      .select(col(idCol), explode(pairsCol(col("__tids"), skipSpecial)).as("p"))
      .select(col(idCol), col("p.token_id").as("token_id"), col("p.s").as("weight"))

  /** The explode → groupBy(doc, token).max relational formulation of
    * [[sparseExploded]] — one shuffle, map-side partial max. */
  def sparseExplodedRelational(df: DataFrame, idCol: String, textCol: String,
                               maxLength: Int = K.MaxLength,
                               skipSpecial: Boolean = false): DataFrame = {
    val base = df
      .select(col(idCol), posexplode(Kernel.tokenIds(col(textCol), maxLength)).as(Seq("pos", "token_id")))
    val filtered = if (skipSpecial) base.filter(col("token_id") > 3) else base
    filtered
      .withColumn("s", occurrenceScore(col("token_id"), col("pos")))
      .filter(col("s") > 0) // relu + strictly-positive keep
      .groupBy(col(idCol), col("token_id"))
      .agg(max(col("s")).as("weight"))
  }

  /** Corpus-weighted sparse vectors — the tf-idf construction over the
    * engine's lexical weights: each (doc, token) weight is scaled by the
    * inverse document frequency ratio nDocs/df (the ln-free exact
    * variant — ln() is not cross-engine bit-exact, and monotone
    * transforms don't change rankings).
    *
    * Scale shape: every aggregation is partial (map-side combine) and
    * key-spread — there is deliberately NO per-token window here: a
    * count window partitioned by token buffers a stopword's entire
    * (doc, token) group in ONE task at 100 TB, whereas the groupBy
    * stats table is skew-free and broadcast back. `n_docs` rides
    * in-plan as a broadcast 1-row companion computed by a column-pruned
    * `count(*)` over the corpus — ReadSchema is the empty struct, so
    * that branch is parquet-footer work, and there is no driver-side
    * `count()` action. The convenience form tokenizes the corpus once
    * per branch (narrow, cheap); a pipeline that already materialized
    * `(id, tids)` should call [[dfWeightedTokens]] to pay tokenization
    * exactly once. */
  def dfWeighted(df: DataFrame, idCol: String, textCol: String,
                 maxLength: Int = K.MaxLength): DataFrame =
    dfWeightedTokens(
      df.select(col(idCol), Kernel.tokenIds(col(textCol), maxLength).as("__tids")),
      idCol, "__tids")

  /** [[dfWeighted]] over a pre-tokenized `(id, tids)` frame — the form a
    * real pipeline uses after materializing the tokenized projection
    * once (checkpoint or table). `df` counts every doc containing the
    * token (before the positive-weight keep, matching the relational
    * oracle); docs with empty/null token arrays still count toward
    * n_docs. */
  def dfWeightedTokens(tokens: DataFrame, idCol: String,
                       tidsCol: String): DataFrame = {
    val occ = tokens
      .select(col(idCol), posexplode(col(tidsCol)).as(Seq("pos", "token_id")))
      .withColumn("s", occurrenceScore(col("token_id"), col("pos")))
      .groupBy(col(idCol), col("token_id"))
      .agg(max(when(col("s") > 0, col("s"))).as("__w"))
    // df = one row per (doc, token) in occ ⇒ count per token; partial
    // aggregation makes this skew-free, and the result is tiny ⇒ broadcast
    val stats = occ.groupBy(col("token_id")).agg(count(lit(1)).as("df"))
    val nd = tokens.groupBy().agg(count(lit(1)).as("__n_docs"))
    occ.filter(col("__w").isNotNull)
      .join(broadcast(stats), "token_id")
      .crossJoin(broadcast(nd))
      .withColumn("tfidf",
        col("__w") * (col("__n_docs").cast("double") / col("df").cast("double")))
      .select(col(idCol), col("token_id"), col("__w").as("weight"), col("df"), col("tfidf"))
  }

  /** BGE-M3 LEARNED-WEIGHT sparse extraction — the reference's
    * `token_weight = relu(hidden · weight + bias)` over a real F32 bank
    * (/root/reference/src/sparse_text_embedding/bgem3_weights.rs:14-43,
    * impl.rs:256-304): per unmasked non-special token, dot the
    * position-dependent hidden state against the bank, add the bias,
    * relu, keep strictly-positive, and max-merge duplicate token ids.
    *
    * `wq`/`bq` are the bank on its integer grid (weights are k/Scale
    * fixed-point, recovered losslessly from the safetensors bytes by
    * [[graft.backend.SparseLinearBank.loadedQuantized]]), so the dot
    * product and the relu both run in exact int64 arithmetic and ONLY
    * the final `/Scale` produces a double — order-free, hence
    * partitioning-invariant and bit-identical to the DuckDB oracle.
    *
    * Scale shape: the bank rides in the plan as a dim-sized literal
    * array (Catalyst ships it with the serialized plan — the "broadcast"
    * of a vector-sized constant), and dot, relu, keep and max-merge run
    * per row in one native expression
    * ([[graft.functions.SparseWeightedPairs]]) that `inline` fans out:
    * NARROW, one job, no exchange. Like the reference, the merge is per
    * input row: two rows sharing an id are not merged. */
  def weightedExploded(df: DataFrame, idCol: String, textCol: String,
                       wq: Array[Long], bq: Long, scale: Long,
                       maxLength: Int = K.MaxLength): DataFrame = {
    val bridge = org.apache.spark.sql.graftbridge.Bridge
    df.select(col(idCol), inline(bridge.column(graft.functions.SparseWeightedPairs(
      bridge.expression(Kernel.tokenIds(col(textCol), maxLength)),
      wq.toIndexedSeq, bq, scale))))
  }

  /** Reference-shaped output: one row per doc with
    * struct(indices: array<bigint> sorted asc, values: array<double>)
    * parallel arrays (src/common.rs:18-22; sort asc impl.rs:296-301).
    * Narrow — built per-row from the native pairs, no shuffle. */
  def sparseStruct(df: DataFrame, idCol: String, textCol: String,
                   maxLength: Int = K.MaxLength): DataFrame =
    df.select(col(idCol), Kernel.tokenIds(col(textCol), maxLength).as("__tids"))
      .filter(size(col("__tids")) > 0)
      .select(col(idCol), pairsCol(col("__tids"), skipSpecial = false).as("pairs"))
      .filter(size(col("pairs")) > 0)
      .select(
        col(idCol),
        struct(
          transform(col("pairs"), p => p("token_id")).as("indices"),
          transform(col("pairs"), p => p("s")).as("values")
        ).as("sparse"))
}
