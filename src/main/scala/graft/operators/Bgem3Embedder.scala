package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.catalyst.util.QuotingUtils
import org.apache.spark.sql.functions._
import graft.functions.{K, Kernel}

/** BGE-M3 joint embedding — dense + sparse + ColBERT from ONE pass
  * (/root/reference/src/bgem3_embedding/impl.rs:149-303, output shape
  * init.rs:20-25):
  *
  *  - dense: the pooled unit-norm document vector (impl.rs:220-228)
  *  - sparse: per-token weight, skip special ids {0,1,2,3}
  *    (XLM-RoBERTa CLS/PAD/EOS/UNK, impl.rs:245-246), merge duplicate
  *    token ids by MAX, indices sorted ascending (impl.rs:250-270)
  *  - colbert: one vector per kept token with the CLS slot dropped
  *    (colbert_shape[1] == seq_len-1, impl.rs:272-295)
  *
  * Spark-first shape: where the reference fans three extractions out of
  * one forward pass, here all three are per-row column expressions over a
  * single tokenization — the whole operator is NARROW (zero shuffles,
  * zero joins), so at 100 TB it scales linearly with input splits. The
  * sparse max-merge, a groupBy in
  * [[SparseEmbedder.sparseExplodedRelational]], becomes a per-row fold
  * over the (token, score) pairs sorted by (token asc, score asc):
  * keeping the last element of each token run IS the max — linear in
  * tokens, no exchange. Results are bit-identical to
  * the standalone operators (spec-asserted) and share their oracles.
  */
object Bgem3Embedder {

  /** Sorted (token_id, s) pairs with special ids skipped and duplicate
    * tokens max-merged — the reference's HashMap + sort_unstable
    * (impl.rs:250-267) as one native JVM pass
    * ([[graft.functions.SparsePairs]]); [[sparsePairsHof]] keeps the HOF
    * formulation for cross-validation. */
  def sparsePairs(tids: Column): Column = {
    val bridge = org.apache.spark.sql.graftbridge.Bridge
    bridge.column(graft.functions.SparsePairs(bridge.expression(tids)))
  }

  /** HOF formulation of [[sparsePairs]] (sort + fold with an array
    * accumulator — correct but interpreted and quadratic per row). */
  def sparsePairsHof(tids: Column): Column = {
    val scored = filter(
      transform(tids, (t, p) =>
        struct(t.as("token_id"), SparseEmbedder.occurrenceScore(t, p).as("s"))),
      x => x("s") > lit(0.0) && x("token_id") > lit(3L))
    // lexicographic struct sort = token asc, then s asc → the last
    // element of each equal-token run carries the max score
    val sorted = sort_array(scored)
    // sentinel head keeps element_at(acc, -1) total on the first step
    val sentinel = array(struct(lit(-1L).as("token_id"), lit(0.0).as("s")))
    val folded = aggregate(sorted, sentinel, (acc, p) =>
      when(element_at(acc, -1)("token_id") === p("token_id"),
        concat(slice(acc, lit(1), size(acc) - 1), array(p)))
        .otherwise(concat(acc, array(p))))
    // drop the sentinel (tokens per doc are capped by maxLength, so a
    // fixed generous length bound is safe and avoids re-evaluating the fold)
    slice(folded, 2, 1 << 20)
  }

  /** ColBERT token vectors as one per-row array: positions ≥ 1 (CLS
    * dropped), in position order — same vectors as
    * [[ColbertEmbedder.tokenVector]]. */
  def colbertVectors(tids: Column, dim: Int): Column =
    transform(
      filter(
        transform(tids, (t, p) => struct(t.as("t"), p.as("p"))),
        x => x("p") >= 1),
      x => ColbertEmbedder.tokenVector(x("t"), x("p"), dim))

  /** Adds `outCol: struct(dense array<double>, sparse struct(indices,
    * values), colbert array<array<double>>)` computed from `textCol` in
    * one pass. Rows with no tokens are dropped (the reference cannot
    * embed an empty encoding). */
  def embed(df: DataFrame, idCol: String, textCol: String,
            outCol: String = "bgem3",
            denseDim: Int = K.Dim, colbertDim: Int = 16,
            maxLength: Int = K.MaxLength): DataFrame = {
    val tids = "__graft_tids"
    val pairs = "__graft_pairs"
    val mean = "__graft_mean"
    val out = struct(
      zip_with(col(mean),
        array_repeat(Kernel.l2norm(col(mean)) + lit(K.Eps), lit(denseDim)),
        (x, n) => x / n).as("dense"),
      struct(
        transform(col(pairs), p => p("token_id")).as("indices"),
        transform(col(pairs), p => p("s")).as("values")).as("sparse"),
      colbertVectors(col(tids), colbertDim).as("colbert")).as(outCol)
    // df's columns in place, outCol replacing a same-named one
    val kept = df.columns.map(c =>
      if (c == outCol) out else col(QuotingUtils.quoteIdentifier(c)))
    // tokenize inside a one-element explode: its output is an attribute,
    // so the empty-row filter stays above it and the downstream lambdas
    // read tids. Over a projected alias the optimizer would push the
    // filter below the projection with the tokenization inlined, and
    // every row would be tokenized twice.
    df.select(col("*"), explode(array(Kernel.tokenIds(col(textCol), maxLength))).as(tids))
      .filter(size(col(tids)) > 0)
      .select(col("*"),
        Kernel.meanScaled(Kernel.pooledSums(col(tids), denseDim), size(col(tids))).as(mean),
        sparsePairs(col(tids)).as(pairs))
      .select((if (df.columns.contains(outCol)) kept else kept :+ out).toIndexedSeq: _*)
  }
}
