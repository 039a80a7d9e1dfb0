package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.functions.{K, Kernel}

/** Similarity / ranking queries (/root/reference/src/similarity.rs:14-40 and
  * the rerank top-k pattern). All top-k paths go through
  * `ORDER BY score DESC, id ASC LIMIT k`, which Spark plans as
  * TakeOrderedAndProject — per-partition heaps + a single driver merge of
  * k·numPartitions rows, no full sort and no shuffle of the corpus. */
object Similarity {

  /** Score every corpus row against one broadcast query vector and return
    * the best k: the reference's `top_k` (src/similarity.rs:31-40), with
    * `id` as the deterministic tiebreaker (Rust total_cmp keeps original
    * order for ties; doc order ≙ id order here). */
  def topK(corpus: DataFrame, vecCol: String, idCol: String,
           queryVec: Seq[Double], k: Int): DataFrame = {
    val q = lit(queryVec.toArray)
    corpus
      .withColumn("score", Kernel.cosine(col(vecCol), q))
      .select(col(idCol), col("score"))
      .orderBy(col("score").desc, col(idCol).asc)
      .limit(k)
  }

  /** k-NN join: for each row of `queries` (small side — broadcast), the top
    * k corpus rows by cosine. Scale shape: the corpus streams
    * partition-local through the broadcast nested-loop join (one scan, no
    * corpus shuffle), and the per-query ranking is a PARTIAL top-k
    * aggregate ([[graft.functions.TopKAgg]]) — each map task keeps a
    * k-bounded heap per query and emits ≤ k rows per query before the
    * exchange, so the shuffle carries k·numPartitions·numQueries rows
    * total, never the scored corpus×queries product (the row_number
    * window it replaces exchanged everything and funneled each query's
    * whole scored corpus through a single reducer). */
  def knnJoin(queries: DataFrame, qIdCol: String, qVecCol: String,
              corpus: DataFrame, cIdCol: String, cVecCol: String,
              k: Int): DataFrame =
    // norms factor out of the n×m pair loop: each side computes ‖v‖
    // ONCE (the broadcast side before shipping), so the per-pair work
    // is one dot fold instead of three — bit-identical to the fused
    // cosine (Kernel.cosinePre contract, spec-pinned)
    corpus.withColumn("__cn", Kernel.vecNorm(col(cVecCol)))
      .crossJoin(broadcast(queries.withColumn("__qn", Kernel.vecNorm(col(qVecCol)))))
      .withColumn("score", Kernel.cosinePre(
        col(cVecCol), col(qVecCol), col("__cn"), col("__qn")))
      .groupBy(col(qIdCol))
      .agg(graft.functions.TopKAgg.topK(col("score"), col(cIdCol).cast("long"), k).as("__top"))
      .select(col(qIdCol), posexplode(col("__top")).as(Seq("__r", "__t")))
      .select(col(qIdCol), col("__t.id").as(cIdCol),
        (col("__r") + 1).as("rank"), col("__t.score").as("score"))

  /** Deterministic sign-LSH bucket id over `nPlanes` pseudo-random
    * hyperplanes: bit p = (v · plane_p > 0). Plane p dim d weight =
    * cell-hash scaled to (-1,1) — same integer-arithmetic stream as the
    * projector, so the oracle reproduces it exactly. Native one-pass
    * kernel ([[graft.functions.LshBucket]]); [[lshBucketHof]] keeps the
    * HOF formulation the oracle mirrors (bit-identical, spec-asserted). */
  def lshBucket(vec: Column, dim: Int, nPlanes: Int): Column = {
    val bridge = org.apache.spark.sql.graftbridge.Bridge
    bridge.column(graft.functions.LshBucket(bridge.expression(vec), dim, nPlanes))
  }

  /** Deterministic random-projection dimensionality reduction: project
    * a `dim`-vector onto `outDim` pseudo-random hyperplanes — the SAME
    * affine-stream planes as [[lshBucket]] (seed p+7), kept as signed
    * dots instead of sign bits. The classic Johnson–Lindenstrauss
    * shrink that makes downstream ANN/cluster passes O(outDim/dim)
    * cheaper; RNG-free, so projections are reproducible across runs,
    * partitionings, and engines.
    *
    * Scale shape: narrow per-row map (no shuffle); outDim is a plan
    * constant so the column tree is a fixed array of codegen'd folds. */
  def randomProjection(vec: Column, dim: Int, outDim: Int): Column = {
    def planeDot(p: Int): Column =
      aggregate(
        zip_with(vec, sequence(lit(0L), lit(dim - 1L)), (x, d) =>
          x.cast("double") *
            ((Kernel.cell(lit(p.toLong + 7L), d).cast("double") / lit(K.M.toDouble)) * lit(2.0) - lit(1.0))),
        lit(0.0), (a, x) => a + x)
    array((0 until outDim).map(planeDot): _*)
  }

  /** HOF formulation of [[lshBucket]]. */
  def lshBucketHof(vec: Column, dim: Int, nPlanes: Int): Column = {
    // dot(v, plane_p) as a fold over dims (order fixed → deterministic)
    def planeDot(p: Int): Column =
      aggregate(
        zip_with(vec, sequence(lit(0L), lit(dim - 1L)), (x, d) =>
          x.cast("double") *
            ((Kernel.cell(lit(p.toLong + 7L), d).cast("double") / lit(K.M.toDouble)) * lit(2.0) - lit(1.0))),
        lit(0.0), (a, x) => a + x)
    (0 until nPlanes).map(p => when(planeDot(p) > lit(0.0), lit(1L << p)).otherwise(lit(0L)))
      .reduce(_ + _)
  }

  /** ANN via sign-LSH: queries only compare against corpus rows in the same
    * bucket — the scale path for similarity search (candidate set shrinks
    * ~2^nPlanes-fold; bucket join is a hash join on the bucket id instead
    * of a cross join). Recall is traded for throughput; the brute-force
    * `knnJoin` stays the exact baseline. */
  /** ColBERT MaxSim late-interaction score between two multi-vector
    * columns: Σ_q max_d q·d ([[graft.functions.MaxSim]]) — ranking over
    * per-token vectors without pooling them away. Per-row and narrow;
    * pair it with a broadcast query set exactly like [[knnJoin]]. */
  def maxSim(queryVecs: Column, docVecs: Column): Column = {
    val bridge = org.apache.spark.sql.graftbridge.Bridge
    bridge.column(graft.functions.MaxSim(
      bridge.expression(queryVecs), bridge.expression(docVecs)))
  }

  /** Squared L2 distance between two vector columns (elements widened to
    * double; the (x-y)² tree is mirrored in the SQL oracle). */
  def l2sq(a: Column, b: Column): Column =
    aggregate(
      zip_with(a, b, (x, y) =>
        (x.cast("double") - y.cast("double")) * (x.cast("double") - y.cast("double"))),
      lit(0.0), (s, v) => s + v)

  /** IVF-Flat ANN — the inverted-file scale path: corpus rows are
    * assigned to their nearest coarse-quantizer centroid in ONE narrow
    * pass (centroids live behind a broadcast [[graft.functions.CentroidBank]]
    * — no join, no shuffle of the corpus, and the plan stays O(1) in
    * nCells), queries probe their `nProbe` nearest cells,
    * and ranking touches only the probed cells' members via a broadcast
    * join + partial top-k aggregate. Search cost drops by ~nCells/nProbe
    * versus brute force; recall is the probe-count dial.
    *
    * The coarse quantizer here is deterministic — the corpus rows with
    * the `nCells` smallest ids — so the whole operator is oracle-able;
    * a k-means trainer slots into the same (cellId, centroid) contract.
    * Ties break toward the lower cell id on both assignment and probe
    * order. */
  def ivfFlat(queries: DataFrame, qIdCol: String, qVecCol: String,
              corpus: DataFrame, cIdCol: String, cVecCol: String,
              nCells: Int, nProbe: Int, k: Int): DataFrame =
    ivfFlatWith(queries, qIdCol, qVecCol, corpus, cIdCol, cVecCol,
      collectCentroids(corpus, cIdCol, cVecCol, nCells), nProbe, k)

  /** [[ivfFlat]] against EXPLICIT centroids — the (cellId, centroid)
    * contract a trained quantizer ([[trainKmeans]]) plugs into. */
  def ivfFlatWith(queries: DataFrame, qIdCol: String, qVecCol: String,
                  corpus: DataFrame, cIdCol: String, cVecCol: String,
                  cents: Array[(Long, Array[Double])],
                  nProbe: Int, k: Int): DataFrame = {
    // The centroid bank rides behind ONE broadcast handle (inline only
    // when tiny), so the plan and every task binary stay O(1) in nCells
    // — a 65k-cell quantizer must never be a Catalyst literal.
    val bridge = org.apache.spark.sql.graftbridge.Bridge
    val bank = graft.functions.CentroidBank.of(corpus.sparkSession, cents)

    // per-row argmin as a native expression (strict < keeps the earliest
    // = lowest cell id on ties; same fold order as the SQL oracle)
    val assigned = corpus.withColumn("__cell", bridge.column(
      graft.functions.NearestCell(bridge.expression(col(cVecCol)), bank)))
    // query-side probe list: the nProbe nearest cells by (l2, cell) —
    // native over the same bank (bit-identical to the sort-slice HOF)
    val probes = queries.withColumn("__qn", Kernel.vecNorm(col(qVecCol)))
      .withColumn("__cell",
        explode(bridge.column(graft.functions.ProbeCells(
          bridge.expression(col(qVecCol)), bank, nProbe))))
      .select(col(qIdCol), col(qVecCol), col("__qn"), col("__cell"))

    assigned.withColumn("__cn", Kernel.vecNorm(col(cVecCol)))
      .join(broadcast(probes), Seq("__cell"))
      .withColumn("score", Kernel.cosinePre(
        col(cVecCol), col(qVecCol), col("__cn"), col("__qn")))
      .groupBy(col(qIdCol))
      .agg(graft.functions.TopKAgg.topK(col("score"), col(cIdCol).cast("long"), k).as("__top"))
      .select(col(qIdCol), posexplode(col("__top")).as(Seq("__r", "__t")))
      .select(col(qIdCol), col("__t.id").as(cIdCol),
        (col("__r") + 1).as("rank"), col("__t.score").as("score"))
  }

  /** First-k centroid collection (index build): the corpus rows with the
    * k smallest ids, as (id, vector) sorted by id. Shared by ivfFlat,
    * pqCodebook, ivfPq, and [[Dedup.semDedupPairs]] — all their
    * quantizers must load centroids identically. */
  def firstKCentroids(corpus: DataFrame, cIdCol: String,
                      cVecCol: String, k: Int): Array[(Long, Array[Double])] =
    collectCentroids(corpus, cIdCol, cVecCol, k)

  private[operators] def collectCentroids(corpus: DataFrame, cIdCol: String,
                               cVecCol: String, k: Int): Array[(Long, Array[Double])] =
    corpus.filter(col(cIdCol) < k)
      .select(col(cIdCol).cast("long"), col(cVecCol))
      .collect()
      .map(r => (r.getLong(0), r.getSeq[Any](1).map {
        case f: Float => f.toDouble
        case d: Double => d
      }.toArray))
      .sortBy(_._1)

  /** Product-quantization codebook — the deterministic first-k coarse
    * quantizer (corpus rows with the k smallest ids), collected at index
    * build time like [[ivfFlat]]'s centroids; a trained k-means codebook
    * slots into the same (k × dim) contract. */
  def pqCodebook(corpus: DataFrame, cIdCol: String, cVecCol: String,
                 k: Int): Array[Array[Double]] =
    collectCentroids(corpus, cIdCol, cVecCol, k).map(_._2)

  /** Both build-time first-k quantizers from ONE collect (guide §1.2:
    * fewer passes — the coarse centroids and the PQ codebook are prefix
    * filters of the same corpus head, and collecting them separately
    * paid two scan jobs for one row set). Returns exactly what
    * [[collectCentroids]](nCells) and [[pqCodebook]](nCentsPq) return:
    * rows with id < nCells, and the vectors of rows with id < nCentsPq
    * — value-identical (same rows, same sort), gate-pinned by every
    * IVF-PQ oracle. */
  private[operators] def collectQuantizers(corpus: DataFrame, cIdCol: String,
      cVecCol: String, nCells: Int, nCentsPq: Int)
      : (Array[(Long, Array[Double])], Array[Array[Double]]) = {
    val both = collectCentroids(corpus, cIdCol, cVecCol, math.max(nCells, nCentsPq))
    (both.filter(_._1 < nCells), both.filter(_._1 < nCentsPq).map(_._2))
  }

  /** A full-dim (k × dim) codebook as per-subspace books (m × k × sub). */
  private[operators] def subBooks(codebook: Array[Array[Double]], m: Int): Array[Array[Array[Double]]] = {
    val sub = codebook.head.length / m
    Array.tabulate(m)(j =>
      codebook.map(c => java.util.Arrays.copyOfRange(c, j * sub, (j + 1) * sub)))
  }

  /** The m per-subspace codes for one vector column as ONE native
    * expression over the codebook bank — shared by the PQ encoders and
    * [[ivfPq]] (codes must be built identically for full-probe IVF-PQ
    * to reduce to plain PQ). */
  private[operators] def pqCodesCol(bank: graft.functions.CodebookBank,
                         vecCol: Column): Column = {
    val bridge = org.apache.spark.sql.graftbridge.Bridge
    bridge.column(graft.functions.PqEncode(bridge.expression(vecCol), bank))
  }

  /** Asymmetric distance Σ_j ‖q_sub_j − book_j[code_j]‖², accumulated in
    * subspace order over the bank — shared by the PQ searchers and
    * [[ivfPq]]. */
  private[operators] def adcDistCol(bank: graft.functions.CodebookBank,
                         qVec: Column, codes: Column): Column = {
    val bridge = org.apache.spark.sql.graftbridge.Bridge
    bridge.column(graft.functions.AdcDist(
      bridge.expression(qVec), bridge.expression(codes), bank))
  }

  /** Train per-subspace PQ codebooks — k-means over each subspace's
    * slices, which is what PQ actually trains (each subspace clusters
    * independently). All m books train in ONE corpus pass per
    * iteration: each row emits its m (subspace, cell, subvector)
    * contributions and a single [[graft.functions.VecSumAgg]]
    * aggregation updates every book — not m sequential corpus scans,
    * and the driver collect is m×k ROWS of sub-length arrays
    * (codebook-sized), never m×k×sub rows. Same integer-accumulated,
    * partitioning-invariant updates as [[trainKmeans]], value-identical
    * to training each subspace separately; superseded per-iteration
    * broadcast banks are destroyed after each collect. Returns
    * m × k × sub, the contract of [[pqEncodeTrained]]. */
  def trainPqCodebooks(corpus: DataFrame, cIdCol: String, cVecCol: String,
                       dim: Int, m: Int, k: Int,
                       iterations: Int = 2,
                       quantScale: Long = 1000000L): Array[Array[Array[Double]]] = {
    val bridge = org.apache.spark.sql.graftbridge.Bridge
    val sub = dim / m
    val init = collectCentroids(corpus, cIdCol, cVecCol, k) // one collect
    val cellIds = init.map(_._1)
    var books: Array[Array[Array[Double]]] =
      Array.tabulate(m)(j => init.map { case (_, v) =>
        java.util.Arrays.copyOfRange(v, j * sub, (j + 1) * sub)
      })
    for (_ <- 1 to iterations) {
      val banks = books.map(book =>
        graft.functions.CentroidBank.of(corpus.sparkSession, cellIds.zip(book)))
      val perSub = corpus.select(
        explode(array(banks.zipWithIndex.map { case (bank, j) =>
          struct(
            lit(j).as("j"),
            bridge.column(graft.functions.NearestCell(
              bridge.expression(slice(col(cVecCol), j * sub + 1, sub)),
              bank)).as("cell"),
            slice(col(cVecCol), j * sub + 1, sub).as("sv"))
        }: _*)).as("z"))
        .select(col("z.j").as("__j"), col("z.cell").as("__cell"), col("z.sv").as("__sv"))
        .groupBy(col("__j"), col("__cell"))
        .agg(graft.functions.VecSumAgg.vecSum(col("__sv"), quantScale).as("__sn"))
        .select(col("__j"), col("__cell"),
          col("__sn.sums").as("__s"), col("__sn.ns").as("__n"))
        .collect()
        .map(r => ((r.getInt(0), r.getLong(1)),
          (r.getSeq[Long](2).toArray, r.getSeq[Long](3).toArray)))
        .toMap
      books = Array.tabulate(m) { j =>
        books(j).zipWithIndex.map { case (oldVec, ci) =>
          val nv = oldVec.clone()
          perSub.get((j, cellIds(ci))).foreach { case (s, n) =>
            var d = 0
            while (d < sub && d < s.length) {
              if (n(d) > 0L) nv(d) = s(d).toDouble / (n(d) * quantScale).toDouble
              d += 1
            }
          }
          nv
        }
      }
      banks.foreach {
        case b: graft.functions.BroadcastBank => b.handle.destroy()
        case _ =>
      }
    }
    books
  }

  /** [[pqEncode]] with per-subspace (trained) codebooks. */
  def pqEncodeTrained(corpus: DataFrame, cIdCol: String, cVecCol: String,
                      books: Array[Array[Array[Double]]]): DataFrame = {
    val bank = graft.functions.CodebookBank.of(corpus.sparkSession, books)
    corpus.select(col(cIdCol), pqCodesCol(bank, col(cVecCol)).as("codes"))
  }

  /** [[pqSearch]] with per-subspace (trained) codebooks. */
  def pqSearchTrained(queries: DataFrame, qIdCol: String, qVecCol: String,
                      codes: DataFrame, cIdCol: String,
                      books: Array[Array[Array[Double]]], k: Int): DataFrame = {
    val bank = graft.functions.CodebookBank.of(codes.sparkSession, books)
    val dist = adcDistCol(bank, col(qVecCol), col("codes"))
    codes.crossJoin(broadcast(queries.select(col(qIdCol), col(qVecCol))))
      .withColumn("__negd", -dist)
      .groupBy(col(qIdCol))
      .agg(graft.functions.TopKAgg.topK(col("__negd"), col(cIdCol).cast("long"), k).as("__top"))
      .select(col(qIdCol), posexplode(col("__top")).as(Seq("__r", "__t")))
      .select(col(qIdCol), col("__t.id").as(cIdCol),
        (col("__r") + 1).as("rank"), (-col("__t.score")).as("dist"))
  }

  /** PQ-encode a corpus: each vector becomes `m` per-subspace centroid
    * codes (array<bigint> of length m) — the memory-compression ANN path
    * for a 100 TB corpus: codes store in m bytes-ish against dim floats
    * (a 16-32× footprint cut), and search never touches raw vectors.
    * Per-subspace assignment is the native [[graft.functions.NearestCell]]
    * argmin (strict <, ties → lower code) over the codebook's subspace
    * slices. Narrow, zero shuffle — the encode scales like the dense
    * embed path. */
  def pqEncode(corpus: DataFrame, cIdCol: String, cVecCol: String,
               codebook: Array[Array[Double]], m: Int): DataFrame =
    pqEncodeTrained(corpus, cIdCol, cVecCol, subBooks(codebook, m))

  /** Asymmetric-distance PQ search: each (query, code row) pair scores as
    * Σ_j ‖q_sub_j − centroid[code_j]‖² — per-subspace lookups into the
    * broadcast codebook, accumulated in subspace order (oracle-exact).
    * Ranking is the partial top-k aggregate on the NEGATED distance
    * (score desc ≡ distance asc; ties → lower id), so ≤ k rows per query
    * per map task reach the exchange. Output (qIdCol, cIdCol, rank,
    * dist) — approximate nearest neighbors from codes alone. */
  def pqSearch(queries: DataFrame, qIdCol: String, qVecCol: String,
               codes: DataFrame, cIdCol: String,
               codebook: Array[Array[Double]], m: Int, k: Int): DataFrame =
    pqSearchTrained(queries, qIdCol, qVecCol, codes, cIdCol, subBooks(codebook, m), k)

  /** IVF-PQ — the composed large-scale ANN index shape (inverted file ×
    * product quantization): corpus rows are assigned to their nearest
    * coarse cell AND PQ-encoded in ONE narrow pass; queries probe their
    * `nProbe` nearest cells and rank ONLY the probed cells' members by
    * asymmetric distance over codes. Search cost drops ~nCells/nProbe
    * against [[pqSearch]], and the scanned state is (cell, m codes) per
    * row — never the raw vectors. Both quantizers are the deterministic
    * first-k kind, so the whole operator is oracle-able; trained
    * codebooks slot into the same contracts. Output
    * (qIdCol, cIdCol, rank, dist). */
  def ivfPq(queries: DataFrame, qIdCol: String, qVecCol: String,
            corpus: DataFrame, cIdCol: String, cVecCol: String,
            nCells: Int, nProbe: Int, m: Int, nCentsPq: Int,
            k: Int): DataFrame = {
    val bridge = org.apache.spark.sql.graftbridge.Bridge
    val spark = corpus.sparkSession
    // one collect feeds BOTH quantizers (guide §1.2 — was two jobs)
    val (cents, book) = collectQuantizers(corpus, cIdCol, cVecCol, nCells, nCentsPq)
    val bank = graft.functions.CentroidBank.of(spark, cents)
    val books = graft.functions.CodebookBank.of(spark, subBooks(book, m))

    // one narrow pass: coarse cell + PQ codes per corpus row
    val indexed = corpus.select(
      col(cIdCol),
      bridge.column(graft.functions.NearestCell(
        bridge.expression(col(cVecCol)), bank)).as("__cell"),
      pqCodesCol(books, col(cVecCol)).as("codes"))

    val probes = queries.withColumn("__cell",
        explode(bridge.column(graft.functions.ProbeCells(
          bridge.expression(col(qVecCol)), bank, nProbe))))
      .select(col(qIdCol), col(qVecCol), col("__cell"))

    val dist = adcDistCol(books, col(qVecCol), col("codes"))

    indexed.join(broadcast(probes), Seq("__cell"))
      .withColumn("__negd", -dist)
      .groupBy(col(qIdCol))
      .agg(graft.functions.TopKAgg.topK(col("__negd"), col(cIdCol).cast("long"), k).as("__top"))
      .select(col(qIdCol), posexplode(col("__top")).as(Seq("__r", "__t")))
      .select(col(qIdCol), col("__t.id").as(cIdCol),
        (col("__r") + 1).as("rank"), (-col("__t.score")).as("dist"))
  }

  /** The deterministic residual codebook rows [[ivfPqResidual]] and the
    * persisted [[VectorIndex]] residual builds share: the residuals of
    * corpus rows [nCells, nCells+nCentsPq) — offset PAST the
    * centroid-coincident rows, whose residuals are zero vectors (a
    * degenerate codebook). Collect is nCentsPq rows (codebook-sized). */
  private[operators] def residualBookRows(corpus: DataFrame, cIdCol: String,
      cVecCol: String, cents: Array[(Long, Array[Double])],
      nCentsPq: Int): Array[Array[Double]] = {
    val bridge = org.apache.spark.sql.graftbridge.Bridge
    val bank = graft.functions.CentroidBank.of(corpus.sparkSession, cents)
    val nCells = cents.length
    corpus
      .filter(col(cIdCol) >= nCells && col(cIdCol) < nCells + nCentsPq)
      .select(col(cIdCol).cast("long"),
        bridge.column(graft.functions.ResidualVec(
          bridge.expression(col(cVecCol)),
          graft.functions.NearestCell(bridge.expression(col(cVecCol)), bank),
          bank)).as("__res"))
      .collect()
      .map(r => (r.getLong(0), r.getSeq[Double](1).toArray))
      .sortBy(_._1).map(_._2)
  }

  /** A residual VIEW of the corpus — each row's `vec − centroid[cell]`
    * under the given coarse centroids, with ids preserved — so every
    * raw-frame quantizer trainer ([[trainPqCodebooks]]) trains residual
    * books without a residual-specific twin: PQ training is frame-blind,
    * only its input changes. One narrow in-plan transform, no action. */
  private[operators] def residualView(corpus: DataFrame, cIdCol: String,
      cVecCol: String, cents: Array[(Long, Array[Double])]): DataFrame = {
    val bridge = org.apache.spark.sql.graftbridge.Bridge
    val bank = graft.functions.CentroidBank.of(corpus.sparkSession, cents)
    corpus.select(col(cIdCol),
      bridge.column(graft.functions.ResidualVec(
        bridge.expression(col(cVecCol)),
        graft.functions.NearestCell(bridge.expression(col(cVecCol)), bank),
        bank)).as(cVecCol))
  }

  /** [[ivfPq]] with RESIDUAL encoding (Jégou et al. 2011, the standard
    * IVF-ADC formulation): each corpus row's PQ codes quantize
    * `vec − centroid[cell]` instead of the raw vector, and each query
    * compares in the residual frame of the PROBED cell — within a cell
    * only the residual energy remains for PQ to resolve, so the same m
    * codes buy more ordering (SCALING.md records the measured recall
    * contrast, residual vs first-k codebook). The
    * codebook is the deterministic residuals of rows
    * [nCells, nCells+nCentsPq) — offset past the centroid-coincident
    * rows, whose residuals are zero (a trained book slots into the same
    * contract); plan shape is identical to [[ivfPq]] — one narrow
    * encode pass, broadcast probes, partial top-k. Oracle-gated (q130). */
  def ivfPqResidual(queries: DataFrame, qIdCol: String, qVecCol: String,
                    corpus: DataFrame, cIdCol: String, cVecCol: String,
                    nCells: Int, nProbe: Int, m: Int, nCentsPq: Int,
                    k: Int): DataFrame = {
    val bridge = org.apache.spark.sql.graftbridge.Bridge
    val spark = corpus.sparkSession
    val cents = collectCentroids(corpus, cIdCol, cVecCol, nCells)
    val bank = graft.functions.CentroidBank.of(spark, cents)
    def cellOf(v: Column): Column =
      bridge.column(graft.functions.NearestCell(bridge.expression(v), bank))
    def residual(v: Column, cell: Column): Column =
      bridge.column(graft.functions.ResidualVec(
        bridge.expression(v), bridge.expression(cell), bank))

    val books = graft.functions.CodebookBank.of(spark,
      subBooks(residualBookRows(corpus, cIdCol, cVecCol, cents, nCentsPq), m))

    // one narrow pass: coarse cell + residual PQ codes per corpus row
    val indexed = corpus
      .select(col(cIdCol),
        cellOf(col(cVecCol)).as("__cell"), col(cVecCol))
      .select(col(cIdCol), col("__cell"),
        pqCodesCol(books, residual(col(cVecCol), col("__cell"))).as("codes"))

    // the query residual depends only on (query, probed cell), so it is
    // computed HERE — |Q|×nProbe rows, before the broadcast — never per
    // candidate inside the hot ADC scan (which would re-run the lookup
    // and the O(dim) allocation for every probed-cell member)
    val probes = queries.withColumn("__cell",
        explode(bridge.column(graft.functions.ProbeCells(
          bridge.expression(col(qVecCol)), bank, nProbe))))
      .select(col(qIdCol), col("__cell"),
        residual(col(qVecCol), col("__cell")).as("__qres"))

    // ADC in the probed cell's residual frame
    val dist = adcDistCol(books, col("__qres"), col("codes"))

    indexed.join(broadcast(probes), Seq("__cell"))
      .withColumn("__negd", -dist)
      .groupBy(col(qIdCol))
      .agg(graft.functions.TopKAgg.topK(col("__negd"), col(cIdCol).cast("long"), k).as("__top"))
      .select(col(qIdCol), posexplode(col("__top")).as(Seq("__r", "__t")))
      .select(col(qIdCol), col("__t.id").as(cIdCol),
        (col("__r") + 1).as("rank"), (-col("__t.score")).as("dist"))
  }

  /** Deterministic k-means (Lloyd) training for the quantizers: init =
    * the first-k centroids, then `iterations` rounds of
    * assign-and-recompute. The per-cell mean is accumulated as EXACT
    * integers — each element quantized to floor(v·S + 0.5) before the
    * sum — so the update is commutative (partitioning-invariant) and
    * bit-reproducible in the SQL oracle, unlike a raw double mean whose
    * value depends on shuffle order. Precision loss vs an exact mean is
    * ≤ 1/(2S) per element (S = 1e6 default), irrelevant for a coarse
    * quantizer. Empty cells keep their previous centroid.
    *
    * Scale shape, per round: one narrow assignment pass (bank-backed
    * [[graft.functions.NearestCell]]) + ONE partial aggregation to k
    * ROWS of `(cell, sums: array<long>, ns: array<long>)` via
    * [[graft.functions.VecSumAgg]] — the driver collect is bank-sized
    * (the same k×dim doubles the next iteration broadcasts anyway),
    * never k×dim ROWS: at 65k cells × 1024 dims the exploded
    * formulation this replaces pulled ~67M rows through the driver per
    * iteration. Each superseded iteration's broadcast bank is destroyed
    * as soon as its collect returns, so broadcasts don't accumulate
    * across rounds. Output: the (cellId, centroid) contract
    * [[ivfFlatWith]] and the PQ constructors consume. */
  def trainKmeans(corpus: DataFrame, cIdCol: String, cVecCol: String,
                  k: Int, iterations: Int = 2,
                  quantScale: Long = 1000000L): Array[(Long, Array[Double])] = {
    val bridge = org.apache.spark.sql.graftbridge.Bridge
    var cents = collectCentroids(corpus, cIdCol, cVecCol, k)
    for (_ <- 1 to iterations) {
      val bank = graft.functions.CentroidBank.of(corpus.sparkSession, cents)
      val assigned = corpus.withColumn("__cell", bridge.column(
        graft.functions.NearestCell(bridge.expression(col(cVecCol)), bank)))
      val sums = assigned
        .groupBy(col("__cell"))
        .agg(graft.functions.VecSumAgg.vecSum(col(cVecCol), quantScale).as("__sn"))
        .select(col("__cell"), col("__sn.sums").as("__s"), col("__sn.ns").as("__n"))
        .collect()
        .map(r => (r.getLong(0),
          (r.getSeq[Long](1).toArray, r.getSeq[Long](2).toArray)))
        .toMap
      cents = cents.map { case (cellId, oldVec) =>
        val nv = oldVec.clone()
        sums.get(cellId).foreach { case (s, n) =>
          var d = 0
          while (d < nv.length && d < s.length) {
            if (n(d) > 0L) nv(d) = s(d).toDouble / (n(d) * quantScale).toDouble
            d += 1
          }
        }
        (cellId, nv)
      }
      // the superseded bank is dead the moment the collect returns —
      // release its blocks instead of accumulating one broadcast per round
      bank match {
        case b: graft.functions.BroadcastBank => b.handle.destroy()
        case _ =>
      }
    }
    cents
  }

  /** Persist an LSH-bucketed corpus as a BUCKETED table (hash-bucketed
    * and sorted on the LSH bucket id): the index-build step that
    * amortizes across query batches. Joins and self-joins on `bucket`
    * against this table read pre-shuffled data — Spark's bucketed
    * sort-merge join elides the exchange on every bucketed side, which
    * at 100 TB means the corpus is shuffled ONCE at build time and never
    * again. */
  def writeLshIndex(corpus: DataFrame, cIdCol: String, cVecCol: String,
                    dim: Int, nPlanes: Int, table: String,
                    numBuckets: Int = 32): Unit = {
    // clears stale warehouse dirs a fresh session's catalog doesn't know
    DedupIndex.prepareManagedTable(corpus.sparkSession, table)
    corpus.withColumn("bucket", lshBucket(col(cVecCol), dim, nPlanes))
      .write.mode("overwrite")
      .bucketBy(numBuckets, "bucket").sortBy("bucket")
      .saveAsTable(table)
  }

  /** ANN lookup against a prebuilt [[writeLshIndex]] table. */
  def annLshJoinIndexed(spark: SparkSession, queries: DataFrame,
                        qIdCol: String, qVecCol: String,
                        table: String, cIdCol: String, cVecCol: String,
                        dim: Int, nPlanes: Int, k: Int): DataFrame = {
    val cb = spark.table(table)
    val qb = queries.withColumn("bucket", lshBucket(col(qVecCol), dim, nPlanes))
      .withColumn("__qn", Kernel.vecNorm(col(qVecCol)))
    cb.withColumn("__cn", Kernel.vecNorm(col(cVecCol)))
      .join(broadcast(qb), Seq("bucket"))
      .withColumn("score", Kernel.cosinePre(
        col(cVecCol), col(qVecCol), col("__cn"), col("__qn")))
      .groupBy(col(qIdCol), col("bucket"))
      .agg(graft.functions.TopKAgg.topK(col("score"), col(cIdCol).cast("long"), k).as("__top"))
      .select(col(qIdCol), col("bucket"), posexplode(col("__top")).as(Seq("__r", "__t")))
      .select(col(qIdCol), col("__t.id").as(cIdCol), col("bucket"),
        (col("__r") + 1).as("rank"), col("__t.score").as("score"))
  }

  /** Multi-probe sign-LSH ANN: with more hyperplanes the bucket space
    * grows (2^nPlanes — the scale lever: bucket occupancy shrinks as
    * planes are added) but a single-bucket lookup loses recall; each
    * query therefore also probes the nPlanes buckets at Hamming
    * distance 1 from its own (one sign flip — the planes most likely to
    * have flipped for a true neighbor). A corpus row lives in exactly one
    * bucket, so a (query, corpus) pair joins at most once — no dedup
    * needed. Ranking is the same partial top-k aggregate over ALL probed
    * buckets per query. */
  def annLshMultiProbe(queries: DataFrame, qIdCol: String, qVecCol: String,
                       corpus: DataFrame, cIdCol: String, cVecCol: String,
                       dim: Int, nPlanes: Int, k: Int): DataFrame = {
    val qb = queries.withColumn("__qbucket", lshBucket(col(qVecCol), dim, nPlanes))
      .withColumn("__qn", Kernel.vecNorm(col(qVecCol)))
      .withColumn("bucket", explode(array(
        (col("__qbucket") +: (0 until nPlanes)
          .map(p => col("__qbucket").bitwiseXOR(lit(1L << p)))): _*)))
      .drop("__qbucket")
    val cb = corpus.withColumn("bucket", lshBucket(col(cVecCol), dim, nPlanes))
      .withColumn("__cn", Kernel.vecNorm(col(cVecCol)))
    cb.join(broadcast(qb), Seq("bucket"))
      .withColumn("score", Kernel.cosinePre(
        col(cVecCol), col(qVecCol), col("__cn"), col("__qn")))
      .groupBy(col(qIdCol))
      .agg(graft.functions.TopKAgg.topK(col("score"), col(cIdCol).cast("long"), k).as("__top"))
      .select(col(qIdCol), posexplode(col("__top")).as(Seq("__r", "__t")))
      .select(col(qIdCol), col("__t.id").as(cIdCol),
        (col("__r") + 1).as("rank"), col("__t.score").as("score"))
  }

  /** Per-label prototype centroids: the integer-quantized mean embedding
    * of each label's rows — the same exact-commutative-sum trick as
    * [[trainKmeans]] (floor(v·S + 0.5) longs sum order-free, so the
    * result is partitioning-invariant and oracle-exact), and the same
    * [[graft.functions.VecSumAgg]] shape: ONE single-key partial
    * aggregation to |labels| ROWS of array-sums — never the
    * labels×dim row explosion of a posexplode → groupBy(label, dim)
    * formulation (dim× more shuffle rows; value-identity with that
    * shape is pinned by ClassifySpec). Output
    * (labelCol, centroid: array<double>); the prototype table is
    * |labels| rows — broadcast-sized. */
  def labelCentroids(df: DataFrame, labelCol: String, vecCol: String,
                     quantScale: Long = 1000000L): DataFrame =
    df.groupBy(col(labelCol))
      .agg(graft.functions.VecSumAgg.vecSum(col(vecCol), quantScale).as("__sn"))
      // a label whose vectors were all null has an empty buffer — drop
      // it, matching the exploded formulation this replaced (an empty
      // centroid would win every NearestCell distance at 0.0)
      .filter(size(col("__sn.sums")) > 0)
      .select(col(labelCol),
        zip_with(col("__sn.sums"), col("__sn.ns"),
          (s, n) => s.cast("double") / (n * lit(quantScale)).cast("double"))
          .as("centroid"))

  /** Nearest-prototype classification: assign every row the label of its
    * squared-L2-closest centroid (ties → lowest label, the
    * [[graft.functions.NearestCell]] rule). The prototype bank ships as
    * a broadcast handle when large — a narrow one-pass scan, zero
    * shuffle: the 100 TB-corpus shape for "label everything with a
    * small prototype bank". `centroids` must be sorted by label
    * ascending. */
  def classifyByCentroids(df: DataFrame, vecCol: String,
                          centroids: Array[(Long, Array[Double])],
                          outCol: String = "pred"): DataFrame = {
    val bridge = org.apache.spark.sql.graftbridge.Bridge
    df.withColumn(outCol, bridge.column(graft.functions.NearestCell(
      bridge.expression(col(vecCol)),
      graft.functions.CentroidBank.of(df.sparkSession, centroids))))
  }

  /** [[classifyByCentroids]] with the prototype bank kept IN-PLAN: the
    * centroid frame is folded to ONE row (`collect_list` sorted by
    * label) and broadcast-cross-joined, so the driver never collects
    * anything and the corpus side stays a narrow zero-shuffle scan —
    * the same 100 TB shape, minus the driver hop. The argmin fold
    * mirrors [[graft.functions.NearestCell]] exactly: squared-L2
    * accumulated in array order, lexicographic `array_min` over
    * (dist, label) ⇒ ties go to the lowest label. A label whose rows
    * were all null never reaches the bank (labelCentroids drops it). */
  def classifyByCentroidsInPlan(df: DataFrame, vecCol: String,
                                centroids: DataFrame, labelCol: String,
                                centCol: String,
                                outCol: String = "pred"): DataFrame = {
    val bank = centroids.agg(
      array_sort(collect_list(struct(
        col(labelCol).cast("long").as("cl"), col(centCol).as("cv")))).as("__bank"))
    df.crossJoin(broadcast(bank))
      .withColumn(outCol,
        array_min(transform(col("__bank"), b => struct(
          aggregate(
            zip_with(col(vecCol), b("cv"),
              (x, c) => (x.cast("double") - c) * (x.cast("double") - c)),
            lit(0.0), (acc, d2) => acc + d2).as("d"),
          b("cl").as("cl"))))("cl"))
      .drop("__bank")
  }

  /** MMR diversity rerank: from each query's candidate rows
    * (cIdCol, relCol = relevance score, vecCol = candidate vector), pick
    * `k` greedily by λ·rel − (1−λ)·max-cosine-to-already-picked — the
    * standard redundancy-pruning pass after an ANN/hybrid leg (so five
    * near-identical top hits don't crowd out coverage). Candidates
    * gather into per-query arrays sorted by id (one small-group
    * exchange), then the native [[graft.functions.MmrSelect]] runs the
    * greedy loop row-locally — candidate sets are top-k-sized, so the
    * O(k·n·dim) is per-row trivia and the plan stays narrow above the
    * gather. Ties → lowest id. Output (qIdCol, cIdCol, rank, score)
    * where score is the MMR objective at selection time. */
  def mmrRerank(candidates: DataFrame, qIdCol: String, cIdCol: String,
                relCol: String, vecCol: String, k: Int,
                lambda: Double = 0.5): DataFrame = {
    val bridge = org.apache.spark.sql.graftbridge.Bridge
    val gathered = candidates
      .groupBy(col(qIdCol))
      .agg(array_sort(collect_list(struct(
        col(cIdCol).cast("long").as("id"),
        col(relCol).cast("double").as("rel"),
        col(vecCol).as("vec")))).as("__c"))
      .select(col(qIdCol),
        transform(col("__c"), s => s("id")).as("__ids"),
        transform(col("__c"), s => s("rel")).as("__rels"),
        transform(col("__c"), s => s("vec")).as("__vecs"))
    gathered
      .select(col(qIdCol), posexplode(bridge.column(graft.functions.MmrSelect(
        bridge.expression(col("__ids")),
        bridge.expression(col("__rels")),
        bridge.expression(col("__vecs")),
        k, lambda))).as(Seq("__r", "__t")))
      .select(col(qIdCol), col("__t.id").as(cIdCol),
        (col("__r") + 1).as("rank"), col("__t.score").as("score"))
  }

  /** Hard-negative mining for embedding-model training: per query, the
    * corpus rows ranked [loRank, hiRank] by cosine whose score also
    * falls below `margin` × the query's best score — near-but-not-too-
    * near candidates (the top hit is the presumed positive; anything
    * scoring within the margin of it risks being a false negative, the
    * standard contrastive-mining guard). Output (qIdCol, cIdCol, rank,
    * score).
    *
    * Scale shape: one [[knnJoin]] pass (broadcast queries, partial
    * top-hiRank heap — ≤ hiRank rows per query per map task reach the
    * exchange), then the rank-1 row rejoins by query id — a
    * queries-sized side, broadcast. The corpus never shuffles. */
  def hardNegatives(queries: DataFrame, qIdCol: String, qVecCol: String,
                    corpus: DataFrame, cIdCol: String, cVecCol: String,
                    loRank: Int, hiRank: Int,
                    margin: Double = 0.95): DataFrame = {
    // LAZY lineage cut: the candidate table is referenced twice (rows +
    // the rank-1 margin side) — without it the full kNN corpus pass runs
    // twice. Candidates are ≤ hiRank·|queries| rows: tiny at any scale.
    val cands = knnJoin(queries, qIdCol, qVecCol, corpus, cIdCol, cVecCol, hiRank)
      .localCheckpoint(false)
    val best = cands.filter(col("rank") === 1)
      .select(col(qIdCol), col("score").as("__best"))
    cands.join(broadcast(best), Seq(qIdCol))
      .filter(col("rank") >= loRank && col("score") <= col("__best") * lit(margin))
      .select(col(qIdCol), col(cIdCol), col("rank"), col("score"))
  }

  /** Mutual-kNN edges over an embedding column: (id_a < id_b) pairs
    * where EACH endpoint ranks in the other's top-`k` non-self
    * neighbors (top-(k+1) ranks with the self match dropped — an exact
    * duplicate outranking self just adds one more edge inside its own
    * cluster). The mutuality filter is what keeps hub vectors from
    * gluing unrelated regions together — a one-directional kNN edge
    * through a hub is NOT enough to merge clusters.
    *
    * Scale shape: one kNN pass (partial top-k agg — ≤ k+1 rows per
    * vector pre-shuffle), then [[mutualEdges]]' one aggregation over
    * the n·(k+1) directed edges — never a corpus cross join. The brute
    * kNN is the exact baseline; [[annLshJoin]]-style candidates slot
    * into [[semanticClustersFromKnn]] as the 100 TB path. */
  def mutualKnnPairs(vecs: DataFrame, idCol: String, vecCol: String,
                     k: Int): DataFrame =
    mutualEdges(knnJoin(
      vecs.select(col(idCol).cast("long").as("__qid"), col(vecCol).as("__qv")),
      "__qid", "__qv", vecs, idCol, vecCol, k + 1)
      .select(col("__qid").as("qid"), col(idCol).cast("long").as("nid")))

  /** The mutual filter over directed kNN edges (qid, nid): one (id_a <
    * id_b) row per pair present in both directions; self edges drop.
    * One aggregation on the unordered pair — both directions are
    * present iff the group holds two distinct `qid`s — reading the edge
    * frame once. Not a transpose self-join: that reads the frame twice
    * and broadcasts a hashed relation of it on its two-long key, whose
    * driver copy (a 16 MB page for 2,500 edges) stays until the context
    * cleaner drops it. */
  private[graft] def mutualEdges(knn: DataFrame): DataFrame =
    knn.groupBy(least(col("qid"), col("nid")).as("id_a"),
        greatest(col("qid"), col("nid")).as("id_b"))
      .agg(min(col("qid")).as("__lo"), max(col("qid")).as("__hi"))
      .filter(col("__lo") =!= col("__hi"))
      .select(col("id_a"), col("id_b"))

  /** Mutual-kNN edges from sign-LSH-bucketed candidates — the 100 TB
    * path of [[mutualKnnPairs]]: the corpus NEVER broadcasts. Bucket
    * assignment is narrow; the candidate pass is a hash-equi SELF-JOIN
    * on the bucket key (both sides shuffle on the bucket — co-located,
    * no driver or broadcast copy of the corpus), and ranking is the
    * same partial top-k aggregate as [[knnJoin]] (≤ k+1 rows per
    * vector per map task reach the exchange). Each vector ranks only
    * its own bucket's members ([[annLshJoin]]'s candidate rule), so a
    * cross-bucket near pair is missed — the standard LSH recall trade;
    * more planes shrink buckets, fewer planes raise recall. The mutual
    * filter ([[mutualEdges]]) then runs over the same n·(k+1)-row frame
    * as the brute path. Reference seed: /root/reference/src/similarity.rs:31-40
    * (top-k by score with original-order ties). */
  def mutualAnnPairs(vecs: DataFrame, idCol: String, vecCol: String,
                     dim: Int, nPlanes: Int, k: Int,
                     probes: Int = 0, salt: Int = 1): DataFrame =
    mutualEdges(annBucketKnn(vecs, idCol, vecCol, dim, nPlanes, k, probes, salt))

  /** Auto-size `nPlanes` from [[annBucketKnn]]'s cost-model rule: the smallest
    * plane count with 2^nPlanes ≥ n / targetBucket, i.e. expected
    * bucket occupancy ≤ targetBucket, so the bucket self-join's
    * Σ|bucket|² term stays ≈ n·targetBucket (linear in n) instead of
    * n²/2^nPlanes blowing up when a caller carries a small-corpus
    * constant to a bigger corpus. Clamped to [0, 62] (the bucket id is
    * a Long bitmask). Callers that know `n` only as a DataFrame can
    * pass `df.count()` — one cheap count-star job against an index
    * build that is already O(n). */
  def nPlanesFor(n: Long, targetBucket: Long = 256L): Int = {
    require(n >= 0 && targetBucket >= 1, "need n >= 0 and targetBucket >= 1")
    var p = 0
    while (p < 62 && (n >> p) > targetBucket) p += 1
    p
  }

  /** Recommended probe count for an auto-sized plane count — the
    * recall companion to [[nPlanesFor]]. Under the random-hyperplane
    * model a near pair at angle θ shares all buckets with probability
    * (1−θ/π)^nPlanes, so every plane the auto-sizer ADDS as the corpus
    * grows costs recall multiplicatively; probing the 1-flip buckets
    * of the first `p` planes adds back the pairs split by exactly one
    * probed plane — worth p·(θ/π)·(1−θ/π)^(nPlanes−1), i.e. the
    * recovery grows linearly in p while candidate cost grows as
    * (p+1)·n·targetBucket — still linear in n (SCALING.md measures
    * the probed composition end-to-end at every scale point). MEASUREMENT-BACKED
    * (RecallProbe, planted cos ≈ 0.95 pairs at 7 auto planes): the
    * model predicts 47.4% same-bucket / 63% at 3 probes / 85% at 7;
    * measured 48.4% / 62.5% / 82.2%.
    * Probing HALF the planes keeps the recovered first-order term
    * growing with the plane count at a bounded constant-factor cost.
    * This is a RECOMMENDATION, not the auto entry points' default:
    * the gated q121/q122 run probes=0 because their DuckDB oracles
    * mirror the exact candidate set, and changing the default would
    * silently change gated results — callers opt in with
    * `probes = Similarity.probesFor(nPlanes)`. */
  def probesFor(nPlanes: Int): Int = {
    require(nPlanes >= 0, "need nPlanes >= 0")
    nPlanes / 2
  }

  /** The ANN candidate pass of [[mutualAnnPairs]]: top-(k+1) bucket
    * mates per vector (self included) as (qid, nid) with self dropped.
    * Exposed pre-checkpoint so plan audits can see the join shape.
    *
    * Cost model: the bucket self-join scores Σ_b |bucket_b|² pairs, so
    * `nPlanes` must GROW with the corpus — pick it so 2^nPlanes ≈
    * n / target_bucket_size (the gated nPlanes=4 is sized for the sf
    * test corpora, not a constant). Growing nPlanes costs recall
    * (cross-bucket near pairs are missed); `probes` buys it back:
    * each vector ALSO probes, as the QUERY side only, the buckets at
    * Hamming distance 1 on its first `probes` planes (the q17b
    * multi-probe rule) — the 1-flip relation is symmetric, so the
    * downstream mutuality filter is unchanged in meaning. Candidate
    * cost becomes (probes+1)·Σ_b |b_q||b_c| over adjacent bucket
    * pairs instead of one quadratic term per bucket, and the bucket
    * population stays 2^nPlanes-way split — more planes + probes is
    * strictly finer-grained than fewer planes.
    *
    * `salt` addresses SKEW, not total cost: the candidate side of a
    * hot bucket splits into `salt` deterministic sub-groups (id-hash)
    * while the query side replicates across all of them, so the
    * largest single join group shrinks `salt`× and the heap work
    * spreads over `salt`× more tasks. Each (q, c) pair still meets
    * exactly once (c holds one salt; q covers all), so the result is
    * salt-INVARIANT — a physical-parallelism knob, asserted by spec. */
  private[graft] def annBucketKnn(vecs: DataFrame, idCol: String, vecCol: String,
                                  dim: Int, nPlanes: Int, k: Int,
                                  probes: Int = 0, salt: Int = 1): DataFrame = {
    require(probes >= 0 && probes <= nPlanes, s"probes must be in [0, $nPlanes]")
    require(salt >= 1, "salt must be >= 1")
    val b = vecs
      .select(col(idCol).cast("long").as("__id"), col(vecCol).as("__v"))
      .withColumn("__bucket", lshBucket(col("__v"), dim, nPlanes))
      .withColumn("__n", Kernel.vecNorm(col("__v")))
      // lazy cut: the bucketed frame is BOTH sides of the self-join —
      // bucket + norm compute once, not per side
      .localCheckpoint(false)
    // candidate side: one deterministic salt sub-group per row
    val c = if (salt == 1) b else b.withColumn("__s", pmod(col("__id"), lit(salt.toLong)))
    // query side: own bucket + 1-flip probe buckets, × every salt group
    val probed = (0 until probes).foldLeft(b) { (acc, p) =>
      acc.unionByName(b.withColumn("__bucket", col("__bucket").bitwiseXOR(lit(1L << p))))
    }
    val q = if (salt == 1) probed
      else probed.withColumn("__s", explode(sequence(lit(0L), lit(salt - 1L))))
    val joinKeys = if (salt == 1) Seq("__bucket") else Seq("__bucket", "__s")
    val cond = joinKeys.map(kk => col(s"q.$kk") === col(s"c.$kk")).reduce(_ && _)
    q.as("q").join(c.as("c"), cond)
      .withColumn("score", Kernel.cosinePre(
        col("c.__v"), col("q.__v"), col("c.__n"), col("q.__n")))
      .groupBy(col("q.__id").as("qid"))
      .agg(graft.functions.TopKAgg.topK(col("score"), col("c.__id"), k + 1).as("__top"))
      .select(col("qid"), explode(col("__top")).as("__t"))
      .select(col("qid"), col("__t.id").as("nid"))
      .filter(col("qid") =!= col("nid"))
  }

  /** [[semanticClusters]] on the ANN candidate graph — the composition
    * a 100 TB corpus actually runs: [[mutualAnnPairs]] (bucketed, no
    * corpus broadcast) labeled by the same CC rounds. */
  def semanticClustersAnn(vecs: DataFrame, idCol: String, vecCol: String,
                          dim: Int, nPlanes: Int, k: Int,
                          iterations: Int = DefaultSemanticIterations,
                          probes: Int = 0, salt: Int = 1): DataFrame =
    semanticClustersFromKnn(
      mutualAnnPairs(vecs, idCol, vecCol, dim, nPlanes, k, probes, salt), iterations)

  /** [[semanticClustersAnn]] with the plane count auto-sized from the
    * corpus ([[nPlanesFor]]) — the production entry point, closing the
    * carried-small-corpus-constant failure SCALING.md measures (a
    * fixed nPlanes=4 grows ~quadratically: 61 s at 30×, vs 9 s
    * auto-sized). Costs one count() job up front — O(n) scan against
    * an index build that is already O(n). `probes` is clamped to the
    * chosen plane count. Small corpora degrade gracefully to the EXACT
    * graph: n ≤ targetBucket chooses 0 planes = one bucket = all-pairs
    * candidates, so the result equals the brute [[semanticClusters]]
    * semantics (the q121 oracle gates exactly this identity).
    *
    * RECALL NOTE — the `probes = 0` default: auto-sizing holds the
    * candidate COST linear by adding planes as n grows, and each added
    * plane multiplies a near pair's all-bucket collision probability
    * by (1−θ/π) — plane growth without probing trades recall for that
    * linearity. The default stays 0 because the gated oracle mirrors
    * the exact candidate set; production callers growing past the
    * small-corpus regime should pass
    * `probes = Similarity.probesFor(nPlanesFor(n))` (half the planes —
    * see [[probesFor]] for the recovery-vs-cost arithmetic; SCALING.md
    * measures the auto-sized composition at 22–28× under the carried
    * fixed constant at 100× even before probing). When a persisted
    * IVF-PQ index with stored vectors already exists (the serving
    * stack maintains one), prefer
    * [[VectorIndex.semanticClustersIndexed]]: geometric cells + the
    * exact-cosine rescore recall the planted near-dup band at 0.999
    * where this family tops out at 0.82 probing all planes
    * (RECALL_r17_testdata_sf1.jsonl), reusing candidate
    * infrastructure clustering otherwise pays for separately. */
  def semanticClustersAnnAuto(vecs: DataFrame, idCol: String, vecCol: String,
                              dim: Int, k: Int,
                              iterations: Int = DefaultSemanticIterations,
                              targetBucket: Long = 256L,
                              probes: Int = 0, salt: Int = 1): DataFrame = {
    val nPlanes = nPlanesFor(vecs.count(), targetBucket)
    semanticClustersAnn(vecs, idCol, vecCol, dim, nPlanes, k, iterations,
      math.min(probes, nPlanes), salt)
  }

  /** [[semanticClustersAnnAuto]] with the CC loop run TO THE FIXPOINT
    * ([[Dedup.duplicateClustersConverged]]) instead of a fixed round
    * budget — auto-sized planes AND auto-terminated rounds, so the
    * caller needs to know nothing about the corpus: the plane count
    * follows n and the barrier count follows the graph's actual
    * diameter (the gated q121 burns the full 12 rounds so the oracle
    * can mirror them; production graphs that converge in 6 get the
    * other 6 barriers back, and pathological ones deeper than 12
    * still converge instead of silently mislabeling). */
  def semanticClustersAnnConverged(vecs: DataFrame, idCol: String, vecCol: String,
                                   dim: Int, k: Int,
                                   targetBucket: Long = 256L,
                                   probes: Int = 0, salt: Int = 1): DataFrame = {
    val nPlanes = nPlanesFor(vecs.count(), targetBucket)
    Dedup.duplicateClustersConverged(
      mutualAnnPairs(vecs, idCol, vecCol, dim, nPlanes, k,
        math.min(probes, nPlanes), salt))
  }

  /** Default CC rounds for SEMANTIC clustering — deeper than
    * [[Dedup.DefaultClusterIterations]] (5) because mutual-kNN
    * components are chains, not near-dup cliques: the sf0.01/sf0.1
    * corpora needed 8 rounds to reach the fixpoint, so 5 would hand a
    * default caller non-converged labels. 12 is the gate setting. */
  val DefaultSemanticIterations = 12

  /** Semantic clusters: the mutual-kNN graph labeled by connected
    * components ([[Dedup.duplicateClusters]] — seeded min-label +
    * pointer doubling). Output (id, cluster) for every vector with at
    * least one mutual edge; isolated vectors are their own trivial
    * cluster and are omitted (the q38 convention). */
  def semanticClusters(vecs: DataFrame, idCol: String, vecCol: String,
                       k: Int, iterations: Int = DefaultSemanticIterations): DataFrame =
    semanticClustersFromKnn(mutualKnnPairs(vecs, idCol, vecCol, k), iterations)

  /** CC labeling over any precomputed mutual-pair frame (id_a, id_b) —
    * the hook for ANN-candidate graphs at scale. Exactly `iterations`
    * rounds of [[Dedup.duplicateClusters]], placed by its size regime:
    * a mutual graph whose doubled edge list fits the driver limit (every
    * gated corpus) labels on the driver in one collect job instead of
    * `iterations` shuffle rounds; a larger one runs the distributed
    * rounds, lineage cut lazily every round. Labels are identical in
    * both regimes (spec-pinned), so the split is purely physical. */
  def semanticClustersFromKnn(pairs: DataFrame,
                              iterations: Int = DefaultSemanticIterations): DataFrame =
    Dedup.duplicateClusters(pairs, iterations)

  /** Topic-balanced selection: cap any one semantic cluster at
    * `maxPerCluster` members, chosen by the deterministic id-hash
    * lottery ([[Sampling.capPerKey]]) — the curation step that stops a
    * dominant topic from swamping a training mix, composed from the
    * cluster labeling above. Output (id, cluster) for the kept rows.
    *
    * Scale shape: the cluster labels come out of the CC core as a
    * local relation (driver regime) or behind a lineage cut
    * (distributed regime), so capPerKey's two references (partial top-k
    * picks + restoring semi join) never re-run the clustering; the cap
    * itself is one hash-key shuffle over label-sized rows. */
  def clusterBalancedSample(vecs: DataFrame, idCol: String, vecCol: String,
                            k: Int, maxPerCluster: Int,
                            iterations: Int = DefaultSemanticIterations): DataFrame =
    Sampling.capPerKey(
      semanticClusters(vecs, idCol, vecCol, k, iterations),
      "cluster", "id", maxPerCluster)

  /** [[clusterBalancedSample]] on the ANN scale path: the labels come
    * from [[semanticClustersAnn]]'s sign-LSH-bucketed candidate graph
    * (hash-equi bucket self-join — the corpus never broadcasts), then
    * the same [[Sampling.capPerKey]] id-hash lottery. This is the
    * topic-balancing composition a 100 TB corpus actually runs;
    * [[clusterBalancedSample]] stays the exact brute-kNN baseline. */
  def clusterBalancedSampleAnn(vecs: DataFrame, idCol: String, vecCol: String,
                               dim: Int, nPlanes: Int, k: Int, maxPerCluster: Int,
                               iterations: Int = DefaultSemanticIterations,
                               probes: Int = 0, salt: Int = 1): DataFrame =
    Sampling.capPerKey(
      semanticClustersAnn(vecs, idCol, vecCol, dim, nPlanes, k, iterations, probes, salt),
      "cluster", "id", maxPerCluster)

  /** [[clusterBalancedSampleAnn]] with the plane count auto-sized from
    * the corpus ([[nPlanesFor]]) — the production entry point for
    * topic-balanced curation, completing the auto-sizing story
    * [[semanticClustersAnnAuto]] opened: without it the balanced
    * sampler still forces callers to carry a plane constant, the exact
    * failure SCALING.md measures (fixed nPlanes=4 → 5.7× growth for 3×
    * data at 30×). One count() job up front, `probes` clamped to the
    * chosen plane count, small corpora degrade to the exact brute
    * graph (0 planes = one bucket) like the clustering form. */
  def clusterBalancedSampleAnnAuto(vecs: DataFrame, idCol: String, vecCol: String,
                                   dim: Int, k: Int, maxPerCluster: Int,
                                   iterations: Int = DefaultSemanticIterations,
                                   targetBucket: Long = 256L,
                                   probes: Int = 0, salt: Int = 1): DataFrame = {
    val nPlanes = nPlanesFor(vecs.count(), targetBucket)
    clusterBalancedSampleAnn(vecs, idCol, vecCol, dim, nPlanes, k, maxPerCluster,
      iterations, math.min(probes, nPlanes), salt)
  }

  def annLshJoin(queries: DataFrame, qIdCol: String, qVecCol: String,
                 corpus: DataFrame, cIdCol: String, cVecCol: String,
                 dim: Int, nPlanes: Int, k: Int): DataFrame = {
    val qb = queries.withColumn("bucket", lshBucket(col(qVecCol), dim, nPlanes))
      .withColumn("__qn", Kernel.vecNorm(col(qVecCol)))
    val cb = corpus.withColumn("bucket", lshBucket(col(cVecCol), dim, nPlanes))
      .withColumn("__cn", Kernel.vecNorm(col(cVecCol)))
    // the equality join means every candidate row shares its query's
    // bucket, so grouping by (qid, bucket) still yields one group per
    // query; ranking is the same partial top-k aggregate as knnJoin
    cb.join(broadcast(qb), Seq("bucket"))
      .withColumn("score", Kernel.cosinePre(
        col(cVecCol), col(qVecCol), col("__cn"), col("__qn")))
      .groupBy(col(qIdCol), col("bucket"))
      .agg(graft.functions.TopKAgg.topK(col("score"), col(cIdCol).cast("long"), k).as("__top"))
      .select(col(qIdCol), col("bucket"), posexplode(col("__top")).as(Seq("__r", "__t")))
      .select(col(qIdCol), col("__t.id").as(cIdCol), col("bucket"),
        (col("__r") + 1).as("rank"), col("__t.score").as("score"))
  }
}
