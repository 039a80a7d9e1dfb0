package graft

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType

import graft.functions.{K, Kernel}
import graft.operators._
import graft.backend.{BackendEmbedder, HashingBackend}
import graft.oracle.OracleSql

/** Driver contract — see /root/repo/SURVEY.md §7 + the builder prompt.
  *
  * Every oracle-checked query is written so Spark and DuckDB perform
  * bit-identical arithmetic (see [[graft.oracle.OracleSql]] — integer
  * pooling, ordered folds, no transcendental functions). */
object SparkEntry {
  import Pooling._

  private def tbl(s: SparkSession, dir: String, name: String): DataFrame =
    s.read.parquet(s"$dir/$name.parquet")

  private def docs(s: SparkSession, dir: String): DataFrame =
    tbl(s, dir, "documents").select(col("doc_id"), col("text"))

  /** The PNG fixture frame shared by the real-decode image gates
    * (q23b/q23d/q69/q71/q72): each doc's UTF-8 bytes wrapped into a
    * losslessly round-tripping 8×8 PNG. */
  private def pngDocs(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    docs(s, dir)
      .select(col("doc_id").cast("long"), encode(col("text"), "UTF-8").as("b"))
      .as[(Long, Array[Byte])]
      .map { case (id, b) => (id, ImagePipeline.pngFixture(b)) }
      .toDF("doc_id", "png")
  }

  /** The q72/q73 shared layout: a 4-token image-pad span (id = K.M,
    * outside the token range) planted after the first min(3, n) tokens.
    * Keeps `__k` (the span start) as a column. */
  private def plantImageSpan(df: DataFrame): DataFrame =
    df.withColumn("__k", least(lit(3), size(col("tids"))))
      .withColumn("tids", concat(
        slice(col("tids"), lit(1), col("__k")),
        array_repeat(lit(K.M), lit(4)),
        slice(col("tids"), col("__k") + lit(1), size(col("tids")) - col("__k"))))

  /** The q23b/q23c preprocessing chain, built through the S8 config
    * parser (CLIPImageProcessor dialect): resize (4,4) Catmull-Rom →
    * center crop (2,2) → rescale 1/255 → CLIP normalize. */
  private val q23bCompose: Preprocess.Compose = Preprocess.Compose.fromJson(
    """{"image_processor_type": "CLIPImageProcessor",
       |"do_resize": true, "size": {"height": 4, "width": 4},
       |"do_center_crop": true, "crop_size": {"height": 2, "width": 2},
       |"do_rescale": true, "do_normalize": true,
       |"image_mean": [0.48145466, 0.4578275, 0.40821073],
       |"image_std": [0.26862954, 0.26130258, 0.27577711]}""".stripMargin)

  /** File-source gate harness: drive a streaming sink with `slices` as
    * ordered, deterministic micro-batches WITHOUT materializing any row
    * on the driver (the previous harness collected each slice into a
    * MemoryStream — at sf10 that driver round-trip dominated the gate
    * cost; SCALING.md). Each slice pre-writes to its own staging subdir
    * as a DISTRIBUTED job; between `processAllAvailable` barriers ONE
    * driver-side directory RENAME moves the whole slice into the
    * watched glob, so the file source sees exactly one new file-set per
    * barrier — the same batch seams and the same batch ids (0, 1, …) as
    * the driver-fed harness, with the data staying executor-side.
    * The slice's appearance is ATOMIC (a single rename, asserted): the
    * earlier per-part-file loop let the source list MID-LOOP and commit
    * a partial slice as its own micro-batch, which would nondeterminize
    * the batch-scope labels the dedup-ingest gates hash. */
  private def streamFileBatches(s: SparkSession, slices: Seq[DataFrame])(
      sink: DataFrame => org.apache.spark.sql.streaming.DataStreamWriter[
        org.apache.spark.sql.Row]): Unit = {
    val stage = java.nio.file.Files.createTempDirectory("graft_fstream").toString
    val inDir = s"$stage/in"
    val fs = new org.apache.hadoop.fs.Path(stage)
      .getFileSystem(s.sparkContext.hadoopConfiguration)
    fs.mkdirs(new org.apache.hadoop.fs.Path(inDir))
    // ONE staging job for all slices (guide §1.2: fewer passes/jobs —
    // the per-slice loop paid one full job schedule + commit per slice):
    // the tagged union writes every slice's rows in a single action,
    // partitioned by slice ordinal; the b<i> directories the barrier
    // loop renames are the partition dirs, so each micro-batch sees
    // exactly the rows the per-slice writes produced (same filters, same
    // values — only part-file grouping differs, which no sink observes).
    slices.zipWithIndex
      .map { case (df, i) => df.withColumn("__slice", lit(i)) }
      .reduce(_ unionByName _)
      .write.partitionBy("__slice").parquet(s"$stage/staged")
    slices.indices.foreach { i =>
      val part = new org.apache.hadoop.fs.Path(s"$stage/staged/__slice=$i")
      // a slice with zero rows writes no partition dir — stage an empty
      // dir so the rename below still presents the (empty) micro-batch,
      // exactly as an empty per-slice write did
      if (!fs.exists(part)) fs.mkdirs(part)
      require(fs.rename(part, new org.apache.hadoop.fs.Path(s"$stage/b$i")),
        s"slice staging rename failed: $part")
    }
    // the leaf dir read lists only b0's part files (no partition
    // discovery), so the schema is the written file schema — what the
    // old per-slice staging read, without re-reading data
    val schema = s.read.parquet(s"$stage/b0").schema
    val ckpt = java.nio.file.Files.createTempDirectory("graft_fstream_ckpt").toString
    // the glob matches the not-yet-present b<i> subdirectories; parquet
    // part files inside a matched directory are listed per micro-batch
    val q = sink(s.readStream.schema(schema).parquet(s"$inDir/b*"))
      .option("checkpointLocation", ckpt).start()
    try {
      slices.indices.foreach { i =>
        val src = new org.apache.hadoop.fs.Path(s"$stage/b$i")
        val dst = new org.apache.hadoop.fs.Path(inDir, s"b$i")
        // FileSystem.rename reports most failures as `false`, not an
        // exception — an unasserted miss would silently drop the slice
        require(fs.rename(src, dst), s"slice rename failed: $src -> $dst")
        q.processAllAvailable()
      }
    } finally q.stop()
  }

  /** Audit/corpus GATE PAIRS share one harness run: both gates of a
    * family hash different outputs of the SAME pipeline (the audit
    * table and the final corpus), so running the sink twice per pass
    * was pure duplication — at sf10 the streamed families were 6 of
    * the 8 most expensive queries, dominated by slice staging +
    * `processAllAvailable` barriers, not by the sinks under test
    * (r18 verdict #7). The memo is PASS-SCOPED, not global: when a
    * gate name re-requests a key it already consumed, a new bench
    * pass has started and the pipeline re-runs — so per-pass totals
    * still pay the family exactly once, each gate's hash is
    * unchanged, and the family's real cost stays visible on the gate
    * that ran it. */
  private val streamShared = scala.collection.mutable.Map
    .empty[(String, String), ((DataFrame, DataFrame), Set[String])]
  private def sharedStream(dir: String, family: String, gate: String)(
      run: => (DataFrame, DataFrame)): (DataFrame, DataFrame) = synchronized {
    streamShared.get((dir, family)) match {
      case Some((res, consumers)) if !consumers(gate) =>
        streamShared((dir, family)) = (res, consumers + gate)
        res
      case _ =>
        val res = run
        streamShared((dir, family)) = (res, Set(gate))
        res
    }
  }

  /** The q135 harness: build the dedup index on the `%4==0` slice, then
    * drive the REAL streaming sink ([[graft.streaming.StreamingOps
    * .dedupIngestSink]]) with the other three slices as ordered
    * micro-batches over the file-source harness (no driver data path).
    * Returns (audit table, final corpus ids) — each gate reads one. */
  private def streamDedupIngest(s: SparkSession, dir: String,
                                table: String): (DataFrame, DataFrame) = {
    val d = docs(s, dir)
    DedupIndex.writeMinhash(d.filter(col("doc_id") % 4 === 0),
      "doc_id", "text", table = table)
    val dups = java.nio.file.Files
      .createTempDirectory(s"${table}_dups").toString + "/pairs"
    streamFileBatches(s,
      (1 to 3).map(k => d.filter(col("doc_id") % 4 === k)
        .select(col("doc_id"), col("text")))) { src =>
      graft.streaming.StreamingOps.dedupIngestSink(
        src, "doc_id", "text", table, threshold = 0.35, dupsPath = dups)
    }
    (s.read.parquet(dups)
       .select(col("doc_id"), col("dup_of"), col("similarity"), col("scope")),
     s.table(s"${table}_sigs").select(col("doc_id")))
  }

  /** The q139 harness: index the `vec_id < 250` slice (vectors stored),
    * then drive [[graft.streaming.StreamingOps.semanticIngestSink]] with
    * the remainder as three ordered micro-batches keyed `vec_id % 3`.
    * Returns (audit table, final index ids). */
  private def streamSemanticIngest(s: SparkSession, dir: String,
                                   tag: String): (DataFrame, DataFrame) = {
    val e = tbl(s, dir, "embeddings")
    val path = java.nio.file.Files
      .createTempDirectory(s"graft_${tag}_idx").toString
    VectorIndex.writeIvfPq(e.filter(col("vec_id") < 250), "vec_id", "embedding",
      nCells = 16, m = 8, nCentsPq = 16, path = path, storeVectors = true)
    val dups = java.nio.file.Files
      .createTempDirectory(s"graft_${tag}_dups").toString + "/pairs"
    streamFileBatches(s,
      (0 until 3).map(k => e.filter(col("vec_id") >= 250 && col("vec_id") % 3 === k)
        .select(col("vec_id"), col("embedding")))) { src =>
      graft.streaming.StreamingOps.semanticIngestSink(
        src, "vec_id", "embedding", path,
        dim = K.Dim, threshold = 0.2, dupsPath = dups)
    }
    (s.read.parquet(dups)
       .select(col("vec_id"), col("dup_of"), col("similarity"), col("scope")),
     s.read.parquet(s"$path/codes").select(col("id").as("vec_id")))
  }

  /** Dense pipeline → exploded (doc_id, dim, val). */
  private def denseExploded(s: SparkSession, dir: String, pooling: Pooling): DataFrame =
    TextEmbedder(dim = K.Dim, pooling = pooling)
      .embed(docs(s, dir), "text", "emb")
      .select(col("doc_id"), posexplode(col("emb")).as(Seq("dim", "val")))
      .select(col("doc_id"), col("dim").cast("long").as("dim"), col("val"))

  /** Flagship: embed the sf0.001 corpus, rank it against the first doc's
    * embedding — source → projection → inference → top-k in one plan. */
  def entry(spark: SparkSession): DataFrame = {
    val dir = "/root/testdata/sf0.001"
    val d = TextEmbedder().embed(docs(spark, dir), "text", "emb")
    val q = d.filter(col("doc_id") === 0).select(col("emb")).head().getSeq[Double](0)
    Similarity.topK(d, "emb", "doc_id", q, 10)
  }

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q01_dense_embed" -> ((s, dir) => denseExploded(s, dir, Mean)),
    "q02_cls_embed" -> ((s, dir) => denseExploded(s, dir, Cls)),
    "q03_last_embed" -> ((s, dir) => denseExploded(s, dir, Last)),

    "q04_sparse_embed" -> ((s, dir) =>
      SparseEmbedder.sparseExploded(docs(s, dir), "doc_id", "text")),

    // reference-shaped struct output, checked via its flat projection
    // (nested struct/array columns crash the driver's pandas comparator)
    "q05_sparse_struct" -> ((s, dir) =>
      SparseEmbedder.sparseStruct(docs(s, dir), "doc_id", "text")
        .select(col("doc_id"), posexplode(
          arrays_zip(col("sparse.indices").as("token_id"),
            col("sparse.values").as("weight"))).as(Seq("idx", "z")))
        .select(col("doc_id"), col("idx").cast("long").as("idx"),
          col("z.token_id").as("token_id"), col("z.weight").as("weight"))),

    "q06_colbert" -> ((s, dir) =>
      ColbertEmbedder
        .colbertExploded(docs(s, dir).filter(col("doc_id") < 100), "doc_id", "text", dim = 16)
        .select(col("doc_id"), col("pos").cast("long").as("pos"),
          posexplode(col("vec")).as(Seq("dim", "val")))
        .select(col("doc_id"), col("pos"), col("dim").cast("long").as("dim"), col("val"))),

    "q07_topk" -> ((s, dir) => {
      val e = tbl(s, dir, "embeddings")
      val q = e.filter(col("vec_id") === 0).select(col("embedding")).head()
        .getSeq[Float](0).map(_.toDouble)
      e.withColumn("score", Kernel.cosine(col("embedding"), lit(q.toArray)))
        .select(col("vec_id"), col("score"))
        .orderBy(col("score").desc, col("vec_id").asc)
        .limit(10)
    }),

    "q08_knn_join" -> ((s, dir) => {
      val e = tbl(s, dir, "embeddings")
      val q = e.filter(col("vec_id") < 8).select(col("vec_id").as("qid"), col("embedding").as("qv"))
      Similarity.knnJoin(q, "qid", "qv", e, "vec_id", "embedding", 5)
        .select(col("qid"), col("vec_id"), col("rank").cast("long").as("rnk"), col("score"))
    }),

    "q09_rerank" -> ((s, dir) =>
      Reranker.rerank(s, docs(s, dir), "doc_id", "text", "spark hash join query plan")),

    "q10_pair_scores" -> ((s, dir) => {
      val e = tbl(s, dir, "embeddings")
      val a = e.select(col("vec_id").as("id_a"), col("embedding").as("ea"))
      val b = e.select(col("vec_id").as("id_b"), col("embedding").as("eb"))
      a.join(b, col("id_b") === col("id_a") + 1)
        .select(col("id_a"), col("id_b"),
          Kernel.dot(col("ea"), col("eb")).as("dot"),
          Kernel.cosine(col("ea"), col("eb")).as("cosine"))
    }),

    "q11_dedup_exact" -> ((s, dir) => Dedup.exact(docs(s, dir), "doc_id", "text")),

    "q12_minhash_sigs" -> ((s, dir) =>
      Dedup.minhashSignatures(Dedup.shingleSet(docs(s, dir), "doc_id", "text"), "doc_id")),

    // the NARROW signature formulation (native per-row kernel, zero
    // exchanges) — must hash-match the relational q12 oracle exactly
    "q12b_minhash_sigs_narrow" -> ((s, dir) =>
      Dedup.minhashSignaturesNarrow(docs(s, dir), "doc_id", "text")),

    "q13_minhash_neardups" -> ((s, dir) =>
      Dedup.minhashNearDups(docs(s, dir), "doc_id", "text", threshold = 0.35)),

    // incremental dedup: the even-id corpus is INDEXED once (bucketed
    // banded keys + signatures); the odd-id "ingest batch" signs only
    // itself, joins the prebuilt keys, and verifies candidates with the
    // signature-overlap estimator — corpus text is never re-read
    "q124_dedup_incremental" -> ((s, dir) => {
      val d = docs(s, dir)
      DedupIndex.writeMinhash(d.filter(col("doc_id") % 2 === 0),
        "doc_id", "text", table = "graft_q124_idx")
      DedupIndex.nearDupsAgainst(s, d.filter(col("doc_id") % 2 === 1),
        "doc_id", "text", table = "graft_q124_idx", threshold = 0.35)
    }),

    // the streamed form of the q124 lifecycle, DRIVEN END-TO-END: the
    // %4==0 slice is indexed up front, the other three slices arrive as
    // ordered micro-batches through dedupIngestSink (in-batch exact-
    // Jaccard pass, corpus estimator check, clean rows self-accumulate
    // into the index for the NEXT batch). q135 gates the full audit
    // table the sink wrote; q135b gates the final accumulated corpus —
    // the one surface class (streaming sinks) the batch gates never saw
    "q135_stream_dedup_audit" -> ((s, dir) =>
      sharedStream(dir, "dedup_ingest", "q135")(
        streamDedupIngest(s, dir, "graft_q135_idx"))._1),

    "q135b_stream_dedup_corpus" -> ((s, dir) =>
      sharedStream(dir, "dedup_ingest", "q135b")(
        streamDedupIngest(s, dir, "graft_q135_idx"))._2),

    // legacy 32-bit form (explicit bits: the operator default is now the
    // scale-safe 60-bit signature, exercised by q15b via the defaults)
    "q14_simhash" -> ((s, dir) =>
      Dedup.simhash(docs(s, dir), "doc_id", "text", bits = 32)),

    "q15_simhash_neardups" -> ((s, dir) =>
      Dedup.simhashNearDups(
        Dedup.simhash(docs(s, dir), "doc_id", "text", bits = 32), "doc_id", bits = 32)
        .select(col("id_a"), col("id_b"), col("hamming").cast("long").as("hamming"))),

    // the defaults: 60-bit signature, 4×15-bit bands (131k buckets/band
    // instead of 256 — bucket occupancy shrinks with corpus growth)
    "q15b_simhash60" -> ((s, dir) =>
      Dedup.simhashNearDups(
        Dedup.simhash(docs(s, dir), "doc_id", "text"), "doc_id")
        .select(col("id_a"), col("id_b"), col("hamming").cast("long").as("hamming"))),

    // q15b with the hub-bucket cap — the 100 TB form when signatures
    // concentrate (small vocab / boilerplate): a hub band-key's
    // self-join is quadratic in occupancy, and on the 50k-doc scale
    // corpus the ten largest buckets carried ~2/3 of the 1.1e8
    // candidate pairs. Cap 2000 is a no-op at the sf0.01 gate scale
    // (same rows as q15b there — like q13's cap, the oracle mirrors
    // the HAVING and the hub semantics are spec-gated), and bites at
    // bench scale
    "q15c_simhash_capped" -> ((s, dir) =>
      Dedup.simhashNearDupsText(docs(s, dir), "doc_id", "text", maxBucketSize = 2000)
        .select(col("id_a"), col("id_b"), col("hamming").cast("long").as("hamming"))),

    "q16_ngram_jaccard" -> ((s, dir) =>
      Dedup.ngramJaccardPairs(docs(s, dir).filter(col("doc_id") < 150), "doc_id", "text", 0.5)),

    // Johnson–Lindenstrauss shrink 64→16 on the lshBucket plane family
    // — narrow per-row map, RNG-free (exploded to scalars for the gate)
    "q110_random_projection" -> ((s, dir) =>
      tbl(s, dir, "embeddings").select(col("vec_id"),
        Similarity.randomProjection(col("embedding"), K.Dim, 16).as("__proj"))
        .select(col("vec_id"), posexplode(col("__proj")).as(Seq("dim", "val")))
        .select(col("vec_id"), col("dim").cast("long").as("dim"), col("val"))),

    "q17_ann_lsh" -> ((s, dir) => {
      val e = tbl(s, dir, "embeddings")
      val q = e.filter(col("vec_id") < 8).select(col("vec_id").as("qid"), col("embedding").as("qv"))
      Similarity.annLshJoin(q, "qid", "qv", e, "vec_id", "embedding", K.Dim, 8, 5)
        .select(col("qid"), col("vec_id"), col("bucket"),
          col("rank").cast("long").as("rnk"), col("score"))
    }),

    // 16 planes (65k buckets — the scale lever) + 1-flip multi-probe
    // recovering the recall a single-bucket lookup loses
    "q17b_ann_multiprobe" -> ((s, dir) => {
      val e = tbl(s, dir, "embeddings")
      val q = e.filter(col("vec_id") < 8).select(col("vec_id").as("qid"), col("embedding").as("qv"))
      Similarity.annLshMultiProbe(q, "qid", "qv", e, "vec_id", "embedding", K.Dim, 16, 5)
        .select(col("qid"), col("vec_id"), col("rank").cast("long").as("rnk"), col("score"))
    }),

    // IVF-Flat: deterministic coarse quantizer (16 cells), 4-cell probe
    "q17c_ivf_flat" -> ((s, dir) => {
      val e = tbl(s, dir, "embeddings")
      val q = e.filter(col("vec_id") < 8).select(col("vec_id").as("qid"), col("embedding").as("qv"))
      Similarity.ivfFlat(q, "qid", "qv", e, "vec_id", "embedding", 16, 4, 5)
        .select(col("qid"), col("vec_id"), col("rank").cast("long").as("rnk"), col("score"))
    }),

    // product quantization: 8-subspace codes over a 16-centroid
    // deterministic codebook, asymmetric-distance top-5 — search over
    // codes alone (the 100 TB memory-compression ANN path)
    "q49_pq_ann" -> ((s, dir) => {
      val e = tbl(s, dir, "embeddings")
      val cb = Similarity.pqCodebook(e, "vec_id", "embedding", 16)
      val codes = Similarity.pqEncode(e, "vec_id", "embedding", cb, m = 8)
      val q = e.filter(col("vec_id") < 8)
        .select(col("vec_id").as("qid"), col("embedding").as("qv"))
      Similarity.pqSearch(q, "qid", "qv", codes, "vec_id", cb, 8, 5)
        .select(col("qid"), col("vec_id"), col("rank").cast("long").as("rnk"), col("dist"))
    }),

    // deterministic k-means training (integer-accumulated Lloyd
    // updates): the trained 8-cell codebook itself, dim-exploded
    "q50_kmeans_train" -> ((s, dir) => {
      import s.implicits._
      Similarity.trainKmeans(tbl(s, dir, "embeddings"), "vec_id", "embedding",
        k = 8, iterations = 2)
        .flatMap { case (cell, v) =>
          v.zipWithIndex.map { case (x, d) => (cell, d.toLong, x) }
        }.toSeq.toDF("cell", "dim", "val")
    }),

    // the trained quantizer plugged into the IVF contract: ANN over
    // k-means cells instead of the first-k placeholder
    "q50b_ivf_trained" -> ((s, dir) => {
      val e = tbl(s, dir, "embeddings")
      val cents = Similarity.trainKmeans(e, "vec_id", "embedding", 8, 2)
      val q = e.filter(col("vec_id") < 8)
        .select(col("vec_id").as("qid"), col("embedding").as("qv"))
      Similarity.ivfFlatWith(q, "qid", "qv", e, "vec_id", "embedding",
        cents, nProbe = 2, k = 5)
        .select(col("qid"), col("vec_id"), col("rank").cast("long").as("rnk"), col("score"))
    }),

    // PQ with TRAINED per-subspace codebooks (1 Lloyd round each) —
    // the proper PQ training, over the same deterministic machinery
    "q51_pq_trained" -> ((s, dir) => {
      val e = tbl(s, dir, "embeddings")
      val books = Similarity.trainPqCodebooks(e, "vec_id", "embedding",
        K.Dim, m = 8, k = 8, iterations = 1)
      val codes = Similarity.pqEncodeTrained(e, "vec_id", "embedding", books)
      val q = e.filter(col("vec_id") < 8)
        .select(col("vec_id").as("qid"), col("embedding").as("qv"))
      Similarity.pqSearchTrained(q, "qid", "qv", codes, "vec_id", books, 5)
        .select(col("qid"), col("vec_id"), col("rank").cast("long").as("rnk"), col("dist"))
    }),

    // q49b's exact semantics through the PERSISTED index: build writes
    // cell-partitioned codes + sidecar quantizers once; search reads the
    // sidecars and ONLY the probed cells' partitions (directory pruning
    // at the FileIndex — the build-once/query-many 100 TB serving shape)
    "q123_ivfpq_indexed" -> ((s, dir) => {
      val e = tbl(s, dir, "embeddings")
      val path = java.nio.file.Files.createTempDirectory("graft_q123_idx").toString
      VectorIndex.writeIvfPq(e, "vec_id", "embedding", nCells = 16, m = 8,
        nCentsPq = 16, path = path)
      val q = e.filter(col("vec_id") < 8)
        .select(col("vec_id").as("qid"), col("embedding").as("qv"))
      VectorIndex.search(s, q, "qid", "qv", path, nProbe = 4, k = 5)
        .select(col("qid"), col("id").as("vec_id"),
          col("rank").cast("long").as("rnk"), col("dist"))
    }),

    // incremental maintenance: build on the first 250 ids, APPEND the
    // rest encoded with the SAVED quantizers (no retrain, no rewrite) —
    // must hash-match the full-build oracle exactly
    "q123b_ivfpq_append" -> ((s, dir) => {
      val e = tbl(s, dir, "embeddings")
      val path = java.nio.file.Files.createTempDirectory("graft_q123b_idx").toString
      VectorIndex.writeIvfPq(e.filter(col("vec_id") < 250), "vec_id", "embedding",
        nCells = 16, m = 8, nCentsPq = 16, path = path)
      VectorIndex.append(e.filter(col("vec_id") >= 250), "vec_id", "embedding", path)
      val q = e.filter(col("vec_id") < 8)
        .select(col("vec_id").as("qid"), col("embedding").as("qv"))
      VectorIndex.search(s, q, "qid", "qv", path, nProbe = 4, k = 5)
        .select(col("qid"), col("id").as("vec_id"),
          col("rank").cast("long").as("rnk"), col("dist"))
    }),

    // q123b's append path driven through the REAL streaming sink: the
    // remainder arrives as three ordered micro-batches via
    // ivfPqAppendSink (replay-safe idempotentAppend per batch, saved
    // quantizers, cell-partition appends) and the final search must
    // still hash-match the full-build oracle — the streamed maintenance
    // path under the same DuckDB gate as the batch one
    "q137_stream_index_ingest" -> ((s, dir) => {
      val e = tbl(s, dir, "embeddings")
      val path = java.nio.file.Files.createTempDirectory("graft_q137_idx").toString
      VectorIndex.writeIvfPq(e.filter(col("vec_id") < 250), "vec_id", "embedding",
        nCells = 16, m = 8, nCentsPq = 16, path = path)
      streamFileBatches(s,
        (0 until 3).map(k =>
          e.filter(col("vec_id") >= 250 && col("vec_id") % 3 === k)
            .select(col("vec_id"), col("embedding")))) { src =>
        graft.streaming.StreamingOps.ivfPqAppendSink(
          src, "vec_id", "embedding", path)
      }
      val q = e.filter(col("vec_id") < 8)
        .select(col("vec_id").as("qid"), col("embedding").as("qv"))
      VectorIndex.search(s, q, "qid", "qv", path, nProbe = 4, k = 5)
        .select(col("qid"), col("id").as("vec_id"),
          col("rank").cast("long").as("rnk"), col("dist"))
    }),

    // the serving-quality form: ADC candidates (k×4 overfetch) from the
    // persisted index re-ranked by EXACT L2 fetched from the
    // cell-partitioned vecs table — candidate-sized I/O buys back the PQ
    // ordering loss (measured recall 0.45 → 1.0 at overfetch 64;
    // SCALING.md)
    "q125_ivfpq_rescored" -> ((s, dir) => {
      val e = tbl(s, dir, "embeddings")
      val path = java.nio.file.Files.createTempDirectory("graft_q125_idx").toString
      VectorIndex.writeIvfPq(e, "vec_id", "embedding", nCells = 16, m = 8,
        nCentsPq = 16, path = path, storeVectors = true)
      val q = e.filter(col("vec_id") < 8)
        .select(col("vec_id").as("qid"), col("embedding").as("qv"))
      VectorIndex.searchRescored(s, q, "qid", "qv",
          VectorIndex.load(s, path), nProbe = 4, k = 5, overfetch = 4)
        .select(col("qid"), col("id").as("vec_id"),
          col("rank").cast("long").as("rnk"), col("dist"))
    }),

    // SemDeDup's serving form: "is this new row semantically equal to
    // something ALREADY INDEXED" answered batch-sized from the persisted
    // index — ADC top-k proposes corpus neighbors, exact cosine (on the
    // |batch|·k fetched vectors only) renders the verdict
    "q138_semantic_ingest_dups" -> ((s, dir) => {
      val e = tbl(s, dir, "embeddings")
      val path = java.nio.file.Files.createTempDirectory("graft_q138_idx").toString
      VectorIndex.writeIvfPq(e.filter(col("vec_id") < 250), "vec_id", "embedding",
        nCells = 16, m = 8, nCentsPq = 16, path = path, storeVectors = true)
      VectorIndex.semanticDups(s, e.filter(col("vec_id") >= 250),
          "vec_id", "embedding", VectorIndex.load(s, path),
          nProbe = 4, k = 5, threshold = 0.2)
        .select(col("vec_id"), col("corpus_id"), col("cosine"))
    }),

    // the streamed semantic-ingest lifecycle: three ordered micro-batches
    // through semanticIngestSink (within-batch LSH+cosine drops, ADC+
    // cosine verdict against the ACCUMULATED index, clean rows appended
    // with vectors) — q139 gates the audit, q139b the final index
    "q139_stream_semantic_ingest" -> ((s, dir) =>
      sharedStream(dir, "semantic_ingest", "q139")(
        streamSemanticIngest(s, dir, "q139"))._1),

    "q139b_stream_semantic_corpus" -> ((s, dir) =>
      sharedStream(dir, "semantic_ingest", "q139b")(
        streamSemanticIngest(s, dir, "q139"))._2),

    // predicated serving search: the allow-set (every third id — in
    // production a filtered dimension table) semi-joins the candidate
    // stream BEFORE ranking, so top-k backfills with permitted rows
    "q133_ivfpq_filtered" -> ((s, dir) => {
      val e = tbl(s, dir, "embeddings")
      val path = java.nio.file.Files.createTempDirectory("graft_q133_idx").toString
      VectorIndex.writeIvfPq(e, "vec_id", "embedding", nCells = 16, m = 8,
        nCentsPq = 16, path = path)
      val q = e.filter(col("vec_id") < 8)
        .select(col("vec_id").as("qid"), col("embedding").as("qv"))
      VectorIndex.searchFiltered(s, q, "qid", "qv", VectorIndex.load(s, path),
          nProbe = 4, k = 5,
          allowed = e.filter(col("vec_id") % 3 === 0), allowedIdCol = "vec_id")
        .select(col("qid"), col("id").as("vec_id"),
          col("rank").cast("long").as("rnk"), col("dist"))
    }),

    // the serving capstone: every lifecycle piece composed in one gate —
    // two same-quantizer builds MERGED, a removal batch tombstoned then
    // COMPACTED away, and the query path running FILTERED (allow-set)
    // RESCORED search — hash-matched against the candidate-constrained
    // rescored oracle
    "q134_serving_capstone" -> ((s, dir) => {
      val e = tbl(s, dir, "embeddings")
      val pA = java.nio.file.Files.createTempDirectory("graft_q134_a").toString
      val pB = java.nio.file.Files.createTempDirectory("graft_q134_b").toString
      VectorIndex.writeIvfPq(e.filter(col("vec_id") < 250), "vec_id", "embedding",
        nCells = 16, m = 8, nCentsPq = 16, path = pA, storeVectors = true)
      val (cents, books) = VectorIndex.loadQuantizers(s, pA)
      VectorIndex.writeWith(e.filter(col("vec_id") >= 250), "vec_id", "embedding",
        cents, books, pB, storeVectors = true)
      VectorIndex.merge(s, pB, pA)
      // autoCompact off (the delete-scaladoc rule): this script ends
      // with an explicit compact, so the policy's decide jobs + an early
      // rewrite would be paid twice at scales where the %7 batch crosses
      // the 10% trigger (the r18 sf10 q134 2× signature)
      VectorIndex.delete(s, pA,
        e.filter(col("vec_id") % 7 === 0).select(col("vec_id")), "vec_id",
        autoCompact = false)
      VectorIndex.compact(s, pA)
      val q = e.filter(col("vec_id") < 8)
        .select(col("vec_id").as("qid"), col("embedding").as("qv"))
      VectorIndex.searchRescored(s, q, "qid", "qv", VectorIndex.load(s, pA),
          nProbe = 4, k = 5, overfetch = 4,
          allowed = Some(e.filter(col("vec_id") % 3 === 0)), allowedIdCol = "vec_id")
        .select(col("qid"), col("id").as("vec_id"),
          col("rank").cast("long").as("rnk"), col("dist"))
    }),

    // the backfill-plus-daily fold: a second index built with the FIRST
    // index's saved quantizers merges in file-level (zero data pass) —
    // the merged search must hash-match the full-build oracle exactly
    "q132_ivfpq_merged" -> ((s, dir) => {
      val e = tbl(s, dir, "embeddings")
      val pA = java.nio.file.Files.createTempDirectory("graft_q132_a").toString
      val pB = java.nio.file.Files.createTempDirectory("graft_q132_b").toString
      VectorIndex.writeIvfPq(e.filter(col("vec_id") < 250), "vec_id", "embedding",
        nCells = 16, m = 8, nCentsPq = 16, path = pA)
      val (cents, books) = VectorIndex.loadQuantizers(s, pA)
      VectorIndex.writeWith(e.filter(col("vec_id") >= 250), "vec_id", "embedding",
        cents, books, pB)
      VectorIndex.merge(s, pB, pA)
      val q = e.filter(col("vec_id") < 8)
        .select(col("vec_id").as("qid"), col("embedding").as("qv"))
      VectorIndex.search(s, q, "qid", "qv", pA, nProbe = 4, k = 5)
        .select(col("qid"), col("id").as("vec_id"),
          col("rank").cast("long").as("rnk"), col("dist"))
    }),

    // the delete→compact lifecycle: logical tombstones take effect at
    // the next search (anti-joined out BEFORE ranking, so top-k
    // backfills), then compaction rewrites ONLY the affected cells and
    // the post-compact search must still match the excluded oracle —
    // deletion never retrains the quantizers
    "q126_ivfpq_deleted" -> ((s, dir) => {
      val e = tbl(s, dir, "embeddings")
      val path = java.nio.file.Files.createTempDirectory("graft_q126_idx").toString
      VectorIndex.writeIvfPq(e, "vec_id", "embedding", nCells = 16, m = 8,
        nCentsPq = 16, path = path)
      VectorIndex.delete(s, path,
        e.filter(col("vec_id") % 7 === 0).select(col("vec_id")), "vec_id")
      VectorIndex.compact(s, path)
      val q = e.filter(col("vec_id") < 8)
        .select(col("vec_id").as("qid"), col("embedding").as("qv"))
      VectorIndex.search(s, q, "qid", "qv", path, nProbe = 4, k = 5)
        .select(col("qid"), col("id").as("vec_id"),
          col("rank").cast("long").as("rnk"), col("dist"))
    }),

    // the document-UPDATE lifecycle leg (q123b inserts, q126 removes —
    // real corpora also re-embed): build the index with STALE vectors
    // for ids >= 100, % 5 == 0 (reversed arrays — quantizer rows
    // vec_id < 16 stay untouched, so the saved quantizers equal a
    // fresh build's), then upsert the true vectors for those ids
    // (delete → compact affected cells → re-encode+append). The
    // post-upsert search must hash-match the fresh-full-build oracle
    // (q123's chain) bit for bit — stale codes really left, re-appended
    // ids really serve (a live tombstone would suppress them)
    "q151_ivfpq_upsert" -> ((s, dir) => {
      val e = tbl(s, dir, "embeddings")
      val path = java.nio.file.Files.createTempDirectory("graft_q151_idx").toString
      val staleIds = col("vec_id") >= 100 && col("vec_id") % 5 === 0
      val stale = e.withColumn("embedding",
        when(staleIds, reverse(col("embedding"))).otherwise(col("embedding")))
      VectorIndex.writeIvfPq(stale, "vec_id", "embedding", nCells = 16, m = 8,
        nCentsPq = 16, path = path)
      VectorIndex.upsert(e.filter(staleIds), "vec_id", "embedding", path)
      val q = e.filter(col("vec_id") < 8)
        .select(col("vec_id").as("qid"), col("embedding").as("qv"))
      VectorIndex.search(s, q, "qid", "qv", path, nProbe = 4, k = 5)
        .select(col("qid"), col("id").as("vec_id"),
          col("rank").cast("long").as("rnk"), col("dist"))
    }),

    // q151's update path driven through the REAL streaming sink: the
    // stale ids' true vectors arrive as three ordered micro-batches via
    // ivfPqUpsertSink (replay-idempotent by upsert's own delete-first
    // construction — no marker protocol), and the post-stream search
    // must still hash-match the fresh-full-build oracle
    "q157_stream_upsert" -> ((s, dir) => {
      val e = tbl(s, dir, "embeddings")
      val path = java.nio.file.Files.createTempDirectory("graft_q157_idx").toString
      val staleIds = col("vec_id") >= 100 && col("vec_id") % 5 === 0
      val stale = e.withColumn("embedding",
        when(staleIds, reverse(col("embedding"))).otherwise(col("embedding")))
      VectorIndex.writeIvfPq(stale, "vec_id", "embedding", nCells = 16, m = 8,
        nCentsPq = 16, path = path)
      streamFileBatches(s,
        (0 until 3).map(k => e.filter(staleIds && col("vec_id") % 3 === k)
          .select(col("vec_id"), col("embedding")))) { src =>
        graft.streaming.StreamingOps.ivfPqUpsertSink(
          src, "vec_id", "embedding", path)
      }
      val q = e.filter(col("vec_id") < 8)
        .select(col("vec_id").as("qid"), col("embedding").as("qv"))
      VectorIndex.search(s, q, "qid", "qv", path, nProbe = 4, k = 5)
        .select(col("qid"), col("id").as("vec_id"),
          col("rank").cast("long").as("rnk"), col("dist"))
    }),

    // the lexical twin: q152's re-crawl through bm25UpsertSink
    "q158_stream_bm25_upsert" -> ((s, dir) => {
      val d = docs(s, dir)
      val path = java.nio.file.Files.createTempDirectory("graft_q158_idx").toString
      val staleIds = col("doc_id") % 7 === 0
      val stale = d.withColumn("text",
        when(staleIds, concat_ws(" ", col("text"), lit("zzstalemarker zzstalemarker")))
          .otherwise(col("text")))
      FullTextIndex.write(stale, "doc_id", "text", path)
      streamFileBatches(s,
        (0 until 3).map(k => d.filter(staleIds && col("doc_id") % 3 === k)
          .select(col("doc_id"), col("text")))) { src =>
        graft.streaming.StreamingOps.bm25UpsertSink(src, "doc_id", "text", path)
      }
      val q = d.filter(col("doc_id") < 4)
        .select(col("doc_id").as("qid"), col("text").as("qtext"))
      FullTextIndex.searchTopK(s, q, "qid", "qtext", path, k = 5)
        .select(col("qid"), col("doc_id"), col("rank").cast("long").as("rnk"), col("score"))
    }),

    // residual-encoded IVF-PQ: PQ codes quantize vec − centroid[cell]
    // and queries compare in the probed cell's residual frame — the
    // standard formulation; same m buys materially more ordering
    "q130_ivfpq_residual" -> ((s, dir) => {
      val e = tbl(s, dir, "embeddings")
      val q = e.filter(col("vec_id") < 8)
        .select(col("vec_id").as("qid"), col("embedding").as("qv"))
      Similarity.ivfPqResidual(q, "qid", "qv", e, "vec_id", "embedding",
        nCells = 16, nProbe = 4, m = 8, nCentsPq = 16, k = 5)
        .select(col("qid"), col("vec_id"), col("rank").cast("long").as("rnk"), col("dist"))
    }),

    // q130's residual frame through the PERSISTED lifecycle: a
    // residual-encoded index (meta carries the frame; codes quantize
    // vec − centroid[cell], queries compare in the probed cell's
    // residual frame) must hash-match the one-shot residual oracle —
    // the build-once/query-many form of the recall-lifting encode path
    "q165_ivfpq_index_residual" -> ((s, dir) => {
      val e = tbl(s, dir, "embeddings")
      val path = java.nio.file.Files.createTempDirectory("graft_q165_idx").toString
      VectorIndex.writeIvfPq(e, "vec_id", "embedding", nCells = 16, m = 8,
        nCentsPq = 16, path = path, residual = true)
      val q = e.filter(col("vec_id") < 8)
        .select(col("vec_id").as("qid"), col("embedding").as("qv"))
      VectorIndex.search(s, q, "qid", "qv", path, nProbe = 4, k = 5)
        .select(col("qid"), col("id").as("vec_id"),
          col("rank").cast("long").as("rnk"), col("dist"))
    }),

    // the residual frame must survive MAINTENANCE: append reads the
    // persisted frame from meta and encodes the new rows' residuals
    // with the saved quantizers — split build + append hash-matches the
    // full-build residual oracle exactly (q123b's contract, residual)
    "q165b_ivfpq_index_residual_append" -> ((s, dir) => {
      val e = tbl(s, dir, "embeddings")
      val path = java.nio.file.Files.createTempDirectory("graft_q165b_idx").toString
      VectorIndex.writeIvfPq(e.filter(col("vec_id") < 250), "vec_id", "embedding",
        nCells = 16, m = 8, nCentsPq = 16, path = path, residual = true)
      VectorIndex.append(e.filter(col("vec_id") >= 250), "vec_id", "embedding", path)
      val q = e.filter(col("vec_id") < 8)
        .select(col("vec_id").as("qid"), col("embedding").as("qv"))
      VectorIndex.search(s, q, "qid", "qv", path, nProbe = 4, k = 5)
        .select(col("qid"), col("id").as("vec_id"),
          col("rank").cast("long").as("rnk"), col("dist"))
    }),

    // the SERVING form of the residual path: residual ADC proposes
    // k×overfetch candidates, exact L2 over the stored raw vectors
    // re-ranks — the q125 rescore contract under the residual frame
    "q166_ivfpq_residual_rescored" -> ((s, dir) => {
      val e = tbl(s, dir, "embeddings")
      val path = java.nio.file.Files.createTempDirectory("graft_q166_idx").toString
      VectorIndex.writeIvfPq(e, "vec_id", "embedding", nCells = 16, m = 8,
        nCentsPq = 16, path = path, storeVectors = true, residual = true)
      val q = e.filter(col("vec_id") < 8)
        .select(col("vec_id").as("qid"), col("embedding").as("qv"))
      VectorIndex.searchRescored(s, q, "qid", "qv", VectorIndex.load(s, path),
          nProbe = 4, k = 5, overfetch = 4)
        .select(col("qid"), col("id").as("vec_id"),
          col("rank").cast("long").as("rnk"), col("dist"))
    }),

    // the probe-count law as the API default: nProbe omitted resolves
    // via nProbeFor(nCells) — at this gate's 16 cells that is 16 (the
    // near-dup-band constant, clamped), so the oracle is the full-probe
    // q49b form; the RECALL probes pin the law at measured cell counts
    "q167_ivfpq_default_probe" -> ((s, dir) => {
      val e = tbl(s, dir, "embeddings")
      val path = java.nio.file.Files.createTempDirectory("graft_q167_idx").toString
      VectorIndex.writeIvfPq(e, "vec_id", "embedding", nCells = 16, m = 8,
        nCentsPq = 16, path = path)
      val q = e.filter(col("vec_id") < 8)
        .select(col("vec_id").as("qid"), col("embedding").as("qv"))
      VectorIndex.search(s, q, "qid", "qv", path, k = 5)
        .select(col("qid"), col("id").as("vec_id"),
          col("rank").cast("long").as("rnk"), col("dist"))
    }),

    // INDEX-BACKED semantic clustering — the serving-path recall answer
    // (RECALL probes: auto-sized sign-LSH holds cost linear but recalls
    // 0.17 on the mid-cosine band carrying this corpus's true-kNN
    // mass; the IVF geometry + exact-cosine rescore of ADC candidates
    // recalls what the index proposes, at the same candidate bound).
    // Candidates come from the PERSISTED index via a cell-key exchange
    // (queries = corpus — nothing broadcasts), the mutual+CC chain is
    // exactly q107's; the oracle mirrors the ADC proposal, the
    // overfetch cut, the cosine re-rank, and the rounds
    "q161_clusters_indexed" -> ((s, dir) => {
      val e = tbl(s, dir, "embeddings")
      val path = java.nio.file.Files.createTempDirectory("graft_q161_idx").toString
      VectorIndex.writeIvfPq(e, "vec_id", "embedding", nCells = 16, m = 8,
        nCentsPq = 16, path = path, storeVectors = true)
      VectorIndex.semanticClustersIndexed(s, VectorIndex.load(s, path),
        nProbe = 4, k = 4, iterations = 18, overfetch = 8)
        .select(col("id"), col("cluster"))
    }),

    // q161 at its SCALE sizing: nCellsFor(count) picks the cell count
    // (occupancy ≤ 256 — the nPlanesFor analog; RECALL probes measure
    // the carried-16-cell constant cratering at sf1) and nProbe stays
    // FIXED so candidates are nProbe·targetCell per vector — linear in
    // n where probing a fixed FRACTION of cells would stay quadratic.
    // The sf0.01 gate corpus (500 embeddings) auto-sizes to 2 cells,
    // so this row gating green pins the sizing rule itself — the
    // oracle hardcodes the chain at nCells 2 and any other choice
    // hash-mismatches (the q121 pattern)
    "q161b_clusters_indexed_auto" -> ((s, dir) => {
      val e = tbl(s, dir, "embeddings")
      val nc = VectorIndex.nCellsFor(e.count())
      val path = java.nio.file.Files.createTempDirectory("graft_q161b_idx").toString
      VectorIndex.writeIvfPq(e, "vec_id", "embedding", nCells = nc, m = 8,
        nCentsPq = 16, path = path, storeVectors = true)
      VectorIndex.semanticClustersIndexed(s, VectorIndex.load(s, path),
        nProbe = math.min(nc, 4), k = 4, iterations = 28, overfetch = 8)
        .select(col("id"), col("cluster"))
    }),

    // the drift reading that decides WHEN to retrain a persisted index:
    // mean nearest-cell distance, fixed-point-exact (min is order-free,
    // the sum is commutative longs) — here the build-baseline form over
    // the whole corpus against the first-16 coarse cells
    "q129_index_drift" -> ((s, dir) => {
      val e = tbl(s, dir, "embeddings")
      VectorIndex.meanCellDist(e,
        "embedding", Similarity.firstKCentroids(e, "vec_id", "embedding", 16))
    }),

    // the composed RESPONSE to drift — the monthly maintenance path q134
    // left out: an index built on yesterday's distribution receives a
    // genuinely shifted batch (x·2+1 in exact doubles, disjoint ids);
    // driftScore fires the retrain trigger, the grown corpus RETRAINS
    // (Lloyd coarse cells + per-subspace PQ books), re-encodes, and the
    // serving search swaps to the new index — hash-matched against the
    // fresh trained-rebuild oracle WITH the drift reading pinned as a
    // column (a trigger that failed to fire aborts the query, a stale
    // un-swapped index mismatches the retrained oracle)
    "q136_drift_retrain" -> ((s, dir) => {
      val e = tbl(s, dir, "embeddings")
      val p0 = java.nio.file.Files.createTempDirectory("graft_q136_old").toString
      val p1 = java.nio.file.Files.createTempDirectory("graft_q136_new").toString
      VectorIndex.writeIvfPq(e, "vec_id", "embedding", nCells = 16, m = 8,
        nCentsPq = 16, path = p0)
      val old = e.select(col("vec_id"),
        transform(col("embedding"), x => x.cast("double")).as("embedding"))
      val incoming = e.select((col("vec_id") + lit(10000L)).as("vec_id"),
        transform(col("embedding"),
          x => x.cast("double") * lit(2.0) + lit(1.0)).as("embedding"))
      val score = VectorIndex.driftScore(s, incoming, "embedding", p0)
      require(score > 1.5,
        f"drift score $score%.4f did not cross the retrain trigger — the shifted batch must read as drifted")
      VectorIndex.writeIvfPqTrained(old.unionByName(incoming), "vec_id",
        "embedding", dim = K.Dim, nCells = 8, m = 8, nCentsPq = 8,
        iterations = 1, path = p1)
      val q = e.filter(col("vec_id") < 8)
        .select(col("vec_id").as("qid"), col("embedding").as("qv"))
      VectorIndex.search(s, q, "qid", "qv", p1, nProbe = 4, k = 5)
        .select(col("qid"), col("id").as("vec_id"),
          col("rank").cast("long").as("rnk"), col("dist"))
        .withColumn("drift", lit(score))
    }),

    // the windowed-agg streaming class under the DuckDB gate: rows carry
    // deterministic event times (vec_id % 4 minutes past a fixed epoch),
    // arrive in two micro-batches split vec_id % 2 — so every window
    // SPANS the batch seam and the gate pins the cross-seam exactness of
    // the commutative fixed-point sum — and each tumbling window's drift
    // reading must hash-match the relational fixed-point mean ÷ baseline
    "q140_stream_drift_windows" -> ((s, dir) => {
      val e = tbl(s, dir, "embeddings")
      val path = java.nio.file.Files.createTempDirectory("graft_q140_idx").toString
      VectorIndex.writeIvfPq(e, "vec_id", "embedding", nCells = 16, m = 8,
        nCentsPq = 16, path = path)
      val epoch = java.sql.Timestamp.valueOf("2026-01-01 10:00:00").getTime
      // two micro-batches, each spanning ALL four event-time windows —
      // the complete-mode window aggregate depends only on the row
      // multiset, so the id-parity split pins the seam deterministically
      val slices = (0 until 2).map(k => e.filter(col("vec_id") % 2 === k)
        .select(timestamp_seconds(lit(epoch / 1000L) +
          (col("vec_id") % 4) * 60L).as("ts"), col("embedding")))
      val qn = "graft_q140_windows"
      s.sql(s"DROP VIEW IF EXISTS $qn") // re-runs in one session (bench passes)
      streamFileBatches(s, slices) { src =>
        graft.streaming.StreamingOps.driftScoreStream(
            src, "embedding", "ts",
            watermark = "10 seconds", windowLen = "1 minute", indexPath = path)
          .writeStream.format("memory").queryName(qn)
          .outputMode("complete")
      }
      s.table(qn).select(
        ((unix_timestamp(col("window.start")) - lit(epoch / 1000L)) / 60L)
          .cast("long").as("win"),
        col("n_rows"), col("drift"))
    }),

    // streamed Count-Min under the DuckDB gate: docs carry deterministic
    // event times (doc_id % 2 minutes past a fixed epoch → two tumbling
    // windows), arrive in THREE micro-batches keyed doc_id % 3 — every
    // window spans both batch seams — and the finalized window grids
    // fold via cmsMerge into estimates that must hash-match q113's
    // whole-corpus sketch-in-SQL oracle (merge(w0, w1) == sketch(corpus)
    // exactly, because cell counts are linear)
    "q144_stream_cms" -> ((s, dir) => {
      val d = docs(s, dir)
      val epoch = java.sql.Timestamp.valueOf("2026-01-01 10:00:00").getTime
      val slices = (0 until 3).map(k => d.filter(col("doc_id") % 3 === k)
        .select(timestamp_seconds(lit(epoch / 1000L) +
          (col("doc_id") % 2) * 60L).as("ts"), col("text")))
      val qn = "graft_q144_windows"
      s.sql(s"DROP VIEW IF EXISTS $qn") // re-runs in one session (bench passes)
      streamFileBatches(s, slices) { src =>
        graft.streaming.StreamingOps.cmsSketchStream(
            src, "text", "ts",
            watermark = "10 seconds", windowLen = "1 minute",
            depth = 3, width = 16)
          .writeStream.format("memory").queryName(qn)
          .outputMode("complete")
      }
      val w = s.table(qn).select(
        ((unix_timestamp(col("window.start")) - lit(epoch / 1000L)) / 60L)
          .cast("long").as("win"),
        col("row"), col("bucket"), col("cnt"))
        .localCheckpoint(false) // window-grid-sized; feeds both filters
      val sk = Sketch.cmsMerge(
        w.filter(col("win") === 0L).drop("win"),
        w.filter(col("win") === 1L).drop("win"))
      val cand = d.select(
        explode(Kernel.tokenIds(col("text"), K.MaxLength)).as("token_id"))
        .distinct()
      Sketch.cmsEstimatesFrom(sk, cand, depth = 3, width = 16)
        .withColumn("heavy", col("est") >= 900L)
    }),

    // streamed HLL under the same harness: per-(window, source, bucket)
    // max-rho tables fold via hllMerge (per-bucket max — idempotent), so
    // the merged estimate must equal q114's whole-corpus sketch exactly;
    // the exact leg is the same batch countDistinct the q114 oracle pins
    "q145_stream_hll" -> ((s, dir) => {
      val t = tbl(s, dir, "documents")
      val epoch = java.sql.Timestamp.valueOf("2026-01-01 10:00:00").getTime
      val slices = (0 until 3).map(k => t.filter(col("doc_id") % 3 === k)
        .select(timestamp_seconds(lit(epoch / 1000L) +
          (col("doc_id") % 2) * 60L).as("ts"), col("source"), col("text")))
      val qn = "graft_q145_windows"
      s.sql(s"DROP VIEW IF EXISTS $qn")
      streamFileBatches(s, slices) { src =>
        graft.streaming.StreamingOps.hllSketchStream(
            src, "source", "text", "ts",
            watermark = "10 seconds", windowLen = "1 minute", n = 3, p = 6)
          .writeStream.format("memory").queryName(qn)
          .outputMode("complete")
      }
      val w = s.table(qn).select(
        ((unix_timestamp(col("window.start")) - lit(epoch / 1000L)) / 60L)
          .cast("long").as("win"),
        col("source"), col("bucket"), col("maxrho"))
        .localCheckpoint(false)
      val merged = Sketch.hllMerge("source",
        w.filter(col("win") === 0L).drop("win"),
        w.filter(col("win") === 1L).drop("win"))
      val est = Sketch.hllEstimateFrom(merged, "source", 6)
      val sh = t.select(col("source"),
        Kernel.tokenIds(col("text"), K.MaxLength).as("__tids"))
        .filter(size(col("__tids")) >= 3)
        .select(col("source"),
          explode(Dedup.shingles(col("__tids"), 3)).as("shingle"))
      sh.groupBy(col("source"))
        .agg(countDistinct(col("shingle")).as("exact")).join(est, "source")
    }),

    // IVF×PQ composed: 16 coarse cells, 4 probed, 8-subspace ADC over
    // codes within the probed cells only
    "q49b_ivf_pq" -> ((s, dir) => {
      val e = tbl(s, dir, "embeddings")
      val q = e.filter(col("vec_id") < 8)
        .select(col("vec_id").as("qid"), col("embedding").as("qv"))
      Similarity.ivfPq(q, "qid", "qv", e, "vec_id", "embedding",
        nCells = 16, nProbe = 4, m = 8, nCentsPq = 16, k = 5)
        .select(col("qid"), col("vec_id"), col("rank").cast("long").as("rnk"), col("dist"))
    }),

    // scalar (int8) quantization: per-dim min/max stats trained in-plan,
    // every element mapped to an 8-bit code — the 4× footprint cut
    "q53_sq_codes" -> ((s, dir) => {
      val e = tbl(s, dir, "embeddings")
      Quantize.sqEncode(e, "vec_id", "embedding", Quantize.sqStats(e, "embedding"))
        .select(col("vec_id"), posexplode(col("codes")).as(Seq("dim", "code")))
        .select(col("vec_id"), col("dim").cast("long").as("dim"), col("code"))
    }),

    // asymmetric search over the int8 codes: full-precision queries vs
    // dequantized corpus codes — raw vectors never load on the scan side
    "q53b_sq_search" -> ((s, dir) => {
      val e = tbl(s, dir, "embeddings")
      val stats = Quantize.sqStats(e, "embedding")
      val codes = Quantize.sqEncode(e, "vec_id", "embedding", stats)
      val q = e.filter(col("vec_id") < 8)
        .select(col("vec_id").as("qid"), col("embedding").as("qv"))
      Quantize.sqSearch(q, "qid", "qv", codes, "vec_id", stats, 5)
        .select(col("qid"), col("vec_id"), col("rank").cast("long").as("rnk"), col("score"))
    }),

    // binary quantization: one sign bit per dim packed into 32-bit words
    // (the 32× footprint cut), checked word-exploded
    "q54_binary_sig" -> ((s, dir) =>
      Quantize.binaryEncode(tbl(s, dir, "embeddings"), "vec_id", "embedding", K.Dim)
        .select(col("vec_id"), posexplode(col("sig")).as(Seq("word", "bits")))
        .select(col("vec_id"), col("word").cast("long").as("word"), col("bits"))),

    // Hamming top-k over the packed signatures (XOR+popcount scan)
    "q54b_hamming_topk" -> ((s, dir) => {
      val e = tbl(s, dir, "embeddings")
      val cSigs = Quantize.binaryEncode(e, "vec_id", "embedding", K.Dim)
      val qSigs = Quantize.binaryEncode(
        e.filter(col("vec_id") < 8).select(col("vec_id").as("qid"), col("embedding")),
        "qid", "embedding", K.Dim)
      Quantize.hammingTopK(qSigs, "qid", cSigs, "vec_id", 5)
        .select(col("qid"), col("vec_id"), col("rank").cast("long").as("rnk"), col("hamming"))
    }),

    // the production binary-ANN shape: Hamming candidates (32 per query)
    // → exact cosine rescore of only those rows' raw vectors → top-5
    "q54c_binary_rescored" -> ((s, dir) => {
      val e = tbl(s, dir, "embeddings")
      val q = e.filter(col("vec_id") < 8)
        .select(col("vec_id").as("qid"), col("embedding").as("qv"))
      Quantize.binarySearchRescored(q, "qid", "qv", e, "vec_id", "embedding",
        K.Dim, 32, 5)
        .select(col("qid"), col("vec_id"), col("rank").cast("long").as("rnk"), col("score"))
    }),

    // BM25 document-side weights: corpus stats (df, n_docs, avgdl)
    // trained in-plan, quantized-log idf, one corpus scan
    "q55_bm25_weights" -> ((s, dir) =>
      FullText.bm25DocWeights(docs(s, dir), "doc_id", "text")
        .select(col("doc_id"), col("token_id"), col("tf"), col("df"), col("weight"))),

    // BM25 top-k search: broadcast query terms, corpus never shuffles
    // on the join, ordered score fold, partial top-k heap
    "q55b_bm25_topk" -> ((s, dir) => {
      val d = docs(s, dir)
      val q = d.filter(col("doc_id") < 4)
        .select(col("doc_id").as("qid"), col("text").as("qtext"))
      FullText.bm25Search(q, "qid", "qtext", d, "doc_id", "text", 5)
        .select(col("qid"), col("doc_id"), col("rank").cast("long").as("rnk"), col("score"))
    }),

    // the persisted incremental BM25 index: postings are stats-free
    // (token, doc, tf, dl), df/avgdl partials sum at query time — so an
    // append can never stale the index. Build on evens, APPEND odds,
    // search with CURRENT stats ≡ the fresh whole-corpus q55b oracle
    // the BM25 document-UPDATE leg (q151's lexical twin): build the
    // index with STALE text for doc_id % 7 == 0 (a marker token splice
    // that shifts df/avgdl and those docs' postings), then upsert the
    // true text back — removeDocs' immediate stat effect + one
    // batch-sized append must make searchTopK answer the fresh
    // whole-corpus oracle bit for bit
    "q152_bm25_upsert" -> ((s, dir) => {
      val d = docs(s, dir)
      val path = java.nio.file.Files.createTempDirectory("graft_q152_idx").toString
      val staleIds = col("doc_id") % 7 === 0
      val stale = d.withColumn("text",
        when(staleIds, concat_ws(" ", col("text"), lit("zzstalemarker zzstalemarker")))
          .otherwise(col("text")))
      FullTextIndex.write(stale, "doc_id", "text", path)
      FullTextIndex.upsertBatch(s, d.filter(staleIds), "doc_id", "text", path)
      val q = d.filter(col("doc_id") < 4)
        .select(col("doc_id").as("qid"), col("text").as("qtext"))
      FullTextIndex.searchTopK(s, q, "qid", "qtext", path, k = 5)
        .select(col("qid"), col("doc_id"), col("rank").cast("long").as("rnk"), col("score"))
    }),

    "q141_bm25_indexed" -> ((s, dir) => {
      val d = docs(s, dir)
      val path = java.nio.file.Files.createTempDirectory("graft_q141_idx").toString
      FullTextIndex.write(d.filter(col("doc_id") % 2 === 0),
        "doc_id", "text", path)
      FullTextIndex.appendBatch(s, d.filter(col("doc_id") % 2 === 1),
        "doc_id", "text", path)
      val q = d.filter(col("doc_id") < 4)
        .select(col("doc_id").as("qid"), col("text").as("qtext"))
      FullTextIndex.searchTopK(s, q, "qid", "qtext", path, k = 5)
        .select(col("qid"), col("doc_id"), col("rank").cast("long").as("rnk"), col("score"))
    }),

    // the BM25 index's streamed maintenance path: odds arrive as three
    // ordered micro-batches through the replay-safe bm25IngestSink; the
    // post-stream search with CURRENT stats must still hash-match the
    // fresh whole-corpus oracle — the q137 pattern, lexical twin
    "q143_stream_bm25_ingest" -> ((s, dir) => {
      val d = docs(s, dir)
      val path = java.nio.file.Files.createTempDirectory("graft_q143_idx").toString
      FullTextIndex.write(d.filter(col("doc_id") % 2 === 0),
        "doc_id", "text", path)
      val log = java.nio.file.Files.createTempDirectory("graft_q143_log").toString
      streamFileBatches(s,
        (0 until 3).map(k =>
          d.filter(col("doc_id") % 2 === 1 && col("doc_id") % 3 === k)
            .select(col("doc_id"), col("text")))) { src =>
        graft.streaming.StreamingOps.bm25IngestSink(
          src, "doc_id", "text", path, logPath = log)
      }
      val q = d.filter(col("doc_id") < 4)
        .select(col("doc_id").as("qid"), col("text").as("qtext"))
      FullTextIndex.searchTopK(s, q, "qid", "qtext", path, k = 5)
        .select(col("qid"), col("doc_id"), col("rank").cast("long").as("rnk"), col("score"))
    }),

    // BM25-index removal: O(batch) — tombstones mask the dead postings
    // at query time while statistics leave IMMEDIATELY as NEGATIVE
    // partial rows (df/avgdl re-derive over the survivors; a
    // masked-but-counted doc would keep skewing every score), so the
    // search equals a fresh build on the kept corpus; compactPostings
    // then drops the masked rows physically without changing anything
    "q141b_bm25_deleted" -> ((s, dir) => {
      val d = docs(s, dir)
      val path = java.nio.file.Files.createTempDirectory("graft_q141b_idx").toString
      FullTextIndex.write(d, "doc_id", "text", path)
      FullTextIndex.removeDocs(s,
        d.filter(col("doc_id") % 7 === 0).select(col("doc_id")),
        "doc_id", path)
      FullTextIndex.compactPostings(s, path)
      val q = d.filter(col("doc_id") < 4)
        .select(col("doc_id").as("qid"), col("text").as("qtext"))
      FullTextIndex.searchTopK(s, q, "qid", "qtext", path, k = 5)
        .select(col("qid"), col("doc_id"), col("rank").cast("long").as("rnk"), col("score"))
    }),

    // the hybrid SERVING capstone: both retrieval legs run ENTIRELY from
    // persisted indexes — IVF-PQ ADC top-20 (directory-pruned cells) and
    // current-stats BM25 top-20 (term-pruned postings) — fused by
    // reciprocal rank exactly as the one-shot q56; a production stack
    // answers every query this way without touching raw corpus bytes
    "q142_hybrid_indexed" -> ((s, dir) => {
      val d = docs(s, dir)
      val e = tbl(s, dir, "embeddings")
      val vPath = java.nio.file.Files.createTempDirectory("graft_q142_vidx").toString
      VectorIndex.writeIvfPq(e, "vec_id", "embedding", nCells = 16, m = 8,
        nCentsPq = 16, path = vPath)
      val vq = e.filter(col("vec_id") < 4)
        .select(col("vec_id").as("qid"), col("embedding").as("qv"))
      val dense = VectorIndex.search(s, vq, "qid", "qv", vPath, nProbe = 4, k = 20)
        .select(col("qid"), col("id").as("doc_id"), col("rank"))
      val tPath = java.nio.file.Files.createTempDirectory("graft_q142_tidx").toString
      FullTextIndex.write(d, "doc_id", "text", tPath)
      val tq = d.filter(col("doc_id") < 4)
        .select(col("doc_id").as("qid"), col("text").as("qtext"))
      val lexical = FullTextIndex.searchTopK(s, tq, "qid", "qtext",
          tPath, k = 20)
        .select(col("qid"), col("doc_id"), col("rank"))
      FullText.rrfFuse(dense, lexical, "qid", "doc_id", k = 10)
        .select(col("qid"), col("doc_id"), col("rank").cast("long").as("rnk"), col("score"))
    }),

    // hybrid retrieval: dense cosine top-20 + BM25 top-20 fused by
    // reciprocal-rank (k=60) into a top-10 — the production hybrid shape
    "q56_hybrid_rrf" -> ((s, dir) => {
      val d = docs(s, dir)
      val emb = TextEmbedder().embed(d, "text", "emb")
      val qEmb = emb.filter(col("doc_id") < 4)
        .select(col("doc_id").as("qid"), col("emb").as("qv"))
      val dense = Similarity.knnJoin(qEmb, "qid", "qv", emb, "doc_id", "emb", 20)
      val q = d.filter(col("doc_id") < 4)
        .select(col("doc_id").as("qid"), col("text").as("qtext"))
      val sparse = FullText.bm25Search(q, "qid", "qtext", d, "doc_id", "text", 20)
      FullText.rrfFuse(dense, sparse, "qid", "doc_id", 10)
        .select(col("qid"), col("doc_id"), col("rank").cast("long").as("rnk"), col("score"))
    }),

    // deterministic stratified sampling: per-language keep rates over the
    // id-hash lottery — RNG-free, partitioning-invariant, narrow filter
    "q57_stratified_sample" -> ((s, dir) =>
      Sampling.stratifiedSample(
        tbl(s, dir, "documents").select(col("doc_id"), col("lang")),
        "doc_id", "lang", Seq("en" -> 0.5, "zh" -> 0.1), 0.25)
        .select(col("doc_id"), col("lang"))),

    // per-domain quota: ≤10 docs per source, lowest id-hash first —
    // partial top-k per key (no per-key window) + one semi join
    "q57b_cap_per_source" -> ((s, dir) =>
      Sampling.capPerKey(
        tbl(s, dir, "documents").select(col("doc_id"), col("source")),
        "source", "doc_id", 10)
        .select(col("source"), col("doc_id"))),

    // MMR diversity rerank: cosine top-20 candidates, then greedy
    // λ·rel − (1−λ)·max-sim-to-picked selection of 5 (native row-local
    // kernel over the gathered candidate arrays)
    "q58_mmr_rerank" -> ((s, dir) => {
      val e = tbl(s, dir, "embeddings")
      val q = e.filter(col("vec_id") < 4)
        .select(col("vec_id").as("qid"), col("embedding").as("qv"))
      val cand = Similarity.knnJoin(q, "qid", "qv", e, "vec_id", "embedding", 20)
      val withVec = e.select(col("vec_id"), col("embedding"))
        .join(broadcast(cand), Seq("vec_id"))
      Similarity.mmrRerank(withVec, "qid", "vec_id", "score", "embedding", 5, 0.5)
        .select(col("qid"), col("vec_id"), col("rank").cast("long").as("rnk"), col("score"))
    }),

    // Matryoshka truncation: first-16-dims re-normalized (the MRL 4×
    // footprint cut), widened to double before the norm fold
    "q59_matryoshka" -> ((s, dir) =>
      tbl(s, dir, "embeddings")
        .select(col("vec_id"),
          posexplode(Quantize.matryoshka(col("embedding"), 16)).as(Seq("dim", "val")))
        .select(col("vec_id"), col("dim").cast("long").as("dim"), col("val"))),

    // adaptive retrieval: truncated-space top-32 then exact full-width
    // cosine rescore of only the candidates
    "q59b_matryoshka_search" -> ((s, dir) => {
      val e = tbl(s, dir, "embeddings")
      val q = e.filter(col("vec_id") < 8)
        .select(col("vec_id").as("qid"), col("embedding").as("qv"))
      Quantize.matryoshkaSearchRescored(q, "qid", "qv", e, "vec_id", "embedding", 16, 32, 5)
        .select(col("qid"), col("vec_id"), col("rank").cast("long").as("rnk"), col("score"))
    }),

    // per-label prototype centroids: integer-quantized exact means —
    // partitioning-invariant, one two-key partial aggregation
    "q60_label_centroids" -> ((s, dir) =>
      Similarity.labelCentroids(tbl(s, dir, "embeddings"), "label", "embedding")
        .select(col("label").cast("long").as("label"),
          posexplode(col("centroid")).as(Seq("dim", "val")))
        .select(col("label"), col("dim").cast("long").as("dim"), col("val"))),

    // nearest-prototype classification: the centroid bank stays IN-PLAN
    // (1-row broadcast of the aggregated bank — no driver collect), and
    // the argmin is a narrow per-row fold over it, zero shuffle on the
    // corpus side
    "q60b_centroid_classify" -> ((s, dir) => {
      val e = tbl(s, dir, "embeddings")
      val cents = Similarity.labelCentroids(e, "label", "embedding")
      Similarity.classifyByCentroidsInPlan(e, "embedding", cents, "label", "centroid")
        .select(col("vec_id"), col("label").cast("long").as("label"), col("pred"))
    }),

    // substring-level exact dedup signal: positions of 8-token spans
    // occurring in >1 doc (relational suffix-array step)
    "q61_repeated_spans" -> ((s, dir) =>
      Dedup.repeatedSpans(docs(s, dir), "doc_id", "text", 8)
        .select(col("doc_id"), col("pos"), col("shingle"), col("span_docs"))),

    // cross-doc duplicated-block stats (the ccnet-style duplicate-chunk
    // signal): non-overlapping width-8 blocks, a block is duplicated
    // when its hash occurs in >1 distinct doc; exact integer counts
    "q105_dup_blocks" -> ((s, dir) =>
      Dedup.dupBlockStats(docs(s, dir), "doc_id", "text", 8)
        .select(col("doc_id"), col("n_blocks"), col("dup_blocks"))),

    // semantic clusters: mutual-kNN edges (each endpoint in the
    // other's top-k non-self neighbors) -> connected components —
    // the embedding-space cluster labeling a curation pipeline uses
    // for topic balancing and cluster-level dedup
    // 12 rounds on both sides — 1.5x the worst measured convergence (8
    // rounds at sf0.01 and sf0.1; the spec pins the fixpoint: edge
    // endpoints share a label, every label is its component's min id).
    // Both engines must REACH the fixpoint: their CC inits differ, so
    // only converged labels are comparable, unlike q38's
    // lockstep-proven rounds
    "q107_semantic_clusters" -> ((s, dir) =>
      Similarity.semanticClusters(tbl(s, dir, "embeddings"), "vec_id", "embedding", 4,
        iterations = 12)
        .select(col("id"), col("cluster"))),

    // topic-balanced curation: the q107 clusters capped at 8 members
    // each by the deterministic id-hash lottery — cluster + cap in one
    // plan; the CC labels sit behind a lazy checkpoint so capPerKey's
    // two references materialize the clustering once
    "q108_cluster_balanced" -> ((s, dir) =>
      Similarity.clusterBalancedSample(tbl(s, dir, "embeddings"), "vec_id", "embedding",
        4, maxPerCluster = 8, iterations = 12)
        .select(col("id"), col("cluster"))),

    // the q107 labeling on the ANN scale path: candidates from the
    // sign-LSH bucket self-join (hash-equi shuffle, corpus never
    // broadcast) instead of the brute all-pairs kNN — the shape a
    // 100 TB corpus actually clusters with; q107 stays as the exact
    // baseline. 12 CC rounds — 1.5x the measured fixpoint, like q107
    "q116_semantic_clusters_ann" -> ((s, dir) =>
      Similarity.semanticClustersAnn(tbl(s, dir, "embeddings"), "vec_id", "embedding",
        K.Dim, nPlanes = 4, k = 4, iterations = 12)
        .select(col("id"), col("cluster"))),

    // q116 at its SCALE settings: 8 planes (256-way bucket split, the
    // nPlanes-grows-with-n rule) with all 1-flip probe buckets on the
    // query side buying the recall back, and the candidate side salted
    // 4-way. The oracle doesn't model salt — it's a pure parallelism
    // knob — so this row gating green IS the salt-invariance proof.
    // k=2 (vs q116's 4): multi-probe recall makes k=4 mutual edges so
    // dense the graph fuses into one giant component whose CC chain
    // outruns 12 naive-SQL oracle rounds at sf0.1; k=2 keeps clusters
    // fine-grained (≈400 components, fixpoint in ≤10 rounds).
    "q120_semantic_clusters_annmp" -> ((s, dir) =>
      Similarity.semanticClustersAnn(tbl(s, dir, "embeddings"), "vec_id", "embedding",
        K.Dim, nPlanes = 8, k = 2, iterations = 12, probes = 8, salt = 4)
        .select(col("id"), col("cluster"))),

    // the production auto-sized form: nPlanesFor(count) picks the plane
    // count (SCALING.md measures why the fixed constant cannot scale).
    // The sf0.01 gate corpus (500 embeddings) auto-sizes to 1 plane, so
    // this row gating green pins the sizing rule itself — the oracle
    // hardcodes the q116 chain at nPlanes 1 and any other choice
    // hash-mismatches. (The 0-plane ≡ brute small-corpus degradation
    // is spec-gated.)
    "q121_semantic_clusters_auto" -> ((s, dir) =>
      Similarity.semanticClustersAnnAuto(tbl(s, dir, "embeddings"), "vec_id", "embedding",
        K.Dim, k = 4, iterations = 12)
        .select(col("id"), col("cluster"))),

    // q108's topic-balanced cap composed over the q116 ANN labels —
    // bucketed candidates (no corpus broadcast) feed the same CC rounds
    // and id-hash lottery: the balanced-curation shape at 100 TB;
    // q108 stays the exact brute-kNN baseline
    "q119_cluster_balanced_ann" -> ((s, dir) =>
      Similarity.clusterBalancedSampleAnn(tbl(s, dir, "embeddings"), "vec_id", "embedding",
        K.Dim, nPlanes = 4, k = 4, maxPerCluster = 8, iterations = 12)
        .select(col("id"), col("cluster"))),

    // the balanced sampler on the q121 auto-sized path: nPlanesFor picks
    // the plane count (1 at the sf0.01 gate corpus — the oracle hardcodes
    // the q119 chain at nPlanes 1, so any other sizing hash-mismatches);
    // q119 stays the fixed-constant contrast, q108 the exact baseline
    "q122_cluster_balanced_auto" -> ((s, dir) =>
      Similarity.clusterBalancedSampleAnnAuto(tbl(s, dir, "embeddings"), "vec_id", "embedding",
        K.Dim, k = 4, maxPerCluster = 8, iterations = 12)
        .select(col("id"), col("cluster"))),

    // DSIR importance masses: hashed word-bigram features, add-one-
    // smoothed target/source bucket counts as exact integer per-doc
    // masses; target = docs with doc_id < 100 (the q41 split)
    "q106_dsir" -> ((s, dir) => {
      val d = docs(s, dir)
      Sampling.dsirMasses(d, "doc_id", "text", d.filter(col("doc_id") < 100), 4096, 2)
        .select(col("doc_id"), col("t_mass"), col("s_mass"))
    }),

    // per-source top-5 keywords by ln-free tf-idf — grouped partial
    // top-k, three stats branches over one tokenization
    "q62_source_keywords" -> ((s, dir) =>
      TextAnalysis.topKeywordsPerGroup(
        tbl(s, dir, "documents").select(col("doc_id"), col("source"), col("text")),
        "doc_id", "source", "text", 5)
        .select(col("source"), col("token_id"), col("rank").as("rnk"), col("score"))),

    // suffix-array cut step: drop tokens covered by cross-doc repeated
    // spans (q61 flags, this splices); survivors keep relative order
    "q67_splice_spans" -> ((s, dir) =>
      Dedup.spliceRepeatedSpans(docs(s, dir), "doc_id", "text", 8)
        .select(col("doc_id"), posexplode(col("tokens_clean")).as(Seq("pos", "token_id")))
        .select(col("doc_id"), col("pos").cast("long").as("pos"), col("token_id"))),

    // the canonical ExactSubstr cut (Lee et al. 2022): every duplicated
    // 8-token window keeps its globally-first occurrence (min packed
    // (doc,start) key) and loses the rest — incl. within-doc repeats
    "q156_splice_keep_first" -> ((s, dir) =>
      Dedup.spliceDupSpansKeepFirst(docs(s, dir), "doc_id", "text", 8)
        .select(col("doc_id"), posexplode(col("tokens_clean")).as(Seq("pos", "token_id")))
        .select(col("doc_id"), col("pos").cast("long").as("pos"), col("token_id"))),

    // SemDeDup: coarse-quantizer cells (first-16 centroids keep it
    // oracle-able; trainKmeans slots in unchanged) + within-cell exact
    // cosine — cluster-scoped semantic dedup pairs
    "q63_semdedup" -> ((s, dir) => {
      val e = tbl(s, dir, "embeddings")
      Dedup.semDedupPairs(e, "vec_id", "embedding",
        Similarity.firstKCentroids(e, "vec_id", "embedding", 16), 0.4)
    }),

    // corpus-trained bigram LM quality score: quantized conditional
    // probabilities, two count aggregations + equi-joins, no self-join
    "q64_bigram_lm" -> ((s, dir) =>
      TextAnalysis.lmScore(docs(s, dir), "doc_id", "text")),

    // contrastive hard negatives: rank-window [4, 20] below a 0.95
    // margin of each query's best score
    "q65_hard_negatives" -> ((s, dir) => {
      val e = tbl(s, dir, "embeddings")
      val q = e.filter(col("vec_id") < 8)
        .select(col("vec_id").as("qid"), col("embedding").as("qv"))
      Similarity.hardNegatives(q, "qid", "qv", e, "vec_id", "embedding", 4, 20, 0.95)
        .select(col("qid"), col("vec_id"), col("rank").cast("long").as("rnk"), col("score"))
    }),

    // temperature-0.5 source-mixture weights: √n damping, ordered fold
    "q66_mixture_weights" -> ((s, dir) =>
      Sampling.mixtureWeights(tbl(s, dir, "documents"), "source")),

    // embedding-space near-dup: LSH bucket self-join (16 planes = 65k
    // buckets, the scale lever) + hub-bucket cap + exact cosine gate
    "q33_embedding_neardups" -> ((s, dir) =>
      Dedup.embeddingNearDups(tbl(s, dir, "embeddings"), "vec_id", "embedding",
        K.Dim, 16, 0.2)),

    // the full curation composition: near-dup pairs → deduplicated corpus
    "q34_dedup_corpus" -> ((s, dir) => {
      val d = docs(s, dir)
      Dedup.removeNearDups(d, "doc_id",
        Dedup.minhashNearDups(d, "doc_id", "text", threshold = 0.35))
        .select(col("doc_id"))
    }),

    // vocabulary/IDF-table statistics: per-token tf + df
    "q37_term_stats" -> ((s, dir) =>
      TextAnalysis.termStats(docs(s, dir), "doc_id", "text")),

    // BPE tokenizer TRAINING, leg 1: the distributed pair-count round
    // (adjacent-character pairs weighted by the word-count table — the
    // one corpus-sized shuffle in the whole trainer)
    "q146_bpe_pair_counts" -> ((s, dir) =>
      TokenizerTrain.bpePairCounts(docs(s, dir), "text")),

    // leg 2: the learned merge list itself — 8 rounds of (pair-count →
    // deterministic argmax → greedy-left re-segmentation) over the word
    // table; the oracle unrolls the same rounds as chained CTEs with a
    // boundary-preserving replace (OracleSql.bpeMergeCtes)
    "q147_bpe_merges" -> ((s, dir) => {
      import s.implicits._
      TokenizerTrain.trainBpeMerges(
        TokenizerTrain.wordCounts(docs(s, dir), "text").localCheckpoint(false),
        nMerges = 8).toDF("rnk", "l", "r", "cnt")
    }),

    // the BATCHED trainer at production-shaped depth: 128 requested
    // rounds exceed this corpus's whole merge space (exhausts at 89),
    // so the gate hash-pins EVERY merge the vocabulary admits against
    // the sequential chained-CTE oracle — the batched trainer's claim
    // IS list-equality with sequential greedy rounds (R1–R3 prefix
    // proof in the scaladoc), and the oracle deliberately does not
    // model batches
    "q162_bpe_merges_batched" -> ((s, dir) => {
      import s.implicits._
      TokenizerTrain.trainBpeMergesBatched(
        TokenizerTrain.wordCounts(docs(s, dir), "text").localCheckpoint(false),
        nMerges = 128)._1.toDF("rnk", "l", "r", "cnt")
    }),

    // the PARTITIONED placement under the same sequential oracle: gate
    // corpora fit the driver (q162 takes the driver placement), so this
    // leg forces driverWords = 0 to keep the R1–R3 RDD rounds
    // themselves under the DuckDB gate at every sf
    "q162b_bpe_merges_distributed" -> ((s, dir) => {
      import s.implicits._
      TokenizerTrain.trainBpeMergesBatched(
        TokenizerTrain.wordCounts(docs(s, dir), "text").localCheckpoint(false),
        nMerges = 128, driverWords = 0)._1.toDF("rnk", "l", "r", "cnt")
    }),

    // leg 3: train + segment + count composed — corpus token counts
    // under the learned 8-merge vocabulary
    "q148_bpe_tokenize" -> ((s, dir) =>
      TokenizerTrain.bpeTokenCounts(docs(s, dir), "text", nMerges = 8)),

    // the FULL training loop under the hard gate: train on the corpus,
    // EXPORT as tokenizer.json, load through the production BPE loader,
    // tokenize the corpus with the native BpeIds expression (q97's
    // path), and the corpus token counts must hash-match the trainer's
    // own segmentation oracle — rank-priority merge_all ≡ the trainer's
    // greedy-left rounds, proven by the gate itself
    "q160_selftrained_bpe" -> ((s, dir) => {
      val bridge = org.apache.spark.sql.graftbridge.Bridge
      import s.implicits._
      val d = docs(s, dir)
      val wc = TokenizerTrain.wordCounts(d, "text").localCheckpoint(false)
      val merges = TokenizerTrain.trainBpeMerges(wc, nMerges = 8).map(m => (m._2, m._3))
      val model = graft.model.Bpe.fromTokenizerJson(
        TokenizerTrain.exportTokenizerJson(TokenizerTrain.alphabetOf(wc), merges))
      val pieces = model.vocab.map { case (p, id) => (id, p) }
      d.select(bridge.column(graft.functions.BpeIds(
          bridge.expression(col("text")), model)).as("__ids"))
        .select(explode(col("__ids")).as("tid"))
        .join(broadcast(pieces.toDF("tid", "token")), "tid")
        .groupBy(col("token")).agg(count(lit(1)).as("total"))
    }),

    // Unigram (SentencePiece) trainer — the THIRD vocabulary family's
    // training leg (BPE q147/q162, WordPiece q149): seed substrings →
    // EM (distributed Viterbi E-step, the q102 serving kernel) →
    // quantized-loss prune → EM; the oracle replays the identical loop
    // as chained recursive Viterbi CTEs (OracleSql.unigramTrainCtes)
    "q163_unigram_train" -> ((s, dir) => {
      import s.implicits._
      UnigramTrain.train(
        TokenizerTrain.wordCounts(docs(s, dir), "text").localCheckpoint(false),
        vocabSize = 48, seedSize = 64).toDF("piece", "score_q")
    }),

    // the FULL Unigram loop under the hard gate (q160's pattern): train
    // on the corpus, EXPORT as tokenizer.json (model.type=Unigram),
    // load through the production loader, tokenize the corpus with the
    // serving UnigramIds expression — token counts must hash-match the
    // oracle's re-derived vocab + word-table segmentation
    "q164_selftrained_unigram" -> ((s, dir) => {
      val bridge = org.apache.spark.sql.graftbridge.Bridge
      import s.implicits._
      val d = docs(s, dir)
      val vocab = UnigramTrain.train(
        TokenizerTrain.wordCounts(d, "text").localCheckpoint(false),
        vocabSize = 48, seedSize = 64)
      val model = graft.model.Unigram.fromTokenizerJson(
        UnigramTrain.exportTokenizerJson(vocab))
      val pieces = model.pieces.zipWithIndex.map { case ((p, _), id) => (id.toLong, p) }
      d.select(bridge.column(graft.functions.UnigramIds(
          bridge.expression(col("text")), model)).as("__ids"))
        .select(explode(col("__ids")).as("tid"))
        .join(broadcast(pieces.toDF("tid", "token")), "tid")
        .groupBy(col("token")).agg(count(lit(1)).as("total"))
    }),

    // WordPiece-objective training: the argmax scores pairs by
    // cnt·10^12 div (ucnt_l·ucnt_r) — fixed-point-exact likelihood
    // gain — instead of raw count; oracle unrolls the same rounds with
    // HUGEINT arithmetic (OracleSql.wpMergeCtes)
    "q149_wordpiece_merges" -> ((s, dir) => {
      import s.implicits._
      TokenizerTrain.trainWordPieceMerges(
        TokenizerTrain.wordCounts(docs(s, dir), "text").localCheckpoint(false),
        nMerges = 8).toDF("rnk", "l", "r", "cnt", "score_q")
    }),

    // WordPiece train + segment + count composed
    "q150_wordpiece_tokenize" -> ((s, dir) =>
      TokenizerTrain.wordPieceTokenCounts(docs(s, dir), "text", nMerges = 8)),

    // distilled quality regressor: exact normal-equation OLS of the
    // corpus-trained lm signal onto two cheap surface counts — the
    // moments are Decimal(38,0)-exact partial aggs, the 3×3 solve is
    // in-plan Cramer with a fixed double operation order (oracle =
    // HUGEINT sums + the same arithmetic, term for term)
    "q159_quality_ols" -> ((s, dir) =>
      TextAnalysis.qualityOlsFit(docs(s, dir), "doc_id", "text")),

    // the regressor applied: top-20 docs where the expensive signal
    // most disagrees with the cheap proxy (|residual| TakeOrdered)
    "q159b_ols_outliers" -> ((s, dir) =>
      TextAnalysis.qualityOlsOutliers(docs(s, dir), "doc_id", "text", k = 20)),

    // duplicate clusters over the minhash near-dup graph
    "q38_dup_clusters" -> ((s, dir) =>
      Dedup.duplicateClusters(
        Dedup.minhashNearDups(docs(s, dir), "doc_id", "text", threshold = 0.35))),

    // corpus-weighted lexical vectors: sparse weights × exact idf ratio
    // (n_docs derived in-plan; one corpus scan via exchange reuse)
    "q40_tfidf_sparse" -> ((s, dir) =>
      SparseEmbedder.dfWeighted(docs(s, dir), "doc_id", "text")),

    // decontamination: train docs (id >= 100) sharing >= 5 trigrams
    // with any "eval" doc (id < 100)
    "q41_contamination" -> ((s, dir) => {
      val d = docs(s, dir)
      Dedup.contamination(
        d.filter(col("doc_id") >= 100), d.filter(col("doc_id") < 100),
        "doc_id", "text", minShared = 5L)
    }),

    // raw-text cleaning (tag strip + entity decode + whitespace collapse)
    "q42_clean_text" -> ((s, dir) =>
      TextAnalysis.cleaned(docs(s, dir), "doc_id", "text")),

    // deterministic train/val split: per-bucket doc counts
    "q43_split_buckets" -> ((s, dir) =>
      docs(s, dir)
        .withColumn("split_bucket", TextAnalysis.splitBucket(col("doc_id"), 10))
        .groupBy(col("split_bucket"))
        .agg(count(lit(1)).as("n_docs"), min(col("doc_id")).as("min_id"))),

    // Gopher-style repetition filters: top-token and duplicate-trigram
    // fractions per doc (exact integers, narrow native kernel)
    "q45_repetition_stats" -> ((s, dir) =>
      TextAnalysis.repetitionStats(docs(s, dir), "doc_id", "text")),

    // PII scrub: emails then 9+-digit runs, with match counts. The
    // corpus fixture carries no PII, so the query plants a
    // deterministic address + account number per doc in-plan (both
    // engines build the identical augmented text)
    "q46_pii_redact" -> ((s, dir) =>
      TextAnalysis.redacted(
        docs(s, dir).withColumn("text",
          concat(col("text"), lit(" contact user"), col("doc_id").cast("string"),
            lit("@example.com ref 12345678"), col("doc_id").cast("string"))),
        "doc_id", "text")),

    // deterministic concat-and-chunk sequence packing: 64-token budget,
    // 8 pack buckets (windows parallel across buckets)
    "q47_pack_sequences" -> ((s, dir) =>
      TextAnalysis.packSequences(docs(s, dir), "doc_id", "text",
        budget = 64, nBuckets = 8)),

    // RAG-style chunk embedding: 16-token windows, 4-token overlap,
    // each window through the dense tail — narrow explode, no shuffle
    "q52_chunk_embed" -> ((s, dir) =>
      TextEmbedder.chunkEmbed(docs(s, dir), "doc_id", "text",
        budget = 16, overlap = 4, dim = 16)
        .select(col("doc_id"), col("chunk_id"), col("n_tokens"),
          posexplode(col("emb")).as(Seq("dim", "val")))
        .select(col("doc_id"), col("chunk_id"), col("n_tokens"),
          col("dim").cast("long").as("dim"), col("val"))),

    // tokenizer-config surface (S7): model_max_length=7 wins the
    // min(user, model) truncation rule and caps the dense chain
    "q44_tokenizer_config" -> ((s, dir) => {
      val tc = graft.model.TokenizerConfig.fromJson(
        """{"model_max_length": 7, "pad_token": "<pad>", "pad_token_id": 1}""")
      TextEmbedder(maxLength = tc.effectiveMaxLength(K.MaxLength))
        .embed(docs(s, dir), "text", "emb")
        .select(col("doc_id"), posexplode(col("emb")).as(Seq("dim", "val")))
        .select(col("doc_id"), col("dim").cast("long").as("dim"), col("val"))
    }),

    "q18_lang_id" -> ((s, dir) => TextAnalysis.langId(docs(s, dir), "doc_id", "text")),
    "q19_quality" -> ((s, dir) => TextAnalysis.quality(docs(s, dir), "doc_id", "text")),
    "q20_token_count" -> ((s, dir) => TextAnalysis.tokenCounts(docs(s, dir), "doc_id", "text")),
    "q21_fingerprint" -> ((s, dir) => TextAnalysis.fingerprint(docs(s, dir), "doc_id", "text")),

    // the retrieval-side capstone: chunk → embed → cosine top-20 per
    // query → greedy-MMR diversify to 5, over a packed (doc, chunk)
    // key so tie order stays (doc_id, chunk_id) lexicographic
    "q112_rag_pipeline" -> ((s, dir) => {
      val d = docs(s, dir)
      // lazy cut: chunks feed both the candidate leg and the vector
      // rejoin — tokenize/embed the corpus once, not per reference
      val chunks = TextEmbedder.chunkEmbed(d, "doc_id", "text",
          budget = 16, overlap = 4, dim = 16)
        .select((col("doc_id") * 1024L + col("chunk_id")).as("cid"), col("emb"))
        .localCheckpoint(false)
      val qEmb = TextEmbedder(dim = 16).embed(d.filter(col("doc_id") < 4), "text", "emb")
        .select(col("doc_id").as("qid"), col("emb").as("qv"))
      val cand = Similarity.knnJoin(qEmb, "qid", "qv", chunks, "cid", "emb", 20)
      val withVec = chunks.join(broadcast(cand), Seq("cid"))
      Similarity.mmrRerank(withVec, "qid", "cid", "score", "emb", 5, 0.5)
        .select(col("qid"),
          floor(col("cid") / 1024L).cast("long").as("doc_id"),
          pmod(col("cid"), lit(1024L)).as("chunk_id"),
          col("rank").cast("long").as("rnk"), col("score"))
    }),

    // the retrieval capstone on the IVF scale path: same recipe, but
    // candidates come from nProbe-probed first-8-centroid cells —
    // the composition a 100 TB corpus would actually run
    "q112b_rag_ivf" -> ((s, dir) => {
      val d = docs(s, dir)
      val chunks = TextEmbedder.chunkEmbed(d, "doc_id", "text",
          budget = 16, overlap = 4, dim = 16)
        .select((col("doc_id") * 1024L + col("chunk_id")).as("cid"), col("emb"))
        .localCheckpoint(false)
      val cents = Similarity.firstKCentroids(chunks, "cid", "emb", 8)
      val qEmb = TextEmbedder(dim = 16).embed(d.filter(col("doc_id") < 4), "text", "emb")
        .select(col("doc_id").as("qid"), col("emb").as("qv"))
      val cand = Similarity.ivfFlatWith(qEmb, "qid", "qv", chunks, "cid", "emb",
        cents, nProbe = 2, k = 20)
      val withVec = chunks.join(broadcast(cand), Seq("cid"))
      Similarity.mmrRerank(withVec, "qid", "cid", "score", "emb", 5, 0.5)
        .select(col("qid"),
          floor(col("cid") / 1024L).cast("long").as("doc_id"),
          pmod(col("cid"), lit(1024L)).as("chunk_id"),
          col("rank").cast("long").as("rnk"), col("score"))
    }),

    // Count-Min sketch: token frequencies summarized into a fixed 3x16
    // grid (one sketch-sized exchange); per-token min-over-rows estimate
    // (>= truth by construction) + the heavy-hitter flag at 900
    "q113_cms_estimates" -> ((s, dir) =>
      Sketch.cmsEstimates(docs(s, dir), "text", depth = 3, width = 16)
        .withColumn("heavy", col("est") >= 900L)),

    // HLL distinct-shingle estimate per source next to the exact count:
    // 64 buckets (p=6), integer rho/harmonic-sum, one final division
    "q114_hll_distinct" -> ((s, dir) =>
      Sketch.hllDistinctShingles(tbl(s, dir, "documents"), "source", "text",
        n = 3, p = 6)),

    // the PERSISTED sketch lifecycle (SketchStore): build the CMS store
    // on even docs, fold the odd docs in as an ingest batch, estimate
    // over everything ingested — must answer q113's whole-corpus oracle
    // (counts are linear, the read-side fold sums batch partials)
    "q153_cms_store" -> ((s, dir) => {
      val d = docs(s, dir)
      val path = java.nio.file.Files.createTempDirectory("graft_q153_cms").toString
      SketchStore.writeCms(d.filter(col("doc_id") % 2 === 0), "text",
        depth = 3, width = 16, path = path)
      SketchStore.appendCms(d.filter(col("doc_id") % 2 === 1), "text", path)
      val cand = d.select(explode(Kernel.tokenIds(col("text"), K.MaxLength))
        .as("token_id")).distinct()
      SketchStore.cmsEstimates(s, cand, path)
        .withColumn("heavy", col("est") >= 900L)
    }),

    // same lifecycle for the HLL store: per-source distinct-shingle
    // buckets built on half the corpus, the other half folded in; the
    // read-side per-(group,bucket) max is idempotent, so overlapping
    // ingests could not even inflate it — q114's oracle verbatim
    "q154_hll_store" -> ((s, dir) => {
      val d = tbl(s, dir, "documents")
      val path = java.nio.file.Files.createTempDirectory("graft_q154_hll").toString
      val sh = SketchStore.shingleRows(d, "source", "text", n = 3)
      SketchStore.writeHll(sh.filter(crc32(col("shingle").cast("string")) % 2 === 0),
        "source", "shingle", p = 6, path = path)
      SketchStore.appendHll(sh.filter(crc32(col("shingle").cast("string")) % 2 === 1),
        "source", "shingle", path)
      val exact = sh.groupBy(col("source"))
        .agg(countDistinct(col("shingle")).as("exact"))
      exact.join(
        SketchStore.hllEstimates(s, path).withColumnRenamed("group", "source"),
        "source")
    }),

    // the CMS store fed through the REAL streaming sink: the odd docs
    // arrive as three ordered micro-batches via cmsIngestSink (each
    // lands in its own batch partition — replay-by-overwrite), and the
    // estimates must still answer the whole-corpus oracle
    "q155_stream_cms_ingest" -> ((s, dir) => {
      val d = docs(s, dir)
      val path = java.nio.file.Files.createTempDirectory("graft_q155_cms").toString
      SketchStore.writeCms(d.filter(col("doc_id") % 2 === 0), "text",
        depth = 3, width = 16, path = path)
      streamFileBatches(s,
        (0 until 3).map(k =>
          d.filter(col("doc_id") % 2 === 1 && col("doc_id") % 3 === k)
            .select(col("doc_id"), col("text")))) { src =>
        graft.streaming.StreamingOps.cmsIngestSink(
          src, "text", path, streamId = "q155")
      }
      val cand = d.select(explode(Kernel.tokenIds(col("text"), K.MaxLength))
        .as("token_id")).distinct()
      SketchStore.cmsEstimates(s, cand, path)
        .withColumn("heavy", col("est") >= 900L)
    }),

    // sketch MERGE is the 100 TB property: per-shard sketches union
    // without a rescan. Two disjoint half-corpus CMS grids, cell-wise
    // summed, must estimate exactly like the whole-corpus grid — the
    // oracle IS q113's whole-corpus query
    "q113b_cms_merged" -> ((s, dir) => {
      val d = docs(s, dir)
      val sk = Sketch.cmsMerge(
        Sketch.cmsSketch(d.filter(col("doc_id") % 2 === 1), "text", 3, 16),
        Sketch.cmsSketch(d.filter(col("doc_id") % 2 === 0), "text", 3, 16))
      val cand = d.select(explode(Kernel.tokenIds(col("text"), K.MaxLength))
        .as("token_id")).distinct()
      Sketch.cmsEstimatesFrom(sk, cand, depth = 3, width = 16)
        .withColumn("heavy", col("est") >= 900L)
    }),

    // same for HLL: per-(group,bucket) max over two value-disjoint
    // half sketches must estimate exactly like the whole — q114's oracle
    "q114b_hll_merged" -> ((s, dir) => {
      val t = tbl(s, dir, "documents")
      // raw stream, no materialized distinct (see hllDistinctShingles):
      // the %2 split sends every occurrence of a shingle to the same
      // half, and the per-(group, bucket) max is duplicate-idempotent,
      // so merge(sk(odd), sk(even)) is unchanged by dedup
      def sh = t.select(col("source"), Kernel.tokenIds(col("text"), K.MaxLength).as("__tids"))
        .filter(size(col("__tids")) >= 3)
        .select(col("source"), explode(Dedup.shingles(col("__tids"), 3)).as("shingle"))
      val merged = Sketch.hllMerge("source",
        Sketch.hllSketchTable(sh.filter(col("shingle") % 2 === 1), "source", "shingle", 6),
        Sketch.hllSketchTable(sh.filter(col("shingle") % 2 === 0), "source", "shingle", 6))
      val est = Sketch.hllEstimateFrom(merged, "source", 6)
      sh.groupBy(col("source"))
        .agg(countDistinct(col("shingle")).as("exact")).join(est, "source")
    }),

    // Bloom decontamination: the q41 eval split (doc_id < 100) folded
    // into a 2^14-bit broadcast bitset (k=2); train docs probe it in a
    // NARROW scan — flagged-shingle counts, false-positive surplus
    // included, no corpus shuffle (vs q41's shingle equi-join)
    "q115_bloom_decontam" -> ((s, dir) => {
      val d = docs(s, dir)
      val bank = Sketch.bloomBank(s, d.filter(col("doc_id") < 100),
        "doc_id", "text", n = 3, k = 2, nBits = 1 << 14)
      Sketch.bloomContamination(d.filter(col("doc_id") >= 100), bank,
        "doc_id", "text", n = 3)
    }),

    // the whole curation recipe in ONE plan: clean → exact dedup →
    // length-quantile keep → per-source cap → per-language rates; the
    // corpus is cleaned/TextNorm'd once behind a lazy lineage cut
    "q111_curation_pipeline" -> ((s, dir) =>
      Sampling.curationPipeline(tbl(s, dir, "documents"), "doc_id", "text", "lang", "source",
        lengthFrac = 0.5, maxPerSource = 20,
        rates = Seq("en" -> 0.5, "zh" -> 0.1), defaultRate = 0.25)
        .select(col("doc_id"), col("lang"), col("source"), col("n_tokens"))),

    // exact top-quantile length selection: keep docs at or above the
    // exact 75th-percentile whitespace-token count (boundary ties all
    // kept) — histogram-sized window, corpus side stays a narrow filter
    // sequence packing — curated docs into fixed token-budget training
    // windows. Offset form: per-shard token stream cut every 256 tokens
    // (pure window cumsum → codegen; the shard count is the 100 TB
    // parallelism knob — the per-shard sort is shard-sized, never global)
    "q127_pack_offset" -> ((s, dir) =>
      Sampling.packByOffset(
        TextAnalysis.tokenCounts(docs(s, dir), "doc_id", "text")
          .select(col("doc_id"), col("ws_tokens")),
        "doc_id", "ws_tokens", budget = 256L, nShards = 8)),

    // greedy first-fit form: documents never split across windows; the
    // sequential recurrence runs as one ordered fold per shard
    // (flatMapGroups), mirrored by a linear recursive CTE in the oracle
    "q128_pack_greedy" -> ((s, dir) =>
      Sampling.packGreedyFirstFit(
        TextAnalysis.tokenCounts(docs(s, dir), "doc_id", "text")
          .select(col("doc_id"), col("ws_tokens")),
        "doc_id", "ws_tokens", budget = 256L, nShards = 8)),

    // pack-level fill/fragmentation stats — the reading that tunes the
    // budget/shard choices; partial agg to packs-sized output
    "q131_pack_stats" -> ((s, dir) =>
      Sampling.packStats(
        Sampling.packGreedyFirstFit(
          TextAnalysis.tokenCounts(docs(s, dir), "doc_id", "text")
            .select(col("doc_id"), col("ws_tokens")),
          "doc_id", "ws_tokens", budget = 256L, nShards = 8),
        budget = 256L)),

    "q109_quantile_filter" -> ((s, dir) =>
      Sampling.quantileThreshold(
        TextAnalysis.tokenCounts(docs(s, dir), "doc_id", "text")
          .select(col("doc_id"), col("ws_tokens").as("n_tokens")),
        "doc_id", "n_tokens", 0.25)
        .select(col("doc_id"), col("n_tokens"))),

    // the exactly-k variant: boundary-score ties resolved to k =
    // ceil(0.25*N) by the id-hash lottery over the one boundary bucket
    "q109b_top_fraction" -> ((s, dir) =>
      Sampling.topFraction(
        TextAnalysis.tokenCounts(docs(s, dir), "doc_id", "text")
          .select(col("doc_id"), col("ws_tokens").as("n_tokens")),
        "doc_id", "n_tokens", 0.25)
        .select(col("doc_id"), col("n_tokens"))),

    // mapPartitions backend path — must be bit-identical to q01
    "q22_backend_embed" -> ((s, dir) => {
      val withTids = docs(s, dir)
        .withColumn("tids", Kernel.tokenIds(col("text")))
        .filter(size(col("tids")) > 0)
        .select(col("doc_id"), col("tids"))
      BackendEmbedder.embed(withTids, "doc_id", "tids", HashingBackend(K.Dim))
        .select(col("doc_id"), posexplode(col("embedding")).as(Seq("dim", "val")))
        .select(col("doc_id"), col("dim").cast("long").as("dim"), col("val"))
    }),

    // the I4 transformer-contract backend: left-padded batch-longest
    // tensors, additive causal+padding mask, mask-derived positions,
    // RoPE-style rational rotations, last-token pooling — checked
    // against a PAD-FREE DuckDB formulation, so the hash match is the
    // proof that padding and batch composition never leak into results
    "q68_transformer_embed" -> ((s, dir) => {
      val withTids = docs(s, dir)
        .withColumn("tids", Kernel.tokenIds(col("text")))
        .filter(size(col("tids")) > 0)
        .select(col("doc_id"), col("tids"))
      BackendEmbedder.embed(withTids, "doc_id", "tids",
        graft.backend.TransformerBackend(dim = 8))
        .select(col("doc_id"), posexplode(col("embedding")).as(Seq("dim", "val")))
        .select(col("doc_id"), col("dim").cast("long").as("dim"), col("val"))
    }),

    // the I5/A10 MoE-routing backend: per-token top-2 expert dispatch
    // (score desc, tie → lower index), un-renormalized rational gate
    // weights, shared output bias, exact-integer mean pooling — the
    // NomicBert-MoE routing contract behind the same backend trait
    "q70_moe_embed" -> ((s, dir) => {
      val withTids = docs(s, dir)
        .withColumn("tids", Kernel.tokenIds(col("text"), 128))
        .filter(size(col("tids")) > 0)
        .select(col("doc_id"), col("tids"))
      BackendEmbedder.embed(withTids, "doc_id", "tids",
        graft.backend.MoEBackend(dim = 8))
        .select(col("doc_id"), posexplode(col("embedding")).as(Seq("dim", "val")))
        .select(col("doc_id"), col("dim").cast("long").as("dim"), col("val"))
    }),

    // the learned-expert MoE dispatch: same routing/gates/bias as q70,
    // but each expert is a real [8 x 8] matrix from a one-shard-per-
    // expert safetensors checkpoint (the deep multi-shard walk)
    "q83_moe_weighted" -> ((s, dir) => {
      val bank = graft.backend.ExpertBank.loadedQuantized
      val withTids = docs(s, dir)
        .withColumn("tids", Kernel.tokenIds(col("text"), 128))
        .filter(size(col("tids")) > 0)
        .select(col("doc_id"), col("tids"))
      BackendEmbedder.embed(withTids, "doc_id", "tids",
        graft.backend.MoEBackend(dim = 8, expertBank = Some(bank)))
        .select(col("doc_id"), posexplode(col("embedding")).as(Seq("dim", "val")))
        .select(col("doc_id"), col("dim").cast("long").as("dim"), col("val"))
    }),

    // the COMPLETE learned MoE dispatch: q83's learned experts plus
    // the learned router (megablocks mlp.router.layer.weight) — every
    // expert logit is a real row dotted with the token's hidden cells
    "q92_moe_router" -> ((s, dir) => {
      val withTids = docs(s, dir)
        .withColumn("tids", Kernel.tokenIds(col("text"), 128))
        .filter(size(col("tids")) > 0)
        .select(col("doc_id"), col("tids"))
      BackendEmbedder.embed(withTids, "doc_id", "tids",
        graft.backend.MoEBackend(dim = 8,
          expertBank = Some(graft.backend.ExpertBank.loadedQuantized),
          routerBank = Some(graft.backend.RouterBank.loadedQuantized)))
        .select(col("doc_id"), posexplode(col("embedding")).as(Seq("dim", "val")))
        .select(col("doc_id"), col("dim").cast("long").as("dim"), col("val"))
    }),

    // the COMPLETE learned megablocks MoE layer from one checkpoint:
    // learned router + TWO-matrix experts (up = act(x . w1T), down =
    // up . w2 un-transposed) + the learned shared output bias
    "q93_moe_megablocks" -> ((s, dir) => {
      val withTids = docs(s, dir)
        .withColumn("tids", Kernel.tokenIds(col("text"), 128))
        .filter(size(col("tids")) > 0)
        .select(col("doc_id"), col("tids"))
      BackendEmbedder.embed(withTids, "doc_id", "tids",
        graft.backend.MoEBackend(dim = 8,
          expertMlp = Some(graft.backend.ExpertMlpBank.loaded)))
        .select(col("doc_id"), posexplode(col("embedding")).as(Seq("dim", "val")))
        .select(col("doc_id"), col("dim").cast("long").as("dim"), col("val"))
    }),

    // the transformer forward over a LEARNED embed_tokens table,
    // composed with the WordPiece tokenizer: every gated id is
    // in-vocab, so the whole forward runs on real looked-up embeddings
    "q84_table_embed" -> ((s, dir) => {
      val bridge = org.apache.spark.sql.graftbridge.Bridge
      val withIds = docs(s, dir)
        .select(col("doc_id"),
          bridge.column(graft.functions.WordPieceIds(
            bridge.expression(col("text")), graft.model.WordPiece.fixture)).as("tids"))
      BackendEmbedder.embed(withIds, "doc_id", "tids",
        graft.backend.TransformerBackend(dim = 8,
          embTable = Some(graft.backend.EmbTableBank.loadedQuantized)),
        minTokens = 3)
        .select(col("doc_id"), posexplode(col("embedding")).as(Seq("dim", "val")))
        .select(col("doc_id"), col("dim").cast("long").as("dim"), col("val"))
    }),

    // learned GQA attention: the hidden vector projects through real
    // q/k/v/o Linear weights from a two-shard safetensors checkpoint;
    // 2 query heads share 1 kv head (repeat_kv), per-head rotation and
    // scores, quantized per-head mix, then the learned o_proj matmul
    "q86_gqa_attention" -> ((s, dir) => {
      val withTids = docs(s, dir)
        .withColumn("tids", Kernel.tokenIds(col("text"), 128))
        .filter(size(col("tids")) > 0)
        .select(col("doc_id"), col("tids"))
      BackendEmbedder.embed(withTids, "doc_id", "tids",
        graft.backend.GqaAttentionBackend.fromBank())
        .select(col("doc_id"), posexplode(col("embedding")).as(Seq("dim", "val")))
        .select(col("doc_id"), col("dim").cast("long").as("dim"), col("val"))
    }),

    // the learned gated MLP: down(act(gate(x)) * up(x)) with real
    // expansion-shaped Linear weights (intermediate = 2 x hidden) from
    // a single-file checkpoint; centered rational ReLU as the gate,
    // exact integer mean pooling over tokens
    "q87_gated_mlp" -> ((s, dir) => {
      val withTids = docs(s, dir)
        .withColumn("tids", Kernel.tokenIds(col("text"), 128))
        .filter(size(col("tids")) > 0)
        .select(col("doc_id"), col("tids"))
      BackendEmbedder.embed(withTids, "doc_id", "tids",
        graft.backend.GatedMlpBackend.fromBank())
        .select(col("doc_id"), posexplode(col("embedding")).as(Seq("dim", "val")))
        .select(col("doc_id"), col("dim").cast("long").as("dim"), col("val"))
    }),

    // the COMPLETE learned decoder layer from one three-shard
    // checkpoint: input_layernorm -> GQA attention -> residual ->
    // post_attention_layernorm -> gated MLP -> residual -> final model
    // norm -> last-token pool, every weight loaded from safetensors
    "q88_decoder_layer" -> ((s, dir) => {
      val withTids = docs(s, dir)
        .withColumn("tids", Kernel.tokenIds(col("text"), 128))
        .filter(size(col("tids")) > 0)
        .select(col("doc_id"), col("tids"))
      BackendEmbedder.embed(withTids, "doc_id", "tids",
        graft.backend.DecoderLayerBackend.fromBank())
        .select(col("doc_id"), posexplode(col("embedding")).as(Seq("dim", "val")))
        .select(col("doc_id"), col("dim").cast("long").as("dim"), col("val"))
    }),

    // the attention_bias = true branch: q86 with learned q/k/v/o
    // biases — each projection adds its bias cell before the
    // mod-reduce, o_proj adds its bias at the fixed-point scale
    "q94_attn_bias" -> ((s, dir) => {
      val withTids = docs(s, dir)
        .withColumn("tids", Kernel.tokenIds(col("text"), 128))
        .filter(size(col("tids")) > 0)
        .select(col("doc_id"), col("tids"))
      BackendEmbedder.embed(withTids, "doc_id", "tids",
        graft.backend.GqaAttentionBackend.withBiases())
        .select(col("doc_id"), posexplode(col("embedding")).as(Seq("dim", "val")))
        .select(col("doc_id"), col("dim").cast("long").as("dim"), col("val"))
    }),

    // q86 plus learned per-head q_norm/k_norm: each head slice of the
    // q/k projections RMS-normalizes with a shared [headDim] gain
    // vector (reshape -> norm -> rope, the Qwen3 attention order),
    // then rotates; v and the rest of the block are q86 unchanged
    "q89_qk_norm" -> ((s, dir) => {
      val withTids = docs(s, dir)
        .withColumn("tids", Kernel.tokenIds(col("text"), 128))
        .filter(size(col("tids")) > 0)
        .select(col("doc_id"), col("tids"))
      BackendEmbedder.embed(withTids, "doc_id", "tids",
        graft.backend.GqaAttentionBackend.withQkNorm())
        .select(col("doc_id"), posexplode(col("embedding")).as(Seq("dim", "val")))
        .select(col("doc_id"), col("dim").cast("long").as("dim"), col("val"))
    }),

    // the TWO-LAYER stacked decoder with distinct per-layer weights
    // (model.layers.0 and model.layers.1 in one checkpoint): layer 0
    // advances every position, its outputs are layer 1's keys/values,
    // then the final model norm — the reference's layer loop
    "q90_stacked_decoder" -> ((s, dir) => {
      val withTids = docs(s, dir)
        .withColumn("tids", Kernel.tokenIds(col("text"), 128))
        .filter(size(col("tids")) > 0)
        .select(col("doc_id"), col("tids"))
      BackendEmbedder.embed(withTids, "doc_id", "tids",
        graft.backend.DecoderLayerBackend.stacked())
        .select(col("doc_id"), posexplode(col("embedding")).as(Seq("dim", "val")))
        .select(col("doc_id"), col("dim").cast("long").as("dim"), col("val"))
    }),

    // the COMPLETE learned model from ONE sharded checkpoint: WordPiece
    // tokenize over the real vocab -> learned model.embed_tokens rows
    // AS the layer-0 residual stream -> the full two-layer learned
    // decoder stack -> final model norm -> last-token pool -> l2.
    // Every gated id is in-vocab, so no stage touches the hash stream;
    // sequences cap at q95MaxLen (the P3 truncation rule) to bound the
    // stack's O(n^2) layer-0 pass
    "q95_full_model" -> ((s, dir) => {
      val bridge = org.apache.spark.sql.graftbridge.Bridge
      val maxLen = graft.oracle.OracleSql.q95MaxLen
      val withIds = docs(s, dir)
        .select(col("doc_id"),
          bridge.column(graft.functions.WordPieceIds(
            bridge.expression(col("text")), graft.model.WordPiece.fixture)).as("wp"))
        .select(col("doc_id"), slice(col("wp"), 1, maxLen).as("tids"))
      // minTokens inside the typed boundary: a Catalyst size() filter
      // would re-evaluate the WordPiece tokenizer per row (plan audit:
      // Filter + Project each carried wordpieceids)
      BackendEmbedder.embed(withIds, "doc_id", "tids",
        graft.backend.DecoderLayerBackend.fullModel(), minTokens = 3)
        .select(col("doc_id"), posexplode(col("embedding")).as(Seq("dim", "val")))
        .select(col("doc_id"), col("dim").cast("long").as("dim"), col("val"))
    }),

    // the LEARNED cross-encoder rerank score: the q80 pair shape
    // ([CLS] query [SEP] doc [SEP], only_second truncation) through
    // the full learned model's pooled pre-normalize hidden, then the
    // learned score.weight/score.bias linear — the reference's
    // logits[:, 0] (reranking/impl.rs:167-180) as one real
    // classification row from a safetensors checkpoint
    "q96_learned_rerank" -> ((s, dir) => {
      val bridge = org.apache.spark.sql.graftbridge.Bridge
      val oracle = graft.oracle.OracleSql
      val wp = graft.model.WordPiece.fixture
      val qWords = oracle.q96Query.split(" ").toSeq
      val (w, b) = graft.backend.RerankHeadBank.loadedQuantized
      val qIds = qWords.flatMap(wp.tokenizeWord)
      val pe = docs(s, dir)
        .select(col("doc_id"),
          bridge.column(graft.functions.WordPieceIds(
            bridge.expression(col("text")), wp)).as("__ids"))
        .withColumn("__pe", Reranker.wordPiecePairEncode(
          qWords, col("__ids"), wp, oracle.q96MaxLen))
        .select(col("doc_id"), col("__pe.input_ids").as("tids"))
      // a doc with an empty body pair-encodes to exactly |q|+3 ids, so
      // the old size(__ids) > 2 filter is equivalently a typed length
      // check on the pair — and the tokenizer evaluates once
      BackendEmbedder.embed(pe, "doc_id", "tids",
        graft.backend.RerankHeadBackend(
          graft.backend.DecoderLayerBackend.fullModel(), w, b),
        minTokens = qIds.length + 4)
        .select(col("doc_id"), element_at(col("embedding"), 1).as("score"))
    }),

    // the END-TO-END learned retrieval journey in ONE plan: embed →
    // search → rerank (reference README usage; similarity.rs:31-40
    // candidates feeding reranking/impl.rs:109-196). One full-model
    // forward embeds corpus AND query (the query rides as doc_id -1);
    // IVF assignment + probing retrieves candidates by cosine (no
    // corpus broadcast — the probe list broadcasts, corpus stays
    // partitioned); the learned cross-encoder head then rescores JUST
    // the <= k candidate docs. Lazy cuts pin one tokenize and one
    // corpus forward for the whole composition.
    "q118_learned_retrieval" -> ((s, dir) => {
      import s.implicits._
      val bridge = org.apache.spark.sql.graftbridge.Bridge
      val oracle = graft.oracle.OracleSql
      val wp = graft.model.WordPiece.fixture
      val maxLen = oracle.q95MaxLen
      val qWords = oracle.q96Query.split(" ").toSeq
      val qIds = qWords.flatMap(wp.tokenizeWord)
      val (w, b) = graft.backend.RerankHeadBank.loadedQuantized
      // WordPiece once per doc: the SAME ids feed the embed forward
      // and the candidates-only pair-encode
      val withIds = docs(s, dir)
        .select(col("doc_id"),
          bridge.column(graft.functions.WordPieceIds(
            bridge.expression(col("text")), wp)).as("__ids"))
        .localCheckpoint(false)
      val qRow = Seq((-1L, (wp.clsId.toLong +: qIds.map(_.toLong)) :+ wp.sepId.toLong))
        .toDF("doc_id", "tids")
      val embedded = BackendEmbedder.embed(
        withIds.select(col("doc_id"), slice(col("__ids"), 1, maxLen).as("tids"))
          .unionByName(qRow),
        "doc_id", "tids", graft.backend.DecoderLayerBackend.fullModel(), minTokens = 3)
        .localCheckpoint(false) // ONE corpus forward: centroids, assignment, probe all read it
      val corpus = embedded.filter(col("doc_id") >= 0)
      val qEmb = embedded.filter(col("doc_id") === -1L)
        .select(lit(0L).as("__qid"), col("embedding").as("__qv"))
      val cents = Similarity.firstKCentroids(corpus, "doc_id", "embedding", 8)
      val cand = Similarity.ivfFlatWith(qEmb, "__qid", "__qv",
          corpus, "doc_id", "embedding", cents, nProbe = 2, k = 10)
        .select(col("doc_id"), col("score").as("rel"))
        .localCheckpoint(false) // candidate set reads twice (rerank input + final join)
      val pe = withIds
        .join(broadcast(cand.select(col("doc_id"))), Seq("doc_id"), "left_semi")
        .withColumn("__pe", Reranker.wordPiecePairEncode(
          qWords, col("__ids"), wp, oracle.q96MaxLen))
        .select(col("doc_id"), col("__pe.input_ids").as("tids"))
      val scored = BackendEmbedder.embed(pe, "doc_id", "tids",
        graft.backend.RerankHeadBackend(
          graft.backend.DecoderLayerBackend.fullModel(), w, b),
        minTokens = qIds.length + 4)
        .select(col("doc_id"), element_at(col("embedding"), 1).as("score"))
      cand.join(scored, Seq("doc_id"))
        .withColumn("rnk", row_number().over(
          org.apache.spark.sql.expressions.Window
            .orderBy(col("score").desc, col("doc_id").asc)).cast("long"))
    }),

    // the vision tower's LEARNED PatchMerger: windowed attention as in
    // q71, then each window's 48 concatenated values project through a
    // real [16 x 48] F32 MLP row instead of hash cells
    "q85_vl_learned_merger" -> ((s, dir) =>
      VlPreprocess.windowedMergeTokens(pngDocs(s, dir), "doc_id", "png",
        mergerBank = Some(graft.backend.MergerBank.loadedQuantized))),

    // P14 patch extraction on the real PNG route: fixture bytes →
    // imageio decode → smart resize (identity at 8×8, factor 4) →
    // merge-block-ordered patch tokens with CLIP normalize — the
    // Qwen3-VL vision front's tensor layout, value-exact vs the oracle
    "q69_vl_patches" -> ((s, dir) =>
      VlPreprocess.patchTokens(pngDocs(s, dir), "doc_id", "png")),

    // I6/I7 vision-tower skeleton: windowed attention (attention is
    // STRUCTURALLY confined to each merge-block window — no cross-window
    // term exists) + PatchMerger (merge² consecutive tokens concat and
    // project position-indexed to the LLM width) — integer-exact, gated
    "q71_vl_window_merge" -> ((s, dir) =>
      VlPreprocess.windowedMergeTokens(pngDocs(s, dir), "doc_id", "png")),

    // I7 fusion contract: plant a 4-token image-pad span in each doc's
    // token sequence in-plan, then splice the doc's vision tokens (q71's
    // merged tokens, dim 0) over the span in position order — text
    // positions keep their own embedding value
    "q72_mm_fusion" -> ((s, dir) => {
      val toks = plantImageSpan(
        docs(s, dir)
          .withColumn("tids", Kernel.tokenIds(col("text"), 24))
          .filter(size(col("tids")) > 0))
        .select(col("doc_id"), col("tids"))
      val vis = VlPreprocess.windowedMergeTokens(pngDocs(s, dir), "doc_id", "png")
        .filter(col("dim") === 0).select(col("doc_id"), col("tok"), col("val"))
      VlPreprocess.fuseImageSpans(toks, "doc_id", "tids", vis, "tok", "val", K.M)
    }),

    // I6/I7 deepstack injection: image positions carry the main merged
    // token PLUS the deepstack merger's additive per-layer feature (raw
    // window values through a distinct projection slice) — the
    // slice_assign-and-add of deepstack features over the image span
    "q75_mm_deepstack" -> ((s, dir) => {
      val toks = plantImageSpan(
        docs(s, dir)
          .withColumn("tids", Kernel.tokenIds(col("text"), 24))
          .filter(size(col("tids")) > 0))
        .select(col("doc_id"), col("tids"))
      // one decode pass emits main + deepstack summed — no join
      val vis = VlPreprocess.mergedWithDeepstack(pngDocs(s, dir), "doc_id", "png")
        .filter(col("dim") === 0).select(col("doc_id"), col("tok"), col("val"))
      VlPreprocess.fuseImageSpans(toks, "doc_id", "tids", vis, "tok", "val", K.M)
    }),

    // the learned-weight BGE-M3 sparse linear: a REAL F32 bank read out
    // of a two-shard safetensors checkpoint (S9+S10), quantized back to
    // its integer grid, and dotted against the per-(token, position)
    // hidden stream — relu, strictly-positive keep, max-merge
    "q76_weighted_sparse" -> ((s, dir) => {
      val (wq, bq) = graft.backend.SparseLinearBank.loadedQuantized
      SparseEmbedder.weightedExploded(docs(s, dir), "doc_id", "text",
        wq, bq, graft.backend.SparseLinearBank.Scale)
    }),

    // real-vocab tokenization: greedy longest-match WordPiece over the
    // fixture tokenizer.json (HF format), [CLS]…[SEP]-wrapped — the
    // S7/P1 learned-vocab upgrade; the hashing tokenizer stays default
    // the LEARNED ColBERT head: per-token vectors from the full
    // learned stack — every post-stack state but the first (the
    // reference's colbert output is [batch, seq_len - 1, dim], the
    // leading special dropped) through the real colbert_linear.weight
    // matrix, l2 per token.
    // Cost floor (profiled at sf0.1): tokenize ~0.4 s, forward+head
    // ~1.3 s, per-dim fan-out ~0.2 s. ONE forward per doc — the extra
    // cost over q95 is the all-positions layer-1 pass that per-token
    // outputs require, not a second forward; it parallelizes linearly
    // with executors at scale
    "q99_learned_colbert" -> ((s, dir) => {
      val bridge = org.apache.spark.sql.graftbridge.Bridge
      val maxLen = graft.oracle.OracleSql.q95MaxLen
      val withIds = docs(s, dir)
        .select(col("doc_id"),
          bridge.column(graft.functions.WordPieceIds(
            bridge.expression(col("text")), graft.model.WordPiece.fixture)).as("wp"))
        .select(col("doc_id"), slice(col("wp"), 1, maxLen).as("tids"))
      BackendEmbedder.colbertTokens(withIds, "doc_id", "tids",
        graft.backend.DecoderLayerBackend.fullModel(),
        graft.backend.ColbertHeadBank.loadedQuantized,
        graft.backend.ColbertHeadBank.OutDim, minTokens = 3)
    }),

    // SPLADE-style sparse extraction through the TIED vocab head:
    // tie_word_embeddings makes the output projection the learned
    // embed_tokens table itself — exact int64 logits per (token,
    // vocab id), relu, max-merge across tokens, zeros dropped
    "q100_tied_sparse" -> ((s, dir) => {
      val bridge = org.apache.spark.sql.graftbridge.Bridge
      val maxLen = graft.oracle.OracleSql.q95MaxLen
      val withIds = docs(s, dir)
        .select(col("doc_id"),
          bridge.column(graft.functions.BpeIds(
            bridge.expression(col("text")), graft.model.Bpe.fixture)).as("__ids"))
        .select(col("doc_id"), slice(col("__ids"), 1, maxLen).as("tids"))
      BackendEmbedder.tiedSparse(withIds, "doc_id", "tids",
        graft.backend.DecoderLayerBackend.fullModel(), minTokens = 1)
    }),

    // merges-based BPE over the fixture tokenizer.json (the GPT-family
    // tokenizer the reference's Qwen3 models ship): per word, fuse the
    // lowest-rank adjacent pair (leftmost on ties) until none remains;
    // no specials (a bare BPE model has no post-processor)
    "q97_bpe" -> ((s, dir) => {
      val bridge = org.apache.spark.sql.graftbridge.Bridge
      docs(s, dir)
        .select(col("doc_id"),
          bridge.column(graft.functions.BpeIds(
            bridge.expression(col("text")), graft.model.Bpe.fixture)).as("__ids"))
        .filter(size(col("__ids")) > 0)
        .select(col("doc_id"), posexplode(col("__ids")).as(Seq("pos", "token_id")))
        .select(col("doc_id"), col("pos").cast("long").as("pos"), col("token_id"))
    }),

    // the reference's TRUE Qwen3 shape end-to-end: BPE ids (its models
    // ship a BPE tokenizer.json) through the complete learned model —
    // learned embed_tokens, two learned layers, final norm, last-token
    // pool, l2; every BPE id is in the learned table's id space
    "q98_bpe_full_model" -> ((s, dir) => {
      val bridge = org.apache.spark.sql.graftbridge.Bridge
      val maxLen = graft.oracle.OracleSql.q95MaxLen
      val withIds = docs(s, dir)
        .select(col("doc_id"),
          bridge.column(graft.functions.BpeIds(
            bridge.expression(col("text")), graft.model.Bpe.fixture)).as("__ids"))
        .select(col("doc_id"), slice(col("__ids"), 1, maxLen).as("tids"))
      BackendEmbedder.embed(withIds, "doc_id", "tids",
        graft.backend.DecoderLayerBackend.fullModel(), minTokens = 1)
        .select(col("doc_id"), posexplode(col("embedding")).as(Seq("dim", "val")))
        .select(col("doc_id"), col("dim").cast("long").as("dim"), col("val"))
    }),

    // Unigram (SentencePiece) Viterbi segmentation over the fixture
    // tokenizer.json — the multilingual-e5/XLM-R family; exact int64
    // DP, pinned (score, longer-piece, id) tie order, <s>...</s> wrap
    "q102_unigram" -> ((s, dir) => {
      val bridge = org.apache.spark.sql.graftbridge.Bridge
      docs(s, dir)
        .select(col("doc_id"),
          bridge.column(graft.functions.UnigramIds(
            bridge.expression(col("text")), graft.model.Unigram.fixture)).as("__ids"))
        .filter(size(col("__ids")) > 2)
        .select(col("doc_id"), posexplode(col("__ids")).as(Seq("pos", "token_id")))
        .select(col("doc_id"), col("pos").cast("long").as("pos"), col("token_id"))
    }),

    // the REAL multilingual-e5 pipeline shape: "query: " prefix (the
    // reference README's E5 convention) -> Unigram Viterbi ids ->
    // mean-pooled dense tail -> l2; the prefix guarantees every doc
    // has >= 1 word on both sides
    "q103_e5_embed" -> ((s, dir) => {
      val bridge = org.apache.spark.sql.graftbridge.Bridge
      val withIds = docs(s, dir)
        .select(col("doc_id"),
          bridge.column(graft.functions.UnigramIds(
            bridge.expression(Templating.asQuery(col("text"))),
            graft.model.Unigram.fixture)).as("__ids"))
      TextEmbedder.embedTokens(withIds, "__ids", "emb")
        .select(col("doc_id"), posexplode(col("emb")).as(Seq("dim", "val")))
        .select(col("doc_id"), col("dim").cast("long").as("dim"), col("val"))
    }),

    // the COMPLETE learned NomicBert-MoE model from one two-shard
    // checkpoint: WordPiece ids -> learned word+type embeddings ->
    // emb_ln -> two POST-norm blocks (bidirectional combined-Wqkv
    // attention with biases + non-interleaved partial rotary; layer 0
    // std fc1/fc2 MLP, layer 1 learned megablocks MoE) -> masked mean
    // pool -> l2 — the I5 capstone, q95's full-model treatment for the
    // reference's second architecture family
    "q104_nomic_model" -> ((s, dir) => {
      val bridge = org.apache.spark.sql.graftbridge.Bridge
      val maxLen = graft.oracle.OracleSql.q104MaxLen
      val withIds = docs(s, dir)
        .select(col("doc_id"),
          bridge.column(graft.functions.WordPieceIds(
            bridge.expression(col("text")), graft.model.WordPiece.fixture)).as("wp"))
        .select(col("doc_id"), slice(col("wp"), 1, maxLen).as("tids"))
      BackendEmbedder.embed(withIds, "doc_id", "tids",
        graft.backend.NomicModelBackend(), minTokens = 3)
        .select(col("doc_id"), posexplode(col("embedding")).as(Seq("dim", "val")))
        .select(col("doc_id"), col("dim").cast("long").as("dim"), col("val"))
    }),

    "q77_wordpiece" -> ((s, dir) => {
      val bridge = org.apache.spark.sql.graftbridge.Bridge
      docs(s, dir)
        .select(col("doc_id"),
          bridge.column(graft.functions.WordPieceIds(
            bridge.expression(col("text")), graft.model.WordPiece.fixture)).as("__ids"))
        // a no-word doc encodes to bare [CLS][SEP] (size 2) — one
        // tokenization pass serves both the filter and the explode
        .filter(size(col("__ids")) > 2)
        .select(col("doc_id"), posexplode(col("__ids")).as(Seq("pos", "token_id")))
        .select(col("doc_id"), col("pos").cast("long").as("pos"), col("token_id"))
    }),

    // the tokenizer-swap composition: the flagship dense tail (q01's
    // project → exact-integer mean → l2) over WORDPIECE ids — any id
    // stream feeds the same chain, like the reference swapping
    // tokenizer.json files under one forward
    "q79_wordpiece_dense" -> ((s, dir) => {
      val bridge = org.apache.spark.sql.graftbridge.Bridge
      val withIds = docs(s, dir)
        .select(col("doc_id"),
          bridge.column(graft.functions.WordPieceIds(
            bridge.expression(col("text")), graft.model.WordPiece.fixture)).as("__ids"))
        .filter(size(col("__ids")) > 2) // ≥ 1 real word beyond [CLS][SEP]
      TextEmbedder.embedTokens(withIds, "__ids", "emb")
        .select(col("doc_id"), posexplode(col("emb")).as(Seq("dim", "val")))
        .select(col("doc_id"), col("dim").cast("long").as("dim"), col("val"))
    }),

    // P2 over the real vocab: [CLS] query [SEP] doc [SEP] with segment
    // ids, only-the-doc-side truncation — the cross-encoder input shape
    // built from the WordPiece vocab
    "q80_wordpiece_pair" -> ((s, dir) => {
      val bridge = org.apache.spark.sql.graftbridge.Bridge
      val qWords = "spark hash join query plan".split(" ").toSeq
      val pe = docs(s, dir)
        .select(col("doc_id"),
          bridge.column(graft.functions.WordPieceIds(
            bridge.expression(col("text")), graft.model.WordPiece.fixture)).as("__ids"))
        .filter(size(col("__ids")) > 2)
        .withColumn("__pe", Reranker.wordPiecePairEncode(
          qWords, col("__ids"), graft.model.WordPiece.fixture, 16))
      pe.select(col("doc_id"),
          posexplode(zip_with(col("__pe.input_ids"), col("__pe.token_type_ids"),
            (i, t) => struct(i.as("i"), t.as("t")))).as(Seq("pos", "z")))
        .select(col("doc_id"), col("pos").cast("long").as("pos"),
          col("z.i").as("token_id"), col("z.t").as("token_type"))
    }),

    // the embed_image END-TO-END composition: fused-with-deepstack
    // sequence (q75) → quantized pseudo-ids → 3-D MRoPE ids (q73) →
    // one sectioned-rotation transformer forward (q68's attention with
    // pair h rotating by plane h mod 3), last-token pooled + normalized
    "q78_vl_embed" -> ((s, dir) => {
      import s.implicits._
      val toks = plantImageSpan(
        docs(s, dir)
          .withColumn("tids", Kernel.tokenIds(col("text"), 24))
          .filter(size(col("tids")) > 0))
        .select(col("doc_id"), col("__k").cast("long").as("__k"), col("tids"))
      val vis = VlPreprocess.mergedWithDeepstack(pngDocs(s, dir), "doc_id", "png")
        .filter(col("dim") === 0).select(col("doc_id"), col("tok"), col("val"))
      val fused = VlPreprocess.fuseImageSpans(toks, "doc_id", "tids",
        vis, "tok", "val", K.M, carryCols = Seq("__k"))
      val fz = fused
        .withColumn("fid", pmod(
          floor(col("val") * lit(1000000.0) + lit(0.5)).cast("long") % lit(K.M3),
          lit(K.M3)))
        .withColumn("pid", VlPreprocess.mropePositionIds(col("pos"), col("__k"), 1, 2, 2))
      fz.groupBy(col("doc_id"))
        .agg(array_sort(collect_list(struct(
          col("pos").as("p"), col("fid").as("f"), col("pid.pid_t").as("t"),
          col("pid.pid_h").as("h"), col("pid.pid_w").as("w")))).as("sq"))
        .select(col("doc_id"),
          transform(col("sq"), x => x("f")).as("fl"),
          transform(col("sq"), x => x("t")).as("tl"),
          transform(col("sq"), x => x("h")).as("hl"),
          transform(col("sq"), x => x("w")).as("wl"))
        .as[(Long, Seq[Long], Seq[Long], Seq[Long], Seq[Long])]
        .map { case (id, fl, tl, hl, wl) =>
          (id, graft.backend.VlForward.embed(fl.toArray, tl.toArray, hl.toArray, wl.toArray, 8))
        }
        .toDF("doc_id", "embedding")
        .select(col("doc_id"), posexplode(col("embedding")).as(Seq("dim", "val")))
        .select(col("doc_id"), col("dim").cast("long").as("dim"), col("val"))
    }),

    // the LEARNED multimodal forward: q78's fused sequence and MRoPE
    // planes, but the attention runs through real q/k/v/o projections
    // (one head of head_dim 8 so every id plane steers an angle) from
    // a single-file checkpoint — embed_image with real weights
    "q91_vl_learned" -> ((s, dir) => {
      import s.implicits._
      val bank = graft.backend.VlAttnBank.loadedQuantized
      val toks = plantImageSpan(
        docs(s, dir)
          .withColumn("tids", Kernel.tokenIds(col("text"), 24))
          .filter(size(col("tids")) > 0))
        .select(col("doc_id"), col("__k").cast("long").as("__k"), col("tids"))
      val vis = VlPreprocess.mergedWithDeepstack(pngDocs(s, dir), "doc_id", "png")
        .filter(col("dim") === 0).select(col("doc_id"), col("tok"), col("val"))
      val fused = VlPreprocess.fuseImageSpans(toks, "doc_id", "tids",
        vis, "tok", "val", K.M, carryCols = Seq("__k"))
      val fz = fused
        .withColumn("fid", pmod(
          floor(col("val") * lit(1000000.0) + lit(0.5)).cast("long") % lit(K.M3),
          lit(K.M3)))
        .withColumn("pid", VlPreprocess.mropePositionIds(col("pos"), col("__k"), 1, 2, 2))
      fz.groupBy(col("doc_id"))
        .agg(array_sort(collect_list(struct(
          col("pos").as("p"), col("fid").as("f"), col("pid.pid_t").as("t"),
          col("pid.pid_h").as("h"), col("pid.pid_w").as("w")))).as("sq"))
        .select(col("doc_id"),
          transform(col("sq"), x => x("f")).as("fl"),
          transform(col("sq"), x => x("t")).as("tl"),
          transform(col("sq"), x => x("h")).as("hl"),
          transform(col("sq"), x => x("w")).as("wl"))
        .as[(Long, Seq[Long], Seq[Long], Seq[Long], Seq[Long])]
        .map { case (id, fl, tl, hl, wl) =>
          (id, graft.backend.VlForward.embedLearned(
            fl.toArray, tl.toArray, hl.toArray, wl.toArray, bank))
        }
        .toDF("doc_id", "embedding")
        .select(col("doc_id"), posexplode(col("embedding")).as(Seq("dim", "val")))
        .select(col("doc_id"), col("dim").cast("long").as("dim"), col("val"))
    }),

    // the VL capstone: q91's end-to-end chain with EVERY vision-side
    // projection learned too — the main PatchMerger AND the deepstack
    // layer's own merger (deepstack_merger_list.{i},
    // qwen3_vl.rs:476-480) read from one safetensors checkpoint, then
    // the learned q/k/v/o MRoPE forward over the fused sequence
    "q101_vl_full_learned" -> ((s, dir) => {
      import s.implicits._
      val bank = graft.backend.VlAttnBank.loadedQuantized
      val toks = plantImageSpan(
        docs(s, dir)
          .withColumn("tids", Kernel.tokenIds(col("text"), 24))
          .filter(size(col("tids")) > 0))
        .select(col("doc_id"), col("__k").cast("long").as("__k"), col("tids"))
      val vis = VlPreprocess.mergedWithDeepstack(pngDocs(s, dir), "doc_id", "png",
          mergerBank = Some(graft.backend.MergerBank.loadedQuantized),
          deepstackBank = Some(graft.backend.MergerBank.loadedDeepstackQuantized))
        .filter(col("dim") === 0).select(col("doc_id"), col("tok"), col("val"))
      val fused = VlPreprocess.fuseImageSpans(toks, "doc_id", "tids",
        vis, "tok", "val", K.M, carryCols = Seq("__k"))
      val fz = fused
        .withColumn("fid", pmod(
          floor(col("val") * lit(1000000.0) + lit(0.5)).cast("long") % lit(K.M3),
          lit(K.M3)))
        .withColumn("pid", VlPreprocess.mropePositionIds(col("pos"), col("__k"), 1, 2, 2))
      fz.groupBy(col("doc_id"))
        .agg(array_sort(collect_list(struct(
          col("pos").as("p"), col("fid").as("f"), col("pid.pid_t").as("t"),
          col("pid.pid_h").as("h"), col("pid.pid_w").as("w")))).as("sq"))
        .select(col("doc_id"),
          transform(col("sq"), x => x("f")).as("fl"),
          transform(col("sq"), x => x("t")).as("tl"),
          transform(col("sq"), x => x("h")).as("hl"),
          transform(col("sq"), x => x("w")).as("wl"))
        .as[(Long, Seq[Long], Seq[Long], Seq[Long], Seq[Long])]
        .map { case (id, fl, tl, hl, wl) =>
          (id, graft.backend.VlForward.embedLearned(
            fl.toArray, tl.toArray, hl.toArray, wl.toArray, bank))
        }
        .toDF("doc_id", "embedding")
        .select(col("doc_id"), posexplode(col("embedding")).as(Seq("dim", "val")))
        .select(col("doc_id"), col("dim").cast("long").as("dim"), col("val"))
    }),

    // I7's MRoPE position ids over the q72 fused layout: 3-D (t, h, w)
    // ids for the planted image span (grid 1×2×2 — q71's merged tokens),
    // sequential ids before, resume-from-max after — exact integers
    "q73_mrope_ids" -> ((s, dir) => {
      val toks = plantImageSpan(
        docs(s, dir)
          .withColumn("tids", Kernel.tokenIds(col("text"), 24))
          .filter(size(col("tids")) > 0))
      toks.select(col("doc_id"), col("__k"),
          posexplode(col("tids")).as(Seq("pos", "__t")))
        .withColumn("pid", VlPreprocess.mropePositionIds(
          col("pos").cast("long"), col("__k").cast("long"), 1, 2, 2))
        .select(col("doc_id"), col("pos").cast("long").as("pos"),
          col("pid.pid_t").as("pid_t"), col("pid.pid_h").as("pid_h"),
          col("pid.pid_w").as("pid_w"))
    }),

    // I6's interpolated position embeddings over the q69b geometry:
    // per-patch bilinear blend of a deterministic side=8 table at
    // linspace sample points, positions in the merge-permuted layout —
    // double-exact vs the oracle
    "q74_pos_interp" -> ((s, dir) => {
      val base = docs(s, dir).filter(col("doc_id") < 100)
        .select(col("doc_id"),
          (col("doc_id").cast("long") % 97 + 1).as("h"),
          ((col("doc_id").cast("long") * 7) % 103 + 1).as("w"))
        .withColumn("sr", VlPreprocess.smartResizeCols(col("h"), col("w"), 4, 256L, 1024L))
        .withColumn("grid_h", expr("sr.h_bar div 2"))
        .withColumn("grid_w", expr("sr.w_bar div 2"))
      base.select(col("doc_id"), col("grid_h"), col("grid_w"),
          explode(sequence(lit(0L), col("grid_h") * col("grid_w") - 1)).as("p"))
        // decode the merge-permuted output position back to grid (gh, gw)
        .withColumn("gh", expr("(p div 4) div (grid_w div 2) * 2 + (p % 4) div 2"))
        .withColumn("gw", expr("((p div 4) % (grid_w div 2)) * 2 + (p % 4) % 2"))
        .withColumn("dim", explode(sequence(lit(0L), lit(1L))))
        .select(col("doc_id"), col("p").as("pos"), col("dim"),
          VlPreprocess.posEmbedInterp(col("gh"), col("gw"),
            col("grid_h"), col("grid_w"), 8, col("dim")).as("val"))
    }),

    // P13 smart resize as pure relational arithmetic: synthetic dims
    // derived from doc_id exercise all three branches (round-to-factor,
    // β-shrink past max_pixels, β-grow under min_pixels) + the grid /
    // LLM-token geometry — ties-to-even and the β square roots checked
    // bit-exact against DuckDB
    "q69b_smart_resize" -> ((s, dir) => {
      val h = (col("doc_id").cast("long") % 97 + 1).as("h")
      val w = ((col("doc_id").cast("long") * 7) % 103 + 1).as("w")
      docs(s, dir).select(col("doc_id"), h, w)
        .withColumn("sr", VlPreprocess.smartResizeCols(col("h"), col("w"), 4, 256L, 1024L))
        .select(col("doc_id"), col("h"), col("w"),
          col("sr.h_bar").as("h_bar"), col("sr.w_bar").as("w_bar"))
        .withColumn("grid_h", expr("h_bar div 2"))
        .withColumn("grid_w", expr("w_bar div 2"))
        .withColumn("n_llm_tokens", expr("(grid_h * grid_w) div 4"))
    }),

    // multimodal binary plumbing (raw-byte codec, double-exact math) —
    // checked dim-exploded like q22 against the pixel-projection oracle
    "q23_image_embed" -> ((s, dir) =>
      ImagePipeline.embedImages(
        docs(s, dir).select(col("doc_id"), encode(col("text"), "UTF-8").as("img")),
        "doc_id", "img", dim = 16)
        .select(col("doc_id"), posexplode(col("embedding")).as(Seq("dim", "val")))
        .select(col("doc_id"), col("dim").cast("long").as("dim"), col("val"))),

    // the REAL image chain on the hard gate: PNG fixture bytes →
    // javax.imageio decode → config-driven Compose (Catmull-Rom resize
    // 8→4, center crop 4→2, CLIP rescale+normalize) → quantize →
    // projection. The oracle rebuilds the resize weights with identical
    // double arithmetic, so the whole P6/P7/P8/P12/S8 chain hash-matches.
    "q23b_image_compose" -> ((s, dir) =>
      ImagePipeline.embedImagesCompose(pngDocs(s, dir), "doc_id", "png", q23bCompose, dim = 16)
        .select(col("doc_id"), posexplode(col("embedding")).as(Seq("dim", "val")))
        .select(col("doc_id"), col("dim").cast("long").as("dim"), col("val"))),

    // the ConvNext preprocessor dialect (S8's second branch): shortest
    // edge 6 with crop_pct 0.75 → resize (8,8) (identity at ratio 1) +
    // center crop (6,6) + rescale/normalize, parsed from config JSON
    "q23d_image_convnext" -> ((s, dir) => {
      val convnext = Preprocess.Compose.fromJson(
        """{"image_processor_type": "ConvNextFeatureExtractor",
           |"size": {"shortest_edge": 6}, "crop_pct": 0.75,
           |"do_normalize": true,
           |"image_mean": [0.48145466, 0.4578275, 0.40821073],
           |"image_std": [0.26862954, 0.26130258, 0.27577711]}""".stripMargin)
      ImagePipeline.embedImagesCompose(pngDocs(s, dir), "doc_id", "png", convnext, dim = 16)
        .select(col("doc_id"), posexplode(col("embedding")).as(Seq("dim", "val")))
        .select(col("doc_id"), col("dim").cast("long").as("dim"), col("val"))
    }),

    // checked binaryFile ingest (S2): PNG fixture FILES on disk → Spark's
    // binaryFile source (path-glob pushdown) → the same real
    // decode+Compose chain, doc id recovered from the file name. The
    // collect() writes 64 tiny fixture files — file generation, not part
    // of the operator plan.
    "q23c_image_files" -> ((s, dir) => {
      import s.implicits._
      // fixture dir under the JVM temp root, keyed by the sf dir so
      // concurrent runs against different scale factors don't collide
      // (binaryFile + a driver-local path assumes local mode — fine for
      // the gate; a cluster run would point readImages at shared storage)
      val fixDir = new java.io.File(
        sys.props("java.io.tmpdir"),
        "graft_img_fixtures_" + math.abs(dir.hashCode).toString)
      fixDir.mkdirs()
      Option(fixDir.listFiles()).foreach(_.foreach(f =>
        if (f.getName.endsWith(".png")) f.delete()))
      docs(s, dir).filter(col("doc_id") < 64)
        .select(col("doc_id").cast("long"), encode(col("text"), "UTF-8"))
        .collect()
        .foreach { r =>
          val p = new java.io.File(fixDir, f"img_${r.getLong(0)}%05d.png")
          java.nio.file.Files.write(p.toPath,
            ImagePipeline.pngFixture(r.getAs[Array[Byte]](1)))
        }
      val files = ImagePipeline.readImages(s, fixDir.getAbsolutePath, "*.png")
        .select(regexp_extract(col("path"), "img_(\\d+)\\.png$", 1)
          .cast("long").as("doc_id"), col("content"))
      ImagePipeline.embedImagesCompose(files, "doc_id", "content", q23bCompose, dim = 16)
        .select(col("doc_id"), posexplode(col("embedding")).as(Seq("dim", "val")))
        .select(col("doc_id"), col("dim").cast("long").as("dim"), col("val"))
    }),

    // BGE-M3 joint output (dense+sparse+colbert in ONE narrow pass) —
    // checked via three flat projections of the same plan; dense shares
    // q01's oracle, sparse/colbert mirror q05/q06 semantics
    "q27_bgem3_dense" -> ((s, dir) =>
      Bgem3Embedder.embed(docs(s, dir), "doc_id", "text")
        .select(col("doc_id"), posexplode(col("bgem3.dense")).as(Seq("dim", "val")))
        .select(col("doc_id"), col("dim").cast("long").as("dim"), col("val"))),

    // single-reference extraction of the sub-struct first: CollapseProject
    // inlines it, SimplifyExtractValueOps prunes the struct, and the
    // dense/colbert branches vanish from this plan entirely
    "q28_bgem3_sparse" -> ((s, dir) =>
      Bgem3Embedder.embed(docs(s, dir), "doc_id", "text")
        .select(col("doc_id"), col("bgem3.sparse").as("sp"))
        .select(col("doc_id"), posexplode(
          arrays_zip(col("sp.indices").as("token_id"),
            col("sp.values").as("weight"))).as(Seq("idx", "z")))
        .select(col("doc_id"), col("idx").cast("long").as("idx"),
          col("z.token_id").as("token_id"), col("z.weight").as("weight"))),

    "q29_bgem3_colbert" -> ((s, dir) =>
      Bgem3Embedder.embed(docs(s, dir).filter(col("doc_id") < 100), "doc_id", "text")
        .select(col("doc_id"), col("bgem3.colbert").as("cb"))
        .select(col("doc_id"), posexplode(col("cb")).as(Seq("i", "vec")))
        .select(col("doc_id"), (col("i") + 1).cast("long").as("pos"),
          posexplode(col("vec")).as(Seq("dim", "val")))
        .select(col("doc_id"), col("pos"), col("dim").cast("long").as("dim"), col("val"))),

    // registry-driven construction (S5/A4 wiring): model name → dim/
    // pooling/maxLength/quantization; cls model shares q02's oracle
    "q30_registry_embed" -> ((s, dir) =>
      TextEmbedder.fromModel("graft-hash-64-cls")
        .embed(docs(s, dir), "text", "emb")
        .select(col("doc_id"), posexplode(col("emb")).as(Seq("dim", "val")))
        .select(col("doc_id"), col("dim").cast("long").as("dim"), col("val"))),

    // dim-genericity of the whole dense chain: the 384-d registry model
    // (the reference's BGE-small shape) through the same pipeline
    "q30b_registry_384" -> ((s, dir) =>
      TextEmbedder.fromModel("graft-hash-384-mean")
        .embed(docs(s, dir), "text", "emb")
        .select(col("doc_id"), posexplode(col("emb")).as(Seq("dim", "val")))
        .select(col("doc_id"), col("dim").cast("long").as("dim"), col("val"))),

    // multi-query rerank: first 4 docs as queries against the whole
    // corpus — one broadcast, one corpus scan, no shuffle
    "q31_rerank_multi" -> ((s, dir) => {
      val d = docs(s, dir)
      Reranker.rerankAll(
        d.filter(col("doc_id") < 4).select(col("doc_id").as("qid"), col("text").as("qtext")),
        "qid", "qtext", d, "doc_id", "text")
    }),

    // the corpus-scale rerank: q31's scored product kept to each
    // query's top-10 via the partial top-k aggregate — ≤ k rows per
    // query per map task reach the exchange; no global sort anywhere
    // (the reference's rerank loop, reranking/impl.rs:109-196, over a
    // query batch at corpus scale)
    "q117_rerank_topk" -> ((s, dir) => {
      val d = docs(s, dir)
      Reranker.rerankTopK(
        d.filter(col("doc_id") < 4).select(col("doc_id").as("qid"), col("text").as("qtext")),
        "qid", "qtext", d, "doc_id", "text", k = 10)
        .select(col("qid"), col("index"),
          col("rank").cast("long").as("rnk"), col("score"))
    }),

    // the backend route of the cross-encoder: pairEncode → RawBackend
    // forward → logits[:, 0] (I3's actual reference shape)
    "q31b_rerank_backend" -> ((s, dir) => {
      val d = docs(s, dir)
      Reranker.rerankBackendAll(
        d.filter(col("doc_id") < 4).select(col("doc_id").as("qid"), col("text").as("qtext")),
        "qid", "qtext", d, "doc_id", "text")
    }),

    // "query: " prefix templating (P5) feeding the dense pipeline
    "q32_prefixed_embed" -> ((s, dir) =>
      TextEmbedder()
        .embed(docs(s, dir).withColumn("text", Templating.asQuery(col("text"))),
          "text", "emb")
        .select(col("doc_id"), posexplode(col("emb")).as(Seq("dim", "val")))
        .select(col("doc_id"), col("dim").cast("long").as("dim"), col("val"))),

    // the Qwen3 instruct template (P5): "Instruct: {task}\nQuery:{q}"
    // feeding the dense pipeline — the reference-score test's exact
    // query-side convention (tests/qwen3.rs:67-74)
    "q81_instruct_embed" -> ((s, dir) =>
      TextEmbedder()
        .embed(docs(s, dir).withColumn("text",
          Templating.asInstruct(Templating.DefaultTask, col("text"))), "text", "emb")
        .select(col("doc_id"), posexplode(col("emb")).as(Seq("dim", "val")))
        .select(col("doc_id"), col("dim").cast("long").as("dim"), col("val"))),

    // the learned dense projection head: a real [16 x 64] F32 matrix
    // from the single-file model.safetensors (the non-sharded branch of
    // the S10 resolution), y = W.sums in exact int64, l2-normalized
    "q82_dense_proj" -> ((s, dir) => {
      val wq = graft.backend.ProjectionBank.loadedQuantized
      val withTids = docs(s, dir)
        .withColumn("__tids", Kernel.tokenIds(col("text")))
      TextEmbedder.embedProjectedTokens(withTids, "__tids", "emb",
        wq, graft.backend.ProjectionBank.DimIn, graft.backend.ProjectionBank.DimOut)
        .select(col("doc_id"), posexplode(col("emb")).as(Seq("dim", "val")))
        .select(col("doc_id"), col("dim").cast("long").as("dim"), col("val"))
    }),

    // the SQL function surface end-to-end: the 60-bit default simhash,
    // expressed in pure SQL via the registered graft_* functions
    "q35_sql_simhash" -> ((s, dir) => {
      graft.sql.GraftFunctions.register(s)
      docs(s, dir).createOrReplaceTempView("graft_documents")
      s.sql(
        """SELECT doc_id, graft_simhash(graft_token_ids(text)) AS simhash
           FROM graft_documents
           WHERE size(graft_token_ids(text)) > 0""")
    }),

    // audio multimodal plumbing: raw PCM16 codec (oracle-reproducible),
    // frame energy features → projection — checked like q23
    "q36_audio_embed" -> ((s, dir) =>
      AudioPipeline.embedPcm(
        docs(s, dir).select(col("doc_id"), encode(col("text"), "UTF-8").as("pcm")),
        "doc_id", "pcm", frameLen = 16, dim = 16)
        .select(col("doc_id"), col("n_frames"),
          posexplode(col("embedding")).as(Seq("dim", "val")))
        .select(col("doc_id"), col("n_frames"),
          col("dim").cast("long").as("dim"), col("val"))),

    // the REAL WAV route under the same oracle: raw PCM16 wrapped in a
    // RIFF container in-plan (fixture-generation map), then parsed back
    // by the chunk-walking decodeWav → identical samples → q36's math
    "q36b_wav_embed" -> ((s, dir) => {
      import s.implicits._
      val wavs = docs(s, dir)
        .select(col("doc_id").cast("long"), encode(col("text"), "UTF-8").as("b"))
        .as[(Long, Array[Byte])]
        .map { case (id, b) =>
          (id, AudioPipeline.toWav(AudioPipeline.pcm16le(b), 16000))
        }
        .toDF("doc_id", "wav")
      AudioPipeline.embedWav(wavs, "doc_id", "wav", frameLen = 16, dim = 16)
        .select(col("doc_id"), col("n_frames"),
          posexplode(col("embedding")).as(Seq("dim", "val")))
        .select(col("doc_id"), col("n_frames"),
          col("dim").cast("long").as("dim"), col("val"))
    }),

    // video multimodal plumbing on the gate: raw concatenated frames
    // (32 bytes each) → stride-2 sampling → per-frame pixel embedding →
    // order-fixed mean → renormalize (the whole VideoPipeline except
    // the documented demuxer stub boundary)
    "q48_video_embed" -> ((s, dir) =>
      VideoPipeline.embedVideos(
        docs(s, dir).select(col("doc_id"), encode(col("text"), "UTF-8").as("vid")),
        "doc_id", "vid", frameBytes = 32, stride = 2, dim = 16)
        .select(col("doc_id"), col("n_frames"), col("n_sampled"),
          posexplode(col("embedding")).as(Seq("dim", "val")))
        .select(col("doc_id"), col("n_frames"), col("n_sampled"),
          col("dim").cast("long").as("dim"), col("val"))),

    // the REAL container route under the same oracle: the raw frames
    // wrapped into a RIFF/AVI container in-plan (fixture-generation
    // map), then demuxed back by the chunk-walking demuxAvi — identical
    // frames, identical math (q36b's pattern one modality over; closes
    // the demuxer stub boundary splitFrames used to document)
    "q48b_avi_embed" -> ((s, dir) => {
      import s.implicits._
      val avis = docs(s, dir)
        .select(col("doc_id").cast("long"), encode(col("text"), "UTF-8").as("b"))
        .as[(Long, Array[Byte])]
        .map { case (id, b) =>
          (id, VideoPipeline.toAvi(VideoPipeline.splitFrames(b, 32), 8, 8,
            compressed = false))
        }
        .toDF("doc_id", "avi")
      VideoPipeline.embedVideosAvi(avis, "doc_id", "avi", stride = 2, dim = 16)
        .select(col("doc_id"), col("n_frames"), col("n_sampled"),
          posexplode(col("embedding")).as(Seq("dim", "val")))
        .select(col("doc_id"), col("n_frames"), col("n_sampled"),
          col("dim").cast("long").as("dim"), col("val"))
    }),

    // the FILE route (q23c's moving-picture twin): AVI fixtures written
    // to disk, ingested back through binaryFile (readVideos, pushed
    // path-glob), demuxed and embedded — same oracle, doc_id < 64
    "q48c_video_files" -> ((s, dir) => {
      import s.implicits._
      val fixDir = new java.io.File(
        sys.props("java.io.tmpdir"),
        "graft_avi_fixtures_" + math.abs(dir.hashCode).toString)
      fixDir.mkdirs()
      Option(fixDir.listFiles()).foreach(_.foreach(f =>
        if (f.getName.endsWith(".avi")) f.delete()))
      docs(s, dir).filter(col("doc_id") < 64)
        .select(col("doc_id").cast("long"), encode(col("text"), "UTF-8"))
        .collect()
        .foreach { r =>
          val avi = VideoPipeline.toAvi(
            VideoPipeline.splitFrames(r.getAs[Array[Byte]](1), 32), 8, 8,
            compressed = false)
          java.nio.file.Files.write(
            new java.io.File(fixDir, f"vid_${r.getLong(0)}%05d.avi").toPath, avi)
        }
      val files = VideoPipeline.readVideos(s, fixDir.getAbsolutePath)
        .select(regexp_extract(col("path"), "vid_(\\d+)\\.avi$", 1)
          .cast("long").as("doc_id"), col("content"))
      VideoPipeline.embedVideosAvi(files, "doc_id", "content", stride = 2, dim = 16)
        .select(col("doc_id"), col("n_frames"), col("n_sampled"),
          posexplode(col("embedding")).as(Seq("dim", "val")))
        .select(col("doc_id"), col("n_frames"), col("n_sampled"),
          col("dim").cast("long").as("dim"), col("val"))
    }),

    // ColBERT late interaction: doc 0's token vectors as the query,
    // MaxSim against every doc's multi-vector set (doc_id < 100) — the
    // multi-vector retrieval scorer over the q06/q29 vectors
    "q39_colbert_maxsim" -> ((s, dir) => {
      val d = docs(s, dir).filter(col("doc_id") < 100)
      val withCb = d
        .withColumn("__tids", Kernel.tokenIds(col("text")))
        .filter(size(col("__tids")) > 1)
        .withColumn("__cb", Bgem3Embedder.colbertVectors(col("__tids"), 16))
      // take(1): a corpus without doc 0 yields an empty result (matching
      // the oracle's empty qrows CTE) instead of crashing head()
      val qRow = withCb.filter(col("doc_id") === 0).select(col("__cb")).take(1)
      if (qRow.isEmpty) withCb.filter(lit(false)).select(col("doc_id"), lit(0.0).as("score"))
      else {
        val qv = qRow(0).getSeq[scala.collection.Seq[Double]](0).map(_.toSeq)
        withCb
          .withColumn("score", Similarity.maxSim(typedlit(qv), col("__cb")))
          .select(col("doc_id"), col("score"))
      }
    }),

    "q24_lineitem_agg" -> ((s, dir) => {
      val li = tbl(s, dir, "lineitem")
      val d182 = DecimalType(18, 2)
      li.groupBy(col("l_returnflag"), col("l_linestatus"))
        .agg(
          sum(col("l_quantity").cast(d182)).cast("double").as("sum_qty"),
          sum(col("l_extendedprice").cast(d182)).cast("double").as("sum_base"),
          sum(col("l_extendedprice").cast(d182) *
            (lit(1).cast(d182) - col("l_discount").cast(d182))).cast("double").as("sum_disc_price"),
          count(lit(1)).as("n_rows"))
    }),

    "q25_segment_sales" -> ((s, dir) => {
      val o = tbl(s, dir, "orders")
      val c = tbl(s, dir, "customer")
      val n = tbl(s, dir, "nation")
      o.join(broadcast(c), col("o_custkey") === col("c_custkey"))
        .join(broadcast(n), col("c_nationkey") === col("n_nationkey"))
        .groupBy(col("c_mktsegment"), col("n_name"))
        .agg(count(lit(1)).as("n_orders"),
          sum(col("o_totalprice").cast(DecimalType(18, 2))).cast("double").as("total_price"))
    }),

    "q26_events_stats" -> ((s, dir) =>
      tbl(s, dir, "events")
        .groupBy(col("user_id"), col("event_type"))
        .agg(count(lit(1)).as("n_events"),
          min(col("value")).as("min_value"),
          max(col("value")).as("max_value")))
  )

  def oracleSql: Map[String, String] = OracleSql.all
}
