package graft

import java.sql.Timestamp

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import graft.operators.TextEmbedder
import graft.streaming.StreamingOps

/** Structured Streaming surface: streaming results must equal the batch
  * plan on the same rows (the operators are narrow/stateless), and the
  * stateful dedup keeps first occurrences with watermark-bounded state. */
class StreamingSpec extends AnyFunSuite with SparkSessionTestWrapper {
  import spark.implicits._
  implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext

  test("embedStream micro-batches == batch embedding bit-for-bit") {
    val ms = MemoryStream[(Long, String)]
    val out = StreamingOps.embedStream(
      ms.toDF().toDF("doc_id", "text"), "text", "emb")
      .select($"doc_id", $"emb")
    val q = out.writeStream.format("memory").queryName("graft_embs")
      .outputMode("append").start()
    try {
      ms.addData((0L, "spark query engine"), (1L, "hash join plan"))
      q.processAllAvailable()
      ms.addData((2L, "broadcast the small side"))
      q.processAllAvailable()
      val streamed = spark.table("graft_embs").collect()
        .map(r => r.getLong(0) -> r.getSeq[Double](1).toList).toMap
      val batch = TextEmbedder().embed(
        Seq((0L, "spark query engine"), (1L, "hash join plan"),
          (2L, "broadcast the small side")).toDF("doc_id", "text"), "text", "emb")
        .select($"doc_id", $"emb").collect()
        .map(r => r.getLong(0) -> r.getSeq[Double](1).toList).toMap
      assert(streamed == batch)
    } finally q.stop()
  }

  test("sequence-dependent backends stream: micro-batch splits ≡ batch") {
    // the transformer backend pads per MICRO-batch — streaming delivery
    // re-chunks rows arbitrarily, so equality with the batch run is the
    // streaming form of the batch-size-invariance contract
    val ms = MemoryStream[(Long, String)]
    val be = graft.backend.TransformerBackend(dim = 8)
    def withTids(df: org.apache.spark.sql.DataFrame) = df
      .withColumn("tids", graft.functions.Kernel.tokenIds($"text"))
      .filter(size($"tids") > 0)
      .select($"doc_id", $"tids")
    val out = graft.backend.BackendEmbedder.embed(
      withTids(ms.toDF().toDF("doc_id", "text")), "doc_id", "tids", be, batchSize = 2)
    val q = out.writeStream.format("memory").queryName("graft_tf_stream")
      .outputMode("append").start()
    try {
      val rows = Seq((0L, "spark query engine"), (1L, "hash join"),
        (2L, "broadcast the small side of the join"), (3L, "a"), (4L, "partition pruning"))
      ms.addData(rows.take(2): _*)
      q.processAllAvailable()
      ms.addData(rows.drop(2): _*)
      q.processAllAvailable()
      val streamed = spark.table("graft_tf_stream").collect()
        .map(r => r.getLong(0) -> r.getSeq[Double](1).toList).toMap
      val batch = graft.backend.BackendEmbedder.embed(
        withTids(rows.toDF("doc_id", "text")), "doc_id", "tids", be, batchSize = 256)
        .collect()
        .map(r => r.getLong(0) -> r.getSeq[Double](1).toList).toMap
      assert(streamed == batch)
      assert(streamed.size == 5)
    } finally q.stop()
  }

  test("the learned two-layer decoder streams: micro-batch splits ≡ batch") {
    // same contract as above for the HEAVIEST backend — the full
    // learned decoder stack with checkpoint weights broadcast via the
    // backend instance; left padding happens per micro-batch
    val ms = MemoryStream[(Long, String)]
    val be = graft.backend.DecoderLayerBackend.stacked()
    def withTids(df: org.apache.spark.sql.DataFrame) = df
      .withColumn("tids", graft.functions.Kernel.tokenIds($"text", 128))
      .filter(size($"tids") > 0)
      .select($"doc_id", $"tids")
    val out = graft.backend.BackendEmbedder.embed(
      withTids(ms.toDF().toDF("doc_id", "text")), "doc_id", "tids", be, batchSize = 2)
    val q = out.writeStream.format("memory").queryName("graft_dec_stream")
      .outputMode("append").start()
    try {
      val rows = Seq((0L, "spark query engine"), (1L, "hash join"),
        (2L, "broadcast the small side of the join"), (3L, "partition pruning"))
      ms.addData(rows.take(1): _*)
      q.processAllAvailable()
      ms.addData(rows.drop(1): _*)
      q.processAllAvailable()
      val streamed = spark.table("graft_dec_stream").collect()
        .map(r => r.getLong(0) -> r.getSeq[Double](1).toList).toMap
      val batch = graft.backend.BackendEmbedder.embed(
        withTids(rows.toDF("doc_id", "text")), "doc_id", "tids", be, batchSize = 256)
        .collect()
        .map(r => r.getLong(0) -> r.getSeq[Double](1).toList).toMap
      assert(streamed == batch)
      assert(streamed.size == 4)
    } finally q.stop()
  }

  test("dedupExactStream keeps first occurrence across micro-batches") {
    val ms = MemoryStream[(Long, String, Timestamp)]
    val out = StreamingOps.dedupExactStream(
      ms.toDF().toDF("doc_id", "text", "ts"), "text", "ts", "10 minutes")
    val q = out.writeStream.format("memory").queryName("graft_dedup")
      .outputMode("append").start()
    try {
      val t0 = Timestamp.valueOf("2026-01-01 10:00:00")
      ms.addData((0L, "same text here", t0), (1L, "Same  TEXT here!", t0))
      q.processAllAvailable()
      ms.addData((2L, "same text here", Timestamp.valueOf("2026-01-01 10:01:00")),
        (3L, "fresh content", Timestamp.valueOf("2026-01-01 10:02:00")))
      q.processAllAvailable()
      val ids = spark.table("graft_dedup").select($"doc_id").collect().map(_.getLong(0)).toSet
      assert(ids.contains(3L))
      assert(ids.intersect(Set(0L, 1L)).size == 1) // one survivor of the dup pair
      assert(!ids.contains(2L)) // cross-batch duplicate suppressed by state
    } finally q.stop()
  }

  test("simhashNearDupStream flags near-dups across micro-batches via state") {
    val ms = MemoryStream[(Long, String)]
    val out = StreamingOps.simhashNearDupStream(
      ms.toDF().toDF("doc_id", "text"), "doc_id", "text")
    val q = out.writeStream.format("memory").queryName("graft_neardups")
      .outputMode("append").start()
    try {
      ms.addData((0L, "the quick brown fox jumps over the lazy dog"),
        (1L, "completely different content about query optimization"))
      q.processAllAvailable()
      assert(spark.table("graft_neardups").count() == 0)
      // an exact duplicate of doc 0 arrives in a LATER micro-batch —
      // only bucket state can link them
      ms.addData((2L, "the quick brown fox jumps over the lazy dog"))
      q.processAllAvailable()
      val pairs = spark.table("graft_neardups")
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
      assert(pairs.contains((0L, 2L, 0L)))
      assert(!pairs.exists(p => p._1 == 1L || p._2 == 1L))
    } finally q.stop()
  }

  test("simhashNearDupStream LRU cap evicts the oldest bucket members") {
    val ms = MemoryStream[(Long, String)]
    val text = "the quick brown fox jumps over the lazy dog"
    val out = StreamingOps.simhashNearDupStream(
      ms.toDF().toDF("doc_id", "text"), "doc_id", "text", maxPerBucket = 2)
    val q = out.writeStream.format("memory").queryName("graft_neardups_lru")
      .outputMode("append").start()
    try {
      // identical docs arrive one micro-batch at a time: every bucket
      // holds at most the 2 most recent signatures, so doc 4 pairs with
      // 3 and 2 but NOT with the evicted 1
      (1L to 4L).foreach { id =>
        ms.addData((id, text)); q.processAllAvailable()
      }
      val pairs = spark.table("graft_neardups_lru")
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      assert(pairs.contains((1L, 2L)) && pairs.contains((2L, 3L)))
      assert(pairs.contains((2L, 4L)) && pairs.contains((3L, 4L)))
      assert(!pairs.contains((1L, 4L))) // 1 was evicted before 4 arrived
    } finally q.stop()
  }

  test("contaminationStream flags docs sharing eval n-grams, windows finalize") {
    val ms = MemoryStream[(Long, String, Timestamp)]
    val eval = Seq((100L, "secret benchmark answer string onetwo"))
      .toDF("doc_id", "text")
    val out = StreamingOps.contaminationStream(
      ms.toDF().toDF("doc_id", "text", "ts"), "doc_id", "text", "ts",
      "10 minutes", "5 minutes", eval, "doc_id", "text", n = 3, minShared = 2L)
    val q = out.writeStream.format("memory").queryName("graft_contam")
      .outputMode("append").start()
    try {
      ms.addData(
        (0L, "leaked copy of the secret benchmark answer string", Timestamp.valueOf("2026-01-01 10:00:00")),
        (1L, "perfectly ordinary training document", Timestamp.valueOf("2026-01-01 10:01:00")))
      q.processAllAvailable()
      // advance the watermark past the window so append finalizes
      ms.addData((2L, "unrelated late arrival", Timestamp.valueOf("2026-01-01 10:30:00")))
      q.processAllAvailable()
      val rows = spark.table("graft_contam")
        .select($"doc_id", $"eval_id", $"shared_shingles")
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
      // doc 0 shares the trigrams (secret, benchmark, answer) and
      // (benchmark, answer, string) with eval doc 100; docs 1/2 share none
      assert(rows == Set((0L, 100L, 2L)))
    } finally q.stop()
  }

  test("cmsSketchStream: per-window grids == batch sketch of each window's docs") {
    val ms = MemoryStream[(Long, String, Timestamp)]
    val out = StreamingOps.cmsSketchStream(
      ms.toDF().toDF("doc_id", "text", "ts"), "text", "ts",
      "10 minutes", "10 minutes", depth = 3, width = 16)
    val q = out.writeStream.format("memory").queryName("graft_cms")
      .outputMode("complete").start()
    try {
      val w1 = Seq((0L, "spark join plan", Timestamp.valueOf("2026-01-01 10:01:00")),
        (1L, "join the hash side", Timestamp.valueOf("2026-01-01 10:03:00")))
      val w2 = Seq((2L, "spark spark spark", Timestamp.valueOf("2026-01-01 10:12:00")))
      ms.addData(w1: _*)
      q.processAllAvailable()
      ms.addData(w2: _*)
      q.processAllAvailable()
      val streamed = spark.table("graft_cms")
        .select($"window.start", $"row", $"bucket", $"cnt")
        .collect()
        .map(r => (r.getTimestamp(0).toString, r.getLong(1), r.getLong(2)) -> r.getLong(3))
        .toMap
      def batchGrid(rows: Seq[(Long, String, Timestamp)], start: String) =
        graft.operators.Sketch.cmsSketch(
          rows.toDF("doc_id", "text", "ts"), "text", 3, 16)
          .collect().map(r => (start, r.getLong(0), r.getLong(1)) -> r.getLong(2)).toMap
      assert(streamed == batchGrid(w1, "2026-01-01 10:00:00.0") ++
        batchGrid(w2, "2026-01-01 10:10:00.0"))
    } finally q.stop()
  }

  test("hllSketchStream: window tables merge to the batch whole-corpus estimate") {
    val ms = MemoryStream[(Long, String, String, Timestamp)]
    val out = StreamingOps.hllSketchStream(
      ms.toDF().toDF("doc_id", "source", "text", "ts"), "source", "text", "ts",
      "10 minutes", "10 minutes", n = 2, p = 4)
    val q = out.writeStream.format("memory").queryName("graft_hll")
      .outputMode("complete").start()
    try {
      val rows = Seq(
        (0L, "a", "spark join plan scan", Timestamp.valueOf("2026-01-01 10:01:00")),
        (1L, "a", "join plan scan filter", Timestamp.valueOf("2026-01-01 10:12:00")),
        (2L, "a", "spark join plan scan", Timestamp.valueOf("2026-01-01 10:13:00")))
      ms.addData(rows: _*)
      q.processAllAvailable()
      // merge the per-window tables (duplicate shingles across windows —
      // max is idempotent, so re-seen values cannot inflate the estimate)
      val merged = graft.operators.Sketch.hllMerge("source",
        spark.table("graft_hll").select($"source", $"bucket", $"maxrho"))
      val est = graft.operators.Sketch.hllEstimateFrom(merged, "source", 4)
        .collect().map(r => r.getString(0) -> r.getDouble(1)).toMap
      val batch = graft.operators.Sketch.hllDistinct(
        graft.operators.Dedup.shingleSet(
          rows.toDF("doc_id", "source", "text", "ts"), "source", "text", 2)
          .toDF("source", "shingle"),
        "source", "shingle", 4)
        .collect().map(r => r.getString(0) -> r.getDouble(1)).toMap
      assert(est == batch)
    } finally q.stop()
  }

  test("bloomContaminationStream: narrow stateless probe == batch flags") {
    val ms = MemoryStream[(Long, String)]
    val eval = Seq((100L, "secret benchmark answer string onetwo"))
      .toDF("doc_id", "text")
    val bank = graft.operators.Sketch.bloomBank(spark, eval, "doc_id", "text",
      n = 3, k = 2, nBits = 1 << 14)
    val out = StreamingOps.bloomContaminationStream(
      ms.toDF().toDF("doc_id", "text"), bank, "doc_id", "text", n = 3)
    val q = out.writeStream.format("memory").queryName("graft_bloom")
      .outputMode("append").start()
    try {
      val docs = Seq(
        (0L, "leaked copy of the secret benchmark answer string"),
        (1L, "perfectly ordinary training document text here"))
      ms.addData(docs.take(1): _*)
      q.processAllAvailable()
      ms.addData(docs.drop(1): _*)
      q.processAllAvailable()
      val streamed = spark.table("graft_bloom")
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      val batch = graft.operators.Sketch.bloomContamination(
        docs.toDF("doc_id", "text"), bank, "doc_id", "text", n = 3)
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      assert(streamed == batch)
      assert(streamed.contains(0L))
    } finally q.stop()
  }

  test("ivfPqAppendSink: streamed micro-batches == full batch rebuild") {
    val e = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    val pStream = java.nio.file.Files.createTempDirectory("graft_sink_idx").toString
    val pFull = java.nio.file.Files.createTempDirectory("graft_sink_full").toString
    // quantizers come from the first-16 rows, present in the seed build,
    // so streamed appends must reproduce the full build bit-for-bit
    graft.operators.VectorIndex.writeIvfPq(e.filter($"vec_id" < 250),
      "vec_id", "embedding", 16, 8, 16, pStream)
    graft.operators.VectorIndex.writeIvfPq(e, "vec_id", "embedding",
      16, 8, 16, pFull)
    val rest = e.filter($"vec_id" >= 250)
      .collect().map(r => (r.getLong(0), r.getSeq[Float](1)))
    val (b1, b2) = rest.partition(_._1 < 380)
    val ms = MemoryStream[(Long, Seq[Float])]
    val ckpt = java.nio.file.Files.createTempDirectory("graft_sink_ckpt").toString
    val q = StreamingOps.ivfPqAppendSink(
        ms.toDF().toDF("vec_id", "embedding"), "vec_id", "embedding", pStream)
      .option("checkpointLocation", ckpt).start()
    try {
      ms.addData(b1.toSeq); q.processAllAvailable()
      ms.addData(b2.toSeq); q.processAllAvailable()
    } finally q.stop()
    val queries = e.filter($"vec_id" < 8)
      .select($"vec_id".as("qid"), $"embedding".as("qv"))
    def res(p: String) = graft.operators.VectorIndex
      .search(spark, queries, "qid", "qv", p, 4, 5)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2), r.getDouble(3))).toSet
    val streamed = res(pStream)
    assert(streamed == res(pFull))
    assert(streamed.nonEmpty)
  }

  test("idempotentAppend: completed replays no-op; crashed attempts clean up first") {
    val e = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    val path = java.nio.file.Files.createTempDirectory("graft_idem").toString
    graft.operators.VectorIndex.writeIvfPq(e.filter($"vec_id" < 400),
      "vec_id", "embedding", 16, 8, 16, path)
    def codes = spark.read.parquet(s"$path/codes")
    val b7 = e.filter($"vec_id" >= 400)
    StreamingOps.idempotentAppend(b7, "vec_id", "embedding", path, 7L)
    assert(codes.count() == 500)
    // a COMPLETED batch redelivered after restart: must be a no-op
    StreamingOps.idempotentAppend(b7, "vec_id", "embedding", path, 7L)
    assert(codes.count() == 500)
    // a CRASHED attempt: half of batch 8 landed, started marker written,
    // done marker never reached — the retry must remove the partial copy
    // before re-appending, leaving every id exactly once
    val b8 = e.filter($"vec_id" >= 400)
      .select(($"vec_id" + 1000L).as("vec_id"), $"embedding")
    graft.operators.VectorIndex.append(
      b8.filter($"vec_id" < 1450), "vec_id", "embedding", path)
    val fs = new org.apache.hadoop.fs.Path(path)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    fs.mkdirs(new org.apache.hadoop.fs.Path(s"$path/ingest_log"))
    fs.create(new org.apache.hadoop.fs.Path(s"$path/ingest_log/started-8"), true).close()
    StreamingOps.idempotentAppend(b8, "vec_id", "embedding", path, 8L)
    assert(codes.count() == 600)
    assert(codes.groupBy($"id").count().agg(max($"count")).head().getLong(0) == 1L,
      "no id may appear twice after a crash-replay")
    assert(fs.exists(new org.apache.hadoop.fs.Path(s"$path/ingest_log/done-8")))
  }

  test("dedupIngestSink: batch + corpus dups audited, clean rows self-accumulate") {
    val table = "graft_stream_dedup"
    val dups = java.nio.file.Files.createTempDirectory("graft_sink_dups").toString + "/pairs"
    val corpus = Seq(
      (1L, "alpha beta gamma delta epsilon zeta"),
      (2L, "one two three four five six")).toDF("doc_id", "text")
    graft.operators.DedupIndex.writeMinhash(corpus, "doc_id", "text",
      table = table, numBuckets = 4)
    val ms = MemoryStream[(Long, String)]
    val ckpt = java.nio.file.Files.createTempDirectory("graft_dedup_ckpt").toString
    val q = StreamingOps.dedupIngestSink(ms.toDF().toDF("doc_id", "text"),
        "doc_id", "text", table, threshold = 0.5, dupsPath = dups,
        numBuckets = 4)
      .option("checkpointLocation", ckpt).start()
    try {
      ms.addData(
        (10L, "alpha beta gamma delta epsilon zeta"), // dup of corpus 1
        (11L, "red orange yellow green blue purple"), // new → admitted
        (12L, "red orange yellow green blue purple"), // in-batch dup of 11
        (13L, "cat dog bird fish mouse horse"))       // new → admitted
      q.processAllAvailable()
      // self-accumulation: 11 was admitted last batch, so its copy is a
      // CORPUS dup now, even though the base index never saw it
      ms.addData(
        (20L, "red orange yellow green blue purple"),
        (21L, "mercury venus earth mars jupiter saturn"))
      q.processAllAvailable()
    } finally q.stop()
    val audited = spark.read.parquet(dups)
      .select($"doc_id", $"dup_of", $"scope")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getString(2))).toSet
    assert(audited == Set(
      (10L, 1L, "corpus"), (12L, 11L, "batch"), (20L, 11L, "corpus")))
    val indexed = spark.table(s"${table}_sigs")
      .select($"doc_id").collect().map(_.getLong(0)).toSet
    assert(indexed == Set(1L, 2L, 11L, 13L, 21L))
  }

  test("dedupIngestBatch replay after a crash mid-batch: no self-pairs, index lands once") {
    val table = "graft_stream_dedup_replay"
    val dups = java.nio.file.Files.createTempDirectory("graft_replay_dups").toString + "/pairs"
    val corpus = Seq(
      (1L, "alpha beta gamma delta epsilon zeta"),
      (2L, "one two three four five six")).toDF("doc_id", "text")
    graft.operators.DedupIndex.writeMinhash(corpus, "doc_id", "text",
      table = table, numBuckets = 4)
    val batch = Seq(
      (10L, "red orange yellow green blue purple"),
      (11L, "cat dog bird fish mouse horse")).toDF("doc_id", "text")
    // simulate a first attempt that crashed AFTER appending the batch to
    // the index but BEFORE the done marker: the index holds the batch,
    // only `started-0` exists
    graft.operators.DedupIndex.appendBatch(spark, batch, "doc_id", "text",
      table, numBuckets = 4)
    val log = new org.apache.hadoop.fs.Path(s"${dups}_ingest_log")
    val fs = log.getFileSystem(spark.sparkContext.hadoopConfiguration)
    fs.mkdirs(log)
    fs.create(new org.apache.hadoop.fs.Path(log, "started-0"), true).close()
    // the redelivered batch must scrub its own half-landed copy first —
    // a naive re-run would match every doc against its own corpus
    // signature (est_jaccard = 1.0) and audit the whole batch as
    // corpus duplicates of themselves
    StreamingOps.dedupIngestBatch(batch, 0L, "doc_id", "text", table,
      threshold = 0.5, dupsPath = dups, numBuckets = 4)
    val audited = spark.read.parquet(dups)
      .select($"doc_id", $"dup_of").collect()
      .map(r => (r.getLong(0), r.getLong(1)))
    assert(audited.isEmpty, s"genuinely-new docs must audit clean: ${audited.toSeq}")
    val indexed = spark.table(s"${table}_sigs")
      .filter($"doc_id" >= 10L).groupBy($"doc_id").count()
      .collect().map(r => (r.getLong(0), r.getLong(1))).toMap
    assert(indexed == Map(10L -> 1L, 11L -> 1L),
      s"each batch doc must land in the index exactly once: $indexed")
    // a replay AFTER completion (done marker present) is a pure no-op
    StreamingOps.dedupIngestBatch(batch, 0L, "doc_id", "text", table,
      threshold = 0.5, dupsPath = dups, numBuckets = 4)
    assert(spark.read.parquet(dups).count() == 0L)
    assert(spark.table(s"${table}_sigs").filter($"doc_id" >= 10L).count() == 2L)
  }

  test("dedupIngestBatch replay after a crash past its audit write: each pair audited once") {
    val table = "graft_stream_dedup_audit_replay"
    val dups = java.nio.file.Files.createTempDirectory("graft_audit_dups").toString + "/pairs"
    val corpus = Seq(
      (1L, "alpha beta gamma delta epsilon zeta"),
      (2L, "one two three four five six")).toDF("doc_id", "text")
    graft.operators.DedupIndex.writeMinhash(corpus, "doc_id", "text",
      table = table, numBuckets = 4)
    def run(batch: org.apache.spark.sql.DataFrame, id: Long): Unit =
      StreamingOps.dedupIngestBatch(batch, id, "doc_id", "text", table,
        threshold = 0.5, dupsPath = dups, numBuckets = 4)
    // an earlier, completed batch: its audit row must survive the scrub
    run(Seq((5L, "alpha beta gamma delta epsilon zeta")).toDF("doc_id", "text"), 0L)
    val batch = Seq(
      (10L, "one two three four five six"),          // corpus dup of 2
      (11L, "red orange yellow green blue purple"),  // new
      (12L, "red orange yellow green blue purple"))  // in-batch dup of 11
      .toDF("doc_id", "text")
    run(batch, 1L)
    // crash state: the audit landed, the index append and done-1 did not
    graft.operators.DedupIndex.removeIds(spark, table, batch.select($"doc_id"),
      "doc_id", numBuckets = 4)
    val log = new org.apache.hadoop.fs.Path(s"${dups}_ingest_log")
    val fs = log.getFileSystem(spark.sparkContext.hadoopConfiguration)
    fs.delete(new org.apache.hadoop.fs.Path(log, "done-1"), false)
    assert(fs.exists(new org.apache.hadoop.fs.Path(log, "started-1")))
    run(batch, 1L)
    val audited = spark.read.parquet(dups).select($"doc_id", $"dup_of", $"scope")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getString(2))).toSeq
    assert(audited.sorted == Seq((5L, 1L, "corpus"), (10L, 2L, "corpus"), (12L, 11L, "batch")),
      s"each pair must be audited exactly once: $audited")
    val indexed = spark.table(s"${table}_sigs").filter($"doc_id" >= 10L)
      .select($"doc_id").collect().map(_.getLong(0)).sorted.toSeq
    assert(indexed == Seq(11L))
    assert(fs.exists(new org.apache.hadoop.fs.Path(log, "done-1")))
  }

  test("semanticIngestBatch replay after a crash past its audit write: each pair audited once") {
    val path = java.nio.file.Files.createTempDirectory("graft_semaudit_idx").toString
    val dups = java.nio.file.Files.createTempDirectory("graft_semaudit_dups").toString + "/pairs"
    val corpus = Seq(
      (0L, Seq(1f, 0f, 0f, 0f)),
      (1L, Seq(0f, 1f, 0f, 0f)),
      (2L, Seq(0.8f, 0.6f, 0f, 0f)),
      (3L, Seq(0.6f, 0.8f, 0f, 0f))).toDF("vec_id", "embedding")
    graft.operators.VectorIndex.writeIvfPq(corpus, "vec_id", "embedding",
      nCells = 2, m = 2, nCentsPq = 2, path = path, storeVectors = true)
    def run(batch: org.apache.spark.sql.DataFrame, id: Long): Unit =
      StreamingOps.semanticIngestBatch(batch, id, "vec_id", "embedding", path,
        dim = 4, threshold = 0.95, dupsPath = dups, nPlanes = 0, nProbe = 2, k = 8)
    // an earlier, completed batch: its audit row must survive the scrub
    run(Seq((5L, Seq(1f, 0.01f, 0f, 0f))).toDF("vec_id", "embedding"), 0L)
    val batch = Seq(
      (20L, Seq(0.01f, 1f, 0f, 0f)),  // corpus near-copy of 1
      (21L, Seq(0f, 0f, 1f, 0f)),     // new
      (22L, Seq(0f, 0.01f, 1f, 0f)))  // in-batch near-copy of 21
      .toDF("vec_id", "embedding")
    run(batch, 1L)
    // crash state: the audit landed, the index append and done-1 did not
    graft.operators.VectorIndex.delete(spark, path, batch.select($"vec_id"), "vec_id")
    graft.operators.VectorIndex.compact(spark, path)
    val log = new org.apache.hadoop.fs.Path(s"${dups}_ingest_log")
    val fs = log.getFileSystem(spark.sparkContext.hadoopConfiguration)
    fs.delete(new org.apache.hadoop.fs.Path(log, "done-1"), false)
    assert(fs.exists(new org.apache.hadoop.fs.Path(log, "started-1")))
    run(batch, 1L)
    val audited = spark.read.parquet(dups).select($"vec_id", $"dup_of", $"scope")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getString(2))).toSeq
    assert(audited.sorted == Seq((5L, 0L, "corpus"), (20L, 1L, "corpus"), (22L, 21L, "batch")),
      s"each pair must be audited exactly once: $audited")
    val indexed = spark.read.parquet(s"$path/codes").filter($"id" >= 20L)
      .select($"id").collect().map(_.getLong(0)).sorted.toSeq
    assert(indexed == Seq(21L))
    assert(fs.exists(new org.apache.hadoop.fs.Path(log, "done-1")))
  }

  test("semanticIngestSink: batch + corpus semantic dups audited, clean rows self-accumulate") {
    val path = java.nio.file.Files.createTempDirectory("graft_sem_idx").toString
    val dups = java.nio.file.Files.createTempDirectory("graft_sem_dups").toString + "/pairs"
    // rows 2/3 sit off the centroids (a coinciding corpus would be the
    // zero-drift-baseline degenerate case writeWith refuses) and below
    // the 0.95 cosine bar against every batch row
    val corpus = Seq(
      (0L, Seq(1f, 0f, 0f, 0f)),
      (1L, Seq(0f, 1f, 0f, 0f)),
      (2L, Seq(0.8f, 0.6f, 0f, 0f)),
      (3L, Seq(0.6f, 0.8f, 0f, 0f))).toDF("vec_id", "embedding")
    graft.operators.VectorIndex.writeIvfPq(corpus, "vec_id", "embedding",
      nCells = 2, m = 2, nCentsPq = 2, path = path, storeVectors = true)
    val ms = MemoryStream[(Long, Seq[Float])]
    val ckpt = java.nio.file.Files.createTempDirectory("graft_sem_ckpt").toString
    // nPlanes = 0 → the in-batch leg compares all pairs (deterministic
    // for handcrafted vectors); nProbe = 2 probes every cell; k = 8 ≥
    // corpus size, so the EXACT cosine decides every verdict (handmade
    // 4-dim vectors give the tiny PQ books no ordering to speak of)
    val q = StreamingOps.semanticIngestSink(
        ms.toDF().toDF("vec_id", "embedding"), "vec_id", "embedding", path,
        dim = 4, threshold = 0.95, dupsPath = dups, nPlanes = 0,
        nProbe = 2, k = 8)
      .option("checkpointLocation", ckpt).start()
    try {
      ms.addData(
        (10L, Seq(1f, 0.01f, 0f, 0f)),  // near-copy of corpus 0
        (11L, Seq(0f, 0f, 1f, 0f)),     // new direction → admitted
        (12L, Seq(0f, 0.01f, 1f, 0f)))  // in-batch near-copy of 11
      q.processAllAvailable()
      // self-accumulation: 11 was admitted last batch, so its near-copy
      // is a CORPUS dup now even though the base index never saw it
      ms.addData(
        (20L, Seq(0f, 0.02f, 1f, 0f)),
        (21L, Seq(0f, 0f, 0f, 1f)))     // new direction → admitted
      q.processAllAvailable()
    } finally q.stop()
    val audited = spark.read.parquet(dups)
      .select($"vec_id", $"dup_of", $"scope")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getString(2))).toSet
    assert(audited == Set(
      (10L, 0L, "corpus"), (12L, 11L, "batch"), (20L, 11L, "corpus")))
    val indexed = spark.read.parquet(s"$path/codes")
      .select($"id").collect().map(_.getLong(0)).toSet
    assert(indexed == Set(0L, 1L, 2L, 3L, 11L, 21L))
  }

  test("semanticIngestBatch replay after a crash mid-batch: no self-pairs, index lands once") {
    val path = java.nio.file.Files.createTempDirectory("graft_semr_idx").toString
    val dups = java.nio.file.Files.createTempDirectory("graft_semr_dups").toString + "/pairs"
    val corpus = Seq(
      (0L, Seq(1f, 0f, 0f, 0f)),
      (1L, Seq(0f, 1f, 0f, 0f)),
      (2L, Seq(0.8f, 0.6f, 0f, 0f)),
      (3L, Seq(0.6f, 0.8f, 0f, 0f))).toDF("vec_id", "embedding")
    graft.operators.VectorIndex.writeIvfPq(corpus, "vec_id", "embedding",
      nCells = 2, m = 2, nCentsPq = 2, path = path, storeVectors = true)
    val batch = Seq(
      (30L, Seq(0.5f, 0.5f, 0.5f, 0.5f)),
      (31L, Seq(0f, 0f, 0.5f, 0.5f))).toDF("vec_id", "embedding")
    // simulate a first attempt that crashed AFTER the index append but
    // BEFORE the done marker
    graft.operators.VectorIndex.append(batch, "vec_id", "embedding", path)
    val log = new org.apache.hadoop.fs.Path(s"${dups}_ingest_log")
    val fs = log.getFileSystem(spark.sparkContext.hadoopConfiguration)
    fs.mkdirs(log)
    fs.create(new org.apache.hadoop.fs.Path(log, "started-0"), true).close()
    // the replay must tombstone+compact its half-landed copy first — a
    // naive re-run would flag every doc at cosine 1.0 against itself
    StreamingOps.semanticIngestBatch(batch, 0L, "vec_id", "embedding", path,
      dim = 4, threshold = 0.95, dupsPath = dups, nPlanes = 0,
      nProbe = 2, k = 8)
    assert(spark.read.parquet(dups).count() == 0L,
      "genuinely-new rows must audit clean on replay")
    val counts = spark.read.parquet(s"$path/codes")
      .filter($"id" >= 30L).groupBy($"id").count()
      .collect().map(r => (r.getLong(0), r.getLong(1))).toMap
    assert(counts == Map(30L -> 1L, 31L -> 1L),
      s"each batch row must land exactly once: $counts")
    // completed replay (done marker present) is a pure no-op
    StreamingOps.semanticIngestBatch(batch, 0L, "vec_id", "embedding", path,
      dim = 4, threshold = 0.95, dupsPath = dups, nPlanes = 0,
      nProbe = 2, k = 8)
    assert(spark.read.parquet(s"$path/codes").filter($"id" >= 30L).count() == 2L)
  }

  test("bm25IngestBatch replay after a crash mid-batch: postings and stats land once") {
    val path = java.nio.file.Files.createTempDirectory("graft_bm25_replay").toString
    val corpus = Seq(
      (1L, "alpha beta gamma delta epsilon zeta"),
      (2L, "one two three four five six")).toDF("doc_id", "text")
    graft.operators.FullTextIndex.write(corpus, "doc_id", "text", path)
    val batch = Seq(
      (10L, "red orange yellow green blue purple"),
      (11L, "cat dog bird fish mouse horse")).toDF("doc_id", "text")
    // crash simulation: the batch's append landed, the done marker didn't
    graft.operators.FullTextIndex.appendBatch(spark, batch, "doc_id", "text", path)
    val logPath = java.nio.file.Files.createTempDirectory("graft_bm25_log").toString
    val fs = new org.apache.hadoop.fs.Path(logPath)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    fs.create(new org.apache.hadoop.fs.Path(logPath, "started-0"), true).close()
    // the replay must scrub first: a naive re-append would double tf AND
    // the df/n_docs/avgdl partials, silently skewing every later score.
    // The scrub tombstones the half-landed copy (O(batch)); compaction
    // then drops it physically — after which no (doc, token) may remain
    // twice on disk
    StreamingOps.bm25IngestBatch(batch, 0L, "doc_id", "text", path, logPath)
    graft.operators.FullTextIndex.compactPostings(spark, path)
    val postCounts = spark.read.parquet(s"$path/postings")
      .filter($"doc_id" >= 10L).groupBy($"doc_id", $"token_id").count()
      .filter($"count" > 1L).count()
    assert(postCounts == 0L, "no (doc, token) posting may land twice")
    val meta = spark.read.parquet(s"$path/meta")
      .agg(sum($"n_docs")).collect()(0).getLong(0)
    assert(meta == 4L, s"n_docs must read 4 (2 corpus + 2 batch), got $meta")
    // completed replay (done marker) is a pure no-op
    StreamingOps.bm25IngestBatch(batch, 0L, "doc_id", "text", path, logPath)
    assert(spark.read.parquet(s"$path/meta")
      .agg(sum($"n_docs")).collect()(0).getLong(0) == 4L)
  }

  test("bm25IngestBatch replay after a crash mid-APPEND: partial attempt cannot skew stats") {
    // the state that corrupted statistics when appends were three live
    // writes: the crashed attempt landed postings but not df/meta, and
    // the replay scrub subtracted deltas that were never added. With
    // atomic appends the attempt stages under _append + READY and the
    // scrub's reconcile resolves it first — stats stay exact.
    val path = java.nio.file.Files.createTempDirectory("graft_bm25_replay2").toString
    val corpus = Seq(
      (1L, "alpha beta gamma delta epsilon zeta"),
      (2L, "one two three four five six")).toDF("doc_id", "text")
    graft.operators.FullTextIndex.write(corpus, "doc_id", "text", path)
    val batch = Seq(
      (10L, "red orange yellow green blue purple"),
      (11L, "cat dog bird fish mouse horse")).toDF("doc_id", "text")
    // crash simulation: append staged + READY, but only the postings
    // files moved into the live table before the driver died
    val fs = new org.apache.hadoop.fs.Path(path)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    import graft.functions.{K, Kernel}
    val toks = batch
      .select(col("doc_id").cast("long").as("doc_id"),
        Kernel.tokenIds(col("text"), K.MaxLength).as("__tids"))
      .localCheckpoint(true)
    val tf = toks
      .select(col("doc_id"), size(col("__tids")).cast("long").as("__dl"),
        explode(col("__tids")).as("token_id"))
      .groupBy(col("doc_id"), col("token_id"))
      .agg(count(lit(1)).as("tf"), max(col("__dl")).as("dl"))
      .localCheckpoint(true)
    tf.select(col("token_id"), col("doc_id"), col("tf"), col("dl"),
        lit(2L).as("gen"))
      .repartition(col("token_id")).sortWithinPartitions("token_id")
      .write.parquet(s"$path/_append/postings")
    toks.select(col("doc_id"), size(col("__tids")).cast("long").as("dl"),
        array_distinct(col("__tids")).as("tids"), lit(2L).as("gen"))
      .repartition(col("doc_id")).sortWithinPartitions("doc_id")
      .write.parquet(s"$path/_append/docs")
    tf.groupBy(col("token_id")).agg(count(lit(1)).as("df"))
      .write.parquet(s"$path/_append/df")
    toks.agg(count(lit(1)).as("n_docs"),
        sum(size(col("__tids")).cast("long")).as("total_len"))
      .select(col("n_docs"), col("total_len"), lit(2L).as("gen"))
      .coalesce(1).write.parquet(s"$path/_append/meta")
    fs.create(new org.apache.hadoop.fs.Path(s"$path/_append/READY"), true).close()
    fs.listStatus(new org.apache.hadoop.fs.Path(s"$path/_append/postings"))
      .filter(_.getPath.getName.endsWith(".parquet"))
      .foreach(f => fs.rename(f.getPath,
        new org.apache.hadoop.fs.Path(s"$path/postings", f.getPath.getName)))
    val logPath = java.nio.file.Files.createTempDirectory("graft_bm25_log2").toString
    val logFs = new org.apache.hadoop.fs.Path(logPath)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    logFs.create(new org.apache.hadoop.fs.Path(logPath, "started-0"), true).close()
    StreamingOps.bm25IngestBatch(batch, 0L, "doc_id", "text", path, logPath)
    graft.operators.FullTextIndex.compactPostings(spark, path)
    val postCounts = spark.read.parquet(s"$path/postings")
      .filter($"doc_id" >= 10L).groupBy($"doc_id", $"token_id").count()
      .filter($"count" > 1L).count()
    assert(postCounts == 0L, "no (doc, token) posting may land twice")
    assert(spark.read.parquet(s"$path/meta")
      .agg(sum($"n_docs")).collect()(0).getLong(0) == 4L,
      "df/n_docs must count the replayed batch exactly once")
    // the advised corruption mode: served postings whose token df was
    // never added (or was scrub-subtracted below its true count)
    val underCounted = spark.read.parquet(s"$path/postings")
      .select($"token_id").distinct()
      .join(spark.read.parquet(s"$path/df")
        .groupBy($"token_id").agg(sum($"df").as("df")).filter($"df" > 0L),
        Seq("token_id"), "left_anti").count()
    assert(underCounted == 0L,
      "every served posting's token must carry a positive summed df")
  }

  test("packStream: micro-batch splits == batch greedy packing on in-order ids") {
    val docsDf = graft.operators.TextAnalysis
      .tokenCounts(spark.read.parquet("/root/testdata/sf0.01/documents.parquet"),
        "doc_id", "text")
      .select(col("doc_id"), col("ws_tokens"))
    val rows = docsDf.collect().map(r => (r.getLong(0), r.getLong(1))).sortBy(_._1)
    // split at an arbitrary boundary: the recurrence must carry the
    // (pack, used) state across the batch seam
    val (b1, b2) = rows.partition(_._1 < 180)
    val ms = MemoryStream[(Long, Long)]
    val out = StreamingOps.packStream(
      ms.toDF().toDF("doc_id", "ws_tokens"), "doc_id", "ws_tokens",
      budget = 256L, nShards = 8)
    val q = out.writeStream.format("memory").queryName("graft_pack")
      .outputMode("append").start()
    try {
      ms.addData(b1.toSeq); q.processAllAvailable()
      ms.addData(b2.toSeq); q.processAllAvailable()
      val streamed = spark.table("graft_pack").collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3))).toSet
      val batch = graft.operators.Sampling
        .packGreedyFirstFit(docsDf, "doc_id", "ws_tokens", 256L, 8)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3))).toSet
      assert(streamed == batch)
      assert(streamed.nonEmpty)
    } finally q.stop()
  }

  test("packStream: per-shard state survives a checkpointed restart") {
    val docsDf = graft.operators.TextAnalysis
      .tokenCounts(spark.read.parquet("/root/testdata/sf0.01/documents.parquet"),
        "doc_id", "text")
      .select(col("doc_id"), col("ws_tokens"))
    val rows = docsDf.collect().map(r => (r.getLong(0), r.getLong(1))).sortBy(_._1)
    val (b1, b2) = rows.partition(_._1 < 180)
    val ms = MemoryStream[(Long, Long)]
    val out = StreamingOps.packStream(
      ms.toDF().toDF("doc_id", "ws_tokens"), "doc_id", "ws_tokens",
      budget = 256L, nShards = 8)
    val ckpt = java.nio.file.Files.createTempDirectory("graft_pack_ckpt").toString
    val buf = scala.collection.mutable.ArrayBuffer.empty[(Long, Long, Long, Long)]
    def start() = out.writeStream
      .foreachBatch { (b: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row], _: Long) =>
        buf.synchronized {
          buf ++= b.collect().map(r =>
            (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
        }
        ()
      }
      .option("checkpointLocation", ckpt).start()
    val q1 = start()
    try { ms.addData(b1.toSeq); q1.processAllAvailable() } finally q1.stop()
    // a NEW query from the same checkpoint: the (pack, used) state must
    // recover from the state store, not restart at (0, 0)
    val q2 = start()
    try { ms.addData(b2.toSeq); q2.processAllAvailable() } finally q2.stop()
    val batch = graft.operators.Sampling
      .packGreedyFirstFit(docsDf, "doc_id", "ws_tokens", 256L, 8)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3))).toSet
    assert(buf.toSet == batch,
      "restarted stream must continue the recurrence where batch 1 left it")
  }

  test("driftScoreStream: per-window drift == batch driftScore on the same rows") {
    val e = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    val path = java.nio.file.Files.createTempDirectory("graft_driftstream").toString
    graft.operators.VectorIndex.writeIvfPq(e, "vec_id", "embedding",
      nCells = 16, m = 8, nCentsPq = 16, path = path)
    // window A: the build distribution (drift must read exactly 1.0);
    // window B: the same rows shifted x·2+1 — both materialized ONCE so
    // the streamed and batch sides see bit-identical vectors
    val base = e.collect().map(_.getSeq[Float](1).map(_.toDouble))
    val shifted = base.map(_.map(x => x * 2.0 + 1.0))
    val tA = Timestamp.valueOf("2026-01-01 10:00:30")
    val tB = Timestamp.valueOf("2026-01-01 10:01:30")
    val ms = MemoryStream[(Timestamp, Seq[Double])]
    val out = StreamingOps.driftScoreStream(
      ms.toDF().toDF("ts", "embedding"), "embedding", "ts",
      watermark = "10 seconds", windowLen = "1 minute", indexPath = path)
    val q = out.writeStream.format("memory").queryName("graft_drift_win")
      .outputMode("complete").start()
    try {
      ms.addData(base.map(v => (tA, v.toSeq)).toSeq)
      q.processAllAvailable()
      ms.addData(shifted.map(v => (tB, v.toSeq)).toSeq)
      q.processAllAvailable()
      val byStart = spark.table("graft_drift_win")
        .select($"window.start", $"drift")
        .collect().map(r => (r.getTimestamp(0), r.getDouble(1))).toMap
      val batchA = graft.operators.VectorIndex.driftScore(spark,
        base.map(v => Tuple1(v.toSeq)).toSeq.toDF("embedding"), "embedding", path)
      val batchB = graft.operators.VectorIndex.driftScore(spark,
        shifted.map(v => Tuple1(v.toSeq)).toSeq.toDF("embedding"), "embedding", path)
      assert(byStart(Timestamp.valueOf("2026-01-01 10:00:00")) == batchA)
      assert(byStart(Timestamp.valueOf("2026-01-01 10:01:00")) == batchB)
      assert(batchA == 1.0, s"build distribution must read exactly 1.0, got $batchA")
      assert(batchB > 1.5, s"the shifted window must read as drifted, got $batchB")
    } finally q.stop()
  }

  test("qualityStatsStream windows finalize with correct aggregates") {
    val ms = MemoryStream[(Long, String, Timestamp)]
    val out = StreamingOps.qualityStatsStream(
      ms.toDF().toDF("doc_id", "text", "ts"), "text", "ts", "1 minute", "5 minutes")
    val q = out.writeStream.format("memory").queryName("graft_stats")
      .outputMode("complete").start()
    try {
      ms.addData(
        (0L, "one two three", Timestamp.valueOf("2026-01-01 10:01:00")),
        (1L, "four five", Timestamp.valueOf("2026-01-01 10:02:00")),
        (2L, "six", Timestamp.valueOf("2026-01-01 10:07:00")))
      q.processAllAvailable()
      val rows = spark.table("graft_stats")
        .select($"n_docs", $"total_words", $"min_words", $"max_words")
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3))).toSet
      assert(rows == Set((2L, 5L, 2L, 3L), (1L, 1L, 1L, 1L)))
    } finally q.stop()
  }

  test("a completed batch id replays as a no-op through all four marker-logged bodies") {
    def tmp(prefix: String) = java.nio.file.Files.createTempDirectory(prefix).toString
    val e = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    val text = Seq(
      (1L, "alpha beta gamma delta epsilon zeta"),
      (2L, "one two three four five six")).toDF("doc_id", "text")
    // doc 10 duplicates corpus doc 1 and vector 10 nearly copies corpus
    // vector 0, so both audit outputs are non-empty after the first run
    val textBatch = Seq(
      (10L, "alpha beta gamma delta epsilon zeta"),
      (11L, "cat dog bird fish mouse horse")).toDF("doc_id", "text")
    val vecCorpus = Seq(
      (0L, Seq(1f, 0f, 0f, 0f)), (1L, Seq(0f, 1f, 0f, 0f)),
      (2L, Seq(0.8f, 0.6f, 0f, 0f)), (3L, Seq(0.6f, 0.8f, 0f, 0f)))
      .toDF("vec_id", "embedding")
    val vecBatch = Seq(
      (10L, Seq(1f, 0.01f, 0f, 0f)), (11L, Seq(0f, 0f, 1f, 0f)))
      .toDF("vec_id", "embedding")

    val pAppend = tmp("graft_noop_ivf")
    graft.operators.VectorIndex.writeIvfPq(e.filter($"vec_id" < 400),
      "vec_id", "embedding", 16, 8, 16, pAppend)
    val pBm25 = tmp("graft_noop_bm25")
    val bm25Log = tmp("graft_noop_bm25_log")
    graft.operators.FullTextIndex.write(text, "doc_id", "text", pBm25)
    val table = "graft_stream_noop_replay"
    val dedupDups = tmp("graft_noop_dedup") + "/pairs"
    graft.operators.DedupIndex.writeMinhash(text, "doc_id", "text",
      table = table, numBuckets = 4)
    val pSem = tmp("graft_noop_sem")
    val semDups = tmp("graft_noop_semdups") + "/pairs"
    graft.operators.VectorIndex.writeIvfPq(vecCorpus, "vec_id", "embedding",
      nCells = 2, m = 2, nCentsPq = 2, path = pSem, storeVectors = true)

    def runBatch3(): Unit = {
      StreamingOps.idempotentAppend(e.filter($"vec_id" >= 400),
        "vec_id", "embedding", pAppend, 3L)
      StreamingOps.bm25IngestBatch(textBatch, 3L, "doc_id", "text", pBm25, bm25Log)
      StreamingOps.dedupIngestBatch(textBatch, 3L, "doc_id", "text", table,
        threshold = 0.5, dupsPath = dedupDups, numBuckets = 4)
      StreamingOps.semanticIngestBatch(vecBatch, 3L, "vec_id", "embedding", pSem,
        dim = 4, threshold = 0.95, dupsPath = semDups, nPlanes = 0,
        nProbe = 2, k = 8)
    }
    val wh = spark.conf.get("spark.sql.warehouse.dir")
    val dirs = Seq(pAppend, pBm25, pSem, dedupDups, semDups) ++
      Seq("sigs", "bands", "meta").map(t => s"$wh/${table}_$t")
    // every file of every index and audit output: name, size, mtime
    def files(): Map[String, Set[(String, Long, Long)]] = dirs.map { d =>
      val root = new org.apache.hadoop.fs.Path(d)
      val it = root.getFileSystem(spark.sparkContext.hadoopConfiguration)
        .listFiles(root, true)
      val out = Set.newBuilder[(String, Long, Long)]
      while (it.hasNext) {
        val f = it.next()
        out += ((f.getPath.toString, f.getLen, f.getModificationTime))
      }
      d -> out.result()
    }.toMap
    def rows(): Seq[Set[String]] = Seq(
      spark.read.parquet(s"$pAppend/codes"), spark.read.parquet(s"$pSem/codes"),
      spark.read.parquet(s"$pBm25/postings"), spark.read.parquet(s"$pBm25/meta"),
      spark.table(s"${table}_sigs"), spark.read.parquet(dedupDups),
      spark.read.parquet(semDups)).map(_.collect().map(_.toString).toSet)

    runBatch3()
    val (files1, rows1) = (files(), rows())
    assert(rows1(5).nonEmpty && rows1(6).nonEmpty, "both audits must hold a duplicate")
    runBatch3() // the same batch id again: every done-<3> marker exists
    assert(files() == files1, "a completed replay must not touch any file")
    assert(rows() == rows1)
  }
}
