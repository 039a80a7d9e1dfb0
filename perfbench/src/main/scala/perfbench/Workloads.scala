package perfbench

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._

import graft.Graft
import graft.operators.{Dedup, DedupIndex, FullText, FullTextIndex, Similarity, TokenizerTrain, VectorIndex}
import graft.streaming.StreamingOps

/** What a workload runs against: the session, the tracer, a private
  * work directory that the run deletes when it ends, the input seed and
  * the run's `--seconds`. */
final class Ctx(val spark: SparkSession, val tracer: Tracer, val work: String, val seed: Long,
                val seconds: Int)

final case class Check(name: String, ok: Boolean, detail: String)

/** One workload. The harness calls, in order: `prepare` (writes the
  * generated inputs; not part of set-up time), `warmup`, `build` for each
  * set-up repetition, `start`, then `op` for each of the [[ops]] timed
  * operations, then `finish` and `checks`. */
abstract class Workload(val ctx: Ctx) {
  protected def spark: SparkSession = ctx.spark
  protected def T: Tracer = ctx.tracer
  protected def dir(name: String): String = s"${ctx.work}/$name"

  def manifest: Manifest
  def prepare(): Unit
  def warmup(): Unit = ()
  /** Set-up repetitions of `build`; set-up time takes their median. */
  def buildReps: Int = 0
  def build(rep: Int): Unit = ()
  def start(): Unit = ()
  /** Timed operations per second of `--seconds`: about the rate at which
    * the workload ran on a 4-core machine when the benchmark was set up. */
  protected def opsPerSecond: Double
  /** Timed operations of a run. Fixed by `--seconds` alone, so the number
    * of samples does not change with the speed being measured. */
  final def ops: Int = math.max(1, math.round(ctx.seconds * opsPerSecond).toInt)
  /** Runs operation `i` and returns the number of items it completed. */
  def op(i: Int): Long
  def finish(): Unit = ()
  def checks(): Seq[Check]
  /** Extra figures for the artifact (e.g. recall). */
  def extra: Seq[(String, Double)] = Nil

  protected def docsDf(ds: Array[Doc]): DataFrame = {
    val s = spark
    import s.implicits._
    ds.toSeq.map(d => (d.id, d.text)).toDF("doc_id", "text")
  }

  protected def vecsDf(vs: Array[Vec], idCol: String = "id", vecCol: String = "vec"): DataFrame = {
    val s = spark
    import s.implicits._
    vs.toSeq.map(v => (v.id, v.vec)).toDF(idCol, vecCol)
  }

  protected def writeParquet(df: DataFrame, name: String): DataFrame = {
    df.write.parquet(dir(name))
    spark.read.parquet(dir(name))
  }

  protected def noop(df: DataFrame): Unit = df.write.format("noop").mode("overwrite").save()
}

object Workload {
  val Names: Seq[String] = Seq("embed", "ingest", "curate")

  def apply(name: String, ctx: Ctx): Workload = name match {
    case "embed" => new EmbedWorkload(ctx)
    case "ingest" => new IngestWorkload(ctx)
    case "curate" => new CurateWorkload(ctx)
  }

  def sameBits(a: Seq[Double], b: Seq[Double]): Boolean =
    a.length == b.length && a.indices.forall(i =>
      java.lang.Double.doubleToLongBits(a(i)) == java.lang.Double.doubleToLongBits(b(i)))
}

/** `embed`: a seeded corpus cut into chunks; one operation runs each of the
  * four embedding routes over one chunk and materializes every output
  * column. Items are documents embedded (a document counts once per route). */
final class EmbedWorkload(ctx: Ctx) extends Workload(ctx) {
  val Chunks = 6
  val ChunkDocs = 500
  val WarmupOps = 4
  val RerankQuery = "what is spark stream join"
  private val docs = Inputs.docs(ctx.seed, "embed", Chunks * ChunkDocs)
  protected def opsPerSecond: Double = 1.5

  def manifest: Manifest = Manifest(ctx.seed, Seq("docs" -> docs.length.toLong,
    "chunks" -> Chunks.toLong), new Inputs.Hasher().docs(docs).str(RerankQuery).hex)

  private val routes: Seq[(String, DataFrame => DataFrame)] = Seq(
    "textEmbeddingLearned" -> (d => Graft.textEmbeddingLearned(d, "doc_id", "text")),
    "sparseTextEmbeddingWeighted" -> (d => Graft.sparseTextEmbeddingWeighted(d, "doc_id", "text")),
    "bgem3Embedding" -> (d => Graft.bgem3Embedding(d, "doc_id", "text")),
    "textRerankLearned" -> (d => Graft.textRerankLearned(d, "doc_id", "text", RerankQuery)))

  private var chunks: Array[DataFrame] = Array.empty

  def prepare(): Unit = {
    // one file per core in each chunk, so a route over a chunk runs on
    // every core
    val cpus = spark.sparkContext.defaultParallelism
    chunks = Array.tabulate(Chunks) { c =>
      writeParquet(docsDf(docs.slice(c * ChunkDocs, (c + 1) * ChunkDocs)).repartition(cpus), s"docs/$c")
    }
  }

  override def warmup(): Unit = (0 until WarmupOps).foreach(i => op(Chunks - 1 - i))

  def op(i: Int): Long = {
    val chunk = chunks(i % Chunks)
    routes.foreach { case (name, route) => T.span("embedders", name)(noop(route(chunk))) }
    ChunkDocs.toLong * routes.length
  }

  def checks(): Seq[Check] = {
    val chunk = chunks(0)
    val ids = docs.take(ChunkDocs).map(_.id).toSet
    val outs = routes.map { case (n, r) => n -> T.span("embedders", n)(r(chunk).collect()) }.toMap
    def perDoc(n: String, rows: Array[Row]) = {
      val got = rows.map(_.getLong(0))
      Check(s"embed.$n.one_row_per_doc", got.length == ids.size && got.toSet == ids,
        s"${got.length} rows, ${got.distinct.length} distinct ids for ${ids.size} docs")
    }
    val dense = outs("textEmbeddingLearned").map(r => r.getLong(0) -> r.getSeq[Double](1)).toMap
    val bgeDense = outs("bgem3Embedding").map(r =>
      r.getLong(0) -> r.getStruct(r.fieldIndex("bgem3")).getSeq[Double](0)).toMap
    def normErr(vs: Iterable[Seq[Double]]) =
      if (vs.isEmpty) 0.0 else vs.map(v => math.abs(math.sqrt(v.map(x => x * x).sum) - 1.0)).max
    // one row per (doc, term) for the exploded sparse route
    val sparseDocs = outs("sparseTextEmbeddingWeighted").map(_.getLong(0)).toSet
    // the driver-side recomputation of a 64-doc sample through the backend
    val bridge = org.apache.spark.sql.graftbridge.Bridge
    val sample = chunk.filter(col("doc_id") < docs(0).id + 64)
      .select(col("doc_id"), slice(bridge.column(graft.functions.BpeIds(
        bridge.expression(col("text")), graft.model.Bpe.fixture)), 1,
        graft.oracle.OracleSql.q95MaxLen).as("tids"))
      .collect().map(r => r.getLong(0) -> r.getSeq[Long](1).toArray).filter(_._2.nonEmpty)
    val recomputed = graft.backend.DecoderLayerBackend.fullModel().embedBatch(sample.map(_._2).toSeq)
    val mismatched = sample.map(_._1).zip(recomputed).count { case (id, v) =>
      !dense.get(id).exists(d => Workload.sameBits(d, v.toSeq)) }
    Seq(perDoc("textEmbeddingLearned", outs("textEmbeddingLearned")),
      perDoc("bgem3Embedding", outs("bgem3Embedding")),
      perDoc("textRerankLearned", outs("textRerankLearned")),
      Check("embed.sparseTextEmbeddingWeighted.every_doc", sparseDocs == ids,
        s"${sparseDocs.size} of ${ids.size} docs have terms"),
      Check("embed.dense_unit_norm", normErr(dense.values) < 1e-4 && normErr(bgeDense.values) < 1e-4,
        f"max |‖v‖−1| ${normErr(dense.values)}%.2e (learned), ${normErr(bgeDense.values)}%.2e (bgem3)"),
      Check("embed.backend_bit_exact", sample.length == 64 && mismatched == 0,
        s"$mismatched of ${sample.length} sampled docs differ from the driver-side embedBatch"))
  }
}

/** `ingest`: three persisted indexes (residual IVF-PQ with stored vectors,
  * BM25, MinHash) over a base slice, fed by seeded micro-batches through a
  * file-source stream while the same indexes serve reads. One operation is
  * one batch: an atomic directory rename, `processAllAvailable` on the
  * ingest query and on a stateful sketch query over the same source, then
  * one probe batch of each serving query kind (a rescored and a filtered
  * search on a freshly loaded handle, a search that opens the index by
  * path, a BM25 top-k). Items are rows ingested: inserts, updates and
  * removals. */
final class IngestWorkload(ctx: Ctx) extends Workload(ctx) {
  val NBase = 1000
  val NewRows = 64
  val UpdRows = 8
  val DelRows = 8
  val DupShare = 0.25
  val ProbeQ = 16
  val K = 10
  /** The documented serving setting for near neighbours (`searchRescored`). */
  val NProbe = 16
  val Overfetch = 16
  val Dim = Inputs.Dim
  /** Bucket count of the MinHash index, sized to the small base corpus. */
  val MinhashBuckets = 8
  protected def opsPerSecond: Double = 0.05
  private val baseDocs = Inputs.docs(ctx.seed, "ingest.docs", NBase)
  private val baseVecs = Inputs.vecs(ctx.seed, "ingest.vecs", NBase)
  private val batches = Inputs.ingestBatches(ctx.seed, baseDocs, baseVecs, ops,
    NewRows, UpdRows, DelRows, DupShare)
  private val probeQ = Inputs.vecQueries(ctx.seed, "ingest.probe", baseVecs, ProbeQ)
  private val probeT = Inputs.textQueries(ctx.seed, "ingest.probe.text", ProbeQ)

  def manifest: Manifest = Manifest(ctx.seed, Seq("base" -> NBase.toLong, "batches" -> ops.toLong,
    "new_per_batch" -> NewRows.toLong, "updates_per_batch" -> UpdRows.toLong,
    "deletes_per_batch" -> DelRows.toLong, "near_dup_permille" -> (DupShare * 1000).toLong,
    "probe_queries" -> ProbeQ.toLong),
    batches.foldLeft(new Inputs.Hasher().docs(baseDocs).vecs(baseVecs).vecs(probeQ).docs(probeT))(
      _.rows(_)).hex)

  private var baseDocsIn: DataFrame = _
  private var baseVecsIn: DataFrame = _
  private var vPath = ""
  private var ftPath = ""
  private var table = ""
  private var probeDf: DataFrame = _
  private var probeTextDf: DataFrame = _
  private var allowed: DataFrame = _
  private var queries: Seq[org.apache.spark.sql.streaming.StreamingQuery] = Nil
  private var processed = 0
  private var recall = Double.NaN
  private def fs = new Path(ctx.work).getFileSystem(spark.sparkContext.hadoopConfiguration)

  def prepare(): Unit = {
    val s = spark
    import s.implicits._
    baseDocsIn = writeParquet(docsDf(baseDocs), "base_docs")
    baseVecsIn = writeParquet(vecsDf(baseVecs, "doc_id", "emb"), "base_vecs")
    // every batch staged in one write, partitioned by batch; the
    // partition directories are the directories the stream sees appear
    batches.zipWithIndex.flatMap { case (rs, b) =>
      rs.map(r => (r.id, r.kind, r.text, r.vec, r.source, new java.sql.Timestamp(r.tsSec * 1000), b))
    }.toSeq.toDF("doc_id", "kind", "text", "emb", "source", "ts", "batch")
      .repartition(col("batch")).write.partitionBy("batch").parquet(dir("staged"))
    fs.mkdirs(new Path(dir("in")))
    probeDf = vecsDf(probeQ, "qid", "qv")
    probeTextDf = docsDf(probeT).toDF("qid", "text")
    // the serving filter: two ids in three
    allowed = baseVecsIn.filter(col("doc_id") % 3 =!= 0).select(col("doc_id"))
  }

  override def buildReps: Int = 3

  override def build(rep: Int): Unit = {
    vPath = dir(s"ivfpq$rep")
    ftPath = dir(s"bm25_$rep")
    table = s"perfbench_minhash_$rep"
    T.span("vector_index.mutate", "writeIvfPq")(VectorIndex.writeIvfPq(baseVecsIn, "doc_id", "emb",
      nCells = VectorIndex.nCellsFor(NBase), m = 8, nCentsPq = 16, path = vPath,
      storeVectors = true, residual = true))
    T.span("fulltext_index.mutate", "write")(FullTextIndex.write(baseDocsIn, "doc_id", "text", ftPath))
    T.span("dedup_index", "writeMinhash")(DedupIndex.writeMinhash(baseDocsIn, "doc_id", "text", table,
      numBuckets = MinhashBuckets))
  }

  private def ingestBatch(rows: DataFrame, batchId: Long): Unit = {
    val batch = rows.localCheckpoint()
    val ins = batch.filter(col("kind") === "new").select("doc_id", "text", "emb")
    val upd = batch.filter(col("kind") === "upd").select("doc_id", "text", "emb")
    val del = batch.filter(col("kind") === "del").select("doc_id")
    T.span("dedup_index", "dedupIngestBatch")(StreamingOps.dedupIngestBatch(ins, batchId, "doc_id", "text",
      table, 0.6, dir("dups_text"), numBuckets = MinhashBuckets))
    T.span("vector_index.mutate", "semanticIngestBatch")(StreamingOps.semanticIngestBatch(ins, batchId,
      "doc_id", "emb", vPath, Dim, 0.98, dir("dups_vec")))
    T.span("fulltext_index.mutate", "bm25IngestBatch")(StreamingOps.bm25IngestBatch(ins, batchId,
      "doc_id", "text", ftPath, dir("bm25_log")))
    T.span("vector_index.mutate", "upsert")(VectorIndex.upsert(upd, "doc_id", "emb", vPath))
    T.span("fulltext_index.mutate", "upsertBatch")(FullTextIndex.upsertBatch(spark, upd, "doc_id", "text", ftPath))
    // removals keep the indexes' default compaction policy (`maybeCompact`
    // with its default thresholds), which never compacts at this corpus
    // size: the probe reads mask the tombstones
    T.span("vector_index.mutate", "delete")(VectorIndex.delete(spark, vPath, del, "doc_id"))
    T.span("fulltext_index.mutate", "removeDocs")(FullTextIndex.removeDocs(spark, del, "doc_id", ftPath))
  }

  override def start(): Unit = {
    val schema = spark.read.parquet(dir("staged")).drop("batch").schema
    val stream = spark.readStream.schema(schema).parquet(s"${dir("in")}/b*")
    val ingest = stream.writeStream.outputMode("append")
      .foreachBatch((rows: org.apache.spark.sql.Dataset[Row], batchId: Long) =>
        if (!rows.isEmpty) ingestBatch(rows.toDF(), batchId))
      .option("checkpointLocation", dir("ckpt_ingest")).start()
    val sketch = StreamingOps.hllSketchStream(stream, "source", "text", "ts", "1 minute",
        "5 minutes", n = 2, p = 6)
      .writeStream.format("noop").outputMode("update")
      .option("checkpointLocation", dir("ckpt_sketch")).start()
    queries = Seq(ingest, sketch)
    queries.foreach(_.processAllAvailable())
  }

  private def rowCount(a: Array[Row]): Long = a.length.toLong

  def op(i: Int): Long = {
    T.ambientSpan("streaming", "micro_batch") {
      require(fs.rename(new Path(dir("staged"), s"batch=$i"), new Path(dir("in"), s"b$i")),
        s"batch $i rename failed")
      queries.foreach(_.processAllAvailable())
    }
    processed = i + 1
    // reads against the indexes the batch just changed
    val idx = T.span("vector_index.search", "load")(VectorIndex.load(spark, vPath))
    T.spanRows("vector_index.search", "searchRescored")(rowCount)(
      VectorIndex.searchRescored(spark, probeDf, "qid", "qv", idx, nProbe = NProbe, k = K,
        overfetch = Overfetch).collect())
    T.spanRows("vector_index.search", "searchFiltered")(rowCount)(
      VectorIndex.searchFiltered(spark, probeDf, "qid", "qv", idx, k = K,
        allowed = allowed, allowedIdCol = "doc_id").collect())
    T.spanRows("vector_index.search", "search")(rowCount)(
      VectorIndex.search(spark, probeDf, "qid", "qv", vPath, k = K).collect())
    T.spanRows("fulltext_index.search", "searchTopK")(rowCount)(
      FullTextIndex.searchTopK(spark, probeTextDf, "qid", "text", ftPath, K).collect())
    batches(i).length
  }

  override def finish(): Unit = queries.foreach(_.stop())

  override def extra: Seq[(String, Double)] = Seq("ann_recall_at_10" -> recall)

  def checks(): Seq[Check] = {
    val rows = batches.take(processed).flatten
    val deleted = rows.filter(_.kind == "del").map(_.id).toSet
    val updated = rows.filter(_.kind == "upd").map(r => r.id -> r).toMap
    val inserted = rows.filter(_.kind == "new")
    def flagged(p: String) =
      if (fs.exists(new Path(dir(p))))
        spark.read.parquet(dir(p)).select("doc_id").collect().map(_.getLong(0)).toSet
      else Set.empty[Long]
    val vecFlagged = flagged("dups_vec")
    val textFlagged = flagged("dups_text")
    val baseIds = baseVecs.map(_.id).toSet
    // vector index: base ∪ admitted ∪ upserted − deleted, each id once
    val codes = spark.read.parquet(s"$vPath/codes").select("id").collect().map(_.getLong(0))
    val tombs =
      if (fs.exists(new Path(s"$vPath/tombstones")))
        spark.read.parquet(s"$vPath/tombstones").select("id").collect().map(_.getLong(0)).toSet
      else Set.empty[Long]
    val admitted = inserted.map(_.id).filterNot(vecFlagged).toSet
    val expectV = (baseIds ++ admitted) -- deleted
    val liveV = codes.filterNot(tombs)
    // MinHash index: base ∪ admitted (this workload removes nothing from it)
    val sigIds = spark.table(s"${table}_sigs").select("doc_id").collect().map(_.getLong(0))
    val expectM = baseIds ++ inserted.map(_.id).filterNot(textFlagged)
    // the expected live corpora, rebuilt from scratch
    val liveVecs = baseVecs.filterNot(v => deleted(v.id)).map(v =>
        updated.get(v.id).map(u => Vec(v.id, u.vec)).getOrElse(v)) ++
      inserted.filter(r => admitted(r.id)).map(r => Vec(r.id, r.vec))
    val (cents, books) = VectorIndex.loadQuantizers(spark, vPath)
    val fresh = dir("fresh_ivfpq")
    VectorIndex.writeWith(vecsDf(liveVecs, "doc_id", "emb"), "doc_id", "emb", cents, books, fresh,
      storeVectors = true, residual = true)
    def vset(p: String) = VectorIndex.search(spark, probeDf, "qid", "qv", p, k = K).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getInt(2), r.getDouble(3))).toSet
    val liveDocs = docsDf(baseDocs.filterNot(d => deleted(d.id)).map(d =>
        updated.get(d.id).map(u => Doc(d.id, u.text)).getOrElse(d)) ++
      inserted.map(r => Doc(r.id, r.text)))
    val freshFt = dir("fresh_bm25")
    FullTextIndex.write(liveDocs, "doc_id", "text", freshFt)
    def tset(df: DataFrame) = df.collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getInt(2), r.getDouble(3))).toSet
    val indexedT = tset(FullTextIndex.searchTopK(spark, probeTextDf, "qid", "text", ftPath, K))
    val vEq = vset(vPath) == vset(fresh)
    val tEq = indexedT == tset(FullTextIndex.searchTopK(spark, probeTextDf, "qid", "text", freshFt, K))
    val tExact = indexedT == tset(FullText.bm25Search(probeTextDf, "qid", "text", liveDocs, "doc_id", "text", K))
    // ANN recall@K of the rescored search against exact search on the driver
    val got = VectorIndex.searchRescored(spark, probeDf, "qid", "qv", VectorIndex.load(spark, vPath),
        nProbe = NProbe, k = K, overfetch = Overfetch)
      .collect().map(r => (r.getLong(0), r.getLong(1))).groupBy(_._1)
      .map { case (q, xs) => q -> xs.map(_._2).toSet }
    val hits = probeQ.map { q =>
      val exact = liveVecs.map(v => v.id -> l2(q.vec, v.vec)).sortBy(x => (x._2, x._1)).take(K).map(_._1).toSet
      (exact intersect got.getOrElse(q.id, Set.empty)).size
    }.sum
    recall = hits.toDouble / (probeQ.length * K)
    Seq(Check("ingest.batches_processed", processed == ops, s"$processed of $ops batches"),
      Check("ingest.vector_ids", liveV.length == liveV.distinct.length && liveV.toSet == expectV,
        s"${liveV.length} live rows (${liveV.distinct.length} distinct) vs ${expectV.size} expected"),
      Check("ingest.minhash_ids", sigIds.length == sigIds.distinct.length && sigIds.toSet == expectM,
        s"${sigIds.length} signatures vs ${expectM.size} expected"),
      Check("ingest.vector_probe_equals_fresh_build", vEq, s"equal=$vEq"),
      Check("ingest.bm25_probe_equals_fresh_build", tEq, s"equal=$tEq"),
      Check("ingest.bm25_indexed_equals_exact", tExact, s"equal=$tExact"),
      Check("ingest.ann_recall_at_10", recall >= RecallFloor,
        f"recall@$K $recall%.4f over ${probeQ.length} queries (floor $RecallFloor)"))
  }

  val RecallFloor = 0.8

  private def l2(a: Array[Float], b: Array[Float]): Double = {
    var s = 0.0
    var j = 0
    while (j < a.length) { val d = a(j).toDouble - b(j).toDouble; s += d * d; j += 1 }
    s
  }
}

/** `curate`: one operation runs the curation chain over the seeded corpus —
  * MinHash near-dup pairs, connected components to the fixpoint, near-dup
  * removal, semantic clusters over the vectors, word counts and batched
  * BPE training. Items are documents curated. */
final class CurateWorkload(ctx: Ctx) extends Workload(ctx) {
  val NDocs = 500
  val NVecs = 500
  val DupShare = 0.2
  val Merges = 16
  val SemanticRounds = 6
  private val docs = Inputs.docs(ctx.seed, "curate.docs", NDocs, dupShare = DupShare)
  private val vecs = Inputs.vecs(ctx.seed, "curate.vecs", NVecs, dupShare = DupShare)

  def manifest: Manifest = Manifest(ctx.seed, Seq("docs" -> NDocs.toLong, "vectors" -> NVecs.toLong,
    "near_dup_permille" -> (DupShare * 1000).toLong, "bpe_merges" -> Merges.toLong),
    new Inputs.Hasher().docs(docs).vecs(vecs).hex)

  private var docsIn: DataFrame = _
  private var vecsIn: DataFrame = _
  private var last: (Array[Row], Array[Row], DataFrame, Seq[(Long, String, String, Long)]) = _
  protected def opsPerSecond: Double = 0.07

  def prepare(): Unit = {
    docsIn = writeParquet(docsDf(docs), "docs")
    vecsIn = writeParquet(vecsDf(vecs), "vecs")
  }

  def op(i: Int): Long = {
    chain(docsIn, vecsIn)
    NDocs
  }

  private def chain(docsIn: DataFrame, vecsIn: DataFrame): Unit = {
    val pairs = T.span("dedup", "minhashNearDups")(
      Dedup.minhashNearDups(docsIn, "doc_id", "text", 0.6).localCheckpoint())
    val labels = T.span("dedup", "duplicateClustersConverged")(
      Dedup.duplicateClustersConverged(pairs).collect())
    val kept = T.span("dedup", "removeNearDups")(
      Dedup.removeNearDups(docsIn, "doc_id", pairs).localCheckpoint())
    T.span("similarity", "semanticClustersAnnAuto")(
      Similarity.semanticClustersAnnAuto(vecsIn, "id", "vec", Inputs.Dim, k = 5,
        iterations = SemanticRounds).collect())
    val wc = T.span("tokenizer_train", "wordCounts")(
      TokenizerTrain.wordCounts(kept, "text").localCheckpoint())
    val merges = T.span("tokenizer_train", "trainBpeMergesBatched")(
      TokenizerTrain.trainBpeMergesBatched(wc, Merges)._1)
    last = (pairs.select("id_a", "id_b").collect(), labels, wc, merges)
  }

  def checks(): Seq[Check] = {
    val (pairs, labels, wc, merges) = last
    // driver-side union-find, min label per component
    val parent = scala.collection.mutable.HashMap.empty[Long, Long]
    def find(x: Long): Long = {
      val p = parent.getOrElseUpdate(x, x)
      if (p == x) x else { val r = find(p); parent(x) = r; r }
    }
    pairs.foreach { r =>
      val (a, b) = (find(r.getLong(0)), find(r.getLong(1)))
      if (a != b) parent(math.max(a, b)) = math.min(a, b)
    }
    val expect = parent.keys.map(x => x -> find(x)).toMap
    val got = labels.map(r => r.getLong(0) -> r.getLong(1)).toMap
    val reference = TokenizerTrain.trainBpeMerges(wc, Merges)
    Seq(Check("curate.cc_labels_equal_union_find", got == expect,
        s"${got.size} labelled ids, ${expect.size} expected, ${pairs.length} pairs"),
      Check("curate.bpe_merges_equal_sequential", merges == reference,
        s"${merges.length} batched merges vs ${reference.length} sequential"))
  }
}
