package graft.streaming

import org.apache.spark.sql.{DataFrame, Dataset, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.DataStreamWriter

import graft.functions.Kernel
import graft.operators.{BatchScope, Dedup, DedupIndex, FullTextIndex, TextEmbedder, VectorIndex}

/** Structured Streaming surface — beyond parity (the reference is
  * strictly batch, SURVEY.md §2.7), but a training-data pipeline ingests
  * continuously. Every narrow operator in this engine (dense/sparse/
  * BGE-M3 embed, simhash, text analysis, the typed-mapPartitions
  * backend) is a per-row column expression and therefore applies to a
  * `readStream` DataFrame unchanged; these helpers name the two
  * streaming-specific shapes that need more than that. */
object StreamingOps {

  /** Embed a streaming corpus: identical plan to the batch path — the
    * pipeline is narrow, so each micro-batch embeds partition-local with
    * no state and no shuffle. */
  def embedStream(stream: DataFrame, textCol: String, outCol: String,
                  embedder: TextEmbedder = TextEmbedder()): DataFrame =
    embedder.embed(stream, textCol, outCol)

  /** Streaming exact dedup: keep the first occurrence per
    * normalized-text hash. State is BOUNDED by the watermark
    * (`dropDuplicatesWithinWatermark`), so at 100 TB/day the state store
    * holds only the horizon's hashes — 16 bytes per distinct doc —
    * instead of growing forever. */
  def dedupExactStream(stream: DataFrame, textCol: String,
                       eventTimeCol: String, watermark: String): DataFrame =
    stream
      .withColumn("text_hash", md5(concat_ws(" ", Kernel.tokens(col(textCol)))))
      .withWatermark(eventTimeCol, watermark)
      .dropDuplicatesWithinWatermark("text_hash")

  /** Streaming SimHash near-dup detection — the custom-state shape
    * (`flatMapGroupsWithState`): per LSH band bucket, each arriving
    * document's signature is compared against the signatures already
    * seen in that bucket's state; pairs within `maxDist` hamming are
    * emitted as (id_a, id_b, hamming) with id_a the earlier-seen doc.
    * A pair can surface from more than one band — dedupe downstream if
    * exact-once pairs matter. State per bucket is the bucket's (id, sig)
    * list, and it is BOUNDED in the operator, not left to the caller:
    *
    *  - `maxPerBucket` keeps only the most recently seen signatures per
    *    bucket (LRU — new docs compare against the freshest members, the
    *    right recency bias for a dedup stream). A bucket pinned at the
    *    cap means a hub signature; raise bits/bands before the cap.
    *  - `stateTtl` (e.g. Some("30 minutes")) additionally expires idle
    *    buckets wholesale via a processing-time timeout, so the store
    *    footprint tracks the active working set instead of the stream's
    *    lifetime.
    *
    * At 100 TB/day both bounds are load-bearing: unbounded per-bucket
    * lists grow with every distinct doc forever. */
  def simhashNearDupStream(stream: DataFrame, idCol: String, textCol: String,
                           bits: Int = 60, bands: Int = 4,
                           maxDist: Int = 3,
                           maxPerBucket: Int = 256,
                           stateTtl: Option[String] = None): DataFrame = {
    import org.apache.spark.sql.streaming.{GroupStateTimeout, OutputMode}
    import org.apache.spark.sql.streaming.GroupState
    val spark = stream.sparkSession
    import spark.implicits._
    val bandBits = bits / bands
    val sigs = graft.operators.Dedup.simhash(stream, idCol, textCol, bits)
    val banded = sigs.select(col(idCol).cast("long"), col("simhash"),
        explode(org.apache.spark.sql.functions.array((0 until bands).map(b =>
          struct(lit(b).as("band"),
            (shiftrightunsigned(col("simhash"), b * bandBits) % lit(1L << bandBits)).as("key"))): _*)).as("bk"))
      .select(col(idCol), col("simhash"), col("bk.band").as("band"), col("bk.key").as("key"))
      .as[(Long, Long, Int, Long)]
    val timeoutConf =
      if (stateTtl.isDefined) GroupStateTimeout.ProcessingTimeTimeout()
      else GroupStateTimeout.NoTimeout()
    banded
      .groupByKey { case (_, _, band, key) => (band, key) }
      .flatMapGroupsWithState[List[(Long, Long)], (Long, Long, Long)](
        OutputMode.Append(), timeoutConf) {
        case (_, rows, state: GroupState[List[(Long, Long)]]) =>
          if (state.hasTimedOut) {
            state.remove() // idle bucket: drop its signature list
            Iterator.empty
          } else {
            var seen = state.getOption.getOrElse(Nil)
            val out = scala.collection.mutable.ListBuffer.empty[(Long, Long, Long)]
            rows.foreach { case (id, sig, _, _) =>
              seen.foreach { case (seenId, seenSig) =>
                if (seenId != id) {
                  val ham = java.lang.Long.bitCount(sig ^ seenSig).toLong
                  if (ham <= maxDist)
                    out += ((math.min(seenId, id), math.max(seenId, id), ham))
                }
              }
              seen = (id, sig) :: seen
            }
            // prepend order = most recent first ⇒ take() is the LRU bound
            state.update(seen.take(maxPerBucket))
            stateTtl.foreach(state.setTimeoutDuration)
            out.iterator
          }
      }
      .toDF("id_a", "id_b", "hamming")
  }

  /** Streaming eval-set decontamination — the continuous form of
    * [[graft.operators.Dedup.contamination]]: flag arriving docs that
    * share ≥ `minShared` word n-gram shingles with any eval doc. The
    * eval side is STATIC (benchmark sets are small by nature): its
    * shingle set is CACHED — Spark re-evaluates the static side of a
    * stream-static join every micro-batch, so without the cache the
    * eval corpus would re-tokenize per batch forever; with it the first
    * batch materializes the shingle set and every later batch reads the
    * cached blocks. Each micro-batch equi-joins it on the shingle id
    * (stream-static join — no stream-side state for the join itself).
    * The per-(doc, eval) shared-shingle count is a
    * watermarked tumbling-window aggregation, so aggregation state
    * holds only the horizon's candidate pairs and windows finalize for
    * append output. Output (window, idCol, eval_id, shared_shingles). */
  def contaminationStream(stream: DataFrame, idCol: String, textCol: String,
                          eventTimeCol: String, watermark: String,
                          windowLen: String,
                          evalDf: DataFrame, evalIdCol: String,
                          evalTextCol: String,
                          n: Int = 3, minShared: Long = 1L): DataFrame = {
    val es = graft.operators.Dedup.shingleSet(evalDf, evalIdCol, evalTextCol, n)
      .select(col(evalIdCol).as("eval_id"), col("shingle"))
      .cache()
    stream
      .withWatermark(eventTimeCol, watermark)
      .select(col(idCol), col(eventTimeCol), Kernel.tokenIds(col(textCol)).as("__tids"))
      .filter(size(col("__tids")) >= n)
      .select(col(idCol), col(eventTimeCol),
        explode(array_distinct(graft.operators.Dedup.shingles(col("__tids"), n))).as("shingle"))
      .join(es, "shingle")
      .groupBy(window(col(eventTimeCol), windowLen), col(idCol), col("eval_id"))
      .agg(count(lit(1)).as("shared_shingles"))
      .filter(col("shared_shingles") >= minShared)
  }

  /** Windowed Count-Min sketch over a document stream: per tumbling
    * window, the same fixed depth×width grid as the batch
    * [[graft.operators.Sketch.cmsSketch]]. Streaming state is
    * windows × d·w cells REGARDLESS of stream volume — the sketch's
    * whole point; finalized windows' grids merge with historical ones
    * via [[graft.operators.Sketch.cmsMerge]] (cell-wise sum). */
  def cmsSketchStream(stream: DataFrame, textCol: String,
                      eventTimeCol: String, watermark: String,
                      windowLen: String, depth: Int, width: Int,
                      maxLength: Int = graft.functions.K.MaxLength): DataFrame =
    stream
      .withWatermark(eventTimeCol, watermark)
      .select(col(eventTimeCol),
        explode(Kernel.tokenIds(col(textCol), maxLength)).as("t"))
      .select(col(eventTimeCol),
        explode(graft.operators.Sketch.cmsCells(col("t"), depth, width)).as("c"))
      .groupBy(window(col(eventTimeCol), windowLen),
        col("c.row").as("row"), col("c.bucket").as("bucket"))
      .agg(count(lit(1)).as("cnt"))

  /** Windowed per-group HLL sketch tables over a document stream: per
    * tumbling window the (group, bucket, maxrho) table of distinct-
    * shingle ranks. State is windows × groups × 2^p rows; finalized
    * windows merge with history via [[graft.operators.Sketch.hllMerge]]
    * (per-bucket max — idempotent, so windows may even overlap) and
    * estimate via [[graft.operators.Sketch.hllEstimateFrom]]. */
  def hllSketchStream(stream: DataFrame, groupCol: String, textCol: String,
                      eventTimeCol: String, watermark: String,
                      windowLen: String, n: Int, p: Int,
                      maxLength: Int = graft.functions.K.MaxLength): DataFrame = {
    val sh = stream
      .withWatermark(eventTimeCol, watermark)
      .select(col(groupCol), col(eventTimeCol),
        Kernel.tokenIds(col(textCol), maxLength).as("__tids"))
      .filter(size(col("__tids")) >= n)
      .select(col(groupCol), col(eventTimeCol),
        explode(array_distinct(graft.operators.Dedup.shingles(col("__tids"), n)))
          .as("shingle"))
    graft.operators.Sketch.hllRows(sh, groupCol, "shingle", p)
      .groupBy(window(col(eventTimeCol), windowLen), col(groupCol), col("bucket"))
      .agg(max(col("rho")).as("maxrho"))
  }

  /** Streaming Bloom decontamination: the bank probe is a NARROW
    * stateless column expression, so the batch operator applies to a
    * micro-batched stream unchanged — each arriving doc is flagged
    * against the broadcast bitset with no state store at all. */
  def bloomContaminationStream(stream: DataFrame,
                               bank: graft.functions.BloomBank,
                               idCol: String, textCol: String,
                               n: Int = 3): DataFrame =
    graft.operators.Sketch.bloomContamination(stream, bank, idCol, textCol, n)

  /** Windowed quality/volume stats over a document stream — watermarked
    * tumbling-window aggregation (late data beyond the watermark is
    * dropped, windows finalize incrementally). */
  def qualityStatsStream(stream: DataFrame, textCol: String,
                         eventTimeCol: String, watermark: String,
                         windowLen: String): DataFrame = {
    val toks = Kernel.tokens(col(textCol))
    stream
      .withColumn("__nw", size(toks).cast("long"))
      .withWatermark(eventTimeCol, watermark)
      .groupBy(window(col(eventTimeCol), windowLen))
      .agg(count(lit(1)).as("n_docs"),
        sum(col("__nw")).as("total_words"),
        min(col("__nw")).as("min_words"),
        max(col("__nw")).as("max_words"))
  }

  /** Continuous sequence packing — [[graft.operators.Sampling
    * .packGreedyFirstFit]]'s recurrence over an ingest stream. Per-shard
    * state is exactly (current pack id, used tokens): TWO longs per
    * shard regardless of stream volume — the smallest state in this
    * module, and it never expires because it IS the recurrence, not a
    * cache of it. Documents pack in ARRIVAL order (micro-batch rows
    * order by id for determinism), so when the stream delivers ids in
    * order the streamed assignment equals the batch operator on the
    * same rows — spec-pinned across a micro-batch split the batch form
    * never sees. Output (idCol, shard, pack, n_tokens) appends as each
    * batch packs; downstream training-shard writers consume it
    * incrementally instead of waiting for a corpus-wide batch pack. */
  def packStream(stream: DataFrame, idCol: String, tokCol: String,
                 budget: Long, nShards: Int): DataFrame = {
    import org.apache.spark.sql.streaming.{GroupStateTimeout, OutputMode}
    import org.apache.spark.sql.streaming.GroupState
    val spark = stream.sparkSession
    import spark.implicits._
    stream
      .select(col(idCol).cast("long"),
        pmod(col(idCol), lit(nShards)).cast("long"),
        col(tokCol).cast("long"))
      .as[(Long, Long, Long)]
      .groupByKey(_._2)
      .flatMapGroupsWithState[(Long, Long), (Long, Long, Long, Long)](
        OutputMode.Append(), GroupStateTimeout.NoTimeout()) {
        case (shard, rows, state: GroupState[(Long, Long)]) =>
          var (pack, used) = state.getOption.getOrElse((0L, 0L))
          val out = rows.toArray.sortBy(_._1).map { case (id, _, tok) =>
            if (used > 0 && used + tok > budget) { pack += 1; used = 0L }
            used += tok
            (id, shard, pack, tok)
          }
          state.update((pack, used))
          out.iterator
      }
      .toDF(idCol, "shard", "pack", "n_tokens")
  }

  /** Continuous drift MONITORING over an embedding stream — the third
    * leg of the drift story: [[graft.operators.VectorIndex.driftScore]]
    * reads one batch on demand (q129), q136 gates the composed retrain
    * RESPONSE, and this keeps the reading flowing per tumbling window so
    * the trigger fires on a cadence instead of ad hoc. Each window
    * aggregates the same fixed-point quantized nearest-cell distance as
    * the batch form (sum of longs — commutative, so the window total is
    * exact regardless of row order or micro-batch seams) over the
    * index's SAVED coarse quantizer, divided by the build-time baseline.
    * State per window is (count, sum): two longs regardless of stream
    * volume; the centroid bank broadcasts once per executor. Windows
    * whose drift sustains above the retrain threshold feed
    * [[graft.operators.VectorIndex.writeIvfPqTrained]] — q136's path.
    * Output (window, n_rows, drift). */
  def driftScoreStream(stream: DataFrame, vecCol: String,
                       eventTimeCol: String, watermark: String,
                       windowLen: String, indexPath: String,
                       scale: Long = 1000000L): DataFrame = {
    val spark = stream.sparkSession
    val (cents, _) = VectorIndex.loadQuantizers(spark, indexPath)
    val baseline = VectorIndex.loadBaseline(spark, indexPath)
    stream
      .withWatermark(eventTimeCol, watermark)
      .select(col(eventTimeCol),
        VectorIndex.cellDistQuantized(spark, col(vecCol), cents, scale).as("__q"))
      .groupBy(window(col(eventTimeCol), windowLen))
      .agg(count(lit(1)).as("n_rows"), sum(col("__q")).as("__s"))
      .select(col("window"), col("n_rows"),
        ((col("__s").cast("double") /
          (col("n_rows") * lit(scale)).cast("double")) / lit(baseline))
          .as("drift"))
  }

  /** Continuous ANN-index maintenance: each micro-batch of (id, vector)
    * rows encodes with the persisted index's SAVED quantizers and
    * appends into its cell partitions ([[graft.operators.VectorIndex
    * .append]]) — the streaming form of the daily-ingest path, shrunk to
    * micro-batch granularity. `foreachBatch` because the sink is a
    * multi-table layout (codes + optional vecs), not one parquet dir;
    * the encode pass is narrow over just the batch, so per-batch cost is
    * O(batch), never O(corpus). Serving sessions see new rows at their
    * next `VectorIndex.load` — the standard snapshot-staleness contract.
    * Caller starts the returned writer (checkpoint location etc. are
    * sink config, exactly as for any streaming sink). */
  def ivfPqAppendSink(stream: DataFrame, idCol: String, vecCol: String,
                      indexPath: String): DataStreamWriter[Row] =
    nonEmptyBatches(stream) { (batch, batchId) =>
      idempotentAppend(batch, idCol, vecCol, indexPath, batchId)
    }

  /** The one `foreachBatch` wrapper behind every sink here: hands each
    * non-empty micro-batch (as a DataFrame) and its id to `body`. */
  private def nonEmptyBatches(stream: DataFrame)(
      body: (DataFrame, Long) => Unit): DataStreamWriter[Row] =
    stream.writeStream.outputMode("append").foreachBatch {
      (rows: Dataset[Row], batchId: Long) =>
        val batch = rows.toDF()
        if (!batch.isEmpty) body(batch, batchId)
    }

  /** The started/done replay-marker protocol shared by the four
    * marker-logged per-batch bodies ([[idempotentAppend]],
    * [[bm25IngestBatch]], [[semanticIngestBatch]], [[dedupIngestBatch]]).
    * foreachBatch is at-least-once: a batch whose writes COMMITTED but
    * whose checkpoint offset didn't is redelivered on restart, and a
    * naive re-run would land every row twice. The markers under `logDir`
    * make the replay effectively exactly-once:
    *
    *  - `done-<batchId>` exists → the batch fully landed: skip.
    *  - `started-<batchId>` without done → a previous attempt crashed
    *    somewhere between its first write and the done marker: run
    *    `scrub` (remove THIS batch's ids from the target — ingest ids
    *    are new by contract, so the scrub cannot touch other rows), then
    *    re-run fresh.
    *  - neither → first attempt: mark started, run `body`, mark done. */
  private def replayMarked(spark: SparkSession, logDir: String,
                           batchId: Long)(scrub: => Unit)(body: => Unit): Unit = {
    val log = new org.apache.hadoop.fs.Path(logDir)
    val fs = log.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val done = new org.apache.hadoop.fs.Path(log, s"done-$batchId")
    if (fs.exists(done)) return
    val started = new org.apache.hadoop.fs.Path(log, s"started-$batchId")
    if (fs.exists(started)) scrub
    fs.mkdirs(log)
    fs.create(started, true).close()
    body
    fs.create(done, true).close()
  }

  /** The replay-safe per-batch body of [[ivfPqAppendSink]]: a naive
    * re-append would put every row in the index twice (two of k top-k
    * slots per duplicate), so it runs under [[replayMarked]]. The scrub
    * tombstones the batch's ids and compacts, physically removing
    * whatever partial copy landed. The markers live inside the index
    * layout (`ingest_log/`), so they travel with it. The micro-batch is
    * coalesced to one partition, so the append writes its cells without
    * a clustering shuffle (one job per index table). */
  def idempotentAppend(batch: DataFrame, idCol: String, vecCol: String,
                       indexPath: String, batchId: Long): Unit = {
    val spark = batch.sparkSession
    val one = batch.coalesce(1)
    replayMarked(spark, s"$indexPath/ingest_log", batchId) {
      VectorIndex.delete(spark, indexPath, one.select(col(idCol)), idCol)
      VectorIndex.compact(spark, indexPath)
    } {
      VectorIndex.append(one, idCol, vecCol, indexPath)
    }
  }

  /** Continuous re-embed maintenance: each micro-batch of (id, NEW
    * vector) rows replaces those ids' entries in a persisted IVF-PQ
    * index via [[graft.operators.VectorIndex.upsert]] — the streaming
    * form of the document-update path (q151). NO marker protocol:
    * upsert is replay-idempotent by construction, because its own first
    * step deletes the batch's ids — whatever a crashed attempt landed
    * (nothing, tombstones, a partial or full append) is swept by the
    * redelivered batch's delete+compact before the single live append.
    * Per-batch cost: O(batch) tombstones + affected-cell rewrites +
    * one narrow encode pass; the pending tombstones are read once per
    * compaction and filter the rewrites as an IN list, and every table
    * read skips schema inference (13 jobs for `VectorIndex.upsert` in
    * `IngestJobCountSpec`). */
  def ivfPqUpsertSink(stream: DataFrame, idCol: String, vecCol: String,
                      indexPath: String): DataStreamWriter[Row] =
    nonEmptyBatches(stream) { (batch, _) =>
      // one partition: the tombstone dedup and the encode need no shuffle
      VectorIndex.upsert(batch.coalesce(1), idCol, vecCol, indexPath)
    }

  /** The lexical twin: micro-batches of re-crawled (id, text) docs
    * replace their versions in a persisted BM25 index via
    * [[graft.operators.FullTextIndex.upsertBatch]] — replay-idempotent
    * for the same reason (removal re-derives its stat deltas from the
    * LIVE forward rows, so a redelivery removes whatever version is
    * present before appending exactly once). Per-batch cost is
    * O(batch) — tombstones + a batch tokenize, never an inverted-file
    * rewrite; run [[graft.operators.FullTextIndex.compactPostings]]
    * periodically to drop the masked rows physically. */
  def bm25UpsertSink(stream: DataFrame, idCol: String, textCol: String,
                     indexPath: String): DataStreamWriter[Row] =
    nonEmptyBatches(stream) { (batch, _) =>
      // one partition: the removal's id dedup needs no shuffle
      FullTextIndex.upsertBatch(batch.sparkSession, batch.coalesce(1), idCol, textCol,
        indexPath)
    }

  /** Continuous statistics maintenance: each micro-batch folds its own
    * fixed-size CMS partial grid into a persisted
    * [[graft.operators.SketchStore]] — the sketch-store twin of
    * [[ivfPqAppendSink]]/[[bm25IngestSink]], but with NO marker
    * protocol: the partial lands in the batch's OWN
    * `batch=s_<streamId>_<batchId>` partition (delete-then-write), so an
    * at-least-once redelivery overwrites its previous attempt instead of
    * double-counting. The per-stream namespace keeps the sink's
    * partitions disjoint from the driver-side [[graft.operators
    * .SketchStore.appendCms]] counter AND from any other stream
    * targeting the same store — without it, a second stream (or a
    * restart under a fresh checkpoint) would silently overwrite
    * previously-landed partials and permanently undercount. Contract:
    * `streamId` must stay stable across restarts of the SAME checkpoint
    * (replay-by-overwrite then targets the same logical batch) and be
    * unique per checkpoint otherwise — tie it to the checkpoint
    * location. Per-batch cost: one narrow tokenize over the batch + a
    * depth×width-row write. Estimates read the store and answer over
    * everything ingested so far. */
  def cmsIngestSink(stream: DataFrame, textCol: String, storePath: String,
                    streamId: String): DataStreamWriter[Row] =
    nonEmptyBatches(stream) { (batch, batchId) =>
      graft.operators.SketchStore.appendCmsBatch(batch, textCol, storePath,
        graft.operators.SketchStore.streamLabel(streamId, batchId))
    }

  /** Continuous lexical-index maintenance: each micro-batch of
    * (id, text) rows tokenizes once and appends into the persisted BM25
    * index ([[graft.operators.FullTextIndex.appendBatch]] — postings +
    * partial-stat rows; searches pick the new statistics up
    * immediately). Per-batch cost is O(batch), never O(corpus). */
  def bm25IngestSink(stream: DataFrame, idCol: String, textCol: String,
                     indexPath: String, logPath: String): DataStreamWriter[Row] =
    nonEmptyBatches(stream) { (batch, batchId) =>
      bm25IngestBatch(batch, batchId, idCol, textCol, indexPath, logPath)
    }

  /** The replay-safe per-batch body of [[bm25IngestSink]] — the
    * [[replayMarked]] discipline; the crash-recovery scrub is
    * [[graft.operators.FullTextIndex.removeDocs]] (O(batch) tombstones
    * + negative stat deltas), so a half-landed batch can never double
    * its term frequencies OR its df/avgdl contributions. The scrub is
    * sound because index appends are ATOMIC (staged + READY + rename
    * inside `FullTextIndex.appendInto`, rolled forward or discarded by
    * the `reconcile` removeDocs runs first): after reconcile the
    * crashed attempt either fully landed or never happened, so the
    * deltas the scrub derives from the live forward rows subtract
    * exactly what was added — never stats from a partial append.
    *
    * Per-batch cost: no Spark job before the first write (the format
    * gate and the generation counter are driver-side sidecar reads, and
    * the index tables read with pinned schemas), then two batch-scoped
    * cuts — forward rows on doc_id, postings on token_id — feeding the
    * four staged writes: 6 jobs per micro-batch in `IngestJobCountSpec`. */
  def bm25IngestBatch(batch: DataFrame, batchId: Long, idCol: String,
                      textCol: String, indexPath: String,
                      logPath: String): Unit = {
    val spark = batch.sparkSession
    replayMarked(spark, logPath, batchId) {
      FullTextIndex.removeDocs(spark, batch.select(col(idCol)).coalesce(1), idCol,
        indexPath)
    } {
      FullTextIndex.appendBatch(spark, batch, idCol, textCol, indexPath)
    }
  }

  /** Streaming ingest dedup against the persisted MinHash index
    * ([[graft.operators.DedupIndex]]): per micro-batch —
    *
    *  1. within-batch near-dups via the one-shot exact-verify pass
    *     (batch-sized, so the exact Jaccard stays affordable); the
    *     LATER id of each pair is dropped,
    *  2. survivors near-dup-checked against the indexed corpus (only
    *     the batch signs and exchanges — the corpus side reads
    *     pre-bucketed keys),
    *  3. both kinds of hits appended to `dupsPath` as
    *     (idCol, dup_of, similarity, scope∈{batch,corpus}) for audit,
    *  4. only CLEAN rows appended to the index.
    *
    * Batches self-accumulate: a doc admitted at batch N is corpus for
    * batch N+1, so cross-batch duplicates are caught even though each
    * batch is checked independently. Per-batch cost is O(batch·log) +
    * the candidate joins — never a corpus re-sign; see
    * [[dedupIngestBatch]] for the per-batch job count. */
  def dedupIngestSink(stream: DataFrame, idCol: String, textCol: String,
                      table: String, threshold: Double, dupsPath: String,
                      n: Int = 3, numHashes: Int = 16, bands: Int = 4,
                      numBuckets: Int = 32): DataStreamWriter[Row] =
    nonEmptyBatches(stream) { (batch, batchId) =>
      dedupIngestBatch(batch, batchId, idCol, textCol, table, threshold,
        dupsPath, n, numHashes, bands, numBuckets)
    }

  /** Streaming SEMANTIC ingest dedup against the persisted IVF-PQ index
    * — [[dedupIngestSink]]'s embedding-space twin. Per micro-batch:
    *
    *  1. within-batch near-dups via [[graft.operators.Dedup
    *     .embeddingNearDups]] (sign-LSH candidates + exact cosine —
    *     batch-local, hub-capped); the LATER id of each pair drops,
    *  2. survivors checked against the indexed corpus with
    *     [[graft.operators.VectorIndex.semanticDups]] (ADC top-k
    *     candidates from the probed cells, exact-cosine verdict on the
    *     |batch|·k fetched vectors — never a corpus pass),
    *  3. both kinds of hits appended to `dupsPath` as
    *     (idCol, dup_of, similarity, scope∈{batch,corpus}),
    *  4. only CLEAN rows appended to the index (vectors stored, so they
    *     are corpus for batch N+1 — the same self-accumulation contract).
    *
    * Requires an index built with `storeVectors = true`. */
  def semanticIngestSink(stream: DataFrame, idCol: String, vecCol: String,
                         indexPath: String, dim: Int, threshold: Double,
                         dupsPath: String, nPlanes: Int = 16,
                         nProbe: Int = 4, k: Int = 5): DataStreamWriter[Row] =
    nonEmptyBatches(stream) { (batch, batchId) =>
      semanticIngestBatch(batch, batchId, idCol, vecCol, indexPath, dim,
        threshold, dupsPath, nPlanes, nProbe, k)
    }

  /** The replay-safe per-batch body of [[semanticIngestSink]] — the
    * [[replayMarked]] discipline, logged under `<dupsPath>_ingest_log`;
    * the crash-recovery scrub here is the index's own tombstone path
    * (delete the batch's ids, compact the affected cells) plus
    * [[scrubAudit]] before re-running.
    *
    * Per-batch cost: the batch rows, the in-batch pairs, the locally
    * clean rows, the corpus pairs and the [[verdict]] are each computed
    * once, as cuts scoped to the batch ([[graft.operators
    * .BatchScope]]; the corpus pairs are gathered after a parallel scan
    * of the probed cells); the audit write and the index append both
    * read the verdict, and the append reuses the quantizers the corpus
    * check loaded: 11 jobs per micro-batch in `IngestJobCountSpec`. */
  def semanticIngestBatch(batch: DataFrame, batchId: Long, idCol: String,
                          vecCol: String, indexPath: String, dim: Int,
                          threshold: Double, dupsPath: String,
                          nPlanes: Int = 16, nProbe: Int = 4,
                          k: Int = 5): Unit = {
    val spark = batch.sparkSession
    replayMarked(spark, s"${dupsPath}_ingest_log", batchId) {
      VectorIndex.delete(spark, indexPath, batch.select(col(idCol)).coalesce(1), idCol)
      VectorIndex.compact(spark, indexPath)
      scrubAudit(spark, dupsPath, batch, idCol)
    } {
      BatchScope { scope =>
        val rows = scope.keepInOne(batch.select(col(idCol), col(vecCol)))
        val inBatch = scope.keepInOne(Dedup.embeddingNearDups(rows, idCol, vecCol, dim,
          nPlanes, threshold))
        val localClean = scope.keepInOne(rows.join(
          inBatch.select(col("id_b").as(idCol)), Seq(idCol), "left_anti"))
        // fresh load per batch: rows admitted at batch N-1 must be corpus
        // for batch N (the sidecars are k-sized; the listing covers only the
        // probed cells)
        val idx = VectorIndex.load(spark, indexPath)
        val corpusPairs = scope.gather(VectorIndex.semanticDups(spark, localClean,
          idCol, vecCol, idx, nProbe, k, threshold))
        val v = verdict(scope,
          inBatch.select(col("id_b").as(idCol), col("id_a").as("dup_of"),
              col("cosine").as("similarity"), lit("batch").as("scope"))
            .unionByName(corpusPairs
              .select(col(idCol), col("corpus_id").as("dup_of"),
                col("cosine").as("similarity"), lit("corpus").as("scope"))),
          localClean.join(corpusPairs.select(col(idCol)), Seq(idCol), "left_anti"),
          idCol, vecCol)
        v.filter(col("scope").isNotNull).drop(vecCol)
          .write.mode("append").parquet(dupsPath)
        VectorIndex.appendLoaded(v.filter(col("scope").isNull).select(col(idCol), col(vecCol)),
          idCol, vecCol, indexPath, idx)
      }
    }
  }

  /** The replay-safe per-batch body of [[dedupIngestSink]] — the
    * [[replayMarked]] discipline, logged under `<dupsPath>_ingest_log`.
    * The scrub removes THIS batch's ids from the index
    * ([[DedupIndex.removeIds]]) and from the audit table
    * ([[scrubAudit]]). Without the first every already-appended doc
    * would match its own corpus signature (est_jaccard = 1.0) and the
    * whole batch would be re-audited as corpus duplicates of themselves
    * — audit consumers filtering "clean" docs would wrongly drop it all;
    * without the second a batch that crashed after its audit write
    * would audit its pairs twice.
    *
    * Per-batch cost: the batch is tokenized and signed ONCE; that frame
    * feeds the in-batch exact-Jaccard pass, the corpus check and the
    * append. The in-batch pairs, the corpus pairs and the [[verdict]]
    * are computed once, as cuts scoped to the batch
    * ([[graft.operators.BatchScope]]; the corpus pairs are gathered
    * after a parallel scan of the index's bands and signatures); the
    * in-batch pass reads the signed batch back in one job and verifies
    * it on the driver (`Dedup.minhashNearDupsSigned`'s driver regime,
    * for batches under its doc limit); the audit write and both index
    * table appends read the verdict: 8 jobs per micro-batch in
    * `IngestJobCountSpec` (14 with the relational in-batch pass). */
  def dedupIngestBatch(batch: DataFrame, batchId: Long, idCol: String,
                       textCol: String, table: String, threshold: Double,
                       dupsPath: String, n: Int = 3, numHashes: Int = 16,
                       bands: Int = 4, numBuckets: Int = 32): Unit = {
    val spark = batch.sparkSession
    replayMarked(spark, s"${dupsPath}_ingest_log", batchId) {
      DedupIndex.removeIds(spark, table, batch.select(col(idCol)),
        idCol, numBuckets)
      scrubAudit(spark, dupsPath, batch, idCol)
    } {
      BatchScope { scope =>
        val signed = scope.keepInOne(Dedup.signedTokens(batch, idCol, textCol, n, numHashes))
        val inBatch = scope.keepInOne(Dedup.minhashNearDupsSigned(signed, idCol,
          threshold, n, numHashes, bands, Dedup.DefaultMaxBucketSize, scope.keep))
        val localClean = scope.keepInOne(signed.select(col(idCol), col("__sig").as("sig"))
          .join(inBatch.select(col("id_b").as(idCol)), Seq(idCol), "left_anti"))
        // self-pair guard (defense in depth behind the scrub): a doc must
        // never count as a corpus duplicate of itself
        val corpusPairs = scope.gather(DedupIndex.nearDupsAgainstSigned(spark,
            localClean, idCol, table, threshold, numHashes, bands)
          .filter(col(idCol) =!= col("corpus_id")))
        val v = verdict(scope,
          inBatch.select(col("id_b").as(idCol), col("id_a").as("dup_of"),
              col("jaccard").as("similarity"), lit("batch").as("scope"))
            .unionByName(corpusPairs
              .select(col(idCol), col("corpus_id").as("dup_of"),
                col("est_jaccard").as("similarity"), lit("corpus").as("scope"))),
          localClean.join(corpusPairs.select(col(idCol)), Seq(idCol), "left_anti"),
          idCol, "sig")
        v.filter(col("scope").isNotNull).drop("sig")
          .write.mode("append").parquet(dupsPath)
        DedupIndex.appendSigned(spark, v.filter(col("scope").isNull).select(col(idCol), col("sig")),
          idCol, table, numHashes, bands, numBuckets)
      }
    }
  }

  /** A dedup body's batch verdict, cut for the batch: one row per
    * audited pair (idCol, dup_of, similarity, scope — `payload` null)
    * and one row per clean row (audit columns null, `payload` = what the
    * index append stores). The audit write and the append both filter
    * it, so the detection plans behind it run once per batch. */
  private def verdict(scope: BatchScope, pairs: DataFrame, clean: DataFrame,
                      idCol: String, payload: String): DataFrame = {
    def nullOf(df: DataFrame, c: String) = lit(null).cast(df.schema(c).dataType).as(c)
    scope.keepInOne(pairs.select(pairs.columns.map(col) :+ nullOf(clean, payload): _*)
      .unionByName(clean.select(col(idCol), nullOf(pairs, "dup_of"),
        nullOf(pairs, "similarity"), nullOf(pairs, "scope"), col(payload))))
  }

  /** The audit half of a replay scrub: drop THIS batch's rows from the
    * audit table at `dupsPath`. Ingest ids are new by contract, so the
    * rows whose `idCol` is in the batch are exactly the rows a crashed
    * attempt of this batch appended. The kept rows are staged beside the
    * table and swapped in by park-and-swap ([[FullTextIndex.swapDir]]);
    * a crash mid-swap leaves `started-` without `done-`, so the
    * redelivered batch scrubs again and [[FullTextIndex.reconcileSwap]]
    * first restores or finishes the interrupted swap. O(audit table),
    * but it runs only on the crash-replay path. */
  private def scrubAudit(spark: SparkSession, dupsPath: String,
                         batch: DataFrame, idCol: String): Unit = {
    val live = new org.apache.hadoop.fs.Path(dupsPath)
    val fs = live.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val staged = s"${dupsPath}_scrub"
    FullTextIndex.reconcileSwap(fs, dupsPath, staged)
    if (fs.exists(live)) {
      spark.read.parquet(dupsPath)
        .join(batch.select(col(idCol)), Seq(idCol), "left_anti")
        .write.parquet(staged)
      FullTextIndex.swapDir(fs, dupsPath, staged)
    }
  }
}
