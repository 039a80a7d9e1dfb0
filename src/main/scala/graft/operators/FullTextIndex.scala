package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType
import org.apache.hadoop.fs.{FileSystem, Path}
import graft.functions.{K, Kernel}

/** Persisted incremental BM25 index — the lexical twin of
  * [[VectorIndex]] (BM25 semantics per [[FullText]]; Robertson/Okapi
  * with the same k1/b defaults, idf grid, and fixed-point score fold).
  *
  * [[FullText.bm25Search]] re-tokenizes and re-weights the WHOLE corpus
  * per call. At 100 TB that per-query-batch cost is the corpus. The
  * subtlety a persisted form must solve: document-side BM25 weights
  * depend on GLOBAL statistics (df, n_docs, avgdl) that change with
  * every ingest — persisting weights would leave the whole index stale
  * after one append. So this index persists what appends CANNOT stale,
  * as one self-contained directory (copyable like [[VectorIndex]]'s):
  *
  *   - `<path>/postings` — (token_id, doc_id, tf, dl, gen): the
  *     inverted file, clustered AND sorted on token_id (row-group
  *     stats → predicate skipping), append-only. tf and dl are
  *     per-document facts; no global statistic touches them. `gen` is
  *     the append's generation — how a later re-add of a removed id
  *     outlives the id's tombstone.
  *   - `<path>/docs` — (doc_id, dl, tids, gen): the FORWARD index,
  *     clustered+sorted on doc_id — every ingested doc (zero-token
  *     docs included, with empty `tids`), so a removal can derive its
  *     df/meta deltas from a doc-id-pruned scan of THIS table instead
  *     of a full pass over the inverted file. This is what makes
  *     [[removeDocs]] O(batch): doc-side facts are reachable by doc id.
  *   - `<path>/df` — (token_id, df) PARTIAL rows: each build/append
  *     adds its batch's per-token document counts, each removal its
  *     negative deltas; the true df is the sum — a vocab-sized (never
  *     corpus-sized) aggregation.
  *   - `<path>/meta` — (n_docs, total_len, gen) partial rows, same
  *     contract; max(gen) over meta is the generation counter.
  *   - `<path>/tombstones` — (doc_id, gen) rows: a posting/doc row is
  *     DEAD iff some tombstone has the same doc_id and gen ≥ the row's.
  *     Masked at query time by a broadcast anti-join (the table is
  *     O(removals since the last [[compactPostings]]), never
  *     corpus-sized); physically dropped only by deferred compaction.
  *   - `<path>/conf` — (max_length): construction params.
  *
  * [[searchTopK]] derives weights ON THE FLY from the CURRENT summed
  * statistics, so results are always exactly what a fresh
  * [[FullText.bm25Search]] over the accumulated live corpus would
  * return (q141/q141b/q143 hash-gate that equivalence through batch
  * and streamed appends, removals, and upserts). Query cost: the
  * postings scan is pruned to the query terms — batch-bounded
  * (≤ maxLength distinct tokens per query), so small batches push an
  * `IN` predicate into the parquet scan; larger batches fall back to a
  * broadcast semi join — plus one broadcast tombstone anti-join.
  *
  * '''Appends are atomic''' ([[appendInto]]): the batch's postings,
  * docs, df and meta parts stage under `<path>/_append`, a READY
  * marker commits, and part files MOVE into the live tables by rename
  * — so the four non-transactional writes land together or not at all.
  * The conf table is the build's commit marker (written last; every
  * read path requires it), so a half-built index refuses rather than
  * serves.
  *
  * '''Removal is O(batch)''' ([[removeDocs]]): the doc-pruned forward
  * rows give the negative df/meta deltas and the tombstone rows; all
  * three STAGE under `<path>/_removal` with a READY marker written
  * last, then apply purely by file MOVES into the live stat/tombstone
  * tables. Statistics change IMMEDIATELY (BM25 weights depend on
  * df/avgdl, so a masked-but-counted doc would skew every score);
  * the inverted file is NOT touched — removed postings stay on disk,
  * masked by the tombstone anti-join, until [[compactPostings]]
  * rewrites them away in a deferred maintenance pass (exactly
  * [[VectorIndex.delete]]/[[VectorIndex.compact]]'s split). Renames
  * are physically exactly-once: a replay moves only what is still in
  * staging, so no delta can apply twice, and [[reconcile]] (run at
  * every entry point) rolls an interrupted removal forward — or
  * discards staging that never reached READY. */
object FullTextIndex {

  /** Above this many distinct query terms (or removal ids) the
    * pushed-down IN predicate stops paying (plan size) and the scan
    * filters via broadcast semi join instead. */
  val PushdownTermLimit: Int = 4096

  /** On-disk format version, written into `conf` and REQUIRED by every
    * read/maintenance entry point. v2 = the generation-tombstone layout
    * (gen columns on postings/docs/meta, forward `docs/` table,
    * `tombstones/`); a directory WITHOUT the forward `docs/` table is v1
    * — serving it would fail mid-flight on an unresolved `gen` column
    * instead of refusing up front. (The version column itself is newer
    * than the v2 layout, so its absence alone is not a verdict: conf()
    * sniffs `docs/` before refusing.) */
  val FormatVersion: Int = 2

  /** Auto-compaction floor: below this many tombstoned docs the
    * broadcast mask is cheaper than any rewrite — never compact. */
  val AutoCompactMinTombstones: Long = 4096L

  /** Auto-compaction ratio: compact once tombstoned docs exceed this
    * fraction of the live corpus (and the floor). At 10% the mask
    * broadcast stays bounded by a corpus-proportional budget while
    * the amortized rewrite runs at most ~10 times per corpus
    * turnover. */
  val AutoCompactFrac: Double = 0.10

  /** Build the index over a corpus: one tokenize pass feeds postings,
    * the forward docs table, df partials, and the meta partial. The
    * conf table is written LAST — it is the commit marker every read
    * path requires, so a build that crashes mid-way leaves a directory
    * [[searchTopK]] REFUSES (no conf) rather than a valid-looking
    * index with partial postings. */
  def write(corpus: DataFrame, idCol: String, textCol: String,
            path: String, maxLength: Int = K.MaxLength): Unit = {
    val spark = corpus.sparkSession
    import spark.implicits._
    val fs = hfs(spark, path)
    fs.delete(new Path(path), true)
    appendInto(spark, corpus, idCol, textCol, path, maxLength, gen = 1L)
    // driver-side 1-row conf write (SidecarIO) — the commit marker is
    // two ints; a coalesce(1) Spark write paid a full job for it
    SidecarIO.writeGroups(spark.sparkContext.hadoopConfiguration,
      s"$path/conf", SidecarIO.schemaOf(
        """message conf { optional int32 max_length;
          |optional int32 format_version; }""".stripMargin),
      f => Seq(f.newGroup().append("max_length", maxLength)
        .append("format_version", FormatVersion)))
  }

  /** Grow the index with an ingest batch (new ids by contract): one
    * tokenize pass over JUST the batch — postings/docs rows append as
    * new files, df/meta partials stack for the query-time sum.
    * Per-batch cost: one exchange each for the forward rows and the
    * postings, one write per staged table, and no job before the first
    * write (driver-side gate and generation reads, pinned schemas) — 6
    * jobs for a micro-batch whose shuffles land in one partition. */
  def appendBatch(spark: SparkSession, batch: DataFrame, idCol: String,
                  textCol: String, path: String): Unit = {
    reconcile(spark, path)
    appendInto(spark, batch, idCol, textCol, path, conf(spark, path),
      maxGen(spark, path) + 1L)
  }

  /** Upsert: replace the indexed postings (and their df/avgdl
    * contributions — BM25 statistics change IMMEDIATELY) for `batch`'s
    * ids with the batch's text — the document re-crawl path,
    * [[VectorIndex.upsert]]'s lexical twin: [[removeDocs]] the ids,
    * then [[appendBatch]] the new versions. The append's generation is
    * strictly above the removal's tombstones, so the new rows serve
    * while the old ones stay masked until compaction. Replay-idempotent
    * end to end WITHOUT extra machinery: a crash between the legs
    * leaves a consistent as-if-deleted index, and re-running the whole
    * upsert re-removes whatever LIVE version is present (old, new, or
    * none — removal derives its deltas from the unmasked forward rows)
    * before appending exactly once. Cost: O(batch) staging + one
    * batch-sized tokenize/append — never an inverted-file rewrite; the
    * format gate, reconcile and generation read run once for both legs
    * (the removal tombstones at gen g, the append writes g + 1). */
  def upsertBatch(spark: SparkSession, batch: DataFrame, idCol: String,
                  textCol: String, path: String): Unit = {
    val maxLength = conf(spark, path)
    reconcile(spark, path)
    val gen = maxGen(spark, path)
    removeAt(spark, batch.select(col(idCol)), idCol, path, gen)
    appendInto(spark, batch, idCol, textCol, path, maxLength, gen + 1L)
  }

  /** One atomic append: postings + docs + df + meta land together or
    * not at all. The four live tables cannot be written
    * transactionally, so the batch's rows are STAGED under
    * `<path>/_append` first, a READY marker commits the append, and the
    * staged part files MOVE into the live directories by rename
    * (physically exactly-once — a replayed move finds nothing left to
    * move). Any interruption resolves at the next entry point:
    * [[reconcile]] rolls a READY append forward or discards staging
    * that never committed. Without this, a crash between the postings
    * write and the df/meta writes would leave a state no scrub can
    * heal — [[removeDocs]] derives its negative stat deltas from the
    * forward rows, so it would subtract df/meta contributions the
    * crashed attempt never added, and the re-append would leave the
    * batch's statistics permanently under-counted. */
  private def appendInto(spark: SparkSession, batch: DataFrame,
                         idCol: String, textCol: String, path: String,
                         maxLength: Int, gen: Long): Unit = {
    val fs = hfs(spark, path)
    val ap = new Path(s"$path/_append")
    fs.delete(ap, true)
    // the exact tf/dl/stats derivation of FullText.bm25DocWeightsTokens
    // — one tokenize pass shared by all four tables; n_docs/total_len
    // count EVERY doc (a zero-token doc contributes no posting but still
    // lowers avgdl — the batch operator counts it, so the index must too
    // or the weights diverge), and the forward docs table records every
    // doc for the same reason: removal must be able to subtract a
    // zero-token doc's n_docs contribution.
    //
    // Two batch-scoped cuts feed the four staged writes, one exchange
    // each: the forward rows clustered + sorted on doc_id (a removal
    // batch's id set pushes down as In(doc_id, ...)), and the postings
    // clustered + sorted on token_id (row-group stats carry the query's
    // pushed-down IN — the same discipline as VectorIndex's cell files).
    // tf groups inside the token_id clusters; df and meta aggregate the
    // cuts (in place when a batch-sized cut lands in one partition).
    BatchScope { scope =>
      val docs = scope.keep(batch
        .select(col(idCol).cast("long").as("doc_id"),
          Kernel.tokenIds(col(textCol), maxLength).as("__tids"))
        .select(col("doc_id"), size(col("__tids")).cast("long").as("dl"), col("__tids"))
        .repartition(col("doc_id")).sortWithinPartitions("doc_id"))
      docs.select(col("doc_id"), col("dl"), array_distinct(col("__tids")).as("tids"),
          lit(gen).as("gen"))
        .write.parquet(s"$path/_append/docs")
      val postings = scope.keep(docs
        .select(col("doc_id"), col("dl"), explode(col("__tids")).as("token_id"))
        .repartition(col("token_id"))
        .groupBy(col("doc_id"), col("token_id"))
        .agg(count(lit(1)).as("tf"), max(col("dl")).as("dl"))
        .select(col("token_id"), col("doc_id"), col("tf"), col("dl"), lit(gen).as("gen"))
        .sortWithinPartitions("token_id"))
      postings.write.parquet(s"$path/_append/postings")
      postings.groupBy(col("token_id")).agg(count(lit(1)).as("df"))
        .write.parquet(s"$path/_append/df")
      docs.agg(count(lit(1)).as("n_docs"), sum(col("dl")).as("total_len"))
        .select(col("n_docs"), col("total_len"), lit(gen).as("gen"))
        .coalesce(1).write.parquet(s"$path/_append/meta")
    }
    fs.create(new Path(ap, "READY"), true).close()
    applyAppend(spark, path)
  }

  /** Roll a READY append forward: move each staged table's part files
    * into its live directory. Rename-based, so a replay moves only what
    * is still staged — no file can land twice. */
  private def applyAppend(spark: SparkSession, path: String): Unit = {
    val fs = hfs(spark, path)
    moveFiles(fs, s"$path/_append/postings", s"$path/postings")
    moveFiles(fs, s"$path/_append/docs", s"$path/docs")
    moveFiles(fs, s"$path/_append/df", s"$path/df")
    moveFiles(fs, s"$path/_append/meta", s"$path/meta")
    fs.delete(new Path(s"$path/_append"), true)
  }

  /** BM25 top-k over the index with CURRENT statistics — bit-identical
    * to [[FullText.bm25Search]] over the accumulated live corpus (same
    * idf grid, same weight tree, same fixed-point score fold, same
    * top-k tie rule). Tombstoned postings are masked by a broadcast
    * anti-join; everything else reads only the term-pruned scan.
    * Output (qIdCol, doc_id, rank, score). */
  def searchTopK(spark: SparkSession, queries: DataFrame, qIdCol: String,
                 qTextCol: String, path: String, k: Int,
                 k1: Double = FullText.K1, b: Double = FullText.B): DataFrame = {
    val maxLength = conf(spark, path)
    reconcile(spark, path)
    val qTerms = queries.select(col(qIdCol),
        explode(array_distinct(Kernel.tokenIds(col(qTextCol), maxLength)))
          .as("token_id"))
      .localCheckpoint(false)
    val termIds = qTerms.select(col("token_id")).distinct()
    // batch-bounded term set → IN predicate lands in the parquet scan
    // (row-group skipping on the sorted token column); wide batches keep
    // the broadcast semi join (corpus side still never shuffles). The
    // limit+1 collect decides the path without ever pulling an
    // over-limit term set to the driver
    val ids = termIds.limit(PushdownTermLimit + 1).collect()
      .map(_.getLong(0)).sorted
    def prune(t: DataFrame): DataFrame =
      if (ids.length <= PushdownTermLimit) t.filter(col("token_id").isin(ids: _*))
      else t.join(broadcast(termIds), Seq("token_id"), "left_semi")
    val post = liveRows(spark, path, prune(read(spark, path, "postings")))
    val dfNow = prune(read(spark, path, "df"))
      .groupBy(col("token_id")).agg(sum(col("df")).as("df"))
    val nd = read(spark, path, "meta")
      .agg(sum(col("n_docs")).as("__n_docs"), sum(col("total_len")).as("__total_len"))
    val weights = post
      .join(broadcast(dfNow), "token_id")
      .crossJoin(broadcast(nd))
      .withColumn("__avgdl",
        col("__total_len").cast("double") / col("__n_docs").cast("double"))
      .withColumn("weight",
        FullText.idfQ(col("df"), col("__n_docs")) *
          (col("tf").cast("double") * lit(k1 + 1.0)) /
          (col("tf").cast("double") +
            lit(k1) * (lit(1.0 - b) + lit(b) * (col("dl").cast("double") / col("__avgdl")))))
    weights.join(broadcast(qTerms), "token_id")
      .groupBy(col(qIdCol), col("doc_id"))
      .agg(sum(floor(col("weight") * lit(FullText.ScoreScale) + lit(0.5))
        .cast("long")).as("__sfp"))
      .withColumn("score", col("__sfp").cast("double") / lit(FullText.ScoreScale))
      .groupBy(col(qIdCol))
      .agg(graft.functions.TopKAgg.topK(col("score"), col("doc_id"), k).as("__top"))
      .select(col(qIdCol), posexplode(col("__top")).as(Seq("__r", "__t")))
      .select(col(qIdCol), col("__t.id").as("doc_id"),
        (col("__r") + 1).as("rank"), col("__t.score").as("score"))
  }

  /** Removal requests — O(batch), never an inverted-file pass. The
    * doc-id-pruned forward rows (minus already-tombstoned versions)
    * yield everything the removal needs: negative df deltas (−1 per
    * distinct token of each live victim), the negative n_docs/total_len
    * delta (zero-token docs included — the forward table records them,
    * so their avgdl contribution leaves correctly), and the tombstone
    * rows (victim id, current generation) that mask the dead postings
    * at query time until [[compactPostings]] drops them physically.
    * Statistics change IMMEDIATELY — BM25 weights depend on df/avgdl,
    * so a masked-but-counted doc would keep skewing every score.
    *
    * Crash-safe by the stage-then-rename protocol described in the
    * module doc: everything the apply step will do is STAGED under
    * `<path>/_removal` with READY written last; apply is pure file
    * moves, so any interruption either rolls forward deterministically
    * at the next entry point or (before READY) discards cleanly.
    * Idempotent against redelivery with no extra machinery: a replayed
    * removal finds its victims already masked, so it stages empty
    * deltas and subtracts nothing. Contract: every id was ingested at
    * most once per generation (ids are permanent identities).
    *
    * Per-batch cost: the id collect, the tombstone mask's broadcast
    * (when tombstones exist), the shuffle that gathers the victims of a
    * parallel forward scan into one partition, and the three staged
    * writes — 6 jobs in `IngestJobCountSpec`. */
  def removeDocs(spark: SparkSession, ids: DataFrame, idCol: String,
                 path: String): Unit = {
    conf(spark, path) // format gate — refuse a stale layout up front
    reconcile(spark, path)
    removeAt(spark, ids, idCol, path, maxGen(spark, path))
  }

  /** [[removeDocs]] after its format gate and reconcile, tombstoning at
    * generation `gen` (the current counter). */
  private def removeAt(spark: SparkSession, ids: DataFrame, idCol: String,
                       path: String, gen: Long): Unit = {
    val fs = hfs(spark, path)
    val rm = new Path(s"$path/_removal")
    fs.delete(rm, true)
    BatchScope { scope =>
      val drop = ids.select(col(idCol).cast("long").as("doc_id"))
      // batch-bounded id set → In(doc_id, ...) reaches the forward scan
      // (row-group skipping on the sorted doc column); wide batches fall
      // back to the broadcast semi join. limit+1 decides the path, so a
      // huge removal batch never round-trips its full id set through the
      // driver just to learn it won't fit the IN pushdown; the ids are
      // deduplicated on the driver (a duplicate only ever pushes a
      // batch onto the join path), so the id set needs no exchange
      val head = drop.limit(PushdownTermLimit + 1).collect().map(_.getLong(0))
      def pruneDocs(t: DataFrame): DataFrame =
        if (head.length <= PushdownTermLimit) t.filter(col("doc_id").isin(head.distinct.sorted: _*))
        else t.join(broadcast(drop.distinct()), Seq("doc_id"), "left_semi")
      // the victims live in ONE partition: the three staged tables are
      // single files, so each delta aggregates in place instead of
      // shuffling and coalescing per write, while the forward scan
      // behind them stays parallel (gather). The cut is batch-scoped;
      // every write completes before READY commits the removal
      val victims = scope.gather(
        liveRows(spark, path, pruneDocs(read(spark, path, "docs"))))
      // stage EVERYTHING the apply step will do, deltas included, BEFORE
      // touching any live table — after READY the removal is decided and
      // every later step is a rename
      victims.select(explode(col("tids")).as("token_id"))
        .groupBy(col("token_id")).agg((-count(lit(1))).as("df"))
        .coalesce(1).write.parquet(s"$path/_removal/df")
      victims
        .agg((-count(lit(1))).as("n_docs"),
          (-coalesce(sum(col("dl")), lit(0L))).as("total_len"))
        .select(col("n_docs"), col("total_len"), lit(0L).as("gen"))
        .coalesce(1).write.parquet(s"$path/_removal/meta")
      victims.select(col("doc_id"), lit(gen).as("gen"))
        .coalesce(1).write.parquet(s"$path/_removal/tombstones")
    }
    fs.create(new Path(rm, "READY"), true).close()
    applyRemoval(spark, path)
    // bounded-mask policy: under sustained removals the tombstone
    // broadcast must not grow without an operator remembering to call
    // compactPostings — the trigger fires here, after the removal lands
    maybeCompact(spark, path)
  }

  /** Roll a READY removal forward: move the staged delta and tombstone
    * FILES into the live tables. Pure renames — a file already applied
    * is gone from staging, so it can never apply twice, and no
    * corpus-sized table is read or written. */
  private def applyRemoval(spark: SparkSession, path: String): Unit = {
    val fs = hfs(spark, path)
    moveFiles(fs, s"$path/_removal/df", s"$path/df")
    moveFiles(fs, s"$path/_removal/meta", s"$path/meta")
    moveFiles(fs, s"$path/_removal/tombstones", s"$path/tombstones")
    fs.delete(new Path(s"$path/_removal"), true)
  }

  /** Deferred maintenance — the physical leg removal deliberately does
    * NOT pay per batch (exactly [[VectorIndex.compact]]'s role): drop
    * every tombstone-masked postings/docs row, then clear the
    * tombstones the rewrite covered. Cost is one inverted-file rewrite
    * amortized over ALL removals since the last compaction, instead of
    * per removal batch. Safe to interrupt anywhere: each rewrite swaps
    * behind a parked directory ([[reconcile]] restores or finishes),
    * and tombstones clear LAST — a crash leaves them masking rows that
    * are already gone, which the anti-join resolves to a no-op. Clears
    * only the snapshot it compacted against, so a single-writer
    * sequence resumed after a crash never resurrects a doc. Serving
    * results are unchanged (q141b/q152/q158 semantics); the wins are
    * scan size and a smaller tombstone broadcast. */
  def compactPostings(spark: SparkSession, path: String): Unit = {
    conf(spark, path) // format gate
    reconcile(spark, path)
    val fs = hfs(spark, path)
    if (!fs.exists(new Path(s"$path/tombstones"))) return
    BatchScope { scope =>
      val snap = scope.keep(tombstoneMax(spark, path))
      if (!snap.isEmpty) {
        def rewrite(sub: String, sortCol: String): Unit = {
          val staged = new Path(s"$path/_${sub}_new")
          fs.delete(staged, true)
          maskBy(read(spark, path, sub), snap)
            .repartition(col(sortCol)).sortWithinPartitions(sortCol)
            .write.parquet(staged.toString)
          swapDir(fs, s"$path/$sub", staged.toString)
        }
        rewrite("postings", "token_id")
        rewrite("docs", "doc_id")
        // last: clear exactly the tombstones the rewrites covered — any
        // landed later (single-writer, so only via a crash-resumed
        // caller) stay and keep masking
        val staged = new Path(s"$path/_tombstones_new")
        fs.delete(staged, true)
        maskBy(read(spark, path, "tombstones"), snap)
          .coalesce(1).write.parquet(staged.toString)
        swapDir(fs, s"$path/tombstones", staged.toString)
      }
    }
  }

  /** The auto-compaction trigger — decide-then-act, the same shape as
    * the drift trigger ([[VectorIndex.driftScore]] → retrain): compact
    * iff the tombstoned-doc count exceeds
    * `max(minTombstones, frac · live docs)`. Called at the end of every
    * [[removeDocs]] (the only entry point that grows the mask), so the
    * query-time tombstone broadcast is BOUNDED BY POLICY, not by the
    * operator's memory of calling [[compactPostings]] manually: under
    * sustained removals the mask grows to at most the threshold, one
    * amortized rewrite runs, and the cycle repeats. Results are
    * unchanged either way (compaction is semantics-preserving —
    * q141b/q152/q158 pin that); the decide leg costs one count over the
    * O(removals) tombstone table plus the 1-row meta sum. Returns
    * whether a compaction ran. */
  def maybeCompact(spark: SparkSession, path: String,
                   minTombstones: Long = AutoCompactMinTombstones,
                   frac: Double = AutoCompactFrac): Boolean = {
    val fs = hfs(spark, path)
    if (!fs.exists(new Path(s"$path/tombstones"))) return false
    // floor gate from parquet FOOTERS on the driver — milliseconds, no
    // job, so the per-removal decide leg is ~free below the floor (the
    // common case). Row count ≥ distinct-doc count (a re-removed re-add
    // writes a second row), so the floor can only fire early, never
    // late; the ratio decision below the rewrite uses the exact fold.
    if (footerRowCount(spark, fs, s"$path/tombstones") < minTombstones) return false
    val pending = tombstoneMax(spark, path).count()
    if (pending < minTombstones) return false
    val live = read(spark, path, "meta")
      .agg(coalesce(sum(col("n_docs")), lit(0L))).collect()(0).getLong(0)
    if (pending.toDouble < frac * live) return false
    compactPostings(spark, path)
    true
  }

  /** Total row count over a parquet directory's part files, summed from
    * footer metadata on the driver — no Spark job. */
  private[operators] def footerRowCount(spark: SparkSession, fs: FileSystem,
                                        dir: String): Long = {
    val conf = spark.sparkContext.hadoopConfiguration
    fs.listStatus(new Path(dir))
      .filter(_.getPath.getName.endsWith(".parquet"))
      .map { f =>
        val rd = org.apache.parquet.hadoop.ParquetFileReader.open(
          org.apache.parquet.hadoop.util.HadoopInputFile.fromPath(f.getPath, conf))
        try rd.getRecordCount finally rd.close()
      }.sum
  }

  /** Maintenance: fold the accumulated df/meta partial rows back to one
    * row per token / one row total. Results are unchanged (the query
    * path sums partials anyway); this bounds the partial-table growth at
    * one row-set per append. Vocab-sized I/O, never corpus-sized; the
    * rewrites swap behind parked directories like every rewrite here. */
  def recapStats(spark: SparkSession, path: String): Unit = {
    conf(spark, path) // format gate
    reconcile(spark, path)
    val fs = hfs(spark, path)
    def fold(sub: String, agg: DataFrame => DataFrame): Unit = {
      val staged = new Path(s"$path/_${sub}_new")
      fs.delete(staged, true)
      agg(read(spark, path, sub))
        .coalesce(1).write.parquet(staged.toString)
      swapDir(fs, s"$path/$sub", staged.toString)
    }
    fold("df", _.groupBy(col("token_id")).agg(sum(col("df")).as("df")))
    // max(gen) survives the fold — it is the generation counter
    fold("meta", _.agg(sum(col("n_docs")).as("n_docs"),
      sum(col("total_len")).as("total_len"), max(col("gen")).as("gen")))
  }

  /** Crash recovery, run at every entry point (O(1) exists checks when
    * idle): finish any interrupted parked-directory swap, then either
    * roll a READY append/removal forward or discard a staging that
    * never committed. An interrupted [[compactPostings]] needs no
    * rolling at all — its staged rewrites discard here and the
    * tombstones it never cleared still mask correctly. */
  def reconcile(spark: SparkSession, path: String): Unit = {
    val fs = hfs(spark, path)
    Seq("postings", "docs", "df", "meta", "tombstones").foreach { sub =>
      reconcileSwap(fs, s"$path/$sub", s"$path/_${sub}_new")
    }
    // an interrupted append resolves BEFORE any removal: a READY append
    // is committed (roll it in so a staged removal's tombstones mask
    // against the full state); staging without READY never happened
    val ap = new Path(s"$path/_append")
    if (fs.exists(ap)) {
      if (fs.exists(new Path(ap, "READY"))) applyAppend(spark, path)
      else fs.delete(ap, true)
    }
    val rm = new Path(s"$path/_removal")
    if (fs.exists(rm)) {
      if (fs.exists(new Path(rm, "READY"))) applyRemoval(spark, path)
      else fs.delete(rm, true) // never committed
    }
  }

  /** The current generation counter: max over the (tiny) meta partials;
    * 0 for an empty index. Appends write gen = this + 1; removals
    * tombstone at gen = this, so re-added versions (strictly higher
    * gen) outlive the mask. */
  private def maxGen(spark: SparkSession, path: String): Long = {
    val fs = hfs(spark, path)
    // driver-side read of the meta partials (SidecarIO): one row per
    // append or removal, where a Spark aggregate would cost two jobs per
    // append, removal and upsert
    if (!fs.exists(new Path(s"$path/meta"))) 0L
    else SidecarIO.readGroups(spark.sparkContext.hadoopConfiguration, s"$path/meta")
      .map(_.getLong("gen", 0)).foldLeft(0L)(math.max)
  }

  /** The folded tombstone set: one (doc_id, gen=max) row per removed
    * doc — the snapshot compaction clears and the count its trigger
    * reads. */
  private def tombstoneMax(spark: SparkSession, path: String): DataFrame =
    read(spark, path, "tombstones")
      .groupBy(col("doc_id")).agg(max(col("gen")).as("gen"))

  /** Mask `rows` (any table with doc_id + gen columns) against the
    * index's tombstones: a row is dead iff a tombstone with its doc_id
    * has gen ≥ the row's. The raw tombstone rows mask exactly like the
    * folded ones (some tombstone's gen ≥ g iff the max is), so the mask
    * broadcasts them as stored — O(removals since compaction), no
    * aggregation shuffle. No tombstone table → nothing ever removed →
    * pass-through. */
  private def liveRows(spark: SparkSession, path: String,
                       rows: DataFrame): DataFrame = {
    val fs = hfs(spark, path)
    if (!fs.exists(new Path(s"$path/tombstones"))) rows
    else maskBy(rows, read(spark, path, "tombstones"))
  }

  /** The broadcast anti-join masking dead rows: drop every row whose
    * (doc_id, gen) is covered by a tombstone (same doc, gen ≤ mask). */
  private def maskBy(rows: DataFrame, tomb: DataFrame): DataFrame = {
    val t = tomb.select(col("doc_id").as("__tdoc"), col("gen").as("__tgen"))
    rows.join(broadcast(t),
      col("doc_id") === col("__tdoc") && col("gen") <= col("__tgen"),
      "left_anti")
  }

  /** Park-and-swap a live dir with its staged replacement: live →
    * live_old, staged → live, drop the parked copy only after the swap
    * lands. [[reconcile]] resolves every interruption point. */
  private[graft] def swapDir(fs: FileSystem, live: String, staged: String): Unit = {
    val livePath = new Path(live)
    val old = new Path(s"${live}_old")
    fs.delete(old, true)
    if (fs.exists(livePath)) fs.rename(livePath, old)
    fs.rename(new Path(staged), livePath)
    fs.delete(old, true)
  }

  /** Resolve an interrupted [[swapDir]] of `live`: a parked copy whose
    * live dir is missing crashed between park and rename-in — restore
    * it; a parked copy beside a live dir is stale — drop it. A staged
    * replacement that never swapped is garbage (the op reruns). */
  private[graft] def reconcileSwap(fs: FileSystem, live: String,
                                   staged: String): Unit = {
    val old = new Path(s"${live}_old")
    if (fs.exists(old)) {
      if (!fs.exists(new Path(live))) fs.rename(old, new Path(live))
      else fs.delete(old, true)
    }
    val st = new Path(staged)
    if (fs.exists(st)) fs.delete(st, true)
  }

  /** The pinned schemas of the index tables (every writer above stores
    * exactly these types): reading with them skips the schema-inference
    * job a bare `spark.read.parquet` runs per table read — per append,
    * removal and search. */
  private val Schemas: Map[String, StructType] = Map(
    "postings" -> "token_id BIGINT, doc_id BIGINT, tf BIGINT, dl BIGINT, gen BIGINT",
    "docs" -> "doc_id BIGINT, dl BIGINT, tids ARRAY<BIGINT>, gen BIGINT",
    "df" -> "token_id BIGINT, df BIGINT",
    "meta" -> "n_docs BIGINT, total_len BIGINT, gen BIGINT",
    "tombstones" -> "doc_id BIGINT, gen BIGINT"
  ).map { case (t, ddl) => t -> StructType.fromDDL(ddl) }

  private def read(spark: SparkSession, path: String, sub: String): DataFrame =
    spark.read.schema(Schemas(sub)).parquet(s"$path/$sub")

  /** Move every parquet part of `src` into `dst` — rename-based, so a
    * replay moves only what is still left (exactly-once application). */
  private def moveFiles(fs: FileSystem, src: String, dst: String): Unit = {
    val srcPath = new Path(src)
    if (!fs.exists(srcPath)) return
    fs.mkdirs(new Path(dst))
    fs.listStatus(srcPath)
      .filter(_.getPath.getName.endsWith(".parquet"))
      .foreach(f => fs.rename(f.getPath, new Path(dst, f.getPath.getName)))
  }

  private def conf(spark: SparkSession, path: String): Int = {
    val fs = hfs(spark, path)
    require(fs.exists(new Path(s"$path/conf")),
      s"FullTextIndex $path has no conf table — not a written index")
    // driver-side sidecar read (SidecarIO): this 1-row gate runs at the
    // top of every search/append/upsert/remove — as a Spark collect it
    // cost a full job schedule per call
    val row = SidecarIO.readGroups(
      spark.sparkContext.hadoopConfiguration, s"$path/conf").head
    // refuse a stale on-disk layout UP FRONT: an older binary's index
    // passes the conf existence check but lacks the gen/docs/tombstone
    // tables, and would otherwise fail mid-maintenance with an
    // unresolved-column error instead of a diagnosis. A missing version
    // column does NOT by itself mean v1: the gen/docs/tombstones layout
    // predates the version stamp, so indexes written between those two
    // binaries have the full v2 layout with no column — sniff the layout
    // (the forward `docs/` table is v2's distinguishing artifact) instead
    // of forcing a rebuild of a compatible index.
    val v = if (SidecarIO.has(row, "format_version"))
      row.getInteger("format_version", 0)
    else if (fs.exists(new Path(s"$path/docs"))) 2
    else 1
    require(v == FormatVersion,
      s"FullTextIndex $path is on-disk format v$v; this binary reads " +
        s"v$FormatVersion — rebuild the index (FullTextIndex.write)")
    row.getInteger("max_length", 0)
  }

  private def hfs(spark: SparkSession, path: String): FileSystem =
    new Path(path).getFileSystem(spark.sparkContext.hadoopConfiguration)
}
