package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{LongType, StructField, StructType}

/** Persisted IVF-PQ vector index — the build-once / query-many serving
  * shape for a 100 TB corpus (semantics per the reference's flat search,
  * `/root/reference/src/similarity.rs`; the IVF/PQ decomposition follows
  * Jégou et al., "Product Quantization for Nearest Neighbor Search",
  * TPAMI 2011).
  *
  * [[Similarity.ivfPq]] re-derives the quantizers and re-encodes the
  * corpus on every call — fine for one-shot analytics, wrong for serving:
  * at 100 TB the encode pass alone reads the whole corpus. This module
  * splits the lifecycle:
  *
  *   - '''build''' ([[writeIvfPq]]/[[writeIvfPqTrained]]): one corpus
  *     pass assigns each row its coarse cell and m PQ codes, written as
  *     parquet '''partitioned by cell''' — plus the two driver-small
  *     sidecars (centroids, per-subspace codebooks) and a 1-row meta
  *     table. The raw vectors never need to be read again.
  *   - '''append''' ([[append]]): encode NEW rows with the SAVED
  *     quantizers and add their files to the existing cell directories —
  *     incremental maintenance with zero retraining and zero rewrite of
  *     the existing 100 TB. (Standard IVF practice: the coarse geometry
  *     is stable; re-train only on drift.)
  *   - '''search''' ([[search]]): load the k-sized sidecars, probe each
  *     query's `nProbe` nearest cells, and scan ONLY the probed cells'
  *     files — the `cell IN (...)` filter lands on the partition column,
  *     so the FileIndex prunes unprobed directories before any I/O
  *     happens (the spec asserts `PartitionFilters` in the scan). At 16
  *     probes of 65k cells that is ~0.02% of the file listing, where
  *     [[Similarity.ivfPq]]'s in-plan form still scans every row.
  *     Serving variants: [[searchRescored]] (exact-L2 re-rank of ADC
  *     candidates) and [[searchFiltered]] (allow-set predicate), both
  *     pre-ranking so top-k backfills correctly.
  *   - '''maintain''': O(batch) tombstone [[delete]]s with immediate
  *     effect, affected-cells-only [[compact]]ion (+ mergeAll
  *     small-file fold), metadata-only [[merge]] of a same-quantizer
  *     index, [[driftScore]] deciding WHEN to retrain, and [[stats]]
  *     for occupancy/file health — each leg measured at 1×/10×/100×
  *     (SCALING.md).
  *
  * Results are bit-identical to [[Similarity.ivfPq]] built from the same
  * quantizers (same NearestCell assignment, same subspace-ordered ADC
  * accumulation, same partial top-k tie-breaks) — gated by q123/q123b
  * against the q49b oracle and by IvfPqIndexSpec.
  *
  * Measured (SCALING.md, persisted IVF-PQ index): steady-state per-batch search is
  * FLAT across a 100× corpus growth (0.37–0.55 s) while the one-shot
  * form grows with N — 3.1× at 100× reading 8% of cells; serving
  * sessions must hold a [[load]] handle (sidecars + partition listing
  * amortize across batches).
  */
object VectorIndex {
  private val bridge = org.apache.spark.sql.graftbridge.Bridge

  /** Build with the deterministic first-k quantizers (the oracle-exact
    * form, matching [[Similarity.ivfPq]]'s internals). */
  def writeIvfPq(corpus: DataFrame, cIdCol: String, cVecCol: String,
                 nCells: Int, m: Int, nCentsPq: Int, path: String,
                 storeVectors: Boolean = false,
                 residual: Boolean = false): Unit = {
    val (cents, books) =
      if (residual) {
        // residual books need the centroid bank in-plan, so their
        // collect stays a second job; the raw frame merges both below
        val cs = Similarity.collectCentroids(corpus, cIdCol, cVecCol, nCells)
        (cs, Similarity.subBooks(
          Similarity.residualBookRows(corpus, cIdCol, cVecCol, cs, nCentsPq), m))
      } else {
        // one collect feeds BOTH first-k quantizers (guide §1.2 — was
        // two jobs per build, and the suite builds ~20 indexes per pass)
        val (cs, book) = Similarity.collectQuantizers(
          corpus, cIdCol, cVecCol, nCells, nCentsPq)
        (cs, Similarity.subBooks(book, m))
      }
    writeWith(corpus, cIdCol, cVecCol, cents, books, path, storeVectors, residual)
  }

  /** Build with TRAINED quantizers (Lloyd coarse cells + per-subspace PQ
    * books) — the production quality path; same persisted layout. */
  def writeIvfPqTrained(corpus: DataFrame, cIdCol: String, cVecCol: String,
                        dim: Int, nCells: Int, m: Int, nCentsPq: Int,
                        iterations: Int, path: String,
                        storeVectors: Boolean = false,
                        residual: Boolean = false): Unit = {
    val cents = Similarity.trainKmeans(corpus, cIdCol, cVecCol, nCells, iterations)
    // residual books train on the residual VIEW of the corpus (PQ
    // training is frame-blind — only its input changes), so within-cell
    // offsets get the whole code budget
    val trainSrc =
      if (residual) Similarity.residualView(corpus, cIdCol, cVecCol, cents)
      else corpus
    val books = Similarity.trainPqCodebooks(trainSrc, cIdCol, cVecCol,
      dim, m, nCentsPq, iterations)
    writeWith(corpus, cIdCol, cVecCol, cents, books, path, storeVectors, residual)
  }

  /** Persist explicit quantizers + the encoded corpus. Layout:
    * `path/centroids` (cell, vec), `path/books` (j, code, vec),
    * `path/meta` (dim, m, n_cells, k_pq, mean_cell_dist — the
    * [[driftScore]] baseline — and `residual`, the encode frame every
    * later [[append]]/[[search]] must honor), `path/codes` partitioned by
    * `cell` with columns (id, codes), and — when `storeVectors` — a
    * `path/vecs` table (id, vec) partitioned by cell for
    * [[searchRescored]]. Sidecars are driver-small (k×dim); codes is
    * (long, m longs) per row against dim floats (the PQ footprint cut);
    * the optional vecs table is corpus-sized but only its probed cells'
    * top candidates are ever fetched. */
  def writeWith(corpus: DataFrame, cIdCol: String, cVecCol: String,
                cents: Array[(Long, Array[Double])],
                books: Array[Array[Array[Double]]], path: String,
                storeVectors: Boolean = false,
                residual: Boolean = false): Unit = {
    val spark = corpus.sparkSession
    import spark.implicits._
    val dim = cents.head._2.length
    // drift baseline: one extra column-pruned pass over the corpus (the
    // vec column only) — paid once at build so every later driftScore
    // reads only its batch
    val baseRow = meanCellDist(corpus.select(col(cVecCol)), cVecCol, cents)
      .collect()(0)
    require(baseRow.getLong(0) > 0L,
      s"writeIvfPq($path): corpus is empty — an index needs at least one row " +
        "(and a non-null drift baseline)")
    val baseline = baseRow.getDouble(1)
    require(baseline > 0.0,
      s"writeIvfPq($path): drift baseline is 0 (every corpus vector coincides " +
        "with a centroid — a degenerate corpus/quantizer pairing); driftScore " +
        "would divide by zero")
    // driver-side sidecar writes (SidecarIO.writeGroups): these three
    // tables are driver arrays already — a coalesce(1) Spark write per
    // table paid a full job schedule + commit each (3 jobs per build;
    // the suite builds ~20 indexes per pass)
    val hconf = spark.sparkContext.hadoopConfiguration
    SidecarIO.writeGroups(hconf, s"$path/meta", SidecarIO.schemaOf(
      """message meta { optional int32 dim; optional int32 m;
        |optional int32 n_cells; optional int32 k_pq;
        |optional double mean_cell_dist; optional boolean residual; }""".stripMargin),
      f => Seq(f.newGroup()
        .append("dim", dim).append("m", books.length)
        .append("n_cells", cents.length).append("k_pq", books.head.length)
        .append("mean_cell_dist", baseline).append("residual", residual)))
    SidecarIO.writeGroups(hconf, s"$path/centroids", SidecarIO.schemaOf(
      """message centroids { optional int64 cell;
        |optional group vec (LIST) { repeated group list { optional double element; } } }""".stripMargin),
      f => cents.toSeq.map { case (c, v) =>
        val g = f.newGroup().append("cell", c)
        SidecarIO.addDoubles(g, "vec", v)
        g
      })
    SidecarIO.writeGroups(hconf, s"$path/books", SidecarIO.schemaOf(
      """message books { optional int32 j; optional int32 code;
        |optional group vec (LIST) { repeated group list { optional double element; } } }""".stripMargin),
      f => books.zipWithIndex.toSeq.flatMap { case (book, j) =>
        book.zipWithIndex.map { case (v, code) =>
          val g = f.newGroup().append("j", j).append("code", code)
          SidecarIO.addDoubles(g, "vec", v)
          g
        }
      })
    encodeInto(corpus, cIdCol, cVecCol, cents, books, path, SaveMode.Overwrite,
      storeVectors, residual)
  }

  /** Fixed-point-exact mean nearest-cell distance of a vector set
    * against a centroid bank — the residual-energy reading that anchors
    * drift detection. Per row: min squared-L2 to the bank (min is
    * order-free, so the double is bit-identical to the oracle's
    * `min(l2sq)`), quantized `floor(d·S + 0.5)` to a long BEFORE the sum
    * (commutative — the trainKmeans trick), mean = Σq/(n·S). One narrow
    * column-pruned pass; output one row (n_rows, mean_dist). */
  def meanCellDist(df: DataFrame, vecCol: String,
                   cents: Array[(Long, Array[Double])],
                   scale: Long = 1000000L): DataFrame =
    df.select(cellDistQuantized(df.sparkSession, col(vecCol), cents, scale).as("__q"))
      .agg(count(lit(1)).as("n_rows"), sum(col("__q")).as("__s"))
      .select(col("n_rows"),
        (col("__s").cast("double") /
          (col("n_rows") * lit(scale)).cast("double")).as("mean_dist"))

  /** The per-row quantized nearest-cell distance the drift readings sum:
    * min squared-L2 to the bank (order-free double), `floor(d·S + 0.5)`
    * to a long so any later sum is commutative-exact. Shared by the
    * batch [[meanCellDist]] and the windowed [[graft.streaming
    * .StreamingOps.driftScoreStream]]. */
  def cellDistQuantized(spark: SparkSession, vec: Column,
                        cents: Array[(Long, Array[Double])],
                        scale: Long = 1000000L): Column = {
    val bank = graft.functions.CentroidBank.of(spark, cents)
    val d = bridge.column(graft.functions.NearestCellDist(
      bridge.expression(vec), bank))
    floor(d * lit(scale.toDouble) + lit(0.5)).cast("long")
  }

  /** The drift denominator persisted at build time (`meta.mean_cell_dist`). */
  def loadBaseline(spark: SparkSession, path: String): Double =
    SidecarIO.readGroups(spark.sparkContext.hadoopConfiguration, s"$path/meta")
      .head.getDouble("mean_cell_dist", 0)

  /** Quantization-drift score for an ingest batch: the batch's mean
    * nearest-cell distance over the index's build-time baseline (stored
    * in `meta.mean_cell_dist` at build). ≈1 → the coarse geometry still
    * fits the arriving data; a sustained score well above 1 means new
    * rows land far from every centroid — probe recall degrades — so
    * retrain ([[writeIvfPqTrained]]) and re-encode. Costs one narrow
    * pass over the BATCH only (the baseline was paid once at build);
    * both sides use the fixed-point sum, so the score is deterministic
    * run-over-run. */
  def driftScore(spark: SparkSession, batch: DataFrame, vecCol: String,
                 path: String): Double = {
    val (cents, _) = loadQuantizers(spark, path)
    val b = meanCellDist(batch, vecCol, cents).collect()(0).getDouble(1)
    b / loadBaseline(spark, path)
  }

  /** Logical delete: record `ids` as tombstones. O(batch) — no corpus
    * file is touched; [[search]]/[[searchRescored]] anti-join the
    * tombstone set out of the candidate stream BEFORE ranking (so top-k
    * backfills exactly as if the rows were physically gone), and
    * [[compact]] later folds the tombstones into the cell files. This is
    * the standard serving-index delete split (the removal-request path at
    * 100 TB: the request must take effect now; the rewrite can wait for
    * the maintenance window).
    *
    * A tombstoned id stays hidden until a [[compact]] clears the
    * tombstone set — re-[[append]]ing the same id before compaction
    * keeps it suppressed (ids are permanent identities here; re-ingest
    * under a deleted id is a pipeline error this masks conservatively).
    *
    * '''Rule''': a maintenance script that ENDS with an explicit
    * [[compact]] should pass `autoCompact = false` — the explicit call
    * does the same rewrite the policy would, and suppressing the policy
    * skips its decide jobs (tombstone distinct + codes count) plus a
    * possible rewrite fired one statement early ([[upsert]] follows
    * this rule; the explicit [[compact]] is already a no-op when the
    * policy got there first, so the composition is safe either way —
    * just not free). */
  def delete(spark: SparkSession, path: String, ids: DataFrame,
             idCol: String, autoCompact: Boolean = true): Unit = {
    // one file per delete; the dedup needs no exchange when the caller
    // passes its ids in one partition (the streaming sinks coalesce
    // their micro-batch), while an id set scanned from a table keeps
    // its parallel scan
    ids.select(col(idCol).cast("long").as("id")).distinct()
      .coalesce(1).write.mode(SaveMode.Append).parquet(s"$path/tombstones")
    // bounded-mask policy (FullTextIndex.maybeCompact's twin): the
    // query-time tombstone anti-join must stay bounded under sustained
    // deletes without an operator remembering the maintenance window
    if (autoCompact) maybeCompact(spark, path)
  }

  /** Auto-compaction floor/ratio — [[maybeCompact]]'s defaults, chosen
    * like [[FullTextIndex.AutoCompactMinTombstones]]: below the floor
    * the broadcast mask is cheaper than any rewrite; above 10% of the
    * indexed rows the amortized affected-cell rewrite runs at most ~10
    * times per corpus turnover. */
  val AutoCompactMinTombstones: Long = 4096L
  val AutoCompactFrac: Double = 0.10

  /** Decide-then-act auto-compaction (the drift trigger's shape —
    * [[driftScore]] → retrain): [[compact]] iff the distinct tombstoned
    * ids exceed `max(minTombstones, frac · indexed rows)`. Fired by
    * every [[delete]]; results are unchanged either way (tombstones
    * prune candidates pre-ranking identically to physical removal — the
    * delete/compact lifecycle gates pin that), so the policy only bounds the mask size and
    * the files-per-cell growth. The decide leg is one count over the
    * O(deletes) tombstone table plus a metadata-only codes count.
    * Returns whether a compaction ran. */
  def maybeCompact(spark: SparkSession, path: String,
                   minTombstones: Long = AutoCompactMinTombstones,
                   frac: Double = AutoCompactFrac): Boolean = {
    val tombDir = new org.apache.hadoop.fs.Path(s"$path/tombstones")
    val fs = tombDir
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(tombDir)) return false
    // floor gate from parquet footers — driver-side, no job (see
    // FullTextIndex.maybeCompact): row count ≥ distinct ids, so the
    // floor only ever fires early, and the exact fold decides below
    if (FullTextIndex.footerRowCount(spark, fs, s"$path/tombstones") < minTombstones)
      return false
    val pending = tombstones(spark, path).select(col("id")).distinct().count()
    if (pending < minTombstones) return false
    // parquet footer row count — no data pages read
    val indexed = codes(spark, path).count()
    if (pending.toDouble < frac * indexed) return false
    compact(spark, path)
    true
  }

  /** Physical compaction: rewrite ONLY the cells that contain tombstoned
    * rows (found by one narrow join over the codes table — id + m codes
    * per row, a small fraction of corpus bytes), dropping those rows, then
    * clear the tombstone set. Each rewritten cell is also re-clustered to
    * one file, folding the per-[[append]] file growth back down. Cells
    * without deletes keep their files byte-identical — the rewrite cost is
    * proportional to the affected cells, never the corpus.
    *
    * `mergeAll = true` additionally rewrites every cell (file-merge-only
    * compaction for an index that accumulated many appends). */
  def compact(spark: SparkSession, path: String,
              mergeAll: Boolean = false): Unit = {
    val hconf = spark.sparkContext.hadoopConfiguration
    val tombDir = new org.apache.hadoop.fs.Path(s"$path/tombstones")
    val fs = tombDir.getFileSystem(hconf)
    // reconcile BEFORE the early return: a compact that crashed mid-swap
    // may have left cells parked aside with its tombstones already
    // cleared (mergeAll runs), and the next call must restore them even
    // when it has no work of its own
    reconcile(fs, s"$path/codes")
    reconcile(fs, s"$path/vecs")
    val hasTombs = fs.exists(tombDir)
    if (!hasTombs && !mergeAll) return
    import spark.implicits._
    BatchScope { scope =>
      // the distinct tombstoned ids (a parallel scan of the O(deletes
      // since the last compaction) table), cut once. A set of at most
      // PushdownTermLimit ids filters as an IN list, so neither the
      // affected-cells collect nor a cell rewrite broadcasts it; a wider
      // set joins the cut
      val tombs =
        if (hasTombs) scope.keep(tombstones(spark, path).select(col("id")).distinct())
        else spark.emptyDataset[Long].toDF("id")
      val inList = tombs.limit(FullTextIndex.PushdownTermLimit + 1).collect().map(_.getLong(0))
      val few = inList.length <= FullTextIndex.PushdownTermLimit
      def live(t: DataFrame): DataFrame =
        if (!few) t.join(tombs, Seq("id"), "left_anti")
        else if (inList.isEmpty) t
        else t.filter(!col("id").isin(inList: _*))
      val cs = codes(spark, path)
      // bounded by nCells (the partition-column cardinality), never by
      // data; the IN list matches only the listed ids' rows, so their
      // cells collect without the distinct's exchange
      val affected =
        (if (mergeAll) cs.select(col("cell")).distinct()
         else if (few) cs.filter(col("id").isin(inList: _*)).select(col("cell"))
         else cs.join(tombs, Seq("id"), "left_semi").select(col("cell")).distinct())
          .select(col("cell").cast("long")).collect().map(_.getLong(0)).distinct.sorted
      if (affected.nonEmpty) {
        rewriteCells(s"$path/codes", cs, affected, live)
        if (fs.exists(new org.apache.hadoop.fs.Path(s"$path/vecs")))
          rewriteCells(s"$path/vecs", vecs(spark, path), affected, live)
      }
    }
    if (hasTombs) fs.delete(tombDir, true)
  }

  /** Rewrite the given cell partitions of one table minus the tombstoned
    * ids (`live` filters them out): stage into `<table>_compact`, then
    * swap directories (write fully materializes before any source dir
    * is touched — Spark cannot overwrite a path it is reading). A cell
    * whose rows are all deleted simply loses its directory.
    *
    * The swap is CRASH-RECOVERABLE: each live cell dir is renamed ASIDE
    * (into `<table>_old/cell=N` — outside the table dir, so a concurrent
    * read never sees a malformed partition value) before the staged
    * replacement renames in, and the parked copies are deleted only
    * after EVERY cell has swapped. A crash at any point leaves either
    * the old or the new copy of each cell on disk; [[reconcile]] (run at
    * the top of [[compact]] and [[load]]) restores any cell whose swap
    * didn't complete and clears the leftover staging/parking dirs —
    * tombstones are cleared LAST in [[compact]], so a recovered run
    * simply redoes the rewrite. A delete-then-rename swap would instead
    * lose the cell outright if the process died between the two. */
  private def rewriteCells(tablePath: String, table: DataFrame,
                           cells: Array[Long], live: DataFrame => DataFrame): Unit = {
    val spark = table.sparkSession
    val tmpPath = s"${tablePath}_compact"
    val oldPath = s"${tablePath}_old"
    live(table.filter(col("cell").isin(cells: _*)))
      .withColumn("cell", col("cell").cast("long"))
      .repartition(col("cell"))
      .write.mode(SaveMode.Overwrite).partitionBy("cell").parquet(tmpPath)
    val fs = new org.apache.hadoop.fs.Path(tablePath)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    fs.mkdirs(new org.apache.hadoop.fs.Path(oldPath))
    cells.foreach { c =>
      val dst = new org.apache.hadoop.fs.Path(s"$tablePath/cell=$c")
      val src = new org.apache.hadoop.fs.Path(s"$tmpPath/cell=$c")
      if (fs.exists(dst))
        fs.rename(dst, new org.apache.hadoop.fs.Path(s"$oldPath/cell=$c"))
      if (fs.exists(src)) fs.rename(src, dst)
    }
    // all cells swapped — only now is it safe to drop the parked copies
    fs.delete(new org.apache.hadoop.fs.Path(oldPath), true)
    fs.delete(new org.apache.hadoop.fs.Path(tmpPath), true)
  }

  /** Crash recovery for [[rewriteCells]]' swap: any parked cell whose
    * live dir is MISSING crashed between rename-aside and rename-in —
    * restore it (its tombstones were never cleared, so the interrupted
    * compaction simply reruns); a parked cell whose live dir exists
    * completed its swap — drop the stale copy. Leftover staging dirs are
    * garbage either way once the parked cells are resolved. O(1) exists
    * checks when there is nothing to do. */
  private def reconcile(fs: org.apache.hadoop.fs.FileSystem,
                        tablePath: String): Unit = {
    val oldDir = new org.apache.hadoop.fs.Path(s"${tablePath}_old")
    if (fs.exists(oldDir)) {
      fs.listStatus(oldDir).foreach { parked =>
        val live = new org.apache.hadoop.fs.Path(tablePath, parked.getPath.getName)
        if (!fs.exists(live)) fs.rename(parked.getPath, live)
      }
      fs.delete(oldDir, true)
    }
    val tmpDir = new org.apache.hadoop.fs.Path(s"${tablePath}_compact")
    if (fs.exists(tmpDir)) fs.delete(tmpDir, true)
  }

  /** Upsert: replace the indexed vectors for `batch`'s ids with the
    * batch's vectors — the document-UPDATE path ([[append]] covers
    * inserts, [[delete]] removals; real corpora also re-crawl and
    * re-embed). Composes the existing legs in the only order the
    * tombstone contract allows: [[delete]] the ids (with
    * `autoCompact = false`, per the Rule on [[delete]]), [[compact]] the
    * affected cells (clearing the tombstones — a re-append under a
    * live tombstone would stay suppressed), then [[append]] the new
    * encodings with the SAVED quantizers. Pending tombstones from
    * earlier [[delete]]s fold into the same rewrite and clear.
    *
    * Replay-idempotent with no marker protocol: a crashed attempt leaves
    * the batch's ids tombstoned (masked from search), compacted out, or
    * the full result; the redelivered batch's delete + compact sweeps
    * whatever version is present before the single live append.
    *
    * Cost at 100 TB: O(batch) tombstone write + a rewrite of only the
    * cells the stale rows live in + one narrow encode pass over the
    * batch — never a corpus pass. Ids absent from the index upsert as
    * plain inserts (their tombstones prune nothing and compaction of
    * their cells is skipped). */
  def upsert(batch: DataFrame, idCol: String, vecCol: String,
             path: String): Unit = {
    val spark = batch.sparkSession
    delete(spark, path, batch.select(col(idCol)), idCol, autoCompact = false)
    compact(spark, path)
    append(batch, idCol, vecCol, path)
  }

  /** Incremental maintenance: encode `newRows` with the index's SAVED
    * quantizers and append into the existing cell partitions. No
    * retraining, no touch of existing files — the 100 TB ingest path
    * (a day's new documents encode in one narrow pass over just them). */
  def append(newRows: DataFrame, cIdCol: String, cVecCol: String,
             path: String): Unit = {
    val (cents, books) = loadQuantizers(newRows.sparkSession, path)
    // appends mirror the build's layout choice: keep the vecs table in
    // sync iff the index was built with storeVectors
    val vecsDir = new org.apache.hadoop.fs.Path(s"$path/vecs")
    val hasVecs = vecsDir
      .getFileSystem(newRows.sparkSession.sparkContext.hadoopConfiguration)
      .exists(vecsDir)
    encodeInto(newRows, cIdCol, cVecCol, cents, books, path, SaveMode.Append,
      storeVectors = hasVecs,
      residual = isResidual(newRows.sparkSession, path))
  }

  /** [[append]] with the quantizers, encode frame and layout of a handle
    * [[load]]ed from `path` since its last write — for a body that
    * searched the index and now grows it, so the sidecars are read once. */
  private[graft] def appendLoaded(newRows: DataFrame, cIdCol: String,
                                  cVecCol: String, path: String,
                                  idx: Loaded): Unit =
    encodeInto(newRows, cIdCol, cVecCol, idx.cents, idx.books, path,
      SaveMode.Append, storeVectors = idx.vecs.isDefined, residual = idx.residual)

  /** A session-lifetime handle on one index: the k-sized quantizer
    * sidecars plus the codes DataFrame whose (expensive, nCells-wide)
    * partition listing is built once and reused across query batches.
    * Snapshot semantics: rows [[append]]ed after [[load]] are invisible
    * until the next load — standard serving-index staleness. */
  final case class Loaded(cents: Array[(Long, Array[Double])],
                          books: Array[Array[Array[Double]]],
                          codes: DataFrame,
                          vecs: Option[DataFrame] = None,
                          tombs: Option[DataFrame] = None,
                          residual: Boolean = false)

  /** Load an index once per serving session ([[search]] per batch would
    * re-read both sidecars AND re-list every partition directory).
    * Picks up the optional raw-vector table when the build stored it. */
  def load(spark: SparkSession, path: String): Loaded = {
    val (cents, books) = loadQuantizers(spark, path)
    val fs = new org.apache.hadoop.fs.Path(path)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    // startup recovery: a compact that died mid-swap parks cells aside;
    // serve the restored layout, never a partially-swapped one
    reconcile(fs, s"$path/codes")
    reconcile(fs, s"$path/vecs")
    def opt(sub: String, read: => DataFrame): Option[DataFrame] =
      if (fs.exists(new org.apache.hadoop.fs.Path(s"$path/$sub"))) Some(read)
      else None
    Loaded(cents, books, codes(spark, path),
      opt("vecs", vecs(spark, path)), opt("tombstones", tombstones(spark, path)),
      residual = isResidual(spark, path))
  }

  /** The corpus-shaped tables, read with their pinned schemas: a
    * `spark.read.parquet` without one runs a schema-inference job per
    * read (per micro-batch on the ingest paths, per probe on the serving
    * paths). `cell` reads as a long, the type every writer stores. */
  private val CodesSchema = StructType.fromDDL("id BIGINT, codes ARRAY<BIGINT>, cell BIGINT")
  private val TombstonesSchema = StructType.fromDDL("id BIGINT")

  private def codes(spark: SparkSession, path: String): DataFrame =
    spark.read.schema(CodesSchema).parquet(s"$path/codes")

  private def tombstones(spark: SparkSession, path: String): DataFrame =
    spark.read.schema(TombstonesSchema).parquet(s"$path/tombstones")

  /** The vecs table stores the corpus vector column as given (float or
    * double elements), so its element type comes from one part file's
    * footer on the driver. */
  private def vecs(spark: SparkSession, path: String): DataFrame = {
    val stored = SidecarIO.sparkSchema(spark.sparkContext.hadoopConfiguration, s"$path/vecs")
    spark.read.schema(StructType(Seq(StructField("id", LongType),
        StructField("vec", stored("vec").dataType), StructField("cell", LongType))))
      .parquet(s"$path/vecs")
  }

  /** The encode frame persisted at build time — meta's `residual`
    * column; absent (a pre-residual layout) means raw-frame. */
  def isResidual(spark: SparkSession, path: String): Boolean = {
    val g = SidecarIO.readGroups(
      spark.sparkContext.hadoopConfiguration, s"$path/meta").head
    SidecarIO.has(g, "residual") && g.getBoolean("residual", 0)
  }

  /** ANN search against a prebuilt index. Loads the k-sized sidecars,
    * probes nProbe cells per query, reads ONLY the probed partitions
    * (`cell IN` on the partition column → directory-level pruning), and
    * ranks by the same subspace-ordered ADC + partial top-k as
    * [[Similarity.ivfPq]]. Output (qIdCol, id, rank, dist). */
  def search(spark: SparkSession, queries: DataFrame,
             qIdCol: String, qVecCol: String,
             path: String, nProbe: Int = AutoNProbe, k: Int): DataFrame =
    searchLoaded(spark, queries, qIdCol, qVecCol, load(spark, path), nProbe, k)

  /** [[search]] against a PRELOADED index — the steady-state serving
    * call: sidecar reads and directory listing amortize across every
    * batch the session runs. */
  def searchLoaded(spark: SparkSession, queries: DataFrame,
                   qIdCol: String, qVecCol: String, idx: Loaded,
                   nProbe: Int = AutoNProbe, k: Int): DataFrame =
    adcSearch(spark, queries, qIdCol, qVecCol, idx, nProbe, k)._2

  /** Predicated ANN search: [[searchLoaded]] restricted to an allow-set
    * of ids — the serving-side metadata filter (language, license,
    * collection membership) every retrieval stack needs. The allow set
    * is usually a filtered dimension table; ONLY its id column is read,
    * and the semi join applies to the probed-cells candidate stream
    * BEFORE ranking, so the top-k backfills with permitted rows exactly
    * as if the index contained only them (spec-pinned against a rebuild
    * on the allowed corpus with the same quantizers). Composes with
    * tombstones (both prune pre-ranking). */
  def searchFiltered(spark: SparkSession, queries: DataFrame,
                     qIdCol: String, qVecCol: String, idx: Loaded,
                     nProbe: Int = AutoNProbe, k: Int,
                     allowed: DataFrame, allowedIdCol: String): DataFrame =
    adcSearch(spark, queries, qIdCol, qVecCol, idx, nProbe, k,
      restrict = Some(allowed.select(col(allowedIdCol).cast("long").as("id"))))._2

  /** [[searchLoaded]] + exact re-ranking: ADC over codes picks
    * `k × overfetch` candidates per query, then ONLY those candidates'
    * raw vectors are fetched (from the cell-partitioned `vecs` table,
    * pruned to the same probed cells) and ranked by exact L2. The
    * serving-quality form: PQ compression caps ADC ordering quality
    * (measured: recall@5 0.45 trained / 0.28 first-k at m=8, dim 64,
    * flat in nProbe because coverage is already 1.0 — see SCALING.md),
    * and rescoring buys the ordering back for candidate-sized I/O.
    * Requires an index built with `storeVectors = true`.
    * Output (qIdCol, id, rank, dist) with exact squared-L2 dist.
    *
    * '''Serving defaults by neighbor band''' (planted-band probes,
    * `RECALL_BAND_r18_*.jsonl` / `RECALL_r18_testdata_sf10.jsonl`;
    * SCALING.md "what the mid/high band gets"): near-dup grade
    * (cos ≥ 0.95) clears 0.95+ recall at fixed nProbe 16, overfetch 16
    * at every measured cell count (nProbe 4 decays with cell growth:
    * 0.96 at 82 cells → 0.88 at 821); strong neighbors (cos ≈ 0.8)
    * reach 0.94 at the same setting and 0.99 at nProbe nCells/2,
    * overfetch 32. The cos ≈ 0.7 band gets 0.75–0.88 and the 0.6 band
    * 0.46–0.62 — and the mid-band loss is PQ-ORDERING-bound, not
    * probe-bound: probing ALL cells moves 0.6-band recall only with
    * overfetch (0.59 / 0.72 / 0.82 at overfetch 32 / 64 / 128; the
    * 0.7 band reaches 0.97 and the 0.8 band 1.0 at 128), so a caller
    * needing mid-band completeness must budget overfetch — cost is
    * linear in candidates, ~8× the default at overfetch 128 — or use
    * the exact path; more probes cannot buy it. Fixed nProbe keeps the candidate bound
    * LINEAR in corpus size; the band floor it buys depends on
    * cells-per-angular-radius, which is why the constant is 16, not 4. */
  def searchRescored(spark: SparkSession, queries: DataFrame,
                     qIdCol: String, qVecCol: String, idx: Loaded,
                     nProbe: Int = AutoNProbe, k: Int, overfetch: Int = 4,
                     allowed: Option[DataFrame] = None,
                     allowedIdCol: String = "id"): DataFrame = {
    val vecsDf = idx.vecs.getOrElse(throw new IllegalArgumentException(
      "searchRescored needs an index built with storeVectors = true (no vecs/ table)"))
    // the allow-set (when given) prunes the ADC candidate stage, so the
    // exact-rerank fetch only ever touches permitted rows
    val (probedCells, adc) =
      adcSearch(spark, queries, qIdCol, qVecCol, idx, nProbe, k * overfetch,
        restrict = allowed.map(_.select(col(allowedIdCol).cast("long").as("id"))))
    val cands = adc.select(col(qIdCol), col("id"))
    val pruned = vecsDf
      .filter(col("cell").isin(probedCells: _*))
      .select(col("id"), col("vec"))
    pruned.join(broadcast(cands), Seq("id"))
      .join(broadcast(queries.select(col(qIdCol), col(qVecCol))), Seq(qIdCol))
      .withColumn("__negd", -Similarity.l2sq(col("vec"), col(qVecCol)))
      .groupBy(col(qIdCol))
      .agg(graft.functions.TopKAgg.topK(col("__negd"), col("id"), k).as("__top"))
      .select(col(qIdCol), posexplode(col("__top")).as(Seq("__r", "__t")))
      .select(col(qIdCol), col("__t.id").as("id"),
        (col("__r") + 1).as("rank"), (-col("__t.score")).as("dist"))
  }

  /** Embedding near-dup pairs for an ingest batch against the persisted
    * index — SemDeDup's SERVING form. [[Dedup.semDedupPairs]] re-clusters
    * the corpus per call; at 100 TB the daily question is "is this new
    * document semantically equal to something ALREADY INDEXED", and the
    * index already holds everything needed to answer it batch-sized:
    * ADC search proposes each batch row's top-`k` corpus neighbors
    * (probed-cells candidates only), then ONLY those |batch|·k pairs
    * fetch raw vectors (cell-pruned from the `vecs` table) for the exact
    * cosine ≥ `threshold` verdict. Per-batch cost is O(batch·probed
    * cells + batch·k), never a corpus pass or re-cluster. Requires an
    * index built with `storeVectors = true`. Output
    * (idCol, corpus_id, cosine) — self-pairs excluded (ingest ids are
    * new by contract; the guard keeps replay states conservative). */
  def semanticDups(spark: SparkSession, batch: DataFrame, idCol: String,
                   vecCol: String, idx: Loaded, nProbe: Int = AutoNProbe,
                   k: Int, threshold: Double): DataFrame = {
    val vecsDf = idx.vecs.getOrElse(throw new IllegalArgumentException(
      "semanticDups needs an index built with storeVectors = true (no vecs/ table)"))
    val (probedCells, cands) =
      adcSearch(spark, batch, idCol, vecCol, idx, nProbe, k)
    val pruned = vecsDf
      .filter(col("cell").isin(probedCells: _*))
      .select(col("id"), col("vec"))
    pruned.join(broadcast(cands.select(col(idCol), col("id"))), Seq("id"))
      .join(broadcast(batch.select(col(idCol), col(vecCol))), Seq(idCol))
      .withColumn("cosine", graft.functions.Kernel.cosine(col("vec"), col(vecCol)))
      .filter(col("cosine") >= threshold && col(idCol) =!= col("id"))
      .select(col(idCol), col("id").as("corpus_id"), col("cosine"))
  }

  /** Auto-size the coarse cell count from the corpus — the
    * [[Similarity.nPlanesFor]] analog for the IVF geometry: the
    * smallest cell count with expected occupancy ≤ `targetCell`, so a
    * probed search scans ≈ nProbe·targetCell candidates regardless of
    * n. Carrying a small-corpus cell constant to a bigger corpus is
    * the same failure mode as a carried plane constant (RECALL probes:
    * 16 cells at 20k vectors recalled 0.03 where the auto-sized build
    * holds the planted near-dup band): occupancy grows with n, ADC
    * ordering noise swamps the overfetch cut, and recall collapses.
    * Clamped to [1, n] (a cell needs at least one row). */
  def nCellsFor(n: Long, targetCell: Long = 256L): Int = {
    require(n >= 1 && targetCell >= 1, "need n >= 1 and targetCell >= 1")
    math.min(n, math.max(1L, (n + targetCell - 1) / targetCell)).toInt
  }

  /** Sentinel accepted wherever `nProbe` defaults: resolve via
    * [[nProbeFor]] against the loaded index's own cell count. */
  val AutoNProbe: Int = 0

  /** The measured probe-count law as code — [[nCellsFor]]/
    * [[Similarity.nPlanesFor]]'s serving sibling, so a caller following
    * the API gets the recall the probes measured instead of a guess.
    * `band` is the cosine of the neighbors the caller needs back:
    *
    *   - '''near-dup band (cos ≥ 0.9)''': a FIXED constant holds —
    *     recall there is coverage-bound, and the planted-band probes
    *     (`RECALL_r18_testdata_sf10.jsonl`, re-swept r19) put the floor
    *     at nProbe 16: ≥ 0.95 recall of planted cos≈0.95 pairs at every
    *     measured cell count (82 → 821 cells), where the old habit of 4
    *     decays with cell growth (0.96 → 0.8807) because fixed coverage
    *     is nProbe/nCells of the cell space. Fixed 16 keeps the
    *     candidate bound LINEAR in corpus size (nProbe · targetCell
    *     rows per query).
    *   - '''mid band (cos < 0.9)''': no constant survives cell growth —
    *     half the cells does, under the [[KPqRecommended]] 8-bit books
    *     (`RECALL_BAND_r19_*.jsonl`): at `nCells/2` the 0.7-band reads
    *     0.98 at 90 cells (sf1) and 0.944–0.971 at 899 cells (sf10),
    *     the 0.8-band ≥ 0.9998 at both, at ~2× the fixed-16 serving
    *     cost; the old `nCells/8` reads 0.86 at 899 cells. The
    *     candidate bound is `nCells/2 · targetCell ≈ half the corpus`
    *     per query — the documented mid-band trade. The 0.6-band stays
    *     ordering/overfetch-bound (0.54 → 0.61 moving overfetch 16 →
    *     32 at full probes): past `nCells/2` the lever is overfetch,
    *     not more probes.
    *
    * Clamped to [1, nCells]. */
  def nProbeFor(nCells: Int, band: Double = 0.95): Int = {
    require(nCells >= 1, "need nCells >= 1")
    val p = if (band >= 0.9) 16 else math.max(16, nCells / 2)
    math.min(nCells, math.max(1, p))
  }

  /** The measured code-alphabet recommendation for NEW index builds:
    * 256 centroids per subspace (standard 8-bit IVFPQ books, Jégou et
    * al. 2011) under the RAW encode frame. The r19 quantizer sweep
    * (`RECALL_BAND_r19_testdata_sf1.jsonl`, 7 variants × probe ×
    * overfetch) measured, vs the 4-bit default the oracle gates pin:
    * 0.7-band mutual-kNN recall 0.75 → 0.98 and 0.6-band 0.50 → 0.83
    * at `nCells/2` probes / overfetch 32 — at 1.8× the default-probe
    * serving cost, where the r18 escape hatch (overfetch 128) paid 8×
    * for less. Residual encoding adds NOTHING over 8-bit raw books on
    * an unclustered corpus (0.748 vs 0.751 at equal settings) and costs
    * ~3× serving time (the per-(query,cell) residual is recomputed per
    * probe), so raw is the default frame; residual remains the right
    * frame when the corpus has real cluster structure to spend the
    * coarse quantizer on. Finer splits are NOT monotone: m=16 with
    * 256-cent books COLLAPSES the 0.6-band (0.83 → 0.33–0.49 — 4-dim
    * subspaces overfit the corpus manifold and misrank off-manifold
    * queries), which is why this is a constant, not a knob to crank.
    * Gates stay at 4-bit books only because their DuckDB oracle
    * enumerates codebook training in SQL. */
  val KPqRecommended: Int = 256

  private def resolveProbe(nProbe: Int, nCells: Int): Int =
    if (nProbe > 0) nProbe else nProbeFor(nCells)

  /** Corpus-scale self-kNN candidates from the persisted index — the
    * candidate generator for [[semanticClustersIndexed]]. Unlike
    * [[searchRescored]] (a per-batch serving call that BROADCASTS its
    * query batch into the probed-cell join), the query side here IS the
    * corpus, so everything exchanges on the cell key instead: each live
    * vector explodes to its `nProbe` nearest cells (narrow — the
    * centroid bank is plan-constant), joins the cell-partitioned codes
    * by hash-equi shuffle (candidates bounded by probed-cell occupancy,
    * never all-pairs), ADC proposes `k·overfetch` ids per vector
    * (partial top-k agg — ≤ k·overfetch rows per vector per map task
    * reach the exchange), and ONLY those n·k·overfetch pairs fetch raw
    * vectors for the exact-cosine re-rank — the same [[searchRescored]]
    * exactness at self-join scale. The rescore evaluates the SAME
    * `cosinePre` tree and partial top-(k+1) tie rule as the brute
    * [[Similarity.knnJoin]], so whenever the proposal covers the true
    * top-(k+1) (measured 1.0 at the RECALL-probe settings; the q161
    * gate pins it against the exact-cluster oracle) the output is
    * bit-identical to brute mutual-kNN input pairs. Tombstoned rows
    * leave both sides before anything is ranked. Output (qid, nid):
    * top-(k+1) neighbors by exact cosine, self dropped. */
  def selfKnnCandidates(spark: SparkSession, idx: Loaded,
                        nProbe: Int = AutoNProbe, k: Int,
                        overfetch: Int = 4): DataFrame = {
    import graft.functions.Kernel
    val vecsDf = idx.vecs.getOrElse(throw new IllegalArgumentException(
      "selfKnnCandidates needs an index built with storeVectors = true (no vecs/ table)"))
    val bank = graft.functions.CentroidBank.of(spark, idx.cents)
    val bookBank = graft.functions.CodebookBank.of(spark, idx.books)
    val live = idx.tombs.fold(vecsDf)(t =>
      vecsDf.join(t.select(col("id")), Seq("id"), "left_anti"))
    val q = live.select(col("id").as("__qid"), col("vec").as("__qv"))
      .withColumn("cell", explode(bridge.column(graft.functions.ProbeCells(
        bridge.expression(col("__qv")), bank, resolveProbe(nProbe, idx.cents.length)))))
      .withColumn("__qd",
        if (idx.residual) bridge.column(graft.functions.ResidualVec(
          bridge.expression(col("__qv")), bridge.expression(col("cell")), bank))
        else col("__qv"))
    val codes = {
      val s0 = idx.codes.withColumn("cell", col("cell").cast("long"))
      idx.tombs.fold(s0)(t => s0.join(t.select(col("id")), Seq("id"), "left_anti"))
    }
    val adcTop = codes
      .join(q.select(col("__qid"), col("__qd"), col("cell")), Seq("cell"))
      .withColumn("__negd",
        -Similarity.adcDistCol(bookBank, col("__qd"), col("codes")))
      .groupBy(col("__qid"))
      .agg(graft.functions.TopKAgg.topK(col("__negd"), col("id"),
        k * overfetch).as("__top"))
      .select(col("__qid"), explode(col("__top")).as("__t"))
      .select(col("__qid"), col("__t.id").as("id"))
    // exact re-rank over candidate pairs only; norms factor out of the
    // pair loop exactly as in knnJoin (cosinePre contract)
    val cn = live.select(col("id"), col("vec"),
      Kernel.vecNorm(col("vec")).as("__cn"))
    val qn = live.select(col("id").as("__qid"), col("vec").as("__qv2"),
      Kernel.vecNorm(col("vec")).as("__qn"))
    adcTop.join(cn, Seq("id")).join(qn, Seq("__qid"))
      .withColumn("score", Kernel.cosinePre(
        col("vec"), col("__qv2"), col("__cn"), col("__qn")))
      .groupBy(col("__qid"))
      .agg(graft.functions.TopKAgg.topK(col("score"), col("id"), k + 1).as("__top"))
      .select(col("__qid").as("qid"), explode(col("__top")).as("__t"))
      .select(col("qid"), col("__t.id").as("nid"))
      .filter(col("qid") =!= col("nid"))
  }

  /** Index-backed semantic clustering — the serving-path answer to the
    * auto-sized sign-LSH recall gap (RECALL probes: the hyperplane
    * family holds cost linear but recalls 0.17 on the mid-cosine band
    * that carries this corpus's true-kNN mass; the IVF geometry +
    * exact rescore recalls it all at the same candidate bound). The
    * mutual filter and CC labeling are exactly
    * [[Similarity.mutualKnnPairs]]/[[Similarity.semanticClustersFromKnn]]'s;
    * only the candidate pass changes — so when the proposal covers the
    * true top-(k+1), output is BIT-IDENTICAL to the exact
    * [[Similarity.semanticClusters]] (the q161 gate pins this against
    * the exact-cluster oracle at gate scale). Scale shape: one
    * cell-key exchange + candidate-sized rescore, reusing an index the
    * serving stack already maintains — clustering stops paying its own
    * candidate infrastructure.
    *
    * '''Choosing nProbe''' (planted-band probes, SCALING.md): the
    * linear-cost fixed-4 setting recalls 0.96 of planted cos≈0.95
    * near-dups at 82 cells but decays to 0.88 at 821 (coverage is
    * nProbe/nCells of the cell space) — fixed 16 restores ≥ 0.95 at
    * every measured cell count while keeping the candidate bound
    * linear; the auto setting (nCells/8) recalls 0.999–1.0 with a
    * candidate bound that grows with the corpus. Pick by the band the
    * dedup threshold lives in: near-dup thresholds (≥ 0.9) are safe at
    * fixed 16; mid-band thresholds want the auto setting. */
  def semanticClustersIndexed(spark: SparkSession, idx: Loaded,
                              nProbe: Int = AutoNProbe, k: Int,
                              iterations: Int = Similarity.DefaultSemanticIterations,
                              overfetch: Int = 4): DataFrame = {
    Similarity.semanticClustersFromKnn(
      Similarity.mutualEdges(selfKnnCandidates(spark, idx, nProbe, k, overfetch)), iterations)
  }

  private def adcSearch(spark: SparkSession, queries: DataFrame,
                        qIdCol: String, qVecCol: String, idx: Loaded,
                        nProbe: Int, k: Int,
                        restrict: Option[DataFrame] = None): (Array[Long], DataFrame) = {
    val np = resolveProbe(nProbe, idx.cents.length)
    val bank = graft.functions.CentroidBank.of(spark, idx.cents)
    val bookBank = graft.functions.CodebookBank.of(spark, idx.books)

    // the dist input per (query, probed cell): the raw query vector, or
    // — residual layouts — the query expressed in the PROBED cell's
    // residual frame, computed HERE (|Q|·nProbe rows, before the
    // broadcast), never per candidate inside the hot ADC scan
    val probes = queries.withColumn("cell",
        explode(bridge.column(graft.functions.ProbeCells(
          bridge.expression(col(qVecCol)), bank, np))))
      .withColumn("__qd",
        if (idx.residual) bridge.column(graft.functions.ResidualVec(
          bridge.expression(col(qVecCol)), bridge.expression(col("cell")), bank))
        else col(qVecCol))
      .select(col(qIdCol), col("__qd"), col("cell"))
    // union of probed cells: bounded by nCells (bank-sized), never by data
    val probedCells = probes.select(col("cell")).distinct()
      .collect().map(_.getLong(0)).sorted

    // IN on the partition column only → evaluated against the cached
    // partition spec at planning time; unprobed cell directories never
    // reach the scan (works through the widening cast if the partition
    // value inferred int)
    val survivors = idx.codes
      .filter(col("cell").isin(probedCells: _*))
      .withColumn("cell", col("cell").cast("long"))
    // tombstoned rows leave the candidate stream BEFORE ranking, so the
    // top-k backfills exactly as a physical delete would; the anti-join
    // runs over the probed-cells subset only, and AQE broadcasts the
    // (compaction-bounded) tombstone side when it is small
    val afterTombs = idx.tombs.fold(survivors)(t =>
      survivors.join(t.select(col("id")), Seq("id"), "left_anti"))
    // allow-set semi join: also pre-ranking, also probed-subset-sized
    val codes = restrict.fold(afterTombs)(a =>
      afterTombs.join(a, Seq("id"), "left_semi"))

    val dist = Similarity.adcDistCol(bookBank, col("__qd"), col("codes"))
    val ranked = codes.join(broadcast(probes), Seq("cell"))
      .withColumn("__negd", -dist)
      .groupBy(col(qIdCol))
      .agg(graft.functions.TopKAgg.topK(col("__negd"), col("id"), k).as("__top"))
      .select(col(qIdCol), posexplode(col("__top")).as(Seq("__r", "__t")))
      .select(col(qIdCol), col("__t.id").as("id"),
        (col("__r") + 1).as("rank"), (-col("__t.score")).as("dist"))
    (probedCells, ranked)
  }

  /** One narrow pass: (id, cell, codes) per row, written under
    * `path/codes/cell=<c>/` (+ `path/vecs/cell=<c>/` when vectors are
    * stored for rescoring). Append mode reuses existing directories. */
  private def encodeInto(corpus: DataFrame, cIdCol: String, cVecCol: String,
                         cents: Array[(Long, Array[Double])],
                         books: Array[Array[Array[Double]]],
                         path: String, mode: SaveMode,
                         storeVectors: Boolean = false,
                         residual: Boolean = false): Unit = {
    val spark = corpus.sparkSession
    val bank = graft.functions.CentroidBank.of(spark, cents)
    val bookBank = graft.functions.CodebookBank.of(spark, books)
    // residual layouts PQ-encode vec − centroid[cell] (Jégou et al.'s
    // IVF-ADC form — within a cell only the residual energy remains for
    // the same m codes to resolve); the cell assignment is shared
    val withCell = corpus.select(
        col(cIdCol).cast("long").as("id"),
        bridge.column(graft.functions.NearestCell(
          bridge.expression(col(cVecCol)), bank)).as("cell"),
        col(cVecCol).as("vec"))
    val encSrc =
      if (residual) bridge.column(graft.functions.ResidualVec(
        bridge.expression(col("vec")), bridge.expression(col("cell")), bank))
      else col("vec")
    val encoded = withCell.select(
        col("id"), col("cell"),
        Similarity.pqCodesCol(bookBank, encSrc).as("codes"),
        col("vec"))
    // cluster by cell BEFORE the partitioned write: unordered input
    // would make every task write a file into every cell directory
    // (tasks × cells tiny files — measured 2.6× slower to SEARCH than
    // the one-shot form at 100×, and a 26 s build); one narrow-payload
    // shuffle at build time compacts each cell to one file per append.
    // Input in one partition (a sink body's micro-batch) is one task
    // already: the writer's sort by cell gives one file per cell, so
    // the shuffle would only add a job
    val oneTask = inOnePartition(encoded)
    val assigned = if (oneTask) encoded else encoded.repartition(col("cell"))
    // two tables means two actions: without a persist the second write
    // would re-read the corpus, re-run NearestCell+PQ per row, and
    // re-shuffle — "one corpus pass" must hold for the storeVectors
    // build too (spill-to-disk beats a second full encode at any scale).
    // A one-task micro-batch takes a batch-scoped cut instead (a persist
    // costs one more job per reading query); a corpus build keeps the
    // persist, whose blocks Spark recomputes when an executor is lost
    def write(rows: DataFrame): Unit = {
      rows.select(col("id"), col("cell"), col("codes"))
        .write.mode(mode).partitionBy("cell").parquet(s"$path/codes")
      if (storeVectors)
        rows.select(col("id"), col("cell"), col("vec"))
          .write.mode(mode).partitionBy("cell").parquet(s"$path/vecs")
    }
    if (!storeVectors) write(assigned)
    else if (oneTask) BatchScope(scope => write(scope.keep(assigned)))
    else {
      assigned.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      try write(assigned) finally assigned.unpersist(false)
    }
  }

  /** Whether `df` runs in one task: its plan declares one partition, or
    * its plan has no exchange and no subquery and its RDD has one
    * partition (a checkpointed batch declares an unknown partitioning;
    * its partition count is known without a job). */
  private def inOnePartition(df: DataFrame): Boolean = {
    val plan = df.queryExecution.executedPlan
    plan.outputPartitioning.numPartitions == 1 ||
      (!plan.isInstanceOf[org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec] &&
        plan.find(p => p.isInstanceOf[org.apache.spark.sql.execution.exchange.Exchange] ||
          p.subqueries.nonEmpty).isEmpty &&
        df.queryExecution.toRdd.getNumPartitions == 1)
  }

  /** Merge `srcPath`'s rows INTO `dstPath` — the backfill-plus-daily
    * shape: one big index built once, small per-period indexes built
    * from each ingest, folded in on a maintenance cadence. Both indexes
    * must carry bit-identical quantizers (validated against the
    * sidecars; encoding under different quantizers is a different code
    * space and a silent-corruption hazard this refuses loudly). The
    * merge itself is METADATA-ONLY: each source cell file renames into
    * the destination's cell directory (parquet part names carry a job
    * UUID, so names never collide), tombstones union the same way —
    * zero data pass, zero decode, O(files) namenode ops. The source
    * index directory is consumed (its files move). */
  def merge(spark: SparkSession, srcPath: String, dstPath: String): Unit = {
    val (cs, bs) = loadQuantizers(spark, srcPath)
    val (cd, bd) = loadQuantizers(spark, dstPath)
    require(cs.length == cd.length &&
      cs.zip(cd).forall { case ((ca, va), (cb, vb)) => ca == cb && va.sameElements(vb) },
      "merge requires bit-identical coarse centroids (different quantizers = different code space)")
    require(bs.length == bd.length &&
      bs.zip(bd).forall { case (ba, bb) =>
        ba.length == bb.length && ba.zip(bb).forall { case (x, y) => x.sameElements(y) } },
      "merge requires bit-identical PQ codebooks")
    require(isResidual(spark, srcPath) == isResidual(spark, dstPath),
      "merge requires matching encode frames (raw vs residual codes are " +
        "different code spaces under identical books)")
    val fs = new org.apache.hadoop.fs.Path(dstPath)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    val srcVecs = fs.exists(new org.apache.hadoop.fs.Path(s"$srcPath/vecs"))
    val dstVecs = fs.exists(new org.apache.hadoop.fs.Path(s"$dstPath/vecs"))
    require(srcVecs == dstVecs,
      "merge requires matching storeVectors layouts (one side would lose rescoring)")
    def moveTable(sub: String): Unit = {
      val srcDir = new org.apache.hadoop.fs.Path(s"$srcPath/$sub")
      if (!fs.exists(srcDir)) return
      val dstDir = new org.apache.hadoop.fs.Path(s"$dstPath/$sub")
      if (!fs.exists(dstDir)) fs.mkdirs(dstDir)
      fs.listStatus(srcDir).foreach { entry =>
        val name = entry.getPath.getName
        if (entry.isDirectory && name.startsWith("cell=")) {
          val dstCell = new org.apache.hadoop.fs.Path(dstDir, name)
          if (!fs.exists(dstCell)) fs.mkdirs(dstCell)
          fs.listStatus(entry.getPath)
            .filter(_.getPath.getName.endsWith(".parquet"))
            .foreach(f => fs.rename(f.getPath,
              new org.apache.hadoop.fs.Path(dstCell, f.getPath.getName)))
        } else if (!entry.isDirectory && name.endsWith(".parquet") && sub == "tombstones") {
          fs.rename(entry.getPath, new org.apache.hadoop.fs.Path(dstDir, name))
        }
      }
    }
    moveTable("codes")
    if (srcVecs) moveTable("vecs")
    moveTable("tombstones")
  }

  /** Index health reading: one row of layout statistics — cell count and
    * occupancy spread (the skew that decides whether nCells still fits
    * the corpus: a hot cell degrades every probe that hits it), row
    * total, pending tombstones, and files-per-cell (append growth; fold
    * with [[compact]](mergeAll) when it creeps). One narrow pass over
    * the codes table's (cell) column + a cells-bounded agg; the file
    * count is a driver-side directory listing — O(nCells) metadata ops,
    * bounded by the layout, never by data. */
  def stats(spark: SparkSession, path: String): DataFrame = {
    import spark.implicits._
    val occ = codes(spark, path).groupBy(col("cell")).agg(count(lit(1)).as("n"))
      .agg(count(lit(1)).as("n_cells"), sum(col("n")).as("n_rows"),
        min(col("n")).as("min_occupancy"),
        max(col("n")).as("max_occupancy"),
        avg(col("n")).as("avg_occupancy"))
    val fs = new org.apache.hadoop.fs.Path(path)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    val tombDir = new org.apache.hadoop.fs.Path(s"$path/tombstones")
    val nTombs =
      if (fs.exists(tombDir))
        tombstones(spark, path).select(col("id")).distinct().count()
      else 0L
    val cellDirs = fs.listStatus(new org.apache.hadoop.fs.Path(s"$path/codes"))
      .filter(s => s.isDirectory && s.getPath.getName.startsWith("cell="))
    val nFiles = cellDirs.map(d => fs.listStatus(d.getPath)
      .count(f => f.getPath.getName.endsWith(".parquet"))).sum
    occ.withColumn("pending_tombstones", lit(nTombs))
      .withColumn("n_files", lit(nFiles.toLong))
  }

  /** Load the driver-small sidecars back into the bank contracts. */
  def loadQuantizers(spark: SparkSession, path: String)
      : (Array[(Long, Array[Double])], Array[Array[Array[Double]]]) = {
    // driver-side sidecar reads (SidecarIO): the two collect jobs these
    // k-sized tables cost before were 250–410 ms of pure job overhead
    // per call — and append/search pay this per batch
    val hconf = spark.sparkContext.hadoopConfiguration
    val cents = SidecarIO.readGroups(hconf, s"$path/centroids")
      .map(g => (g.getLong("cell", 0), SidecarIO.doubles(g, "vec")))
      .toArray.sortBy(_._1)
    val books = SidecarIO.readGroups(hconf, s"$path/books")
      .map(g => (g.getInteger("j", 0), g.getInteger("code", 0),
        SidecarIO.doubles(g, "vec")))
      .toArray.groupBy(_._1).toArray.sortBy(_._1)
      .map { case (_, rows) => rows.sortBy(_._2).map(_._3) }
    (cents, books)
  }
}
