package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._
import graft.functions.K
import org.apache.parquet.schema.Type
import graft.operators.{FullTextIndex, SidecarIO, Similarity, VectorIndex}

/** Persisted IVF-PQ index: build-once/query-many must equal the in-plan
  * one-shot form, appends must equal a full rebuild, and search must
  * prune to the probed cell partitions. */
class IvfPqIndexSpec extends AnyFunSuite with SparkSessionTestWrapper {

  private lazy val e = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
  private def q = e.filter(col("vec_id") < 8)
    .select(col("vec_id").as("qid"), col("embedding").as("qv"))

  private def asSet(df: org.apache.spark.sql.DataFrame) = df
    .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2), r.getDouble(3))).toSet

  private def tmp(prefix: String): String =
    java.nio.file.Files.createTempDirectory(prefix).toString

  test("indexed search == in-plan ivfPq from the same quantizers") {
    val path = tmp("graft_ivfpq")
    VectorIndex.writeIvfPq(e, "vec_id", "embedding", nCells = 16, m = 8,
      nCentsPq = 16, path = path)
    val indexed = asSet(VectorIndex.search(spark, q, "qid", "qv", path,
      nProbe = 4, k = 5).select(col("qid"), col("id"), col("rank"), col("dist")))
    val inPlan = asSet(Similarity.ivfPq(q, "qid", "qv", e, "vec_id", "embedding",
      nCells = 16, nProbe = 4, m = 8, nCentsPq = 16, k = 5)
      .select(col("qid"), col("vec_id").cast("long"), col("rank"), col("dist")))
    assert(indexed == inPlan)
    assert(indexed.nonEmpty)
  }

  test("append with saved quantizers == full rebuild") {
    // quantizers are first-16 rows; both halves' builds see ids 0..15,
    // so incremental append must be bit-identical to a full build
    val pHalf = tmp("graft_ivfpq_half")
    val pFull = tmp("graft_ivfpq_full")
    VectorIndex.writeIvfPq(e.filter(col("vec_id") < 250), "vec_id", "embedding",
      16, 8, 16, pHalf)
    VectorIndex.append(e.filter(col("vec_id") >= 250), "vec_id", "embedding", pHalf)
    VectorIndex.writeIvfPq(e, "vec_id", "embedding", 16, 8, 16, pFull)
    val a = asSet(VectorIndex.search(spark, q, "qid", "qv", pHalf, 4, 5))
    val b = asSet(VectorIndex.search(spark, q, "qid", "qv", pFull, 4, 5))
    assert(a == b)
    assert(a.nonEmpty)
  }

  test("upsert: stale vectors replaced == fresh rebuild; absent ids insert; repeats work") {
    // build with reversed vectors for ids >= 100 divisible by 5 (the
    // quantizer rows 0..15 stay true), upsert the true vectors back
    val pStale = tmp("graft_ivfpq_upsert")
    val pTrue = tmp("graft_ivfpq_upsert_ref")
    val staleIds = col("vec_id") >= 100 && col("vec_id") % 5 === 0
    val stale = e.withColumn("embedding",
      when(staleIds, reverse(col("embedding"))).otherwise(col("embedding")))
    VectorIndex.writeIvfPq(stale, "vec_id", "embedding", 16, 8, 16, pStale)
    VectorIndex.upsert(e.filter(staleIds), "vec_id", "embedding", pStale)
    VectorIndex.writeIvfPq(e, "vec_id", "embedding", 16, 8, 16, pTrue)
    val up = asSet(VectorIndex.search(spark, q, "qid", "qv", pStale, 4, 5))
    val ref = asSet(VectorIndex.search(spark, q, "qid", "qv", pTrue, 4, 5))
    assert(up == ref)
    assert(up.nonEmpty)
    // upserting an id the index has never seen = plain insert; and a
    // SECOND upsert of an already-upserted id must serve (tombstones
    // from round 1 were compacted away, not left to suppress round 2)
    val extraId = 100000L
    val extra = e.filter(col("vec_id") === 3).select(
      lit(extraId).as("vec_id"), col("embedding"))
    VectorIndex.upsert(extra, "vec_id", "embedding", pStale)
    VectorIndex.upsert(extra, "vec_id", "embedding", pStale)
    val probe = e.filter(col("vec_id") === 3)
      .select(col("vec_id").as("qid"), col("embedding").as("qv"))
    val hits = VectorIndex.search(spark, probe, "qid", "qv", pStale, 16, 2)
      .select(col("id")).collect().map(_.getLong(0)).toSet
    assert(hits == Set(3L, extraId)) // its own vector + the inserted twin
  }

  test("upsert redelivery (the streaming-sink replay cases) lands exactly once") {
    val staleIds = col("vec_id") >= 100 && col("vec_id") % 5 === 0
    val stale = e.withColumn("embedding",
      when(staleIds, reverse(col("embedding"))).otherwise(col("embedding")))
    val pRef = tmp("graft_upsert_ref")
    VectorIndex.writeIvfPq(e, "vec_id", "embedding", 16, 8, 16, pRef)
    val ref = asSet(VectorIndex.search(spark, q, "qid", "qv", pRef, 4, 5))
    val batch = e.filter(staleIds)
    // case 1: previous attempt FULLY landed, checkpoint didn't — the
    // redelivered upsert's own delete-first sweep must not double
    val p1 = tmp("graft_upsert_replay1")
    VectorIndex.writeIvfPq(stale, "vec_id", "embedding", 16, 8, 16, p1)
    VectorIndex.upsert(batch, "vec_id", "embedding", p1)
    VectorIndex.upsert(batch, "vec_id", "embedding", p1) // redelivery
    assert(asSet(VectorIndex.search(spark, q, "qid", "qv", p1, 4, 5)) == ref)
    // case 2: previous attempt crashed after delete+compact, before the
    // append — redelivery completes it
    val p2 = tmp("graft_upsert_replay2")
    VectorIndex.writeIvfPq(stale, "vec_id", "embedding", 16, 8, 16, p2)
    VectorIndex.delete(spark, p2, batch.select(col("vec_id")), "vec_id")
    VectorIndex.compact(spark, p2) // the interrupted first attempt
    VectorIndex.upsert(batch, "vec_id", "embedding", p2)
    assert(asSet(VectorIndex.search(spark, q, "qid", "qv", p2, 4, 5)) == ref)
  }

  test("search prunes unprobed cell partitions at the scan") {
    val path = tmp("graft_ivfpq_prune")
    VectorIndex.writeIvfPq(e, "vec_id", "embedding", 16, 8, 16, path)
    val res = VectorIndex.search(spark, q, "qid", "qv", path, nProbe = 2, k = 3)
    val plan = res.queryExecution.executedPlan.toString
    assert(plan.contains("PartitionFilters"), s"expected partition filters:\n$plan")
    // the filter must land on the partition column as an IN over the
    // probed cells — that is what the FileIndex evaluates per directory
    val pf = plan.linesIterator.find(_.contains("PartitionFilters")).get
    assert(pf.contains("cell"), s"partition filter must bind cell: $pf")
    assert(pf.contains("IN") || pf.contains(" in"),
      s"expected an IN filter over probed cells: $pf")
    assert(res.count() > 0)
  }

  test("searchLoaded (session-cached sidecars + listing) == search") {
    val path = tmp("graft_ivfpq_loaded")
    VectorIndex.writeIvfPq(e, "vec_id", "embedding", 16, 8, 16, path)
    val idx = VectorIndex.load(spark, path)
    val viaLoaded = asSet(VectorIndex.searchLoaded(spark, q, "qid", "qv", idx, 4, 5))
    val viaPath = asSet(VectorIndex.search(spark, q, "qid", "qv", path, 4, 5))
    assert(viaLoaded == viaPath)
    assert(viaLoaded.nonEmpty)
    // the handle is reusable: a second batch plans against the SAME
    // cached partition listing and must still prune
    val q2 = e.filter(col("vec_id") >= 8 && col("vec_id") < 12)
      .select(col("vec_id").as("qid"), col("embedding").as("qv"))
    val second = VectorIndex.searchLoaded(spark, q2, "qid", "qv", idx, 2, 3)
    val plan = second.queryExecution.executedPlan.toString
    assert(plan.contains("PartitionFilters"), s"expected partition filters:\n$plan")
    assert(second.count() > 0)
  }

  test("searchRescored with all cells probed + wide overfetch == brute L2 top-k") {
    val path = tmp("graft_ivfpq_resc")
    VectorIndex.writeIvfPq(e, "vec_id", "embedding", 16, 8, 16, path,
      storeVectors = true)
    val idx = VectorIndex.load(spark, path)
    assert(idx.vecs.nonEmpty, "storeVectors build must produce vecs/")
    // probe every cell and overfetch past the corpus size: the ADC stage
    // can no longer lose anything, so exact re-ranking IS brute force
    val rescored = VectorIndex.searchRescored(spark, q, "qid", "qv", idx,
        nProbe = 16, k = 5, overfetch = 200)
      .select(col("qid"), col("id"), col("rank"), col("dist"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSet
    val brute = e.crossJoin(broadcast(q))
      .groupBy(col("qid"))
      .agg(graft.functions.TopKAgg.topK(
        (-Similarity.l2sq(col("embedding"), col("qv"))).cast("double"),
        col("vec_id").cast("long"), 5).as("__top"))
      .select(col("qid"), posexplode(col("__top")).as(Seq("__r", "__t")))
      .select(col("qid"), col("__t.id"), (col("__r") + 1).as("rank"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSet
    assert(rescored == brute)
    assert(rescored.nonEmpty)
  }

  test("append keeps the vecs table in sync for rescored search") {
    val pHalf = tmp("graft_ivfpq_resc_half")
    val pFull = tmp("graft_ivfpq_resc_full")
    VectorIndex.writeIvfPq(e.filter(col("vec_id") < 250), "vec_id", "embedding",
      16, 8, 16, pHalf, storeVectors = true)
    VectorIndex.append(e.filter(col("vec_id") >= 250), "vec_id", "embedding", pHalf)
    VectorIndex.writeIvfPq(e, "vec_id", "embedding", 16, 8, 16, pFull,
      storeVectors = true)
    def res(p: String) = VectorIndex.searchRescored(spark, q, "qid", "qv",
        VectorIndex.load(spark, p), 4, 5)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2), r.getDouble(3))).toSet
    val a = res(pHalf)
    assert(a == res(pFull))
    assert(a.nonEmpty)
  }

  test("delete: tombstoned rows leave the ranking; equals rebuild on survivors") {
    val pDel = tmp("graft_ivfpq_del")
    val pRef = tmp("graft_ivfpq_delref")
    val gone = col("vec_id") % 7 === 0 && col("vec_id") >= 16
    VectorIndex.writeIvfPq(e, "vec_id", "embedding", 16, 8, 16, pDel)
    VectorIndex.delete(spark, pDel, e.filter(gone).select(col("vec_id")), "vec_id")
    // quantizers are the first-16 rows, all of which survive — so a
    // from-scratch build on the surviving corpus derives the SAME
    // quantizers, and logical-delete search must match it exactly
    // (including the top-k backfill where a deleted row used to rank)
    VectorIndex.writeIvfPq(e.filter(!gone), "vec_id", "embedding", 16, 8, 16, pRef)
    val a = asSet(VectorIndex.search(spark, q, "qid", "qv", pDel, 4, 5))
    val b = asSet(VectorIndex.search(spark, q, "qid", "qv", pRef, 4, 5))
    assert(a == b)
    assert(a.nonEmpty)
    assert(!a.exists { case (_, id, _, _) => id % 7 == 0 && id >= 16 })
  }

  test("compact: only affected cells rewritten, tombstones cleared, search unchanged") {
    val path = tmp("graft_ivfpq_cmp")
    VectorIndex.writeIvfPq(e, "vec_id", "embedding", 16, 8, 16, path)
    import spark.implicits._
    VectorIndex.delete(spark, path, Seq(100L, 200L).toDF("vec_id"), "vec_id")
    val before = asSet(VectorIndex.search(spark, q, "qid", "qv", path, 16, 5))
    val affected = spark.read.parquet(s"$path/codes")
      .filter(col("id").isin(100L, 200L))
      .select(col("cell").cast("long")).distinct()
      .collect().map(_.getLong(0)).toSet
    def cellDirs = new java.io.File(s"$path/codes").listFiles()
      .filter(_.getName.startsWith("cell=")).map(_.getName.stripPrefix("cell=").toLong)
    def files(c: Long) = new java.io.File(s"$path/codes/cell=$c").listFiles()
      .filter(_.getName.endsWith(".parquet"))
      .map(f => (f.getName, f.lastModified())).toSet
    val untouched = cellDirs.filterNot(affected).toSeq
    assert(untouched.nonEmpty, "expected some cells without deleted rows")
    val filesBefore = untouched.map(c => c -> files(c)).toMap
    VectorIndex.compact(spark, path)
    assert(!new java.io.File(s"$path/tombstones").exists(), "tombstones must clear")
    untouched.foreach(c => assert(files(c) == filesBefore(c),
      s"cell $c had no deletes and must keep its files byte-identical"))
    assert(spark.read.parquet(s"$path/codes")
      .filter(col("id").isin(100L, 200L)).count() == 0, "rows physically gone")
    val after = asSet(VectorIndex.search(spark, q, "qid", "qv", path, 16, 5))
    assert(after == before)
    assert(after.nonEmpty)
  }

  test("compact past the IN-list bound removes exactly what the IN-list compaction does") {
    import spark.implicits._
    val deleted = Seq(100L, 200L, 300L)
    // ids absent from the index widen the tombstone set past
    // PushdownTermLimit, so this compaction joins the tombstones
    val absent = 1000000L until 1000000L + FullTextIndex.PushdownTermLimit
    def survivors(ids: Seq[Long]): (Set[Long], Set[Long]) = {
      val path = tmp("graft_ivfpq_cmp_wide")
      VectorIndex.writeIvfPq(e, "vec_id", "embedding", 16, 8, 16, path, storeVectors = true)
      VectorIndex.delete(spark, path, ids.toDF("vec_id"), "vec_id", autoCompact = false)
      VectorIndex.compact(spark, path)
      assert(!new java.io.File(s"$path/tombstones").exists(), "tombstones must clear")
      def live(t: String) = spark.read.parquet(s"$path/$t").select(col("id"))
        .collect().map(_.getLong(0)).toSet
      (live("codes"), live("vecs"))
    }
    val narrow = survivors(deleted)
    assert(survivors(deleted ++ absent) == narrow)
    val all = e.select(col("vec_id")).collect().map(_.getLong(0)).toSet
    assert(narrow == ((all -- deleted, all -- deleted)))
  }

  test("compact(mergeAll): per-append file growth folds to one file per cell") {
    val path = tmp("graft_ivfpq_merge")
    VectorIndex.writeIvfPq(e.filter(col("vec_id") < 200), "vec_id", "embedding",
      16, 8, 16, path)
    VectorIndex.append(e.filter(col("vec_id") >= 200 && col("vec_id") < 350),
      "vec_id", "embedding", path)
    VectorIndex.append(e.filter(col("vec_id") >= 350), "vec_id", "embedding", path)
    def fileCounts = new java.io.File(s"$path/codes").listFiles()
      .filter(_.getName.startsWith("cell="))
      .map(d => d.listFiles().count(_.getName.endsWith(".parquet")))
    assert(fileCounts.exists(_ >= 2), "appends must have grown some cell's file count")
    val before = asSet(VectorIndex.search(spark, q, "qid", "qv", path, 4, 5))
    VectorIndex.compact(spark, path, mergeAll = true)
    assert(fileCounts.forall(_ == 1), "mergeAll must leave one file per cell")
    val after = asSet(VectorIndex.search(spark, q, "qid", "qv", path, 4, 5))
    assert(after == before)
    assert(after.nonEmpty)
  }

  test("rescored search excludes tombstoned rows and their vectors") {
    val path = tmp("graft_ivfpq_delresc")
    VectorIndex.writeIvfPq(e, "vec_id", "embedding", 16, 8, 16, path,
      storeVectors = true)
    import spark.implicits._
    // delete a row that brute-force says is a top hit for query 0 (its
    // own vector): id 0 itself
    VectorIndex.delete(spark, path, Seq(0L).toDF("vec_id"), "vec_id")
    val idx = VectorIndex.load(spark, path)
    assert(idx.tombs.nonEmpty, "load must pick up tombstones")
    val res = VectorIndex.searchRescored(spark, q, "qid", "qv", idx,
        nProbe = 16, k = 5, overfetch = 200)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(!res.exists(_._2 == 0L), "deleted id must never surface")
    assert(res.nonEmpty)
  }

  test("driftScore: exactly 1.0 on the build distribution, large on a shifted batch") {
    val path = tmp("graft_ivfpq_drift")
    VectorIndex.writeIvfPq(e, "vec_id", "embedding", 16, 8, 16, path)
    // same rows → both sides of the ratio are the same fixed-point sum,
    // so the score is EXACTLY 1 (no float tolerance needed)
    assert(VectorIndex.driftScore(spark, e, "embedding", path) == 1.0)
    // a +1-per-dim shift moves every vector far from every centroid:
    // the coarse geometry no longer fits and the score must say so
    val shifted = e.withColumn("embedding",
      transform(col("embedding"), x => x + lit(1.0f)))
    assert(VectorIndex.driftScore(spark, shifted, "embedding", path) > 1.5)
  }

  test("stats: occupancy/tombstone/file readings track the lifecycle") {
    val path = tmp("graft_ivfpq_stats")
    VectorIndex.writeIvfPq(e.filter(col("vec_id") < 400), "vec_id", "embedding",
      16, 8, 16, path)
    def st = VectorIndex.stats(spark, path).collect()(0)
    val s0 = st
    assert(s0.getAs[Long]("n_rows") == 400L)
    assert(s0.getAs[Long]("pending_tombstones") == 0L)
    assert(s0.getAs[Long]("min_occupancy") >= 1L)
    assert(s0.getAs[Long]("max_occupancy") <= 400L)
    val files0 = s0.getAs[Long]("n_files")
    VectorIndex.append(e.filter(col("vec_id") >= 400), "vec_id", "embedding", path)
    import spark.implicits._
    VectorIndex.delete(spark, path, Seq(5L, 6L).toDF("vec_id"), "vec_id")
    val s1 = st
    assert(s1.getAs[Long]("n_rows") == 500L)
    assert(s1.getAs[Long]("pending_tombstones") == 2L)
    assert(s1.getAs[Long]("n_files") > files0, "append must grow the file count")
    VectorIndex.compact(spark, path, mergeAll = true)
    val s2 = st
    assert(s2.getAs[Long]("n_rows") == 498L)
    assert(s2.getAs[Long]("pending_tombstones") == 0L)
    assert(s2.getAs[Long]("n_files") == s2.getAs[Long]("n_cells"),
      "mergeAll leaves one file per cell")
  }

  test("merge: same-quantizer indexes fold file-level, tombstones survive, mismatch refuses") {
    val pA = tmp("graft_merge_a")
    val pB = tmp("graft_merge_b")
    val pFull = tmp("graft_merge_f")
    VectorIndex.writeIvfPq(e.filter(col("vec_id") < 250), "vec_id", "embedding",
      16, 8, 16, pA)
    // the daily index: built over the rest with A's SAVED quantizers
    val (cents, books) = VectorIndex.loadQuantizers(spark, pA)
    VectorIndex.writeWith(e.filter(col("vec_id") >= 250), "vec_id", "embedding",
      cents, books, pB)
    import spark.implicits._
    VectorIndex.delete(spark, pB, Seq(300L).toDF("vec_id"), "vec_id")
    VectorIndex.merge(spark, pB, pA)
    VectorIndex.writeIvfPq(e, "vec_id", "embedding", 16, 8, 16, pFull)
    VectorIndex.delete(spark, pFull, Seq(300L).toDF("vec_id"), "vec_id")
    val merged = asSet(VectorIndex.search(spark, q, "qid", "qv", pA, 16, 5))
    val full = asSet(VectorIndex.search(spark, q, "qid", "qv", pFull, 16, 5))
    assert(merged == full)
    assert(merged.nonEmpty)
    assert(VectorIndex.stats(spark, pA).collect()(0).getAs[Long]("n_rows") == 500L,
      "merge must fold every source row in")
    // different quantizers = different code space: refuse loudly
    val pC = tmp("graft_merge_c")
    VectorIndex.writeIvfPq(e, "vec_id", "embedding", 8, 8, 16, pC)
    intercept[IllegalArgumentException] {
      VectorIndex.merge(spark, pC, pA)
    }
  }

  test("searchFiltered: allow-set search == rebuild on the allowed corpus") {
    val pFull = tmp("graft_filt_full")
    val pOnly = tmp("graft_filt_only")
    VectorIndex.writeIvfPq(e, "vec_id", "embedding", 16, 8, 16, pFull)
    // same quantizers, corpus restricted to the allow set: the filtered
    // search over the FULL index must equal this index's plain search
    val (cents, books) = VectorIndex.loadQuantizers(spark, pFull)
    val allowed = e.filter(col("vec_id") % 3 === 0)
    VectorIndex.writeWith(allowed, "vec_id", "embedding", cents, books, pOnly)
    val fdf = VectorIndex.searchFiltered(spark, q, "qid", "qv",
      VectorIndex.load(spark, pFull), 4, 5, allowed, "vec_id")
    // the semi join must not break directory pruning at the codes scan
    assert(fdf.queryExecution.executedPlan.toString.contains("PartitionFilters"),
      "filtered search must keep the probed-cells partition filter")
    val filtered = asSet(fdf)
    val rebuilt = asSet(VectorIndex.search(spark, q, "qid", "qv", pOnly, 4, 5))
    assert(filtered == rebuilt)
    assert(filtered.nonEmpty)
    assert(filtered.forall(_._2 % 3 == 0))
  }

  test("searchRescored composes with an allow-set: only permitted rows surface") {
    val path = tmp("graft_filt_resc")
    VectorIndex.writeIvfPq(e, "vec_id", "embedding", 16, 8, 16, path,
      storeVectors = true)
    val idx = VectorIndex.load(spark, path)
    val allowed = e.filter(col("vec_id") % 3 === 0)
    val res = VectorIndex.searchRescored(spark, q, "qid", "qv", idx,
        nProbe = 16, k = 5, overfetch = 200,
        allowed = Some(allowed), allowedIdCol = "vec_id")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSet
    assert(res.nonEmpty)
    assert(res.forall(_._2 % 3 == 0))
    // full probe + wide overfetch: the filtered rescored result IS brute
    // L2 top-k over the allowed corpus
    val brute = allowed.crossJoin(broadcast(q))
      .groupBy(col("qid"))
      .agg(graft.functions.TopKAgg.topK(
        (-Similarity.l2sq(col("embedding"), col("qv"))).cast("double"),
        col("vec_id").cast("long"), 5).as("__top"))
      .select(col("qid"), posexplode(col("__top")).as(Seq("__r", "__t")))
      .select(col("qid"), col("__t.id"), (col("__r") + 1).as("rank"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSet
    assert(res == brute)
  }

  test("compact swap is crash-recoverable: parked cells restore, stale dirs clear") {
    val path = tmp("graft_ivfpq_crash")
    VectorIndex.writeIvfPq(e, "vec_id", "embedding", 16, 8, 16, path)
    val baseline = asSet(VectorIndex.search(spark, q, "qid", "qv", path, 4, 5))
    val fs = new org.apache.hadoop.fs.Path(path)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    val cellDirs = fs.listStatus(new org.apache.hadoop.fs.Path(s"$path/codes"))
      .filter(s => s.isDirectory && s.getPath.getName.startsWith("cell="))
      .map(_.getPath).sortBy(_.getName)
    assert(cellDirs.length >= 2)
    val oldDir = new org.apache.hadoop.fs.Path(s"$path/codes_old")
    fs.mkdirs(oldDir)
    // crash state A: cell parked aside, replacement never renamed in —
    // the live table is MISSING this cell until reconcile restores it
    fs.rename(cellDirs(0), new org.apache.hadoop.fs.Path(oldDir, cellDirs(0).getName))
    // crash state B: swap completed but the parked stale copy survived
    org.apache.hadoop.fs.FileUtil.copy(fs, cellDirs(1), fs,
      new org.apache.hadoop.fs.Path(oldDir, cellDirs(1).getName), false,
      spark.sparkContext.hadoopConfiguration)
    // crash state C: a staging dir from the dead compaction
    val tmpDir = new org.apache.hadoop.fs.Path(s"$path/codes_compact")
    fs.mkdirs(tmpDir)
    // load() reconciles on startup: the restored index must serve the
    // exact pre-crash results, and every recovery dir must be gone
    val recovered = asSet(VectorIndex.search(spark, q, "qid", "qv", path, 4, 5))
    assert(recovered == baseline)
    assert(!fs.exists(oldDir), "parked cells must clear after reconcile")
    assert(!fs.exists(tmpDir), "stale staging must clear after reconcile")
    // and a compact() on the recovered index still works end-to-end
    VectorIndex.delete(spark, path,
      e.filter(col("vec_id") % 9 === 0).select(col("vec_id")), "vec_id")
    VectorIndex.compact(spark, path)
    val afterCompact = VectorIndex.search(spark, q, "qid", "qv", path, 4, 5)
    assert(afterCompact.filter(col("id") % 9 === 0).count() == 0L)
  }

  test("writeWith refuses an empty corpus and a zero drift baseline loudly") {
    val pSrc = tmp("graft_ivfpq_guard_src")
    VectorIndex.writeIvfPq(e, "vec_id", "embedding", 16, 8, 16, pSrc)
    val (cents, books) = VectorIndex.loadQuantizers(spark, pSrc)
    val emptyEx = intercept[IllegalArgumentException] {
      VectorIndex.writeWith(e.filter(col("vec_id") < 0), "vec_id", "embedding",
        cents, books, tmp("graft_ivfpq_guard_e"))
    }
    assert(emptyEx.getMessage.contains("empty"))
    // corpus == the centroid rows exactly → every distance 0 → a baseline
    // that would make driftScore divide by zero
    val zeroEx = intercept[IllegalArgumentException] {
      VectorIndex.writeWith(e.filter(col("vec_id") < 16), "vec_id", "embedding",
        cents, books, tmp("graft_ivfpq_guard_z"))
    }
    assert(zeroEx.getMessage.contains("baseline"))
  }

  test("semanticDups: planted near-copy flagged against the index, orthogonal rows clean") {
    val path = tmp("graft_ivfpq_sem")
    VectorIndex.writeIvfPq(e.filter(col("vec_id") < 250), "vec_id", "embedding",
      16, 8, 16, path, storeVectors = true)
    val idx = VectorIndex.load(spark, path)
    // a batch row that IS corpus row 42 under a new id must surface as
    // its semantic duplicate at cosine ≈ 1
    val planted = e.filter(col("vec_id") === 42)
      .select(lit(9001L).as("vec_id"), col("embedding"))
    val hits = VectorIndex.semanticDups(spark, planted, "vec_id", "embedding",
        idx, nProbe = 4, k = 5, threshold = 0.95)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
    assert(hits.exists { case (b, c, cos) => b == 9001L && c == 42L && cos > 0.999 },
      s"planted copy of row 42 must be flagged: ${hits.toSeq}")
    // refuses without the vecs table (no exact-verify source)
    val pNoVecs = tmp("graft_ivfpq_sem_nv")
    VectorIndex.writeIvfPq(e.filter(col("vec_id") < 250), "vec_id", "embedding",
      16, 8, 16, pNoVecs)
    intercept[IllegalArgumentException] {
      VectorIndex.semanticDups(spark, planted, "vec_id", "embedding",
        VectorIndex.load(spark, pNoVecs), 4, 5, 0.95)
    }
  }

  test("semanticClustersIndexed == exact semanticClusters (full proposal coverage)") {
    val path = tmp("graft_ivfpq_clu")
    VectorIndex.writeIvfPq(e, "vec_id", "embedding", nCells = 16, m = 8,
      nCentsPq = 16, path = path, storeVectors = true)
    val idx = VectorIndex.load(spark, path)
    def lbl(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val exact = lbl(Similarity.semanticClusters(e, "vec_id", "embedding",
      k = 4, iterations = 12).select(col("id"), col("cluster")))
    val indexed = lbl(VectorIndex.semanticClustersIndexed(spark, idx,
      nProbe = 16, k = 4, iterations = 12, overfetch = 128)
      .select(col("id"), col("cluster")))
    assert(indexed == exact)
    assert(indexed.nonEmpty)
    // deleted rows leave the graph: clusters re-derive over survivors
    val victims = e.filter(col("vec_id") % 5 === 0).select(col("vec_id"))
    VectorIndex.delete(spark, path, victims, "vec_id")
    val idx2 = VectorIndex.load(spark, path)
    val exactSurv = lbl(Similarity.semanticClusters(
      e.filter(col("vec_id") % 5 =!= 0), "vec_id", "embedding",
      k = 4, iterations = 12).select(col("id"), col("cluster")))
    val indexedSurv = lbl(VectorIndex.semanticClustersIndexed(spark, idx2,
      nProbe = 16, k = 4, iterations = 12, overfetch = 128)
      .select(col("id"), col("cluster")))
    assert(indexedSurv == exactSurv)
  }

  test("loadQuantizers round-trips centroids and books exactly") {
    val path = tmp("graft_ivfpq_rt")
    val cents = Similarity.firstKCentroids(e, "vec_id", "embedding", 16)
    val books = Array.tabulate(8) { j =>
      cents.map { case (_, v) =>
        java.util.Arrays.copyOfRange(v, j * (K.Dim / 8), (j + 1) * (K.Dim / 8))
      }
    }
    VectorIndex.writeWith(e, "vec_id", "embedding", cents, books, path)
    val (c2, b2) = VectorIndex.loadQuantizers(spark, path)
    assert(c2.map(_._1).toSeq == cents.map(_._1).toSeq)
    assert(c2.zip(cents).forall { case ((_, a), (_, b)) => a.sameElements(b) })
    assert(b2.length == books.length)
    assert(b2.zip(books).forall { case (ba, bb) =>
      ba.zip(bb).forall { case (x, y) => x.sameElements(y) } })
  }

  test("auto-compaction trigger: floor and ratio both gate; firing clears the mask, search unchanged") {
    val path = tmp("graft_ivfpq_auto")
    VectorIndex.writeIvfPq(e, "vec_id", "embedding", 16, 8, 16, path)
    val gone = col("vec_id") % 9 === 0 && col("vec_id") >= 16
    VectorIndex.delete(spark, path, e.filter(gone).select(col("vec_id")), "vec_id")
    val fs = new org.apache.hadoop.fs.Path(path)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    val tombs = new org.apache.hadoop.fs.Path(s"$path/tombstones")
    // the default floor (4096) dwarfs this corpus — delete's built-in
    // trigger must have declined and left the logical mask in place
    assert(fs.exists(tombs), "default trigger must not fire below the floor")
    assert(!VectorIndex.maybeCompact(spark, path, minTombstones = 100000L))
    assert(!VectorIndex.maybeCompact(spark, path, minTombstones = 1L, frac = 0.9))
    assert(fs.exists(tombs))
    val before = asSet(VectorIndex.search(spark, q, "qid", "qv", path, 4, 5))
    assert(VectorIndex.maybeCompact(spark, path, minTombstones = 1L, frac = 0.001))
    assert(!fs.exists(tombs), "compaction must clear the tombstone set")
    val after = asSet(VectorIndex.search(spark, q, "qid", "qv", path, 4, 5))
    assert(before == after && after.nonEmpty)
    assert(!VectorIndex.maybeCompact(spark, path, minTombstones = 1L, frac = 0.0))
  }

  test("residual index == in-plan ivfPqResidual; frame persists through meta") {
    val path = tmp("graft_ivfpq_res")
    VectorIndex.writeIvfPq(e, "vec_id", "embedding", nCells = 16, m = 8,
      nCentsPq = 16, path = path, residual = true)
    assert(VectorIndex.isResidual(spark, path))
    val indexed = asSet(VectorIndex.search(spark, q, "qid", "qv", path,
      nProbe = 4, k = 5).select(col("qid"), col("id"), col("rank"), col("dist")))
    val inPlan = asSet(Similarity.ivfPqResidual(q, "qid", "qv", e, "vec_id",
      "embedding", nCells = 16, nProbe = 4, m = 8, nCentsPq = 16, k = 5)
      .select(col("qid"), col("vec_id").cast("long"), col("rank"), col("dist")))
    assert(indexed == inPlan)
    assert(indexed.nonEmpty)
    // the frame changes the ranking: a raw-frame build from the same
    // corpus must NOT be accidentally equal (the codes differ)
    val pRaw = tmp("graft_ivfpq_rawc")
    VectorIndex.writeIvfPq(e, "vec_id", "embedding", 16, 8, 16, pRaw)
    assert(!VectorIndex.isResidual(spark, pRaw))
    val raw = asSet(VectorIndex.search(spark, q, "qid", "qv", pRaw, 4, 5))
    assert(raw != indexed, "residual and raw frames must rank differently here")
  }

  test("residual append reads the frame from meta == full residual rebuild") {
    val pHalf = tmp("graft_ivfpq_res_half")
    val pFull = tmp("graft_ivfpq_res_full")
    VectorIndex.writeIvfPq(e.filter(col("vec_id") < 250), "vec_id", "embedding",
      16, 8, 16, pHalf, residual = true)
    VectorIndex.append(e.filter(col("vec_id") >= 250), "vec_id", "embedding", pHalf)
    VectorIndex.writeIvfPq(e, "vec_id", "embedding", 16, 8, 16, pFull,
      residual = true)
    val a = asSet(VectorIndex.search(spark, q, "qid", "qv", pHalf, 4, 5))
    val b = asSet(VectorIndex.search(spark, q, "qid", "qv", pFull, 4, 5))
    assert(a == b && a.nonEmpty)
  }

  test("residual lifecycle: delete+compact, rescored search, selfKnn all honor the frame") {
    val path = tmp("graft_ivfpq_res_life")
    VectorIndex.writeIvfPq(e, "vec_id", "embedding", 16, 8, 16, path,
      storeVectors = true, residual = true)
    val gone = col("vec_id") % 9 === 0 && col("vec_id") >= 16
    VectorIndex.delete(spark, path, e.filter(gone).select(col("vec_id")), "vec_id",
      autoCompact = false)
    val masked = asSet(VectorIndex.search(spark, q, "qid", "qv", path, 4, 5))
    VectorIndex.compact(spark, path)
    val compacted = asSet(VectorIndex.search(spark, q, "qid", "qv", path, 4, 5))
    assert(masked == compacted && compacted.nonEmpty)
    // rescored: exact L2 re-rank happens in the RAW frame over stored
    // vectors — every returned dist must equal the true squared L2
    val idx = VectorIndex.load(spark, path)
    assert(idx.residual)
    val resc = VectorIndex.searchRescored(spark, q, "qid", "qv", idx,
      nProbe = 4, k = 3, overfetch = 4)
    val vecMap = e.collect().map(r => r.getLong(0) ->
      r.getSeq[Float](1).map(_.toDouble).toArray).toMap
    resc.collect().foreach { r =>
      val (qid, id, d) = (r.getLong(0), r.getLong(1), r.getDouble(3))
      val (x, y) = (vecMap(qid), vecMap(id))
      val exact = x.indices.map(i => (x(i) - y(i)) * (x(i) - y(i))).sum
      assert(math.abs(exact - d) < 1e-9, s"rescored dist must be exact L2 ($qid,$id)")
    }
    // selfKnn candidate path runs under the residual ADC without error
    // and proposes non-self neighbors
    val knn = VectorIndex.selfKnnCandidates(spark, idx, nProbe = 4, k = 3)
    assert(knn.filter(col("qid") === col("nid")).isEmpty)
    assert(knn.count() > 0)
  }

  test("merge refuses mixed encode frames") {
    val pA = tmp("graft_ivfpq_mixa")
    val pB = tmp("graft_ivfpq_mixb")
    VectorIndex.writeIvfPq(e.filter(col("vec_id") < 250), "vec_id", "embedding",
      16, 8, 16, pA, residual = true)
    // same coarse centroids; books differ by frame — build B raw but
    // with A's quantizers so the centroid/book equality checks pass and
    // ONLY the frame check can catch the mismatch
    val (cents, books) = VectorIndex.loadQuantizers(spark, pA)
    VectorIndex.writeWith(e.filter(col("vec_id") >= 250), "vec_id", "embedding",
      cents, books, pB, residual = false)
    val ex = intercept[IllegalArgumentException] {
      VectorIndex.merge(spark, pB, pA)
    }
    assert(ex.getMessage.contains("encode frames"))
  }

  test("nProbeFor encodes the measured law; defaults resolve through it") {
    // near-dup band: fixed 16, clamped to nCells
    assert(VectorIndex.nProbeFor(821) == 16)
    assert(VectorIndex.nProbeFor(82) == 16)
    assert(VectorIndex.nProbeFor(8) == 8)
    assert(VectorIndex.nProbeFor(1) == 1)
    // mid band: nCells/2 with a floor of 16 (never below the near-dup
    // constant — fewer probes can only lose coverage; the factor is the
    // r19 band-sweep law: nCells/8 reads 0.86 on the 0.7-band at 899
    // cells, nCells/2 reads 0.94-0.97)
    assert(VectorIndex.nProbeFor(821, band = 0.7) == 410)
    assert(VectorIndex.nProbeFor(64, band = 0.6) == 32)
    assert(VectorIndex.nProbeFor(24, band = 0.6) == 16)
    assert(VectorIndex.nProbeFor(4096, band = 0.8) == 2048)
    // a defaulted search equals the explicit nProbeFor probe count
    val path = tmp("graft_ivfpq_npdef")
    VectorIndex.writeIvfPq(e, "vec_id", "embedding", 16, 8, 16, path)
    val dflt = asSet(VectorIndex.search(spark, q, "qid", "qv", path, k = 5))
    val expl = asSet(VectorIndex.search(spark, q, "qid", "qv", path,
      nProbe = VectorIndex.nProbeFor(16), k = 5))
    assert(dflt == expl && dflt.nonEmpty)
  }

  test("TRAINED residual build (Lloyd cells + residual-trained books) serves exactly") {
    // the bandenc probe's production path: trained coarse cells, books
    // trained on the residual VIEW, larger code alphabet. No oracle at
    // trained quantizers — pin the exactness contract instead: probing
    // every cell with overfetch past the corpus, rescored search IS
    // brute-force L2 (the ADC stage can propose but never lose)
    val path = tmp("graft_ivfpq_res_tr")
    VectorIndex.writeIvfPqTrained(e, "vec_id", "embedding", graft.functions.K.Dim,
      nCells = 16, m = 8, nCentsPq = 64, iterations = 2, path = path,
      storeVectors = true, residual = true)
    assert(VectorIndex.isResidual(spark, path))
    val idx = VectorIndex.load(spark, path)
    val rescored = VectorIndex.searchRescored(spark, q, "qid", "qv", idx,
        nProbe = 16, k = 5, overfetch = 200)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSet
    val brute = e.crossJoin(broadcast(q))
      .groupBy(col("qid"))
      .agg(graft.functions.TopKAgg.topK(
        (-Similarity.l2sq(col("embedding"), col("qv"))).cast("double"),
        col("vec_id").cast("long"), 5).as("__top"))
      .select(col("qid"), posexplode(col("__top")).as(Seq("__r", "__t")))
      .select(col("qid"), col("__t.id"), (col("__r") + 1).as("rank"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSet
    assert(rescored == brute)
    assert(rescored.nonEmpty)
  }

  test("explicit compact after an auto-compacting delete leaves cell files untouched") {
    val path = tmp("graft_ivfpq_dblcmp")
    VectorIndex.writeIvfPq(e, "vec_id", "embedding", 16, 8, 16, path)
    val gone = col("vec_id") % 7 === 0 && col("vec_id") >= 16
    // force the trigger so delete's policy does the rewrite
    VectorIndex.delete(spark, path, e.filter(gone).select(col("vec_id")), "vec_id",
      autoCompact = false)
    assert(VectorIndex.maybeCompact(spark, path, minTombstones = 1L, frac = 0.001))
    val fs = new org.apache.hadoop.fs.Path(path)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    def snapshot(): Set[(String, Long, Long)] = fs
      .listStatus(new org.apache.hadoop.fs.Path(s"$path/codes"))
      .filter(_.isDirectory)
      .flatMap(d => fs.listStatus(d.getPath).map(f =>
        (f.getPath.toString, f.getLen, f.getModificationTime)))
      .toSet
    val before = snapshot()
    VectorIndex.compact(spark, path) // mask is clear — must be a cheap no-op
    assert(snapshot() == before, "a clear-mask compact must not rewrite any cell")
  }

  /** Replace one sidecar table with the encoding binaries before r20
    * wrote: a Spark `coalesce(1)` write, primitive columns required, with
    * Spark row metadata. Indexes written by those binaries must keep
    * loading through the driver-side reads. */
  private def writeSparkSidecar(df: org.apache.spark.sql.DataFrame, dir: String): Unit =
    df.coalesce(1).write.mode("overwrite").parquet(dir)

  private def repetition(dir: String, field: String): Type.Repetition =
    SidecarIO.readGroups(spark.sparkContext.hadoopConfiguration, dir)
      .head.getType.getType(field).getRepetition

  test("IVF-PQ sidecars in the pre-r20 Spark-written encoding load like driver-written ones") {
    import spark.implicits._
    val path = tmp("graft_ivfpq_sparksc")
    VectorIndex.writeIvfPq(e, "vec_id", "embedding", 16, 8, 16, path,
      storeVectors = true, residual = true)
    val (cents, books) = VectorIndex.loadQuantizers(spark, path)
    val baseline = VectorIndex.loadBaseline(spark, path)
    val hits = asSet(VectorIndex.search(spark, q, "qid", "qv", path, 4, 5))
    val meta = spark.read.parquet(s"$path/meta").head()
    assert(repetition(s"$path/meta", "dim") == Type.Repetition.OPTIONAL)
    writeSparkSidecar(Seq((meta.getAs[Int]("dim"), meta.getAs[Int]("m"),
        meta.getAs[Int]("n_cells"), meta.getAs[Int]("k_pq"),
        meta.getAs[Double]("mean_cell_dist"), meta.getAs[Boolean]("residual")))
      .toDF("dim", "m", "n_cells", "k_pq", "mean_cell_dist", "residual"), s"$path/meta")
    writeSparkSidecar(cents.toSeq.map { case (c, v) => (c, v.toSeq) }.toDF("cell", "vec"),
      s"$path/centroids")
    writeSparkSidecar(books.zipWithIndex.toSeq.flatMap { case (book, j) =>
      book.zipWithIndex.map { case (v, code) => (j, code, v.toSeq) }
    }.toDF("j", "code", "vec"), s"$path/books")
    assert(repetition(s"$path/meta", "dim") == Type.Repetition.REQUIRED,
      "the rewrite must really change the encoding")
    val (c2, b2) = VectorIndex.loadQuantizers(spark, path)
    assert(c2.map(_._1).toSeq == cents.map(_._1).toSeq)
    assert(c2.zip(cents).forall { case ((_, a), (_, b)) => a.sameElements(b) })
    assert(b2.length == books.length && b2.zip(books).forall { case (ba, bb) =>
      ba.length == bb.length && ba.zip(bb).forall { case (x, y) => x.sameElements(y) } })
    assert(VectorIndex.isResidual(spark, path))
    assert(VectorIndex.loadBaseline(spark, path) == baseline)
    assert(asSet(VectorIndex.search(spark, q, "qid", "qv", path, 4, 5)) == hits)
    assert(hits.nonEmpty)
  }

  test("a BM25 conf in the pre-r20 Spark-written encoding serves like a driver-written one") {
    import spark.implicits._
    val d = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
      .select(col("doc_id"), col("text"))
    val qs = d.filter(col("doc_id") < 4)
      .select(col("doc_id").as("qid"), col("text").as("qtext"))
    val path = tmp("graft_ftidx_sparkconf")
    // a non-default max_length, so a misread conf would change the hits
    FullTextIndex.write(d, "doc_id", "text", path, maxLength = 16)
    def hits = FullTextIndex.searchTopK(spark, qs, "qid", "qtext", path, k = 5)
      .select(col("qid"), col("doc_id"), col("rank"), col("score"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2), r.getDouble(3))).toSet
    val before = hits
    val c = spark.read.parquet(s"$path/conf").head()
    assert(c.getAs[Int]("max_length") == 16)
    writeSparkSidecar(Seq((c.getAs[Int]("max_length"), c.getAs[Int]("format_version")))
      .toDF("max_length", "format_version"), s"$path/conf")
    assert(repetition(s"$path/conf", "max_length") == Type.Repetition.REQUIRED)
    assert(hits == before)
    assert(before.nonEmpty)
  }

  test("an index written before read schemas were pinned serves exactly as it did") {
    // the layout the unpinned reads served: double-element vectors (the
    // vecs table stores whatever the corpus carried), appends, pending
    // tombstones; the reference handle reads every table the way load()
    // did before — schema inference, `cell` inferred as an int partition
    val path = tmp("graft_ivfpq_unpinned")
    val ed = e.select(col("vec_id"), col("embedding").cast("array<double>").as("embedding"))
    VectorIndex.writeIvfPq(ed.filter(col("vec_id") < 400), "vec_id", "embedding",
      16, 8, 16, path, storeVectors = true, residual = true)
    VectorIndex.append(ed.filter(col("vec_id") >= 400), "vec_id", "embedding", path)
    VectorIndex.delete(spark, path, ed.filter(col("vec_id") % 11 === 0), "vec_id",
      autoCompact = false)
    val (cents, books) = VectorIndex.loadQuantizers(spark, path)
    val inferred = VectorIndex.Loaded(cents, books, spark.read.parquet(s"$path/codes"),
      Some(spark.read.parquet(s"$path/vecs")), Some(spark.read.parquet(s"$path/tombstones")),
      residual = true)
    assert(inferred.codes.schema("cell").dataType == org.apache.spark.sql.types.IntegerType)
    val pinned = VectorIndex.load(spark, path)
    assert(pinned.vecs.get.schema("vec").dataType == inferred.vecs.get.schema("vec").dataType)
    val qd = q.select(col("qid"), col("qv").cast("array<double>").as("qv"))
    val allowed = e.filter(col("vec_id") % 3 === 0)
    def results(idx: VectorIndex.Loaded) = Seq(
      asSet(VectorIndex.searchLoaded(spark, qd, "qid", "qv", idx, 4, 5)),
      asSet(VectorIndex.searchRescored(spark, qd, "qid", "qv", idx, 4, 5, overfetch = 4)),
      asSet(VectorIndex.searchFiltered(spark, qd, "qid", "qv", idx, 4, 5, allowed, "vec_id")))
    val want = results(inferred)
    assert(results(pinned) == want)
    assert(want.forall(_.nonEmpty))
    assert(want.head.forall(_._2 % 11 != 0), "tombstoned rows must stay masked")
  }
}
