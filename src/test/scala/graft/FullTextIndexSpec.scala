package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._
import graft.operators.{FullText, FullTextIndex}

/** Persisted incremental BM25 index: append/remove must equal a fresh
  * whole-corpus (resp. survivors-only) search with CURRENT statistics,
  * the query-term predicate must reach the postings scan, stats
  * compaction must be invisible, and every removal crash state must
  * reconcile. Absolute correctness is the q141/q141b/q143 DuckDB gates;
  * these pin the lifecycle and the plan shape. */
class FullTextIndexSpec extends AnyFunSuite with SparkSessionTestWrapper {

  private lazy val d = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    .select(col("doc_id"), col("text"))
  private def queries = d.filter(col("doc_id") < 4)
    .select(col("doc_id").as("qid"), col("text").as("qtext"))

  private def tmp(prefix: String): String =
    java.nio.file.Files.createTempDirectory(prefix).toString

  private def asSet(df: org.apache.spark.sql.DataFrame) = df
    .select(col("qid"), col("doc_id"), col("rank"), col("score"))
    .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2), r.getDouble(3))).toSet

  test("build + append == batch bm25Search over the grown corpus, bit-for-bit") {
    val path = tmp("graft_ftidx_a")
    FullTextIndex.write(d.filter(col("doc_id") % 2 === 0), "doc_id", "text", path)
    FullTextIndex.appendBatch(spark, d.filter(col("doc_id") % 2 === 1),
      "doc_id", "text", path)
    val indexed = asSet(FullTextIndex.searchTopK(spark, queries, "qid", "qtext",
      path, k = 5))
    val batch = asSet(FullText.bm25Search(queries, "qid", "qtext",
      d, "doc_id", "text", 5))
    assert(indexed == batch)
    assert(indexed.nonEmpty)
  }

  test("recapStats folds df/meta partials without changing any result") {
    val path = tmp("graft_ftidx_r")
    FullTextIndex.write(d.filter(col("doc_id") % 2 === 0), "doc_id", "text", path)
    FullTextIndex.appendBatch(spark, d.filter(col("doc_id") % 2 === 1),
      "doc_id", "text", path)
    val before = asSet(FullTextIndex.searchTopK(spark, queries, "qid", "qtext",
      path, k = 5))
    val partialRows = spark.read.parquet(s"$path/df").count()
    FullTextIndex.recapStats(spark, path)
    assert(spark.read.parquet(s"$path/df").count() < partialRows,
      "two appends must have stacked duplicate per-token partials")
    assert(spark.read.parquet(s"$path/meta").count() == 1L)
    assert(asSet(FullTextIndex.searchTopK(spark, queries, "qid", "qtext",
      path, k = 5)) == before)
  }

  test("upsertBatch: re-crawled docs == fresh build on the updated corpus; interrupted upsert replays exact") {
    val staleIds = col("doc_id") % 7 === 0
    val stale = d.withColumn("text",
      when(staleIds, concat_ws(" ", col("text"), lit("zzstalemarker")))
        .otherwise(col("text")))
    val path = tmp("graft_ftidx_u")
    FullTextIndex.write(stale, "doc_id", "text", path)
    FullTextIndex.upsertBatch(spark, d.filter(staleIds), "doc_id", "text", path)
    val up = asSet(FullTextIndex.searchTopK(spark, queries, "qid", "qtext", path, k = 5))
    val fresh = asSet(FullText.bm25Search(queries, "qid", "qtext", d, "doc_id", "text", 5))
    assert(up == fresh)
    assert(up.nonEmpty)
    // the stale marker must really be gone from the served statistics:
    // a query for it ranks nothing
    import spark.implicits._
    val mq = Seq((0L, "zzstalemarker")).toDF("qid", "qtext")
    assert(FullTextIndex.searchTopK(spark, mq, "qid", "qtext", path, k = 5).isEmpty)
    // crash between the legs (removal applied, append never ran): the
    // index serves as-if-deleted; replaying the WHOLE upsert lands the
    // batch exactly once — removal re-derives deltas from live postings,
    // so re-removing the now-absent docs subtracts nothing
    val path2 = tmp("graft_ftidx_u2")
    FullTextIndex.write(stale, "doc_id", "text", path2)
    FullTextIndex.removeDocs(spark, d.filter(staleIds).select(col("doc_id")),
      "doc_id", path2) // the interrupted first attempt
    FullTextIndex.upsertBatch(spark, d.filter(staleIds), "doc_id", "text", path2)
    assert(asSet(FullTextIndex.searchTopK(spark, queries, "qid", "qtext",
      path2, k = 5)) == fresh)
  }

  test("removeDocs: statistics re-derive over survivors == fresh build on them") {
    val pA = tmp("graft_ftidx_d")
    val pB = tmp("graft_ftidx_d2")
    FullTextIndex.write(d, "doc_id", "text", pA)
    FullTextIndex.removeDocs(spark,
      d.filter(col("doc_id") % 7 === 0).select(col("doc_id")), "doc_id", pA)
    FullTextIndex.write(d.filter(col("doc_id") % 7 =!= 0), "doc_id", "text", pB)
    val removed = asSet(FullTextIndex.searchTopK(spark, queries, "qid", "qtext",
      pA, k = 5))
    val fresh = asSet(FullTextIndex.searchTopK(spark, queries, "qid", "qtext",
      pB, k = 5))
    assert(removed == fresh)
    assert(removed.nonEmpty)
    assert(removed.forall(_._2 % 7 != 0), "removed docs must never rank")
  }

  test("removeDocs with repeated ids, and past the IN-list bound, == fresh build on survivors") {
    import spark.implicits._
    val gone = d.filter(col("doc_id") % 7 === 0).select(col("doc_id"))
    val pFresh = tmp("graft_ftidx_w0")
    FullTextIndex.write(d.filter(col("doc_id") % 7 =!= 0), "doc_id", "text", pFresh)
    val fresh = asSet(FullTextIndex.searchTopK(spark, queries, "qid", "qtext", pFresh, k = 5))
    assert(fresh.nonEmpty)
    // every id twice: the IN list dedups them on the driver; ids absent
    // from the index widen the set past PushdownTermLimit: the semi join
    val absent = (1000000L until 1000000L + FullTextIndex.PushdownTermLimit).toDF("doc_id")
    Seq(gone.union(gone), gone.union(absent)).foreach { ids =>
      val p = tmp("graft_ftidx_w")
      FullTextIndex.write(d, "doc_id", "text", p)
      FullTextIndex.removeDocs(spark, ids, "doc_id", p)
      assert(asSet(FullTextIndex.searchTopK(spark, queries, "qid", "qtext", p, k = 5)) == fresh)
    }
  }

  test("removal crash states reconcile: READY rolls forward, pre-READY discards") {
    val fs = new org.apache.hadoop.fs.Path("/")
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    // state A: crash right after READY — nothing applied yet. The next
    // entry point must roll the staged removal forward deterministically.
    val pA = tmp("graft_ftidx_crashA")
    FullTextIndex.write(d, "doc_id", "text", pA)
    FullTextIndex.removeDocs(spark,
      d.filter(col("doc_id") % 7 === 0).select(col("doc_id")), "doc_id", pA)
    val want = asSet(FullTextIndex.searchTopK(spark, queries, "qid", "qtext", pA, 5))
    val pB = tmp("graft_ftidx_crashB")
    FullTextIndex.write(d, "doc_id", "text", pB)
    // stage manually (the exact writes removeDocs performs), then "crash"
    val drop = d.filter(col("doc_id") % 7 === 0)
      .select(col("doc_id").cast("long").as("doc_id")).distinct()
    val victims = spark.read.parquet(s"$pB/docs")
      .join(drop, Seq("doc_id"), "left_semi").localCheckpoint(true)
    victims.select(explode(col("tids")).as("token_id"))
      .groupBy(col("token_id")).agg((-count(lit(1))).as("df"))
      .coalesce(1).write.parquet(s"$pB/_removal/df")
    victims.agg((-count(lit(1))).as("n_docs"),
        (-coalesce(sum(col("dl")), lit(0L))).as("total_len"))
      .select(col("n_docs"), col("total_len"), lit(0L).as("gen"))
      .coalesce(1).write.parquet(s"$pB/_removal/meta")
    victims.select(col("doc_id"), lit(1L).as("gen"))
      .coalesce(1).write.parquet(s"$pB/_removal/tombstones")
    fs.create(new org.apache.hadoop.fs.Path(s"$pB/_removal/READY"), true).close()
    // searchTopK reconciles on entry: results equal the completed removal
    val rolled = asSet(FullTextIndex.searchTopK(spark, queries, "qid", "qtext", pB, 5))
    assert(rolled == want, "a READY removal must roll forward at the next entry")
    assert(!fs.exists(new org.apache.hadoop.fs.Path(s"$pB/_removal")))
    // state B: crash BEFORE READY (partial staging) — must discard, the
    // index serves as if the removal never started
    val pC = tmp("graft_ftidx_crashC")
    FullTextIndex.write(d, "doc_id", "text", pC)
    val whole = asSet(FullTextIndex.searchTopK(spark, queries, "qid", "qtext", pC, 5))
    victims.select(col("doc_id"), lit(1L).as("gen"))
      .coalesce(1).write.parquet(s"$pC/_removal/tombstones") // no READY
    assert(asSet(FullTextIndex.searchTopK(spark, queries, "qid", "qtext", pC, 5)) == whole)
    assert(!fs.exists(new org.apache.hadoop.fs.Path(s"$pC/_removal")))
    // state C: crash mid-swap — postings parked aside, replacement never
    // renamed in; reconcile restores the parked copy
    val parked = new org.apache.hadoop.fs.Path(s"$pC/postings_old")
    fs.rename(new org.apache.hadoop.fs.Path(s"$pC/postings"), parked)
    assert(asSet(FullTextIndex.searchTopK(spark, queries, "qid", "qtext", pC, 5)) == whole)
    assert(!fs.exists(parked))
  }

  test("append crash states: READY rolls forward (even half-applied), pre-READY discards") {
    import graft.functions.{K, Kernel}
    val fs = new org.apache.hadoop.fs.Path("/")
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    val half = d.filter(col("doc_id") % 2 === 0)
    val batch = d.filter(col("doc_id") % 2 === 1)
    // the fully-appended reference state
    val pA = tmp("graft_ftidx_apA")
    FullTextIndex.write(half, "doc_id", "text", pA)
    FullTextIndex.appendBatch(spark, batch, "doc_id", "text", pA)
    val want = asSet(FullTextIndex.searchTopK(spark, queries, "qid", "qtext", pA, 5))
    // state A: crash AFTER READY, mid-apply — postings moved in, df/meta
    // still staged. THE state the scrub could never heal when appends
    // were three live writes: served postings with missing statistics.
    val pB = tmp("graft_ftidx_apB")
    FullTextIndex.write(half, "doc_id", "text", pB)
    val preAppend = asSet(FullTextIndex.searchTopK(spark, queries, "qid", "qtext", pB, 5))
    // stage manually (the exact writes appendInto performs)
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
    def stage(p: String): Unit = {
      tf.select(col("token_id"), col("doc_id"), col("tf"), col("dl"),
          lit(2L).as("gen"))
        .repartition(col("token_id")).sortWithinPartitions("token_id")
        .write.parquet(s"$p/_append/postings")
      toks.select(col("doc_id"), size(col("__tids")).cast("long").as("dl"),
          array_distinct(col("__tids")).as("tids"), lit(2L).as("gen"))
        .repartition(col("doc_id")).sortWithinPartitions("doc_id")
        .write.parquet(s"$p/_append/docs")
      tf.groupBy(col("token_id")).agg(count(lit(1)).as("df"))
        .write.parquet(s"$p/_append/df")
      toks.agg(count(lit(1)).as("n_docs"),
          sum(size(col("__tids")).cast("long")).as("total_len"))
        .select(col("n_docs"), col("total_len"), lit(2L).as("gen"))
        .coalesce(1).write.parquet(s"$p/_append/meta")
    }
    stage(pB)
    fs.create(new org.apache.hadoop.fs.Path(s"$pB/_append/READY"), true).close()
    // "crash" half-way through the apply: only the postings files moved
    fs.listStatus(new org.apache.hadoop.fs.Path(s"$pB/_append/postings"))
      .filter(_.getPath.getName.endsWith(".parquet"))
      .foreach(f => fs.rename(f.getPath,
        new org.apache.hadoop.fs.Path(s"$pB/postings", f.getPath.getName)))
    // the next entry point must finish the append — stats included
    val rolled = asSet(FullTextIndex.searchTopK(spark, queries, "qid", "qtext", pB, 5))
    assert(rolled == want, "a READY append must roll fully forward, stats included")
    assert(!fs.exists(new org.apache.hadoop.fs.Path(s"$pB/_append")))
    // state B: crash BEFORE READY — staging discards, the append never
    // happened, and re-running it lands exactly once
    val pC = tmp("graft_ftidx_apC")
    FullTextIndex.write(half, "doc_id", "text", pC)
    stage(pC) // no READY
    assert(asSet(FullTextIndex.searchTopK(spark, queries, "qid", "qtext", pC, 5))
      == preAppend, "staging without READY must be invisible")
    assert(!fs.exists(new org.apache.hadoop.fs.Path(s"$pC/_append")))
    FullTextIndex.appendBatch(spark, batch, "doc_id", "text", pC)
    assert(asSet(FullTextIndex.searchTopK(spark, queries, "qid", "qtext", pC, 5)) == want)
  }

  test("compactPostings drops masked rows physically; results unchanged; re-adds outlive tombstones") {
    val path = tmp("graft_ftidx_cp")
    FullTextIndex.write(d, "doc_id", "text", path)
    val victims = d.filter(col("doc_id") % 7 === 0)
    FullTextIndex.removeDocs(spark, victims.select(col("doc_id")), "doc_id", path)
    val masked = asSet(FullTextIndex.searchTopK(spark, queries, "qid", "qtext", path, 5))
    // the O(batch) claim: removal left the dead postings ON DISK
    val before = spark.read.parquet(s"$path/postings").count()
    FullTextIndex.compactPostings(spark, path)
    val after = spark.read.parquet(s"$path/postings").count()
    assert(after < before, "compaction must drop the masked postings")
    assert(spark.read.parquet(s"$path/tombstones").count() == 0L,
      "covered tombstones clear after compaction")
    assert(asSet(FullTextIndex.searchTopK(spark, queries, "qid", "qtext", path, 5)) == masked)
    // re-add the removed ids: the new generation outlives the tombstone
    val path2 = tmp("graft_ftidx_cp2")
    FullTextIndex.write(d, "doc_id", "text", path2)
    FullTextIndex.removeDocs(spark, victims.select(col("doc_id")), "doc_id", path2)
    FullTextIndex.appendBatch(spark, victims, "doc_id", "text", path2)
    val fresh = asSet(FullText.bm25Search(queries, "qid", "qtext", d, "doc_id", "text", 5))
    assert(asSet(FullTextIndex.searchTopK(spark, queries, "qid", "qtext", path2, 5)) == fresh)
    // remove AGAIN after the re-add: only the live version subtracts
    FullTextIndex.removeDocs(spark, victims.select(col("doc_id")), "doc_id", path2)
    val path3 = tmp("graft_ftidx_cp3")
    FullTextIndex.write(d.filter(col("doc_id") % 7 =!= 0), "doc_id", "text", path3)
    assert(asSet(FullTextIndex.searchTopK(spark, queries, "qid", "qtext", path2, 5)) ==
      asSet(FullTextIndex.searchTopK(spark, queries, "qid", "qtext", path3, 5)))
    // compaction with the stale-generation tombstone present must keep
    // the re-removed doc dead and the rest alive
    FullTextIndex.compactPostings(spark, path2)
    assert(asSet(FullTextIndex.searchTopK(spark, queries, "qid", "qtext", path2, 5)) ==
      asSet(FullTextIndex.searchTopK(spark, queries, "qid", "qtext", path3, 5)))
  }

  test("removeDocs replays idempotently and discovers zero-token docs") {
    import spark.implicits._
    // zero-token docs leave no posting, but they lower avgdl — the
    // forward table records them, so removal must restore the exact
    // statistics of an index that never saw them
    val path = tmp("graft_ftidx_zt")
    val extras = Seq((900001L, ""), (900002L, " \t ")).toDF("doc_id", "text")
    FullTextIndex.write(d.unionByName(extras), "doc_id", "text", path)
    val rmIds = Seq(900001L, 900002L).toDF("doc_id")
    FullTextIndex.removeDocs(spark, rmIds, "doc_id", path)
    FullTextIndex.removeDocs(spark, rmIds, "doc_id", path) // redelivery
    val pB = tmp("graft_ftidx_zt2")
    FullTextIndex.write(d, "doc_id", "text", pB)
    assert(asSet(FullTextIndex.searchTopK(spark, queries, "qid", "qtext", path, 5)) ==
      asSet(FullTextIndex.searchTopK(spark, queries, "qid", "qtext", pB, 5)))
  }

  test("a half-built index (no conf — build crashed) refuses rather than serves") {
    val fs = new org.apache.hadoop.fs.Path("/")
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    val p = tmp("graft_ftidx_halfbuilt")
    FullTextIndex.write(d, "doc_id", "text", p)
    // conf is written LAST — deleting it reproduces every mid-build crash
    fs.delete(new org.apache.hadoop.fs.Path(s"$p/conf"), true)
    intercept[IllegalArgumentException] {
      FullTextIndex.searchTopK(spark, queries, "qid", "qtext", p, k = 5)
    }
    intercept[IllegalArgumentException] {
      FullTextIndex.appendBatch(spark, d.limit(1), "doc_id", "text", p)
    }
  }

  test("query-term IN predicate reaches the postings parquet scan") {
    val path = tmp("graft_ftidx_p")
    FullTextIndex.write(d, "doc_id", "text", path)
    val res = FullTextIndex.searchTopK(spark, queries, "qid", "qtext", path, k = 5)
    val plan = res.queryExecution.executedPlan.toString
    val scanLine = plan.linesIterator
      .find(l => l.contains("postings") && l.contains("PushedFilters"))
    assert(scanLine.isDefined, s"expected a postings scan with PushedFilters:\n$plan")
    assert(scanLine.get.contains("In(token_id"),
      s"the term set must push down as In(token_id, ...): ${scanLine.get}")
    // the removal side's O(batch) claim rests on the same property for
    // the forward table: a batch id set over the doc-sorted docs scan
    // must land as In(doc_id, ...) (removeDocs builds exactly this frame)
    val ids = Array(2L, 9L, 44L)
    val docsScan = spark.read.parquet(s"$path/docs")
      .filter(col("doc_id").isin(ids: _*))
      .queryExecution.executedPlan.toString
    val dLine = docsScan.linesIterator
      .find(l => l.contains("docs") && l.contains("PushedFilters"))
    assert(dLine.isDefined && dLine.get.contains("In(doc_id"),
      s"removal ids must push down as In(doc_id, ...):\n$docsScan")
  }

  test("searching a never-written index refuses loudly") {
    intercept[IllegalArgumentException] {
      FullTextIndex.searchTopK(spark, queries, "qid", "qtext",
        tmp("graft_ftidx_missing"), k = 5)
    }
  }

  test("auto-compaction trigger: below threshold keeps the mask, above compacts; results unchanged") {
    val path = tmp("graft_ftidx_auto")
    FullTextIndex.write(d, "doc_id", "text", path)
    FullTextIndex.removeDocs(spark, d.filter(col("doc_id") % 7 === 0)
      .select(col("doc_id")), "doc_id", path)
    val fs = new org.apache.hadoop.fs.Path(path)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    val tombs = new org.apache.hadoop.fs.Path(s"$path/tombstones")
    // the default floor (4096) dwarfs this corpus: the removeDocs-fired
    // trigger must have declined, leaving the mask in place
    assert(fs.exists(tombs), "default trigger must not fire below the floor")
    // decide leg alone: under-floor and under-ratio both return false
    assert(!FullTextIndex.maybeCompact(spark, path, minTombstones = 100000L))
    assert(!FullTextIndex.maybeCompact(spark, path, minTombstones = 1L, frac = 0.9))
    assert(fs.exists(tombs))
    val before = asSet(FullTextIndex.searchTopK(spark, queries, "qid", "qtext", path, k = 5))
    // act leg: over both bounds → one compaction, mask cleared (the
    // table persists as an empty rewrite target; its ROWS must be gone)
    assert(FullTextIndex.maybeCompact(spark, path, minTombstones = 1L, frac = 0.01))
    assert(spark.read.parquet(s"$path/tombstones").count() == 0L,
      "compaction must clear the covered tombstones")
    val after = asSet(FullTextIndex.searchTopK(spark, queries, "qid", "qtext", path, k = 5))
    assert(before == after && after.nonEmpty)
    // idle re-entry: nothing pending → false, no work
    assert(!FullTextIndex.maybeCompact(spark, path, minTombstones = 1L, frac = 0.0))
  }

  test("on-disk format version gates every entry point") {
    val path = tmp("graft_ftidx_fmt")
    FullTextIndex.write(d.filter(col("doc_id") < 64), "doc_id", "text", path)
    // simulate an index written by the pre-gen binary: conf carries only
    // max_length AND the forward docs/ table is absent (a true v1
    // layout) — every entry point must refuse with a diagnosis, not
    // fail mid-flight on an unresolved column
    import spark.implicits._
    Seq(Tuple1(512)).toDF("max_length")
      .coalesce(1).write.mode("overwrite").parquet(s"$path/conf")
    new org.apache.hadoop.fs.Path(s"$path/docs")
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
      .delete(new org.apache.hadoop.fs.Path(s"$path/docs"), true)
    val e = intercept[IllegalArgumentException] {
      FullTextIndex.searchTopK(spark, queries, "qid", "qtext", path, k = 5)
    }
    assert(e.getMessage.contains("format"), e.getMessage)
    intercept[IllegalArgumentException] {
      FullTextIndex.appendBatch(spark, d.filter(col("doc_id") === 999),
        "doc_id", "text", path)
    }
    intercept[IllegalArgumentException] {
      FullTextIndex.removeDocs(spark, d.limit(1).select(col("doc_id")), "doc_id", path)
    }
    intercept[IllegalArgumentException] { FullTextIndex.compactPostings(spark, path) }
  }

  test("a v2 layout without the version column is sniffed, not refused") {
    // indexes written between the gen/docs layout and the version stamp
    // have the full v2 layout but no format_version column — forcing a
    // rebuild of those is wasted work; conf() sniffs the forward docs/
    // table and serves them
    val path = tmp("graft_ftidx_sniff")
    FullTextIndex.write(d.filter(col("doc_id") < 64), "doc_id", "text", path)
    val before = FullTextIndex.searchTopK(spark, queries, "qid", "qtext", path, k = 5)
      .collect().map(_.toString).toSet
    val maxLen = spark.read.parquet(s"$path/conf")
      .collect()(0).getAs[Int]("max_length")
    import spark.implicits._
    Seq(Tuple1(maxLen)).toDF("max_length")
      .coalesce(1).write.mode("overwrite").parquet(s"$path/conf")
    val after = FullTextIndex.searchTopK(spark, queries, "qid", "qtext", path, k = 5)
      .collect().map(_.toString).toSet
    assert(after == before && after.nonEmpty)
    // maintenance entry points accept it too
    FullTextIndex.compactPostings(spark, path)
    assert(FullTextIndex.searchTopK(spark, queries, "qid", "qtext", path, k = 5)
      .collect().map(_.toString).toSet == before)
  }
}
