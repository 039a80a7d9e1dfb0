package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.operators.{BatchScope, DedupIndex, FullTextIndex, VectorIndex}
import graft.streaming.StreamingOps

/** Spark jobs per call of every index-mutation body one streamed ingest
  * batch runs (the shape of the perfbench `ingest` op, scaled down): the
  * four replay-marked sink bodies, both upserts and both removals. Each
  * bound is the count measured when the per-batch frames became
  * batch-scoped cuts, lowered where a later change measured fewer (the
  * in-batch MinHash pass on the driver, the one-task encode of a
  * checkpointed batch); the counts before are in CHANGES.md. A body that
  * grows past its bound added a Spark action, a shuffle or a broadcast
  * to every micro-batch.
  *
  * Also pins batch-scoped persistence: no body leaves a cached block
  * behind, whether it returns or throws; that no body plans a join hint
  * Spark cannot use; and that a batch-sized frame
  * read from an index table is gathered into its one partition after a
  * parallel scan, never scanned in one task. */
class IngestJobCountSpec extends AnyFunSuite with SparkSessionTestWrapper {

  private def tmp(prefix: String): String =
    java.nio.file.Files.createTempDirectory(prefix).toString

  private lazy val docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    .select(col("doc_id"), col("text"))
  private lazy val rows = docs.join(spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    .select(col("vec_id").as("doc_id"), col("embedding").as("emb")), "doc_id")

  /** The base corpus (400 rows) and one ingest batch: 48 new rows, 12
    * copies of base rows under new ids (corpus duplicates) and 4 copies
    * of new rows (in-batch duplicates); 8 updates and 8 removals. */
  private class Fixture(val tag: String) {
    val base: DataFrame = rows.filter(col("doc_id") < 400).localCheckpoint(true)
    val ins: DataFrame = rows.filter(col("doc_id") >= 400 && col("doc_id") < 448)
      .select((col("doc_id") + 2000L).as("doc_id"), col("text"), col("emb"))
      .union(rows.filter(col("doc_id") < 12)
        .select((col("doc_id") + 3000L).as("doc_id"), col("text"), col("emb")))
      .union(rows.filter(col("doc_id") >= 400 && col("doc_id") < 404)
        .select((col("doc_id") + 4000L).as("doc_id"), col("text"), col("emb")))
      .localCheckpoint(true)
    val upd: DataFrame = rows.filter(col("doc_id") >= 10 && col("doc_id") < 18)
      .select(col("doc_id"), concat_ws(" ", col("text"), lit("zzupdated")).as("text"),
        col("emb"))
      .localCheckpoint(true)
    val del: DataFrame = base.filter(col("doc_id") >= 20 && col("doc_id") < 28)
      .select(col("doc_id")).localCheckpoint(true)
    val vec: String = tmp(s"graft_jobs_ivf_$tag")
    val app: String = tmp(s"graft_jobs_app_$tag")
    val ft: String = tmp(s"graft_jobs_bm25_$tag")
    val table = s"graft_jobs_minhash_$tag"
    val audit: String = tmp(s"graft_jobs_audit_$tag")
    VectorIndex.writeIvfPq(base, "doc_id", "emb", nCells = 2, m = 8, nCentsPq = 16,
      path = vec, storeVectors = true, residual = true)
    VectorIndex.writeIvfPq(base, "doc_id", "emb", nCells = 2, m = 8, nCentsPq = 16,
      path = app, storeVectors = true, residual = true)
    FullTextIndex.write(base, "doc_id", "text", ft)
    DedupIndex.writeMinhash(base, "doc_id", "text", table, numBuckets = 8)

    /** The eight bodies in perfbench's order, each under its name. */
    def bodies(batchId: Long): Seq[(String, () => Unit)] = Seq(
      "dedupIngestBatch" -> (() => StreamingOps.dedupIngestBatch(ins, batchId, "doc_id",
        "text", table, 0.6, s"$audit/text", numBuckets = 8)),
      "semanticIngestBatch" -> (() => StreamingOps.semanticIngestBatch(ins, batchId,
        "doc_id", "emb", vec, 64, 0.98, s"$audit/vec")),
      "bm25IngestBatch" -> (() => StreamingOps.bm25IngestBatch(ins, batchId, "doc_id",
        "text", ft, s"$audit/bm25_log")),
      "idempotentAppend" -> (() => StreamingOps.idempotentAppend(ins, "doc_id", "emb",
        app, batchId)),
      "VectorIndex.upsert" -> (() => VectorIndex.upsert(upd, "doc_id", "emb", vec)),
      "FullTextIndex.upsertBatch" -> (() =>
        FullTextIndex.upsertBatch(spark, upd, "doc_id", "text", ft)),
      "VectorIndex.delete" -> (() => VectorIndex.delete(spark, vec, del, "doc_id")),
      "FullTextIndex.removeDocs" -> (() =>
        FullTextIndex.removeDocs(spark, del, "doc_id", ft)))
  }

  /** Jobs per body, measured with `local[4]` and 4 shuffle partitions. */
  private val Bounds = Map(
    "dedupIngestBatch" -> 8,
    "semanticIngestBatch" -> 11,
    "bm25IngestBatch" -> 6,
    "idempotentAppend" -> 2,
    "VectorIndex.upsert" -> 11,
    "FullTextIndex.upsertBatch" -> 11,
    "VectorIndex.delete" -> 2,
    "FullTextIndex.removeDocs" -> 6)

  test("each ingest-path body stays within its measured Spark job count") {
    val f = new Fixture("count")
    val p = Profiler.attach(spark)
    val counts =
      try f.bodies(0L).map { case (name, body) => name -> p.measure(body()).jobs }
      finally p.close()
    info(counts.map { case (n, j) => s"$n=$j" }.mkString(", "))
    counts.foreach { case (name, jobs) =>
      assert(jobs <= Bounds(name), s"$name ran $jobs jobs (bound ${Bounds(name)})")
    }
  }

  test("no body plans a join hint Spark cannot use") {
    // Spark logs a hint that no join reads, or that another hint
    // overrides, as a WARN of its hint error handler on every query that
    // plans it; the session runs at ERROR, so the listener is
    // attached while WARN is on (the control query below proves it hears)
    import org.apache.logging.log4j.LogManager
    import org.apache.logging.log4j.core.{LogEvent, Logger}
    val logger = LogManager.getLogger("org.apache.spark.sql.catalyst.analysis.HintErrorLogger")
      .asInstanceOf[Logger]
    val seen = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val appender = new org.apache.logging.log4j.core.appender.AbstractAppender("graft-hints",
        null, null, true, org.apache.logging.log4j.core.config.Property.EMPTY_ARRAY) {
      override def append(e: LogEvent): Unit = seen.add(e.getMessage.getFormattedMessage)
    }
    appender.start()
    spark.sparkContext.setLogLevel("WARN")
    logger.addAppender(appender)
    spark.sparkContext.setLogLevel("ERROR")
    val f = new Fixture("hints")
    val (control, warned) =
      try {
        spark.range(4).hint("merge").collect()
        (seen.size, f.bodies(0L).map { case (name, body) => seen.clear(); body(); name -> seen.size })
      } finally { logger.removeAppender(appender); appender.stop() }
    assert(control > 0, "a hint over no join went unheard")
    assert(warned.forall(_._2 == 0), warned.filter(_._2 > 0).mkString(", "))
  }

  test("gather scans an index-sized table in parallel; keepInOne scans it in one task") {
    val table = tmp("graft_jobs_gather")
    spark.range(0, 4000, 1, 4).toDF("id").write.mode("overwrite").parquet(table)
    val scan = spark.read.parquet(table).filter(col("id") % 100 === 0)
    val stageTasks = new java.util.concurrent.ConcurrentLinkedQueue[Int]()
    val l = new org.apache.spark.scheduler.SparkListener {
      override def onStageCompleted(e: org.apache.spark.scheduler.SparkListenerStageCompleted): Unit =
        stageTasks.add(e.stageInfo.numTasks)
    }
    /** (widest stage, partitions of the cut, rows) of one scoped cut. */
    def shape(cut: BatchScope => DataFrame => DataFrame): (Int, Int, Long) = {
      org.apache.spark.GraftListenerBridge.waitUntilListenerBusEmpty(spark.sparkContext)
      stageTasks.clear()
      val (parts, n) = BatchScope { scope =>
        val c = cut(scope)(scan)
        (c.rdd.getNumPartitions, c.count())
      }
      org.apache.spark.GraftListenerBridge.waitUntilListenerBusEmpty(spark.sparkContext)
      import scala.jdk.CollectionConverters._
      (stageTasks.asScala.max, parts, n)
    }
    spark.sparkContext.addSparkListener(l)
    try {
      val (gatherWidth, gatherParts, gatherRows) = shape(_.gather)
      val (oneWidth, oneParts, oneRows) = shape(_.keepInOne)
      assert(gatherRows == 40 && oneRows == 40)
      assert(gatherParts == 1 && oneParts == 1)
      assert(gatherWidth > 1, "gather ran the table scan in one task")
      assert(oneWidth == 1)
    } finally spark.sparkContext.removeSparkListener(l)
  }

  test("no body leaves a persisted RDD behind, returning or throwing") {
    val f = new Fixture("persist")
    // new ids only: the context cleaner may drop other specs' unreferenced
    // checkpoints at any time, which is not this body's doing
    def persisted = spark.sparkContext.getPersistentRDDs.keySet
    f.bodies(0L).foreach { case (name, body) =>
      val before = persisted
      body()
      assert((persisted -- before).isEmpty, s"$name left cached blocks behind")
    }
    // a batch whose rows fail to compute: every body's first write fails
    // after its frames were cut, and the scope must still drop them
    val failing = new Fixture("persist_fail") {
      override def bodies(batchId: Long): Seq[(String, () => Unit)] = {
        val poison = (df: DataFrame) => df.withColumn("doc_id",
          when(col("doc_id") >= 0, raise_error(lit("injected write failure")))
            .otherwise(col("doc_id")).cast("long"))
        val g = this
        Seq(
          "dedupIngestBatch" -> (() => StreamingOps.dedupIngestBatch(poison(g.ins), batchId,
            "doc_id", "text", g.table, 0.6, s"${g.audit}/text", numBuckets = 8)),
          "semanticIngestBatch" -> (() => StreamingOps.semanticIngestBatch(poison(g.ins),
            batchId, "doc_id", "emb", g.vec, 64, 0.98, s"${g.audit}/vec")),
          "bm25IngestBatch" -> (() => StreamingOps.bm25IngestBatch(poison(g.ins), batchId,
            "doc_id", "text", g.ft, s"${g.audit}/bm25_log")),
          "idempotentAppend" -> (() => StreamingOps.idempotentAppend(poison(g.ins), "doc_id",
            "emb", g.app, batchId)),
          "VectorIndex.upsert" -> (() => VectorIndex.upsert(poison(g.upd), "doc_id", "emb", g.vec)),
          "FullTextIndex.upsertBatch" -> (() =>
            FullTextIndex.upsertBatch(spark, poison(g.upd), "doc_id", "text", g.ft)),
          "VectorIndex.delete" -> (() => VectorIndex.delete(spark, g.vec, poison(g.del), "doc_id")),
          "FullTextIndex.removeDocs" -> (() =>
            FullTextIndex.removeDocs(spark, poison(g.del), "doc_id", g.ft)))
      }
    }
    failing.bodies(1L).foreach { case (name, body) =>
      val before = persisted
      val e = intercept[Exception](body())
      assert(Iterator.iterate[Throwable](e)(_.getCause).takeWhile(_ != null)
        .exists(t => String.valueOf(t.getMessage).contains("injected write failure")),
        s"$name failed for another reason: $e")
      assert((persisted -- before).isEmpty, s"$name left cached blocks behind after throwing")
    }
  }
}
