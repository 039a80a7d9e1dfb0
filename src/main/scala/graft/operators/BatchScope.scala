package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.graftbridge.Bridge

/** Batch-scoped lineage cuts for the per-batch index bodies (the ingest
  * sinks' exactly-once bodies, upserts, removals and the appends they
  * run). A body cuts each frame it reads more than once through
  * [[keep]], [[keepInOne]] or [[gather]]; the scope drops every cut's
  * blocks when the body returns or throws, so nothing cached outlives
  * its micro-batch (an unscoped `localCheckpoint` stays cached until
  * the driver garbage-collects its RDD). A lost executor loses the cut
  * blocks it held (a local checkpoint keeps no lineage to recompute
  * them), which fails the body; a redelivered micro-batch re-runs it.
  *
  * The cut is a lazy `localCheckpoint`: its exchanges run when it is
  * declared, its last stage inside the first job that reads it, and
  * every later read takes the cached blocks. `Dataset.persist` would
  * cost one more job per frame and per reading query (adaptive
  * execution materializes a cached relation as its own query stage):
  * measured 44 jobs against 18 for one streamed MinHash ingest batch. */
private[graft] final class BatchScope private {
  private val held = scala.collection.mutable.ArrayBuffer.empty[org.apache.spark.rdd.RDD[_]]
  private val inPlace = scala.collection.mutable.Set.empty[org.apache.spark.rdd.RDD[_]]

  /** Every cut's plan first gets its in-place joins hinted
    * ([[Bridge.hintInPlaceJoins]]): a join among batch frames reads them
    * in place instead of broadcasting one. */
  private def cut(df: DataFrame): DataFrame = {
    val c = Bridge.hintInPlaceJoins(df, inPlace.contains).localCheckpoint(false)
    held ++= Bridge.checkpointedRdd(c)
    c
  }

  /** Cut `df`'s lineage for the rest of the scope. A cut that lands in
    * one partition (a batch-sized shuffle after adaptive coalescing) is
    * declared single-partition, so aggregations over it run without an
    * exchange. */
  def keep(df: DataFrame): DataFrame =
    Bridge.asSinglePartition(cut(df), inPlaceJoins = false)

  /** [[keep]] in ONE partition, declared for in-place joins — for
    * frames derived from a micro-batch alone (the batch, its signatures,
    * its in-batch pairs, a verdict over cuts). Aggregations and joins
    * among these frames need no exchange and no broadcast
    * ([[org.apache.spark.sql.graftbridge.Bridge.asSinglePartition]]):
    * they run inside the job that reads them instead of adding a
    * shuffle or broadcast job each. A join reads the frame in place only
    * inside a plan this scope cuts, which is where every join among
    * batch frames runs. The coalesce is narrow, so every scan in the
    * frame's last stage runs in the one task: a frame whose plan reads
    * an index table goes through [[gather]] instead. */
  def keepInOne(df: DataFrame): DataFrame = {
    val c = Bridge.asSinglePartition(cut(df.coalesce(1)), inPlaceJoins = true)
    inPlace ++= Bridge.checkpointedRdd(c)
    c
  }

  /** [[keepInOne]] for a batch-sized frame whose plan scans an index
    * table (a corpus check's pairs, a removal's victims): the scans run
    * in parallel tasks and one shuffle gathers the batch-sized result
    * into the single partition — one job more than [[keepInOne]], which
    * would pull scans that grow with the index into its one task. */
  def gather(df: DataFrame): DataFrame = keepInOne(df.repartition(1))

  private def release(): Unit =
    held.foreach(org.apache.spark.rdd.GraftRddBridge.releaseLocalCheckpoint)
}

private[graft] object BatchScope {
  def apply[T](body: BatchScope => T): T = {
    val scope = new BatchScope
    try body(scope) finally scope.release()
  }
}
