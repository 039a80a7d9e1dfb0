package org.apache.spark.sql.graftbridge

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.classic.ExpressionUtils

/** Spark 4 removed the public `new Column(expr)` constructor; the sanctioned
  * conversion lives in `org.apache.spark.sql.classic.ExpressionUtils`, which
  * is `private[sql]`. This bridge (in an org.apache.spark.sql subpackage,
  * the usual pattern for Spark extension libraries) re-exports the two
  * conversions the graft kernel needs to register custom Catalyst
  * expressions as Columns. */
object Bridge {
  def column(e: Expression): Column = ExpressionUtils.column(e)
  def expression(c: Column): Expression = ExpressionUtils.expression(c)

  /** `AbstractDataType`/`TypeCollection` are `private[sql]` in Spark 4,
    * but they are the only way ExpectsInputTypes can declare "array of
    * float OR double" — re-exported here so the native expressions can
    * reject wrong-typed SQL args at analysis time. */
  type AbstractType = org.apache.spark.sql.types.AbstractDataType
  def oneOf(types: org.apache.spark.sql.types.AbstractDataType*): AbstractType =
    org.apache.spark.sql.types.TypeCollection(types: _*)

  /** Drop the `originStats` a lazy `localCheckpoint` captured into its
    * [[org.apache.spark.sql.execution.LogicalRDD]], keeping the RDD,
    * partitioning, and ordering metadata intact.
    *
    * Why this exists (r19, OPTIMIZATION_r19.md): `Dataset.checkpoint`
    * snapshots the child plan's `Statistics` into the cut node, and the
    * size-only stats visitor estimates a join as the PRODUCT of its
    * children — so an iterative loop whose round joins the label table
    * with itself squares `sizeInBytes` every cut. The value is a
    * BigInt: its bit length doubles per round (measured 19 bits →
    * 147M bits in 24 rounds), the giant-number arithmetic starts
    * costing real per-round time, and past ~31 doublings
    * `java.math.BigInteger` throws `BigInteger would overflow supported
    * range`. Dropping the snapshot resets the node to unknown stats
    * (`defaultSizeInBytes` = Long.MaxValue) — the same
    * never-auto-broadcast planning the garbage product produced, now
    * without the exponential growth. AQE re-decides join strategies
    * from RUNTIME sizes, so downstream physical plans keep their
    * measured shapes. */
  def dropOriginStats(df: org.apache.spark.sql.DataFrame): org.apache.spark.sql.DataFrame =
    replaceOriginStats(df, None)

  /** [[dropOriginStats]] with a REPLACEMENT estimate instead of unknown:
    * iterative callers stamp each cut with a constant, externally-derived
    * sizeInBytes (e.g. the loop's input-edge size) so static planning
    * keeps the same broadcast behavior every round — a small table keeps
    * broadcasting, a 100 TB one keeps not — while the estimate no longer
    * compounds round over round. */
  def replaceOriginStats(df: org.apache.spark.sql.DataFrame,
                         sizeInBytes: Option[BigInt]): org.apache.spark.sql.DataFrame = {
    import org.apache.spark.sql.execution.LogicalRDD
    df.queryExecution.logical match {
      case l: LogicalRDD =>
        val session = df.sparkSession.asInstanceOf[org.apache.spark.sql.classic.SparkSession]
        val stats = sizeInBytes.map(s =>
          org.apache.spark.sql.catalyst.plans.logical.Statistics(sizeInBytes = s))
        org.apache.spark.sql.classic.Dataset.ofRows(session,
          new LogicalRDD(l.output, l.rdd, l.outputPartitioning, l.outputOrdering,
            l.isStreaming, l.stream)(session, stats))
      case _ => df
    }
  }

  /** The RDD behind a `localCheckpoint` frame (its persisted blocks), so
    * a caller that scopes the cut can unpersist it ([[graft.operators
    * .BatchScope]]); None for any other plan. */
  def checkpointedRdd(df: org.apache.spark.sql.DataFrame): Option[org.apache.spark.rdd.RDD[_]] =
    df.queryExecution.logical match {
      case l: org.apache.spark.sql.execution.LogicalRDD => Some(l.rdd)
      case _ => None
    }

  /** A `localCheckpoint` frame whose RDD has exactly one partition,
    * re-declared as `SinglePartition` (the checkpoint's scan reports no
    * partitioning of its own, so every aggregation over it would plan an
    * exchange — a shuffle job under adaptive execution). With
    * `inPlaceJoins` it also gets a one-byte size estimate, so joins among
    * such frames do not re-shuffle the single partitions for parallelism
    * (a shuffle job per side, skipped only while every input's estimate
    * stays under `spark.sql.maxSinglePartitionBytes` — estimates multiply
    * along a join chain, so only a minimal one holds). A join that reads
    * one must then be kept from broadcasting it ([[hintInPlaceJoins]]).
    * Used by [[graft.operators.BatchScope]]; any other frame is returned
    * unchanged. */
  def asSinglePartition(df: org.apache.spark.sql.DataFrame,
                        inPlaceJoins: Boolean): org.apache.spark.sql.DataFrame = {
    import org.apache.spark.sql.execution.LogicalRDD
    df.queryExecution.logical match {
      case l: LogicalRDD if l.rdd.getNumPartitions == 1 =>
        val session = df.sparkSession.asInstanceOf[org.apache.spark.sql.classic.SparkSession]
        val stats =
          if (inPlaceJoins) org.apache.spark.sql.catalyst.plans.logical.Statistics(sizeInBytes = 1)
          else l.computeStats()
        org.apache.spark.sql.classic.Dataset.ofRows(session,
          new LogicalRDD(l.output, l.rdd,
            org.apache.spark.sql.catalyst.plans.physical.SinglePartition,
            l.outputOrdering, l.isStreaming, l.stream)(session, Some(stats)))
      case _ => df
    }
  }

  /** `df` with a sort-merge hint on every join side that reads one of
    * the `inPlace` checkpoints through unary operators only (the path a
    * Dataset hint on that checkpoint would take into the join) and
    * carries no hint of its own (an explicit `broadcast` still decides):
    * the one-byte estimate of [[asSinglePartition]] would otherwise make
    * that side a broadcast (a broadcast job each). The hint goes on the
    * join side itself, never on the checkpoint, so no query that reads
    * a checkpoint without a join plans a hint it cannot use (Spark logs
    * each such hint as a warning). */
  def hintInPlaceJoins(df: org.apache.spark.sql.DataFrame,
                       inPlace: org.apache.spark.rdd.RDD[_] => Boolean): org.apache.spark.sql.DataFrame = {
    import org.apache.spark.sql.catalyst.plans.logical._
    import org.apache.spark.sql.execution.LogicalRDD
    def reads(p: LogicalPlan): Boolean = p match {
      case l: LogicalRDD => inPlace(l.rdd)
      case _: ResolvedHint => false
      case u: UnaryNode => reads(u.child)
      case _ => false
    }
    def merge(p: LogicalPlan) =
      if (reads(p)) ResolvedHint(p, HintInfo(strategy = Some(SHUFFLE_MERGE))) else p
    val plan = df.queryExecution.analyzed
    val hinted = plan.transformUp {
      case j: Join if reads(j.left) || reads(j.right) =>
        j.copy(left = merge(j.left), right = merge(j.right))
    }
    if (hinted eq plan) df
    else org.apache.spark.sql.classic.Dataset.ofRows(
      df.sparkSession.asInstanceOf[org.apache.spark.sql.classic.SparkSession], hinted)
  }

  /** Register a SQL function on a LIVE session (the extensions path in
    * [[graft.sql.GraftExtensions]] only applies at session build time;
    * `SparkSession.sessionState` is private[sql], hence this bridge). */
  def registerFunction(spark: org.apache.spark.sql.SparkSession, name: String,
                       builder: Seq[Expression] => Expression): Unit =
    spark.sessionState.functionRegistry.createOrReplaceTempFunction(
      name, builder, "scala_udf")
}
