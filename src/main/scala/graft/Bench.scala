package graft

import java.util.concurrent.{ConcurrentHashMap, ConcurrentLinkedQueue}
import java.util.concurrent.atomic.LongAdder

import org.apache.spark.GraftListenerBridge
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobEnd, SparkListenerJobStart,
  SparkListenerStageCompleted, SparkListenerTaskEnd}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener

/** Per-round benchmark: runs every SparkEntry query on SPARK_GRAFT_SF_DIR,
  * forcing full evaluation through the noop sink (a bare .count() would let
  * Catalyst skip computing projected columns), and prints ONE JSON line.
  * Every timed pass also carries a [[Profile]] (jobs, stages, tasks,
  * shuffle/spill bytes, job vs driver time, planning time) under the
  * line's "profile" key, so a regression can be traced to a layer from
  * the artifact alone. */
object Bench {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")
    val only = sys.env.get("SPARK_GRAFT_ONLY").map(_.split(",").toSet)
    // Shared scale-tuned block lives in Graft.tunedBuilder. The two
    // load-bearing settings it carries, calibrated here in round 13
    // (round 14 gated the threshold on input size — below 64 MB
    // Spark's default 128 wins, measured +8.9% suite cost widened at
    // sf0.1; see Graft.fallbackThresholdFor / DRIFT_AB artifacts):
    //
    // - ObjectHashAggregate's sort-based fallback fires at 128 DISTINCT
    //   KEYS by default: any partial TypedImperativeAggregate over more
    //   than 128 groups per partition (every top-k / sketch agg here —
    //   thousands to millions of qids) abandons the hash map and SORTS
    //   the full per-partition input stream. At 100× that turned a
    //   bounded-heap candidate pass into a 39M-row sort churning ~35 GB
    //   of humongous sort pages (measured: 167–292 s vs a deterministic
    //   23–26 s hash-aggregated). 128k keys is the measured sweet spot:
    //   graft's own typed aggregates carry BOUNDED buffers (k-sized
    //   heaps, fixed-size sketches — a 128k map is ~10 MB/task), while
    //   builtins with UNBOUNDED buffers (the collect_list in the BM25
    //   deterministic fold: millions of (query, doc) groups) must still
    //   fall back before the map itself becomes the memory problem — a
    //   1M-key setting sent q55b/q56 2–4× slower building GB-scale maps
    //   that fell back anyway.
    // - Initial exchange width sized to the corpus, AQE-coalesce small
    //   stages back down: a fixed cores-sized count made big
    //   exact-distinct exchanges spill at 100×, while a flat wide
    //   constant taxed the small-sf suite (see Graft.tuneForScale).
    val spark = Graft.tunedBuilder(sfDir, cpus.toInt).getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    // Warmup: run the full q01 pipeline once untimed so JIT/codegen/session
    // init don't land on whichever query sorts first.
    try SparkEntry.queries("q01_dense_embed")(spark, sfDir)
      .write.format("noop").mode("overwrite").save()
    catch { case e: Throwable => System.err.println(s"[bench] warmup: $e") }
    // SPARK_GRAFT_REPEAT=n (default 3): run the WHOLE suite n times —
    // pass 1 of every query, then pass 2, ... — and report each query's
    // MEDIAN across passes. Back-to-back repeats in one slot all sit in
    // the same contaminated neighborhood (whatever GC/eviction state the
    // previous query left), so their median inherits the contamination:
    // the r7→r8 same-binary experiment moved the total ±25% and single
    // queries 2–7× with zero code change. Interleaved passes decorrelate
    // each query's samples from any one neighborhood. Set to 1 for the
    // fastest (noisiest) pass when iterating locally.
    val repeat = math.max(1, sys.env.get("SPARK_GRAFT_REPEAT")
      .flatMap(v => scala.util.Try(v.toInt).toOption).getOrElse(3))
    // Drop blocks left behind by a query run (cached frames): queries are
    // self-contained, and letting blocks accumulate across 80+ queries
    // taxes later ones with GC/eviction pressure that has nothing to do
    // with their own plans. BLOCKING so the purge cost lands here,
    // between timers, never inside the next query's measurement.
    // Locally-checkpointed RDDs are skipped: their blocks ARE the
    // truncated lineage, so unpersisting them logs WARN + DAGScheduler
    // stack traces indistinguishable from real failures in bench stderr;
    // they are released asynchronously by the ContextCleaner once the
    // query's frames go out of scope.
    def purge(): Unit = {
      spark.catalog.clearCache()
      spark.sparkContext.getPersistentRDDs.values
        .filter(!org.apache.spark.rdd.GraftRddBridge.isLocallyCheckpointed(_))
        .foreach(_.unpersist(blocking = true))
      // skipped localCheckpoint blocks release via the ContextCleaner
      // once their RDDs are collected — force the collection HERE, in
      // the untimed gap, so their eviction pressure can't land inside
      // the next query's measurement
      System.gc()
    }
    val suite = SparkEntry.queries.toSeq.sortBy(_._1)
      .filter { case (name, _) => only.forall(_.contains(name)) }
    val profiles = scala.collection.mutable.Map.empty[String, scala.collection.mutable.ArrayBuffer[Profile]]
    // each query's pass seconds, in pass order
    def times(name: String): Seq[Double] =
      profiles.get(name).fold(Seq.empty[Double])(_.map(_.wallMs / 1e3).toSeq)
    val failed0 = scala.collection.mutable.Set.empty[String]
    val profiler = Profiler.attach(spark)
    for (pass <- 1 to repeat) {
      suite.foreach { case (name, fn) =>
        if (!failed0.contains(name)) {
          try {
            profiles.getOrElseUpdate(name, scala.collection.mutable.ArrayBuffer.empty) +=
              profiler.measure(fn(spark, sfDir).write.format("noop").mode("overwrite").save())
          } catch { case e: Throwable =>
            System.err.println(s"[bench] $name: $e")
            failed0 += name
          }
          purge() // untimed: the next query starts from a clean block store
        }
      }
      System.err.println(s"[bench] pass $pass/$repeat done")
    }
    profiler.close()
    val results = suite.map { case (name, _) =>
      val ok = !failed0.contains(name)
      val sorted = times(name).sorted
      val sec = if (sorted.isEmpty) 0.0 else sorted(sorted.length / 2)
      System.err.println(f"[bench] $name%-22s $sec%8.2f s (median of ${sorted.length} interleaved)${if (ok) "" else " FAILED"}")
      (name, sec, ok)
    }
    // failed queries report -1 and are excluded from the total — a crash
    // must never read as a fast pass
    val qs = results.map { case (k, v, ok) => "\"" + k + "\":" + (if (ok) v else -1) }
      .mkString("{", ",", "}")
    // raw per-pass samples, in pass order — medians stay the headline,
    // but the spread is what separates a methodology change from
    // environment noise when rounds are compared
    val passes = results.map { case (k, _, _) =>
      "\"" + k + "\":" + times(k).map(t => f"$t%.3f").mkString("[", ",", "]")
    }.mkString("{", ",", "}")
    // one execution profile per recorded pass, in pass order (the same
    // samples as "passes"; failed queries have none)
    val profile = results.map { case (k, _, _) =>
      "\"" + k + "\":" + profiles.getOrElse(k, scala.collection.mutable.ArrayBuffer.empty[Profile])
        .map(_.json).mkString("[", ",", "]")
    }.mkString("{", ",", "}")
    val failed = results.filter(!_._3).map("\"" + _._1 + "\"").mkString("[", ",", "]")
    val total = results.filter(_._3).map(_._2).sum
    // Measurement provenance (r16 verdict): in-suite absolutes are upper
    // bounds — whether THIS run had the machine to itself is a fact the
    // artifact must carry, not one future readers infer. The runner sets
    // SPARK_GRAFT_ISOLATED=1 when nothing else shares the box.
    val isolated = sys.env.get("SPARK_GRAFT_ISOLATED").contains("1")
    val line = s"""{"metric":"total","value":$total,"unit":"sec","isolated":$isolated,"repeat":$repeat,"queries":$qs,"passes":$passes,"failed":$failed,"sf":"$sfDir","profile":$profile}"""
    println(line)
    // The full line ALSO lands in a file: the driver's log-tail capture
    // truncates long stdout lines (r10's artifact kept only the tail,
    // "parsed": null), so the machine-readable per-query/per-pass map
    // must survive somewhere length-proof.
    val outPath = artifactPath(sys.env.get("SPARK_GRAFT_BENCH_OUT"), sfDir, cpus, isolated,
      p => java.nio.file.Files.exists(java.nio.file.Paths.get(p)))
    // CREATE_NEW: a file that appeared since the name was chosen is
    // still never replaced
    try {
      java.nio.file.Files.write(java.nio.file.Paths.get(outPath),
        (line + "\n").getBytes(java.nio.charset.StandardCharsets.UTF_8),
        java.nio.file.StandardOpenOption.CREATE_NEW)
      System.err.println(s"[bench] wrote $outPath")
    } catch { case e: Throwable => System.err.println(s"[bench] write $outPath: $e") }
    // Repeat the total on its own short line (distinct metric name so a
    // line-oriented consumer selecting on "total" matches exactly once):
    // round-5 artifact capture kept only the tail of long lines,
    // truncating the total off the big one. The per-query MEDIANS ride on
    // this final line too (r19 verdict #2: the driver's round-over-round
    // comparator parses only this line, and the big line's tail-captured
    // copy truncates) — compact 3-decimal values keep the line ~6 KB;
    // existing keys are unchanged, "queries" is purely additive.
    val qsShort = results.map { case (k, v, ok) =>
      "\"" + k + "\":" + (if (ok) f"$v%.3f" else "-1")
    }.mkString("{", ",", "}")
    println(s"""{"metric":"total_short","value":$total,"unit":"sec","n_queries":${results.size},"queries":$qsShort,"failed":$failed,"sf":"$sfDir"}""")
    spark.stop()
  }

  /** Where the full line lands: `explicit` (SPARK_GRAFT_BENCH_OUT) or
    * `BENCH_FULL_<sf>_c<cpus>[_isolated].json`, so runs at another scale,
    * core count or isolation never share a name. An existing file is
    * never replaced: the first free `<stem>.<n>.json` is used instead. */
  private[graft] def artifactPath(explicit: Option[String], sfDir: String, cpus: String,
                                  isolated: Boolean, exists: String => Boolean): String = {
    val sfTag = new java.io.File(sfDir).getName
    val wanted = explicit.getOrElse(
      s"BENCH_FULL_${sfTag}_c$cpus${if (isolated) "_isolated" else ""}.json")
    val stem = wanted.stripSuffix(".json")
    (Iterator.single(wanted) ++ Iterator.from(1).map(n => s"$stem.$n.json"))
      .find(!exists(_)).get
  }
}

/** What Spark did for one timed body. `task_ms`/`cpu_ms` sum executor
  * run and CPU time over tasks; `job_ms` is the union of job intervals
  * (concurrent jobs count once); `driver_gap_ms` is the wall time no
  * job was running — planning, collects, sidecar IO, file listing;
  * `planning_ms` sums the analysis, optimization and planning phases
  * of every SQL execution. */
private[graft] final case class Profile(
    wallMs: Double, jobs: Int, stages: Long, tasks: Long, taskMs: Long, cpuMs: Long,
    shuffleReadBytes: Long, shuffleWriteBytes: Long, spillBytes: Long,
    jobMs: Long, planningMs: Long) {
  def driverGapMs: Double = math.max(0.0, wallMs - jobMs)
  def json: String =
    f"""{"jobs":$jobs,"stages":$stages,"tasks":$tasks,"task_ms":$taskMs,"cpu_ms":$cpuMs,""" +
    f""""shuffle_read_bytes":$shuffleReadBytes,"shuffle_write_bytes":$shuffleWriteBytes,""" +
    f""""spill_bytes":$spillBytes,"job_ms":$jobMs,"driver_gap_ms":$driverGapMs%.1f,""" +
    f""""planning_ms":$planningMs}"""
}

/** One [[SparkListener]] and one [[QueryExecutionListener]] on a
  * session, summing what every job, stage, task and SQL execution
  * between a [[measure]]'s start and end reports. Bodies must not
  * overlap: events are attributed by time, not by caller. */
private[graft] final class Profiler private (spark: SparkSession) {
  private val sc = spark.sparkContext
  private val jobStart = new ConcurrentHashMap[Int, java.lang.Long]()
  private val jobSpans = new ConcurrentLinkedQueue[(Long, Long)]()
  private val stages, tasks, taskMs, cpuNs, shuffleRead, shuffleWrite, spill, planningMs =
    new LongAdder

  private val jobListener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = jobStart.put(e.jobId, e.time)
    override def onJobEnd(e: SparkListenerJobEnd): Unit =
      Option(jobStart.remove(e.jobId)).foreach(t0 => jobSpans.add((t0.longValue, e.time)))
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit = stages.increment()
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = Option(e.taskMetrics).foreach { m =>
      tasks.increment()
      taskMs.add(m.executorRunTime)
      cpuNs.add(m.executorCpuTime)
      shuffleRead.add(m.shuffleReadMetrics.totalBytesRead)
      shuffleWrite.add(m.shuffleWriteMetrics.bytesWritten)
      spill.add(m.memoryBytesSpilled + m.diskBytesSpilled)
    }
  }
  private val queryListener = new QueryExecutionListener {
    private def planned(qe: QueryExecution): Unit = {
      val ph = qe.tracker.phases
      planningMs.add(Seq("analysis", "optimization", "planning")
        .flatMap(ph.get).map(_.durationMs).sum)
    }
    override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = planned(qe)
    override def onFailure(funcName: String, qe: QueryExecution, e: Exception): Unit = planned(qe)
  }

  /** Listener events post asynchronously; waiting for the bus is the
    * only way to read complete totals, and it happens outside the timer. */
  private def drain(): Unit = GraftListenerBridge.waitUntilListenerBusEmpty(sc)

  /** Runs `body` (rethrowing its failure) and profiles it. */
  def measure(body: => Unit): Profile = {
    drain()
    jobStart.clear(); jobSpans.clear()
    Seq(stages, tasks, taskMs, cpuNs, shuffleRead, shuffleWrite, spill, planningMs).foreach(_.reset())
    val t0 = System.nanoTime()
    body
    val wallMs = (System.nanoTime() - t0) / 1e6
    drain()
    import scala.jdk.CollectionConverters._
    val spans = jobSpans.asScala.toSeq
    // union of [start, end] intervals: sweep in start order, adding only
    // the part past the furthest end seen so far
    val (covered, _) = spans.sortBy(_._1)
      .foldLeft((0L, Long.MinValue)) { case ((sum, reach), (a, b)) =>
        if (b <= reach) (sum, reach) else (sum + b - math.max(a, reach), b)
      }
    Profile(wallMs, spans.size, stages.sum, tasks.sum, taskMs.sum,
      cpuNs.sum / 1000000L, shuffleRead.sum, shuffleWrite.sum, spill.sum, covered, planningMs.sum)
  }

  /** Removes both listeners. */
  def close(): Unit = {
    sc.removeSparkListener(jobListener)
    spark.listenerManager.unregister(queryListener)
  }
}

private[graft] object Profiler {
  def attach(spark: SparkSession): Profiler = {
    val p = new Profiler(spark)
    spark.sparkContext.addSparkListener(p.jobListener)
    spark.listenerManager.register(p.queryListener)
    p
  }
}
