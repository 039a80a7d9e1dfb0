package graft

import org.apache.spark.sql.ListenerCounts
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** The bench's per-pass execution profile and its artifact naming. */
class BenchProfileSpec extends AnyFunSuite with SparkSessionTestWrapper {

  /** Runs `f` with a profiler attached, then detaches it. */
  private def withProfiler[T](f: Profiler => T): T = {
    val p = Profiler.attach(spark)
    try f(p) finally p.close()
  }

  test("one shuffle to noop: jobs, stages, tasks, shuffle bytes and a bounded driver gap") {
    val p = withProfiler(_.measure {
      spark.range(0, 20000, 1, 4).groupBy((col("id") % 97).as("k")).count()
        .write.format("noop").mode("overwrite").save()
    })
    assert(p.jobs >= 1)
    assert(p.stages >= 2)
    assert(p.tasks >= p.stages)
    assert(p.shuffleWriteBytes > 0)
    assert(p.shuffleReadBytes > 0)
    assert(p.taskMs >= 0 && p.cpuMs >= 0)
    assert(p.jobMs > 0 && p.jobMs <= math.ceil(p.wallMs) + 1)
    assert(p.driverGapMs >= 0 && p.driverGapMs <= p.wallMs)
    assert(p.planningMs >= 0)
    assert(p.json.contains("\"shuffle_write_bytes\":" + p.shuffleWriteBytes))
  }

  test("a driver-only body profiles to no jobs and a driver gap of the whole wall") {
    val p = withProfiler(_.measure { Thread.sleep(30) })
    assert(p.jobs == 0 && p.stages == 0 && p.tasks == 0)
    assert(p.jobMs == 0)
    assert(p.wallMs >= 30)
    assert(p.driverGapMs == p.wallMs)
  }

  test("close removes both listeners") {
    val before = (ListenerCounts.spark(spark), ListenerCounts.queryExecution(spark))
    withProfiler { _ =>
      assert(ListenerCounts.spark(spark) == before._1 + 1)
      assert(ListenerCounts.queryExecution(spark) == before._2 + 1)
    }
    assert((ListenerCounts.spark(spark), ListenerCounts.queryExecution(spark)) == before)
  }

  test("artifact path: default name carries sf, cpus and isolation; existing files are never reused") {
    val taken = Set("BENCH_FULL_sf0.1_c8.json", "BENCH_FULL_sf0.1_c8.1.json", "/tmp/out.json")
    def path(explicit: Option[String], cpus: String, isolated: Boolean) =
      Bench.artifactPath(explicit, "/data/sf0.1", cpus, isolated, taken)
    assert(path(None, "4", isolated = false) == "BENCH_FULL_sf0.1_c4.json")
    assert(path(None, "4", isolated = true) == "BENCH_FULL_sf0.1_c4_isolated.json")
    assert(path(None, "8", isolated = false) == "BENCH_FULL_sf0.1_c8.2.json")
    assert(path(Some("/tmp/out.json"), "8", isolated = false) == "/tmp/out.1.json")
    assert(path(Some("/tmp/new.json"), "8", isolated = false) == "/tmp/new.json")
  }
}
