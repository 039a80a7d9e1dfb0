package perfbench

import org.scalatest.funsuite.AnyFunSuite

/** Self time and attribution of the per-layer report. */
class TraceSpec extends AnyFunSuite {
  test("union length counts overlapping intervals once") {
    assert(Intervals.unionLength(Seq((0.0, 10.0), (5.0, 15.0), (20.0, 25.0))) == 20.0)
    assert(Intervals.unionLength(Seq((0.0, 10.0), (2.0, 3.0))) == 10.0)
    assert(Intervals.unionLength(Nil) == 0.0)
  }

  test("self time subtracts overlapping children once and clips them to the span") {
    // children [10, 40] and [30, 60] overlap; [90, 120] runs past the span's end
    val self = Intervals.selfTime((0.0, 100.0), Seq((10.0, 40.0), (30.0, 60.0), (90.0, 120.0)))
    assert(self == 40.0)
  }

  test("self time of a span whose children cover it entirely is zero") {
    assert(Intervals.selfTime((0.0, 50.0), Seq((0.0, 30.0), (20.0, 50.0))) == 0.0)
  }

  test("streaming-engine jobs outside any call span belong to the open micro-batch") {
    val spans = Seq(
      SpanRec(1, "streaming", "micro_batch", 1000.0, 1100.0, -1, 0, "timed", 0),
      SpanRec(2, "vector_index.mutate", "upsert", 1010.0, 1040.0, 1, 0, "timed", 0),
      SpanRec(3, "vector_index.search", "search", 1100.0, 1120.0, -1, 0, "timed", 8))
    val rec = new Recorder
    def job(id: Int, start: Long, end: Long, span: Long, streaming: Boolean, stage: Int, tasks: Int) = {
      val j = new JobRec(id, start, span, id.toLong, streaming)
      j.endMs = end
      rec.jobs.put(id, j)
      rec.stageJob.put(stage, id)
      rec.stageSubmit.put(stage, start)
      (0 until tasks).foreach(_ => rec.tasks.add(TaskRec(stage, start + 1, 5, 100, 0, 10)))
    }
    job(1, 1015, 1030, span = 2, streaming = true, stage = 10, tasks = 2)
    job(2, 1050, 1070, span = -1, streaming = true, stage = 11, tasks = 3)
    job(3, 1105, 1115, span = 3, streaming = false, stage = 12, tasks = 1)
    rec.qes.add(QeRec(3L, 4.0, 80L))
    val r = LayerReport(spans, rec, Seq((0L, 1000.0, 1120.0)))
    val m = r.metrics
    assert(m("streaming.calls") == 1.0)
    assert(m("streaming.jobs") == 1.0)
    assert(m("streaming.busy_ms") == 70.0)
    // 100 ms batch minus the child [1010, 1040] and its own job [1050, 1070]
    assert(m("streaming.driver_gap_ms") == 50.0)
    assert(m("streaming.tasks_per_batch") == 5.0)
    assert(m("vector_index.mutate.jobs") == 1.0)
    assert(m("vector_index.mutate.tasks") == 2.0)
    assert(m("vector_index.mutate.bytes_written") == 20.0)
    assert(m("vector_index.mutate.queue_wait_ms") == 2.0)
    assert(m("vector_index.search.planning_ms") == 4.0)
    assert(m("vector_index.search.rows_scanned_per_result") == 10.0)
    assert(r.coverage == 1.0)
    assert(math.abs(r.busyShare.values.sum - 1.0) < 1e-9)
  }
}
