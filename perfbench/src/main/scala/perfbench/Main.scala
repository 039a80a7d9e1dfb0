package perfbench

import java.lang.management.ManagementFactory
import java.nio.file.{Files, Path, Paths}

import scala.collection.mutable.ArrayBuffer

import org.json4s._
import org.json4s.jackson.JsonMethods.{compact, render}

import graft.Graft

/** Entry point of one benchmark run:
  * `perfbench.Main --workload <name> --seed <n> --seconds <s> --trace <0|1>
  *  --runs <dir> [--commit <id>] [--source-sha256 <hex>]`.
  *
  * Prints one `metric <name> <value> <unit>` line per metric, one
  * `check <name> ok|FAILED <detail>` line per correctness check and, last,
  * the JSON result line. Writes the run's artifact into a fresh run
  * directory under `--runs` and exits non-zero if a check failed. */
object Main {
  final case class Args(workload: String, seed: Long, seconds: Int, trace: Boolean,
                        runs: String, commit: String, sourceSha: String)

  def parse(args: Array[String]): Args = {
    val m = args.grouped(2).collect { case Array(k, v) if k.startsWith("--") => k.drop(2) -> v }.toMap
    def need(k: String) = m.getOrElse(k, throw new IllegalArgumentException(s"missing --$k"))
    val w = need("workload")
    require(Workload.Names.contains(w), s"unknown workload '$w' (want ${Workload.Names.mkString(", ")})")
    val trace = need("trace")
    require(trace == "0" || trace == "1", s"--trace must be 0 or 1 (got $trace)")
    Args(w, need("seed").toLong, need("seconds").toInt, trace == "1", need("runs"),
      m.getOrElse("commit", "unknown"), m.getOrElse("source-sha256", "unknown"))
  }

  def main(args: Array[String]): Unit = {
    val t0 = System.nanoTime()
    val code =
      try run(parse(args), t0)
      catch { case e: Throwable => e.printStackTrace(); 1 }
    System.out.flush()
    System.exit(code)
  }

  private def secondsSince(t: Long): Double = (System.nanoTime() - t) / 1e9

  private def median(xs: Seq[Double]): Double = {
    val s = xs.sorted
    if (s.isEmpty) Double.NaN
    else if (s.length % 2 == 1) s(s.length / 2) else (s(s.length / 2 - 1) + s(s.length / 2)) / 2
  }

  /** Heap in use right after a full collection, in MB. The second
    * collection runs after Spark's context cleaner has had a moment to
    * drop the blocks whose references the first one cleared. */
  private def liveHeapMb(): Double = {
    System.gc()
    Thread.sleep(100)
    System.gc()
    ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed / (1024.0 * 1024.0)
  }

  private def run(a: Args, t0: Long): Int = {
    val cpus = Runtime.getRuntime.availableProcessors()
    val stamp = java.time.format.DateTimeFormatter.ofPattern("yyyyMMdd'T'HHmmss.SSS'Z'")
      .format(java.time.ZonedDateTime.now(java.time.ZoneOffset.UTC))
    Files.createDirectories(Paths.get(a.runs))
    // createDirectory refuses an existing directory: artifacts are never overwritten
    val runDir = Files.createDirectory(Paths.get(a.runs,
      s"${a.workload}-seed${a.seed}-cpus$cpus-trace${if (a.trace) 1 else 0}-$stamp-${ProcessHandle.current.pid}"))
    val work = Files.createDirectory(runDir.resolve("work")).toAbsolutePath.toString

    val spark = Graft.tunedBuilder(s"$work/inputs", cpus)
      .config("spark.sql.warehouse.dir", s"$work/warehouse")
      .config("spark.local.dir", s"$work/spark-local")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    val rec = new Recorder
    if (a.trace) spark.sparkContext.addSparkListener(rec)
    val sessionS = secondsSince(t0)
    val tracer = new Tracer(a.trace, spark.sparkContext)
    val ctx = new Ctx(spark, tracer, work, a.seed, a.seconds)

    // input generation and staging: not part of set-up time
    val g0 = System.nanoTime()
    val w = Workload(a.workload, ctx)
    val manifest = w.manifest
    w.prepare()
    val genS = secondsSince(g0)

    val w0 = System.nanoTime()
    w.warmup()
    val warmS = secondsSince(w0)
    val buildS = (0 until w.buildReps).map { r =>
      val b0 = System.nanoTime(); w.build(r); secondsSince(b0)
    }
    val s0 = System.nanoTime()
    w.start()
    val startS = secondsSince(s0)
    val setupS = sessionS + warmS + (if (buildS.isEmpty) 0.0 else median(buildS)) + startS

    // timed phase: a fixed number of ops, closed loop with one client
    val heap = ArrayBuffer(liveHeapMb())
    val lat = ArrayBuffer.empty[Double]
    val opSpans = ArrayBuffer.empty[(Long, Double, Double)]
    var items = 0L
    var attempted = 0
    var failed = 0
    var probeNs = 0L
    tracer.phase = "timed"
    val p0 = System.nanoTime()
    var lastProbe = p0
    (0 until w.ops).foreach { i =>
      tracer.currentOp = i
      val o0 = System.nanoTime()
      val m0 = Clock.nowMs
      try {
        items += w.op(i)
        lat += (System.nanoTime() - o0) / 1e6
      } catch {
        case e: Exception =>
          failed += 1
          System.err.println(s"op $i failed: $e")
      }
      opSpans += ((i.toLong, m0, Clock.nowMs))
      attempted += 1
      // the after-GC heap probe pauses the clock
      if (System.nanoTime() - lastProbe > 1500000000L) {
        val h0 = System.nanoTime()
        heap += liveHeapMb()
        lastProbe = System.nanoTime()
        probeNs += lastProbe - h0
      }
    }
    val wallS = (System.nanoTime() - p0 - probeNs) / 1e9
    tracer.currentOp = -1
    tracer.phase = "check"

    val c0 = System.nanoTime()
    w.finish()
    heap += liveHeapMb()
    val checks = w.checks()
    val checkS = secondsSince(c0)

    val e2e = Seq(
      ("setup_s", setupS, "s"),
      ("items_per_s", items / wallS, "items/s"),
      ("op_p50_ms", median(lat.toSeq), "ms"),
      ("failed_frac", if (attempted == 0) 0.0 else failed.toDouble / attempted, "ratio"),
      ("heap_live_peak_mb", heap.max, "MB"))
    val layer =
      if (!a.trace) None
      else {
        val micro = Micro.run()
        org.apache.spark.GraftListenerBridge.waitUntilListenerBusEmpty(spark.sparkContext)
        Some((LayerReport(tracer.all, rec, opSpans.toSeq), micro))
      }
    val metrics: Seq[(String, Double, String)] = layer match {
      case None => e2e.filterNot(_._1 == "failed_frac")
      case Some((r, micro)) =>
        LayerReport.Metrics.map { case (n, u) => (n, micro.getOrElse(n, r.metrics(n)), u) }
    }
    val correct = checks.forall(_.ok) && attempted > 0

    def valuedFields(ms: Seq[(String, Double, String)]) =
      ms.map { case (n, v, u) => n -> obj("value" -> num(v), "unit" -> JString(u)) }
    def valued(ms: Seq[(String, Double, String)]): JValue = obj(valuedFields(ms): _*)
    def numbers(kv: Seq[(String, Double)]): JValue = obj(kv.map { case (k, v) => k -> num(v) }: _*)
    val json = obj("correct" -> JBool(correct), "attempted" -> JInt(attempted),
      "failed" -> JInt(failed), "metrics" -> valued(metrics))

    val artifact = obj(
      "workload" -> JString(a.workload), "seed" -> JInt(a.seed), "seconds" -> JInt(a.seconds),
      "traced" -> JBool(a.trace), "run_dir" -> JString(runDir.getFileName.toString),
      "environment" -> obj("nproc" -> JInt(cpus),
        "xmx_mb" -> JInt(Runtime.getRuntime.maxMemory / (1024 * 1024)),
        "jvm_args" -> JString(ManagementFactory.getRuntimeMXBean.getInputArguments.toArray.mkString(" ")),
        "commit" -> JString(a.commit), "source_sha256" -> JString(a.sourceSha),
        // one workload per JVM, nothing else in the session
        "isolated" -> JBool(true), "spark" -> JString(spark.version)),
      "inputs" -> obj("seed" -> JInt(manifest.seed), "sha256" -> JString(manifest.sha256),
        "sizes" -> obj(manifest.sizes.map { case (k, v) => k -> JInt(v) }: _*)),
      "phases_s" -> obj("session" -> num(sessionS), "input_generation" -> num(genS),
        "warmup" -> num(warmS), "builds" -> JArray(buildS.map(num).toList), "start" -> num(startS),
        "timed" -> num(wallS), "checks" -> num(checkS)),
      "ops" -> obj("attempted" -> JInt(attempted), "failed" -> JInt(failed), "items" -> JInt(items),
        "latencies_ms" -> JArray(lat.map(num).toList)),
      "end_to_end" -> valued(e2e),
      "checks" -> JArray(checks.map(c =>
        obj("name" -> JString(c.name), "ok" -> JBool(c.ok), "detail" -> JString(c.detail))).toList),
      "extra" -> numbers(w.extra),
      "per_layer" -> layer.fold[JValue](JNull) { case (r, _) =>
        obj(valuedFields(metrics) ++ Seq("busy_share" -> numbers(r.busyShare.toSeq.sortBy(_._1)),
          "span_coverage_of_ops" -> num(r.coverage)): _*)
      })
    Files.write(runDir.resolve("result.json"), (compact(render(artifact)) + "\n").getBytes("UTF-8"))
    if (a.trace)
      Files.write(runDir.resolve("spans.jsonl"), tracer.all.map(s => compact(render(obj(
        "id" -> JInt(s.id), "layer" -> JString(s.layer), "name" -> JString(s.name),
        "start_ms" -> num(s.startMs), "end_ms" -> num(s.endMs), "parent" -> JInt(s.parent),
        "op" -> JInt(s.op), "phase" -> JString(s.phase), "results" -> JInt(s.results)))) + "\n")
        .mkString.getBytes("UTF-8"))

    spark.stop()
    deleteTree(Paths.get(work))

    checks.foreach(c => println(s"check ${c.name} ${if (c.ok) "ok" else "FAILED"} ${c.detail}"))
    e2e.foreach { case (n, v, u) => if (!a.trace) println(s"metric $n $v $u") }
    layer.foreach { case (r, _) =>
      metrics.foreach { case (n, v, u) => println(s"metric $n $v $u") }
      println(f"traced items_per_s ${items / wallS}%.3f (compare the untraced run for the tracing overhead)")
      println(f"span coverage of operation wall time ${r.coverage}%.3f")
      r.busyShare.toSeq.sortBy(-_._2).foreach { case (l, s) => println(f"busy share $l $s%.3f") }
    }
    println(s"artifact ${runDir.toAbsolutePath}")
    println(compact(render(json)))
    checks.filterNot(_.ok).foreach(c => System.err.println(s"correctness check failed: ${c.name}: ${c.detail}"))
    if (correct) 0 else 3
  }

  private def obj(fields: (String, JValue)*): JValue = JObject(fields.toList)

  /** A JSON number, or null for a value that JSON cannot hold (NaN). */
  private def num(d: Double): JValue = if (d.isNaN || d.isInfinite) JNull else JDouble(d)

  private def deleteTree(p: Path): Unit =
    if (Files.exists(p)) {
      val s = Files.walk(p)
      try s.sorted(java.util.Comparator.reverseOrder[Path]()).forEach(x => Files.delete(x))
      finally s.close()
    }
}

/** Driver-side, single-thread layer microbenchmarks over a fixed token set. */
object Micro {
  private val words: Seq[String] =
    Inputs.docs(0L, "micro", 32).toSeq.flatMap(_.text.split(" "))

  private def rate(minSeconds: Double)(once: () => Long): Double = {
    (0 until 3).foreach(_ => once())
    var n = 0L
    val t0 = System.nanoTime()
    while ((System.nanoTime() - t0) / 1e9 < minSeconds) n += once()
    n / ((System.nanoTime() - t0) / 1e9)
  }

  /** Tokens per second of the model tokenizers and of the decoder
    * backend, each measured for half a second. */
  def run(): Map[String, Double] = {
    val wp = graft.model.WordPiece.fixture
    val bpe = graft.model.Bpe.fixture
    val model = rate(0.5) { () =>
      wp.encodeWords(words).length.toLong + words.map(w => bpe.tokenizeWord(w).length.toLong).sum
    }
    val be = graft.backend.DecoderLayerBackend.fullModel()
    val seqs = words.grouped(24).map(ws => ws.flatMap(bpe.tokenizeWord).take(32).toArray).toSeq.take(16)
    val backend = rate(0.5) { () => be.embedBatch(seqs); seqs.map(_.length.toLong).sum }
    Map("model.tokens_per_s" -> model, "backend.tokens_per_s" -> backend)
  }
}
