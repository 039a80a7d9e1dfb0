package graft

import org.apache.spark.sql.functions.col
import graft.operators.TokenizerTrain

/** Scale harness for tokenizer TRAINING (SCALING.md): the gates train 8
  * merges; production vocabularies need ~30k sequential rounds, and
  * nobody had measured what the driver-sequenced round loop costs at a
  * real corpus size. Each round is one pair-vocab-sized aggregation +
  * a 1-row TakeOrdered + a narrow re-segmentation behind a
  * localCheckpoint — this probe measures sec/round as rounds grow (the
  * marginal cost falls as the word table's symbol arrays coarsen), and
  * times the batched variant against the sequential baseline.
  *
  * Usage: runMain graft.TokTrainProbe <sfDir> [maxMerges=1024]
  *        runMain graft.TokTrainProbe <sfDir> synthbatched
  *          — ONLY the synthetic-table batched legs (the iteration
  *          target when the sequential baseline was already measured
  *          this session; seq at 1024 merges alone is ~22 min).
  */
object TokTrainProbe {
  def main(args: Array[String]): Unit = {
    if (args.isEmpty) { System.err.println("usage: TokTrainProbe <sfDir> [maxMerges=1024|synthbatched]"); sys.exit(1) }
    val sfDir = args(0)
    if (args.contains("synthbatched")) { synthBatched(sfDir); return }
    val maxMerges = if (args.length > 1) args(1).toInt else 1024
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32").toInt
    val spark = Graft.tunedBuilder(sfDir, cpus).getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")

    val d = spark.read.parquet(s"$sfDir/documents.parquet")
      .select(col("doc_id"), col("text"))
    val n = d.count()
    val wc = TokenizerTrain.wordCounts(d, "text").localCheckpoint(true)
    val words = wc.count()

    // sequential rounds in checkpoints: report cumulative cost at each
    // power-of-two milestone so sec/round vs depth is visible
    val milestones = Iterator.iterate(64)(_ * 2).takeWhile(_ <= maxMerges).toSeq
    milestones.foreach { m =>
      val t0 = System.nanoTime()
      val merges = TokenizerTrain.trainBpeMerges(wc, m)
      val sec = (System.nanoTime() - t0) / 1e9
      val learned = merges.size
      println(f"""{"probe":"toktrain_seq","sf":"$sfDir","docs":$n,"words":$words,"merges":$m,"learned":$learned,"sec":$sec%.3f,"sec_per_round":${sec / math.max(1, learned)}%.4f}""")
      if (learned < m)
        println(s"""{"probe":"toktrain_seq_exhausted","merges":$m,"learned":$learned}""")
    }
    // the batched trainer on the same corpus: same learned list
    // (gate-pinned), fewer driver-sequenced rounds
    milestones.foreach { m =>
      val t0 = System.nanoTime()
      val (merges, rounds) = TokenizerTrain.trainBpeMergesBatched(wc, m)
      val sec = (System.nanoTime() - t0) / 1e9
      println(f"""{"probe":"toktrain_batched","sf":"$sfDir","merges":$m,"learned":${merges.size},"rounds":$rounds,"sec":$sec%.3f,"sec_per_merge":${sec / math.max(1, merges.size)}%.4f}""")
    }

    // SYNTHETIC word table at production diversity: the corpus above
    // saturates at 176 distinct words / 234 merges, so production merge
    // counts are unmeasurable on it. Training rounds never touch the
    // corpus — their cost is a function of the (word, cnt) table alone —
    // so generate one at realistic diversity (fmix64 letters, Zipf-ish
    // counts) and measure the round loop there.
    import spark.implicits._
    val nWords = 100000
    val synth = spark.range(nWords.toLong).map { i =>
      val len = 3 + (ScaleGen.fmix64(i * 0x9e3779b97f4a7c15L) & 7L).toInt
      val w = new StringBuilder
      var j = 0
      while (j < len) {
        w += ('a' + (ScaleGen.fmix64(i * 31L + j) % 26 + 26) % 26).toChar
        j += 1
      }
      (w.toString, 1L + nWords.toLong / (i + 1L)) // Zipf-ish counts
    }.toDF("word", "cnt")
      .groupBy("word").agg(org.apache.spark.sql.functions.sum(org.apache.spark.sql.functions.col("cnt")).as("cnt"))
      .localCheckpoint(true)
    val synthWords = synth.count()
    Seq(256, 1024).filter(_ <= maxMerges * 4).foreach { m =>
      val t0 = System.nanoTime()
      val seq = TokenizerTrain.trainBpeMerges(synth, m)
      val seqSec = (System.nanoTime() - t0) / 1e9
      val t1 = System.nanoTime()
      val (bat, rounds) = TokenizerTrain.trainBpeMergesBatched(synth, m)
      val batSec = (System.nanoTime() - t1) / 1e9
      val same = bat == seq
      println(f"""{"probe":"toktrain_synth","words":$synthWords,"merges":$m,"learned":${seq.size},"seq_sec":$seqSec%.3f,"seq_sec_per_round":${seqSec / math.max(1, seq.size)}%.4f,"batched_rounds":$rounds,"batched_sec":$batSec%.3f,"speedup":${seqSec / batSec}%.2f,"lists_equal":$same}""")
    }
    spark.stop()
  }

  /** Just the synthetic-table BATCHED legs — for iterating on the
    * round constant without re-paying the ~27 min sequential baseline
    * (compare against the same-session `toktrain_synth` seq_sec). */
  private def synthBatched(sfDir: String): Unit = {
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32").toInt
    val spark = Graft.tunedBuilder(sfDir, cpus).getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    import spark.implicits._
    val nWords = 100000
    val synth = spark.range(nWords.toLong).map { i =>
      val len = 3 + (ScaleGen.fmix64(i * 0x9e3779b97f4a7c15L) & 7L).toInt
      val w = new StringBuilder
      var j = 0
      while (j < len) {
        w += ('a' + (ScaleGen.fmix64(i * 31L + j) % 26 + 26) % 26).toChar
        j += 1
      }
      (w.toString, 1L + nWords.toLong / (i + 1L))
    }.toDF("word", "cnt")
      .groupBy("word").agg(org.apache.spark.sql.functions.sum(org.apache.spark.sql.functions.col("cnt")).as("cnt"))
      .localCheckpoint(true)
    val synthWords = synth.count()
    // the merge core's two placements: `regime:"driver"` is the
    // DEFAULT (this table fits DriverWordsLimit — one collect job, then
    // heap-head rounds on the driver), `regime:"partitioned"` forces
    // the R1–R3 batched RDD rounds the true 1e8-word regime pays. Same
    // learned list (spec/gate-pinned); the probe ASSERTS it anyway so
    // the perf rows double as an equality check at a depth the specs
    // don't reach.
    var incLists = Map.empty[Int, Seq[(Long, String, String, Long)]]
    Seq(256, 1024).foreach { m =>
      val t1 = System.nanoTime()
      val (bat, rounds) = TokenizerTrain.trainBpeMergesBatched(synth, m)
      val batSec = (System.nanoTime() - t1) / 1e9
      incLists += m -> bat
      println(f"""{"probe":"toktrain_synth_batched","regime":"driver","words":$synthWords,"merges":$m,"learned":${bat.size},"rounds":$rounds,"sec":$batSec%.3f,"sec_per_merge":${batSec / math.max(1, bat.size)}%.4f}""")
    }
    Seq(256, 1024).foreach { m =>
      val t1 = System.nanoTime()
      val (bat, rounds) = TokenizerTrain.trainBpeMergesBatched(synth, m,
        driverWords = 0)
      val batSec = (System.nanoTime() - t1) / 1e9
      require(bat == incLists(m),
        s"placement divergence at $m merges: partitioned != driver")
      println(f"""{"probe":"toktrain_synth_batched","regime":"partitioned","words":$synthWords,"merges":$m,"learned":${bat.size},"rounds":$rounds,"sec":$batSec%.3f,"sec_per_round":${batSec / math.max(1, rounds)}%.4f}""")
    }
    // production depth on the driver placement: the 30k-vocab train the
    // r18 cost law priced at ~2.2 h of distributed rounds
    Seq(30000).foreach { m =>
      val t1 = System.nanoTime()
      val (bat, rounds) = TokenizerTrain.trainBpeMergesBatched(synth, m)
      val batSec = (System.nanoTime() - t1) / 1e9
      println(f"""{"probe":"toktrain_synth_deep","regime":"driver","words":$synthWords,"merges":$m,"learned":${bat.size},"rounds":$rounds,"sec":$batSec%.3f,"sec_per_merge":${batSec / math.max(1, bat.size)}%.4f}""")
    }
    spark.stop()
  }
}
