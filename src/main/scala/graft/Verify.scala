package graft
import java.nio.file.{Files, Paths}
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare.
  *
  * Side modes (dev workflow, formerly tools/Scratch.scala):
  *   runMain graft.Verify --entry            flagship smoke (10 rows)
  *   runMain graft.Verify --plan <q>[,<q>...]  optimized plan + tokenizer
  *                                             chain occurrence count
  */
object Verify {
  def main(args: Array[String]): Unit = {
    if (args.nonEmpty && args(0).startsWith("--")) { inspect(args); return }
    val Array(sfDir, outDir) = args
    val spark = Graft.tunedBuilder(sfDir, cpus).getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    new java.io.File(outDir).mkdirs()
    // SPARK_GRAFT_ONLY=q40_tfidf_sparse,q42_clean_text → dump a subset
    // (local iteration; the driver always runs the full map)
    val only = sys.env.get("SPARK_GRAFT_ONLY").map(_.split(",").toSet)
    val attempted = SparkEntry.queries.filter { case (name, _) => only.forall(_.contains(name)) }
    // JSON string escape: backslash, quote, and ALL control chars (<0x20)
    // — a tab or CR in builder-authored SQL would otherwise make the
    // driver's json.load fail and silently zero the round's correctness.
    def q(s: String): String = "\"" + s.flatMap {
      case '"'  => "\\\""
      case '\\' => "\\\\"
      case '\n' => "\\n"
      case '\r' => "\\r"
      case '\t' => "\\t"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
    val json = SparkEntry.oracleSql
      .map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    // written before any gate runs, so a run that dies midway still names
    // every gate it owed: tools/check.py fails each one without a dump
    writeNames(s"$outDir/attempted.txt", attempted.keys)
    val failed = attempted.toSeq.flatMap { case (name, fn) =>
      try {
        fn(spark, sfDir).coalesce(1).write.mode("overwrite").parquet(s"$outDir/$name")
        None
      } catch { case e: Throwable =>
        System.err.println(s"[verify] $name failed: ${e.getMessage}")
        Some(name)
      }
    }
    writeNames(s"$outDir/failed.txt", failed)
    spark.stop()
    if (failed.nonEmpty) {
      System.err.println(s"[verify] ${failed.size} of ${attempted.size} failed: ${failed.mkString(",")}")
      sys.exit(1)
    }
  }

  private def cpus: Int = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4").toInt

  private def writeNames(path: String, names: Iterable[String]): Unit =
    Files.writeString(Paths.get(path), names.map(_ + "\n").mkString)

  /** Plan/smoke inspection in one [[Graft.tunedBuilder]] session at
    * `SPARK_GRAFT_CPUS` cores, so the audited plan is the plan the bench
    * runs. `--plan` takes a comma list and prints each plan under a
    * `=== <name>` header. */
  private def inspect(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.001")
    val spark = Graft.tunedBuilder(sfDir, cpus).getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    args(0) match {
      case "--entry" =>
        val rows = SparkEntry.entry(spark).collect()
        println(s"=== entry rows: ${rows.length}")
        rows.take(10).foreach(r => println("=== " + r))
      case "--plan" if args.length < 2 =>
        System.err.println("usage: Verify --plan <query_name>[,<query_name>...]")
        spark.stop()
        sys.exit(1)
      case "--plan" =>
        args(1).split(",").foreach { name =>
          println(s"=== $name")
          val df = SparkEntry.queries(name)(spark, sfDir)
          if (sys.env.get("PLAN_MODE").contains("formatted")) df.explain("formatted")
          else {
            val plan = df.queryExecution.optimizedPlan.toString
            println("=== occurrences of tokenizer chain (regexp_replace): " +
              "regexp_replace".r.findAllIn(plan).length)
            println("=== occurrences of ascii: " + "ascii".r.findAllIn(plan).length)
            println("=== plan size chars: " + plan.length)
            println(plan.take(Integer.parseInt(sys.env.getOrElse("PLAN_CHARS", "4000"))))
          }
        }
      case other =>
        System.err.println(s"unknown mode $other (expected --entry or --plan)")
        spark.stop()
        sys.exit(1)
    }
    spark.stop()
  }
}
