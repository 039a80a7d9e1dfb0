package graft

import org.apache.spark.sql.SparkSession

/** One shared local session for all specs: [[Graft.tunedBuilder]] over
  * an empty directory at 4 cores, so the specs run under the timed
  * configuration at its sub-64 MB settings. */
object SparkSessionTestWrapper {
  lazy val spark: SparkSession = {
    val wh = java.nio.file.Files.createTempDirectory("graft_wh").toString
    val s = Graft.tunedBuilder(wh, 4)
      .appName("graft-test")
      .config("spark.sql.warehouse.dir", wh)
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }
}

trait SparkSessionTestWrapper {
  lazy val spark: SparkSession = SparkSessionTestWrapper.spark
}
