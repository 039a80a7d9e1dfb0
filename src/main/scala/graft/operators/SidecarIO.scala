package graft.operators

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.Path
import org.apache.parquet.example.data.Group
import org.apache.parquet.example.data.simple.SimpleGroupFactory
import org.apache.parquet.example.data.simple.convert.GroupRecordConverter
import org.apache.parquet.hadoop.ParquetFileReader
import org.apache.parquet.hadoop.example.ExampleParquetWriter
import org.apache.parquet.hadoop.util.{HadoopInputFile, HadoopOutputFile}
import org.apache.parquet.io.ColumnIOFactory
import org.apache.parquet.schema.{MessageType, MessageTypeParser}
import org.apache.spark.sql.types.{DataType, StructType}

/** Driver-side parquet reads for the K-SIZED index sidecars (IVF-PQ
  * meta/centroids/books, BM25 conf) — guide §1.2 "per-task work" at the
  * driver: `spark.read.parquet(...).collect()` on a 16-row sidecar pays
  * a full job schedule + task launch (measured 110–410 ms each in
  * local[32]; the suite's index gates issue several per query and the
  * streaming sinks several per micro-batch), where reading the same
  * single part-file with parquet-mr on the driver is ~milliseconds and
  * byte-identical — the same decoder Spark's scan uses underneath.
  *
  * Scope guard: ONLY for quantizer/conf-sized tables (rows bounded by
  * nCells/k/m — never data-sized) and tables that are driver-small by
  * construction (the BM25 `meta` partials: one row per append or
  * removal, folded by `recapStats`). Corpus-shaped tables (codes, vecs,
  * postings, tombstones) stay behind Spark scans where pruning and
  * parallelism matter; [[sparkSchema]] only reads one of their footers. */
object SidecarIO {

  /** Every record of the parquet table at `dir`, read on the driver.
    * Reads each `part-*.parquet` (sidecars are written coalesce(1), but
    * multi-part dirs read correctly — callers sort by key columns, so
    * file order cannot matter). */
  def readGroups(hconf: Configuration, dir: String): Seq[Group] = {
    val d = new Path(dir)
    val fs = d.getFileSystem(hconf)
    val parts = fs.listStatus(d).map(_.getPath)
      .filter(p => p.getName.startsWith("part-") && p.getName.endsWith(".parquet"))
      .sortBy(_.getName)
    parts.toSeq.flatMap { p =>
      val rdr = ParquetFileReader.open(HadoopInputFile.fromPath(p, hconf))
      try {
        val schema = rdr.getFooter.getFileMetaData.getSchema
        val io = new ColumnIOFactory().getColumnIO(schema)
        val out = scala.collection.mutable.ArrayBuffer.empty[Group]
        var rg = rdr.readNextRowGroup()
        while (rg != null) {
          val rec = io.getRecordReader(rg, new GroupRecordConverter(schema))
          var i = 0L
          while (i < rg.getRowCount) { out += rec.read(); i += 1 }
          rg = rdr.readNextRowGroup()
        }
        out.toSeq
      } finally rdr.close()
    }
  }

  /** An `array<double>` column (Spark's 3-level list encoding:
    * `optional group F (LIST) { repeated group list { optional double
    * element } }`) as a driver array, in element order. */
  def doubles(g: Group, field: String): Array[Double] = {
    val lst = g.getGroup(field, 0)
    val n = lst.getFieldRepetitionCount(0)
    Array.tabulate(n)(i => lst.getGroup(0, i).getDouble(0, 0))
  }

  def has(g: Group, field: String): Boolean = g.getType.containsField(field)

  /** The Spark schema that Spark's writer stored in the footer of the
    * first part file under `dir` (searched recursively, so partitioned
    * tables work; partition columns are not in the files). One footer
    * read on the driver, where `spark.read.parquet(dir)` without a schema
    * runs a schema-inference job. */
  def sparkSchema(hconf: Configuration, dir: String): StructType = {
    val d = new Path(dir)
    val it = d.getFileSystem(hconf).listFiles(d, true)
    var file: Option[Path] = None
    while (file.isEmpty && it.hasNext) {
      val p = it.next().getPath
      if (p.getName.startsWith("part-") && p.getName.endsWith(".parquet")) file = Some(p)
    }
    val f = file.getOrElse(throw new IllegalStateException(s"no parquet part file under $dir"))
    val rdr = ParquetFileReader.open(HadoopInputFile.fromPath(f, hconf))
    val json = try rdr.getFooter.getFileMetaData.getKeyValueMetaData
      .get("org.apache.spark.sql.parquet.row.metadata")
    finally rdr.close()
    require(json != null, s"$f carries no Spark schema (not written by Spark)")
    DataType.fromJson(json).asInstanceOf[StructType]
  }

  /** Write driver-resident rows as ONE part file under `dir` (replacing
    * the directory) — the write-side twin of [[readGroups]], for the
    * same k-sized sidecars: a `coalesce(1).write.parquet` of 1–256
    * driver rows pays a full job schedule + task commit (measured
    * 100–250 ms each in local[32]; a build writes three), where the
    * same bytes through parquet-mr on the driver are ~milliseconds.
    * The file is Spark-readable (standard 3-level lists, snappy) and
    * named `part-*.parquet` so [[readGroups]] and `spark.read` both
    * pick it up. Same scope guard as the reads: driver-small tables
    * ONLY — corpus-shaped tables stay behind Spark writes.
    *
    * Measured against the `coalesce(1).write.parquet` form on the
    * perfbench `ingest` workload (4-core VM, ten alternating pairs; each
    * build writes four sidecars): `setup_s` median 8.08 s here vs 8.82 s
    * with Spark writes, 9 of 10 pairs won, and a median gap (0.75 s)
    * wider than the interquartile range of its own runs (0.70 s).
    * Indexes written by older binaries (Spark sidecars) read through
    * [[readGroups]] unchanged. */
  def writeGroups(hconf: Configuration, dir: String, schema: MessageType,
                  fill: SimpleGroupFactory => Seq[Group]): Unit = {
    val d = new Path(dir)
    val fs = d.getFileSystem(hconf)
    fs.delete(d, true)
    fs.mkdirs(d)
    val file = new Path(d,
      s"part-00000-${java.util.UUID.randomUUID().toString}.parquet")
    val w = ExampleParquetWriter.builder(HadoopOutputFile.fromPath(file, hconf))
      .withConf(hconf)
      .withType(schema)
      .withCompressionCodec(org.apache.parquet.hadoop.metadata.CompressionCodecName.SNAPPY)
      .build()
    try fill(new SimpleGroupFactory(schema)).foreach(w.write)
    finally w.close()
  }

  def schemaOf(ddl: String): MessageType = MessageTypeParser.parseMessageType(ddl)

  /** Append an `array<double>` value in Spark's 3-level list encoding —
    * the shape [[doubles]] reads back. */
  def addDoubles(g: Group, field: String, v: Array[Double]): Unit = {
    val lst = g.addGroup(field)
    v.foreach(x => lst.addGroup("list").add("element", x))
  }
}
