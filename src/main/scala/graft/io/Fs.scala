package graft.io

import java.nio.file.{Files, Path}

/** Small filesystem helpers shared by sinks, streaming cleanup, and the
  * fixture-copy caches (one implementation of the walk-and-delete idiom
  * instead of three).
  */
object Fs {

  /** Recursive delete, streams closed (Files.walk leaks an fd otherwise). */
  def deleteRecursively(p: Path): Unit = {
    if (Files.exists(p)) {
      val s = Files.walk(p)
      try s.sorted(java.util.Comparator.reverseOrder[Path]())
        .forEach(f => Files.deleteIfExists(f))
      finally s.close()
    }
  }

  /** Directory listing with the stream closed. */
  def listDir(dir: Path): Seq[Path] = {
    val s = Files.list(dir)
    try s.toArray.toSeq.map(_.asInstanceOf[Path])
    finally s.close()
  }

  /** Reserved name of a legacy-layout leg directory inside a version
    * dir (`_layout<k>` — metadata-only partition evolution,
    * [[graft.ops.Sinks.repartitionTable]] with `metadataOnly`). The
    * underscore keeps legs INVISIBLE to a plain Spark directory read
    * (the top-level scan must only see the current layout), but the
    * versioned layout's own walkers must still see their data files —
    * a leg's files are table data, not sidecar metadata.
    */
  def isLayoutLeg(name: String): Boolean =
    name.startsWith("_layout") && name.length > "_layout".length &&
      name.drop("_layout".length).forall(_.isDigit)

  /** Write `rows` (external [[org.apache.spark.sql.Row]]s under `schema`)
    * as ONE parquet part file in `dir`, on the driver — no Spark job. The
    * part goes through Spark's own task-side writer
    * (`ParquetUtils.prepareWrite` and its `ParquetOutputWriter`) under
    * `spark`'s session confs: the same schema conversion, timestamp and
    * decimal encodings, codec, part-name extension and Spark row-schema
    * footer metadata as a part a write job lands, so it reads back under
    * any reader's inference exactly like one. Meant for metadata-scale
    * sidecar parts (the eq-delete `_eqseq` stamps and a small batch's
    * `_eqdel` tombstones), where a distributed job costs more scheduling
    * than writing.
    */
  def writePart(spark: org.apache.spark.sql.SparkSession, dir: Path,
      schema: org.apache.spark.sql.types.StructType,
      rows: Iterator[org.apache.spark.sql.Row]): Unit = {
    import org.apache.hadoop.mapreduce.{Job, JobID, TaskAttemptID, TaskID, TaskType}
    import org.apache.spark.sql.execution.datasources.parquet.{ParquetOptions, ParquetUtils}
    Files.createDirectories(dir)
    val sqlConf = spark.sessionState.conf
    val job = Job.getInstance(spark.sessionState.newHadoopConf())
    // raw local FS: the checksummed LocalFileSystem would drop a
    // `.part-*.crc` next to the part (dot-hidden to every walker, but
    // bytes a metadata part does not need)
    job.getConfiguration.set("fs.file.impl",
      classOf[org.apache.hadoop.fs.RawLocalFileSystem].getName)
    val factory = ParquetUtils.prepareWrite(sqlConf, job, schema,
      new ParquetOptions(Map.empty[String, String], sqlConf))
    val ctx = new org.apache.hadoop.mapreduce.task.TaskAttemptContextImpl(
      job.getConfiguration,
      new TaskAttemptID(new TaskID(new JobID("graft", 0), TaskType.MAP, 0), 0))
    val out = dir.resolve(
      s"part-00000-${java.util.UUID.randomUUID()}-c000${factory.getFileExtension(ctx)}")
    val toInternal = org.apache.spark.sql.catalyst.CatalystTypeConverters
      .createToCatalystConverter(schema)
    val writer = factory.newInstance(out.toUri.toString, schema, ctx)
    try rows.foreach(r =>
      writer.write(toInternal(r).asInstanceOf[org.apache.spark.sql.catalyst.InternalRow]))
    finally writer.close()
  }

  /** Total row count of the parquet files `files`, from their footers —
    * driver-side, no Spark job.
    */
  def parquetRows(files: Seq[Path]): Long = {
    val conf = new org.apache.hadoop.conf.Configuration()
    files.map { f =>
      val r = org.apache.parquet.hadoop.ParquetFileReader.open(
        org.apache.parquet.hadoop.util.HadoopInputFile.fromPath(
          new org.apache.hadoop.fs.Path(f.toUri), conf))
      try r.getRecordCount finally r.close()
    }.sum
  }

  /** Every `*.parquet` DATA file under `dir`, recursively — partition
    * subdirectories (`col=val/`) included, legacy-layout legs
    * (`_layout<k>/`, see [[isLayoutLeg]]) included, the layout's own
    * `_`/`.` prefixed sidecars (`_stats`, `_changes`, `_quarantine`,
    * staging) excluded. NOTE: this is what the versioned layout's OWN
    * machinery (sidecar keys, carries, inventories) considers the
    * version's data; a plain Spark read of the directory sees only the
    * top-level (current-layout) subset because legs are `_`-hidden.
    */
  def walkParquet(dir: Path): Seq[Path] = {
    // Spark's own hidden-path rule (HadoopFSUtils): `.`-prefixed always
    // hidden; `_`-prefixed hidden UNLESS the name contains `=` — a
    // partition directory of a `_`-named column (hidden partitioning's
    // `_tp_ts__day=2024-01-01`) is DATA, not metadata
    def hidden(name: String) =
      name.startsWith(".") ||
        (name.startsWith("_") && !name.contains("=") && !isLayoutLeg(name))
    def walk(p: Path): Seq[Path] =
      listDir(p).flatMap { c =>
        val name = c.getFileName.toString
        if (hidden(name)) Nil
        else if (Files.isDirectory(c)) walk(c)
        else if (name.endsWith(".parquet")) Seq(c)
        else Nil
      }
    if (Files.isDirectory(dir)) walk(dir) else Nil
  }
}
