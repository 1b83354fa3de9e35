package graft.sources

import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}

/** Sinks and dimension sources (SURVEY §2.1 S9–S12).
  *
  * The reference writes curated months by hand-building
  * `{cab}/year=YYYY/month=MM/` paths and `coalesce(1)`-funneling each
  * month through one task (`spark_jobs/etl_yellow_s3.py:43-56`). Here the
  * layout comes from `partitionBy` — partition values round-trip through
  * the file index, so the reference's regex re-parsing of paths
  * (`analytics_summary.py:36-43`) is unnecessary — and file counts come
  * from AQE-coalesced shuffles rather than a 1-task write funnel.
  */
object CuratedWriter {

  /** S9: partitioned curated write. `maxRecordsPerFile` bounds output
    * file sizes without a coalesce funnel. */
  def writeCurated(trips: DataFrame, path: String,
                   maxRecordsPerFile: Long = 5000000L): Unit =
    writePartitioned(trips, path,
      Seq("cab_type", "pickup_year", "pickup_month"), maxRecordsPerFile)

  /** Incremental month re-processing: dynamic partition overwrite
    * replaces ONLY the partitions present in `trips` and leaves the rest
    * of the curated tree intact — the reference's routine "re-run one
    * month" operation (`etl_yellow_s3.py` is invoked per month) without
    * rewriting or risking the other 300+ month partitions. */
  def writeCuratedIncremental(trips: DataFrame, path: String,
                              maxRecordsPerFile: Long = 5000000L): Unit =
    writePartitionedIncremental(trips, path,
      Seq("cab_type", "pickup_year", "pickup_month"), maxRecordsPerFile)

  /** The [[writeCurated]] layout pattern for ANY table: overwrite-mode
    * partitioned parquet with bounded file sizes. Partition columns
    * become directory keys, so downstream filters on them prune at the
    * file index — the layout decision that makes a one-partition query
    * touch 1/Nth of a 100 TB tree. */
  def writePartitioned(df: DataFrame, path: String, cols: Seq[String],
                       maxRecordsPerFile: Long = 5000000L): Unit =
    df.write
      .mode(SaveMode.Overwrite)
      .option("maxRecordsPerFile", maxRecordsPerFile)
      .partitionBy(cols: _*)
      .parquet(path)

  /** [[writeCuratedIncremental]] generalized: dynamic partition
    * overwrite replaces ONLY the partitions present in `df`, leaving
    * every other partition of the tree untouched — the "re-process one
    * slice" operation that never rewrites (or risks) the rest of a
    * 100 TB layout. */
  def writePartitionedIncremental(df: DataFrame, path: String,
                                  cols: Seq[String],
                                  maxRecordsPerFile: Long = 5000000L): Unit =
    df.write
      .mode(SaveMode.Overwrite)
      .option("partitionOverwriteMode", "dynamic")
      .option("maxRecordsPerFile", maxRecordsPerFile)
      .partitionBy(cols: _*)
      .parquet(path)

  /** Column-level diff between an incoming frame and the curated tree
    * it is about to land in (names matched case-insensitively, Spark's
    * default resolution). `added` = incoming-only, `missing` =
    * tree-only, `typeChanged` = same name, different type. */
  final case class SchemaDrift(added: Seq[String], missing: Seq[String],
                               typeChanged: Seq[String]) {
    def isEmpty: Boolean = added.isEmpty && missing.isEmpty && typeChanged.isEmpty
    override def toString: String = Seq(
      if (added.nonEmpty) s"added: ${added.mkString(", ")}" else "",
      if (missing.nonEmpty) s"missing: ${missing.mkString(", ")}" else "",
      if (typeChanged.nonEmpty) s"type changed: ${typeChanged.mkString(", ")}" else "")
      .filter(_.nonEmpty).mkString("; ")
  }

  /** Pure driver-side drift computation (unit-testable without IO).
    * `ignoreTypesFor`: columns whose TYPE is exempt from the changed
    * check — the checked writer passes its partition columns here,
    * because hive-layout partition values live in directory names and
    * come back through partition-discovery type INFERENCE (`month=01`
    * re-reads as int), so their type identity legitimately does not
    * survive a round-trip; presence is still checked. */
  def schemaDrift(incoming: org.apache.spark.sql.types.StructType,
                  existing: org.apache.spark.sql.types.StructType,
                  ignoreTypesFor: Set[String] = Set.empty): SchemaDrift = {
    val in = incoming.fields.map(f => f.name.toLowerCase -> f).toMap
    val ex = existing.fields.map(f => f.name.toLowerCase -> f).toMap
    val exempt = ignoreTypesFor.map(_.toLowerCase)
    SchemaDrift(
      added = incoming.fields.collect {
        case f if !ex.contains(f.name.toLowerCase) => f.name }.toSeq,
      missing = existing.fields.collect {
        case f if !in.contains(f.name.toLowerCase) => f.name }.toSeq,
      typeChanged = incoming.fields.collect {
        case f if !exempt.contains(f.name.toLowerCase) &&
          ex.get(f.name.toLowerCase).exists(_.dataType != f.dataType) =>
          s"${f.name} (${ex(f.name.toLowerCase).dataType.simpleString} -> " +
            s"${f.dataType.simpleString})" }.toSeq)
  }

  /** [[writePartitionedIncremental]] with a pre-write schema-drift guard
    * — the drift case the reference's Report §7.3 monitors procedurally
    * (a TLC month silently gaining/renaming columns), enforced at the
    * write boundary instead of discovered by a broken reader months
    * later.
    *
    * The curated tree's schema is taken as the `mergeSchema` union over
    * the existing footers (a distributed footer-only job — for trees
    * where even that is too slow, keep a schema manifest beside the data
    * and pass it via `existingSchema`). Then:
    *   - a column whose TYPE changed always fails — no silent widening
    *     can reconcile `int` data with a `string` history;
    *   - added/missing columns fail by default (`widen = false`) with
    *     the full drift in the message;
    *   - `widen = true` accepts the drift EXPLICITLY: missing columns
    *     are written as typed nulls (the tree stays rectangular for
    *     plain readers), added columns are kept — older partitions
    *     surface them as nulls under a `mergeSchema` read (`io5`/`io6`).
    * First write into an empty/missing path is drift-free by definition. */
  def writePartitionedIncrementalChecked(df: DataFrame, path: String,
      cols: Seq[String], widen: Boolean = false,
      existingSchema: Option[org.apache.spark.sql.types.StructType] = None,
      maxRecordsPerFile: Long = 5000000L): Unit = {
    import org.apache.spark.sql.functions.lit
    val spark = df.sparkSession
    val fsPath = new org.apache.hadoop.fs.Path(path)
    val fs = fsPath.getFileSystem(spark.sparkContext.hadoopConfiguration)
    // an existing-but-fileless directory (a prior run died before its
    // first commit, or tooling mkdir'd the path) is as drift-free as a
    // missing one — schema inference would throw on it, so require an
    // actual data file before treating the tree as "existing". A tree
    // with unreadable data still fails loudly inside the schema read.
    def hasDataFile: Boolean = {
      val it = fs.listFiles(fsPath, true)
      var found = false
      while (!found && it.hasNext) {
        val name = it.next().getPath.getName
        found = !(name.startsWith("_") || name.startsWith("."))
      }
      found
    }
    val existing = existingSchema.orElse {
      if (fs.exists(fsPath) && hasDataFile)
        Some(spark.read.option("mergeSchema", "true").parquet(path).schema)
      else None
    }
    existing.foreach { ex =>
      val drift = schemaDrift(df.schema, ex, ignoreTypesFor = cols.toSet)
      if (drift.typeChanged.nonEmpty) throw new IllegalStateException(
        s"schema drift with incompatible types at $path — ${drift}")
      if (!drift.isEmpty && !widen) throw new IllegalStateException(
        s"schema drift at $path — $drift. Re-run with widen = true to " +
          "accept it (missing columns become typed nulls; added columns " +
          "require mergeSchema on read), or fix the incoming schema.")
    }
    val widened = existing match {
      case Some(ex) =>
        val inNames = df.schema.fieldNames.map(_.toLowerCase).toSet
        ex.fields.filterNot(f => inNames.contains(f.name.toLowerCase))
          .foldLeft(df)((d, f) =>
            d.withColumn(f.name, lit(null).cast(f.dataType)))
      case None => df
    }
    writePartitionedIncremental(widened, path, cols, maxRecordsPerFile)
  }

  /** S10: small aggregate-table write (single file is intentional —
    * aggregate outputs are tiny). */
  def writeSummary(df: DataFrame, path: String): Unit =
    df.coalesce(1).write.mode(SaveMode.Overwrite).parquet(path)

  /** ORC sink — the other columnar interchange format a warehouse
    * neighbor may demand (Hive-era consumers). Parallel write (no
    * coalesce funnel): at 100 TB the writer count IS the ingest
    * bandwidth. Spark's native vectorized ORC reader makes the
    * read-back path scan-equivalent to parquet (pushdown + pruning). */
  def writeOrc(df: DataFrame, path: String): Unit =
    df.write.mode(SaveMode.Overwrite).orc(path)

  def readOrc(spark: SparkSession, path: String): DataFrame =
    spark.read.orc(path)

  /** S11: CSV sink with header (`analytics_summary.py:63-75`).
    * Whitespace trimming is OFF: Spark's CSV writer strips leading/
    * trailing whitespace by default, which silently corrupts text
    * payloads (pandas `to_csv`, the reference sink, preserves them).
    * Read the result back with [[readCsv]] — plain `spark.read.csv`
    * re-trims and splits quoted embedded newlines. */
  def writeCsv(df: DataFrame, path: String): Unit =
    df.coalesce(1).write.mode(SaveMode.Overwrite)
      .option("header", "true")
      .option("ignoreLeadingWhiteSpace", "false")
      .option("ignoreTrailingWhiteSpace", "false")
      .csv(path)

  /** Fidelity-preserving scan of a [[writeCsv]] output: no whitespace
    * trimming, quoted newlines kept inside one record (`multiLine`). */
  def readCsv(spark: SparkSession, path: String, schema: String): DataFrame =
    spark.read
      .option("header", "true")
      .option("ignoreLeadingWhiteSpace", "false")
      .option("ignoreTrailingWhiteSpace", "false")
      .option("multiLine", "true")
      .schema(schema)
      .csv(path)

  /** JSON-lines sink: one JSON object per line. Unlike CSV, JSONL
    * round-trips every payload losslessly with no option juggling —
    * control characters are escaped, null and "" stay distinct — so
    * it's the interchange format for text corpora (every public crawl
    * distribution ships as JSONL). */
  def writeJsonl(df: DataFrame, path: String): Unit =
    df.write.mode(SaveMode.Overwrite).json(path)

  /** Schema-enforced scan of a [[writeJsonl]] output (schema given
    * explicitly: inference would re-scan the data and can widen types). */
  def readJsonl(spark: SparkSession, path: String, schema: String): DataFrame =
    spark.read.schema(schema).json(path)

  /** S12: zone-lookup dimension scan
    * (`scripts/generate_notebooks_auto.py:383-430`): header CSV with
    * schema enforcement; intended for `broadcast` joins. */
  def readZoneLookup(spark: SparkSession, path: String): DataFrame =
    spark.read
      .option("header", "true")
      .schema(graft.taxi.TaxiSchemas.zoneLookup)
      .csv(path)

  /** Small-file compaction: rewrite a parquet tree with merged files.
    * Streaming sinks and frequent incremental writes accrete thousands
    * of tiny files, and scans then pay a per-file open/footer cost that
    * can exceed the read itself. Partitioned trees repartition on the
    * partition columns (all rows of a partition collapse into one task
    * → one file, `maxRecordsPerFile` re-splitting oversized ones);
    * unpartitioned trees merge `mergeFactor` input files per output.
    * Writes to a NEW path — swapping is the caller's atomic move; never
    * compact in place. Returns the output file count. */
  def compact(spark: SparkSession, inPath: String, outPath: String,
              partitionCols: Seq[String] = Nil, mergeFactor: Int = 16,
              maxRecordsPerFile: Long = 5000000L): Int = {
    import org.apache.spark.sql.functions.col
    val df = spark.read.parquet(inPath)
    val shaped =
      if (partitionCols.nonEmpty) df.repartition(partitionCols.map(col): _*)
      else df.repartition(math.max(1, df.inputFiles.length / mergeFactor))
    val writer = shaped.write
      .mode(SaveMode.Overwrite)
      .option("maxRecordsPerFile", maxRecordsPerFile)
    (if (partitionCols.nonEmpty) writer.partitionBy(partitionCols: _*) else writer)
      .parquet(outPath)
    spark.read.parquet(outPath).inputFiles.length
  }

  /** Atomic versioned publish: write the new snapshot to `v=<n+1>/`,
    * then flip a tiny `_LATEST` pointer file as the LAST step — readers
    * resolve the pointer and only ever see a fully-written snapshot
    * (the pointer flip is the one-object "commit", the poor-object-
    * store-cousin of a metastore swap; on S3-class stores the pointer
    * PUT is atomic where a directory rename is not). Old versions stay
    * readable for time travel / rollback until pruned. Returns the new
    * version number. */
  def publishVersion(df: DataFrame, root: String): Int = {
    import org.apache.hadoop.fs.Path
    // resolve the root through Hadoop's FileSystem so the listing and
    // the pointer land on the SAME store as the parquet data —
    // java.io.File would silently write the pointer to a bogus local
    // path when root is hdfs:// or s3a://
    val rootPath = new Path(root)
    val fs = rootPath.getFileSystem(
      df.sparkSession.sessionState.newHadoopConf())
    fs.mkdirs(rootPath)
    val existing =
      if (!fs.exists(rootPath)) Array.empty[Int]
      else fs.listStatus(rootPath).map(_.getPath.getName)
        .filter(_.startsWith("v=")).map(_.drop(2).toInt)
    val next = if (existing.isEmpty) 1 else existing.max + 1
    df.write.mode(SaveMode.ErrorIfExists).parquet(s"$root/v=$next")
    // write-then-rename where rename is atomic (HDFS/local); object
    // stores without atomic rename overwrite in place — a one-object
    // PUT, still the smallest possible commit surface
    val tmp = new Path(rootPath, "_LATEST.tmp")
    val out = fs.create(tmp, true)
    try out.write(next.toString.getBytes("UTF-8")) finally out.close()
    val ptr = new Path(rootPath, "_LATEST")
    fs.delete(ptr, false)
    if (!fs.rename(tmp, ptr))
      throw new java.io.IOException(s"publishVersion: rename $tmp -> $ptr failed")
    next
  }

  /** Read the snapshot the `_LATEST` pointer names (or a pinned older
    * `version` for time travel). */
  def readLatest(spark: SparkSession, root: String,
                 version: Option[Int] = None): DataFrame = {
    import org.apache.hadoop.fs.Path
    val v = version.getOrElse {
      val ptr = new Path(root, "_LATEST")
      val fs = ptr.getFileSystem(spark.sessionState.newHadoopConf())
      val in = fs.open(ptr)
      try new String(in.readAllBytes(), "UTF-8").trim.toInt
      finally in.close()
    }
    spark.read.parquet(s"$root/v=$v")
  }

  /** Read back a curated tree with [[graft.taxi.TaxiSchemas.curated]]
    * pinned (partition columns are reconstructed from the directory
    * layout by the file index). The pin skips the one-task job that
    * schema inference would launch on every read, and an existing but
    * empty tree reads as an empty frame instead of failing; a missing
    * path still throws `AnalysisException`.
    *
    * On a tree whose files drifted from the pin, columns not in the pin
    * are not returned, pinned columns a file lacks read as null, and a
    * column whose type changed fails at scan time (unless the parquet
    * reader can widen the file's type to the pinned one, e.g. `int` or
    * `float` data under a `double` column). Read such a tree with
    * `spark.read.option("mergeSchema", "true").parquet(path)`. */
  def readCurated(spark: SparkSession, path: String): DataFrame =
    spark.read.schema(graft.taxi.TaxiSchemas.curated).parquet(path)

  /** Lenient variant of [[readCurated]] (same pinned schema): skip
    * corrupt/truncated objects instead of failing the job — on a tree
    * of millions of files one bad object is an
    * operational certainty, and the right failure mode for analytics is
    * "log and continue", not "kill a 1000-executor stage". Row-accurate
    * pipelines should reconcile counts against the manifest afterwards. */
  def readCuratedLenient(spark: SparkSession, path: String): DataFrame =
    spark.read.schema(graft.taxi.TaxiSchemas.curated)
      .option("ignoreCorruptFiles", "true").parquet(path)
}
