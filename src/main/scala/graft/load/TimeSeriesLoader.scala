package graft.load

import graft.core._
import graft.meta._
import graft.validate.{FileValidator, TimeSeriesValidator}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.LogicalRDD
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import java.io.{BufferedReader, ByteArrayInputStream, InputStream, InputStreamReader}
import java.nio.file.{Files, Path, Paths}
import java.util.regex.Pattern

/** Loaded-corpus result (reference FileDataFrame.get_dataframe +
  * concat_metadata, load_file.py:1863-1878).
  *
  * `df` stays a lazy plan: building a `LoadedSeries` runs no job, and a
  * caller that only writes `df` reads the CSV files once, in its own
  * action. The analysis methods (`analyzeContinuity`, `resample`) and
  * `concatMetadata` instead share one materialization of `df`, a
  * `localCheckpoint` taken on the first of them to run: the files are
  * scanned, joined to their metadata, parsed and sorted once, and every
  * later analysis reads the checkpointed blocks (the reference's in-memory
  * `self.dataframe`, load_file.py:1806). The blocks are freed by the
  * ContextCleaner once this `LoadedSeries` and every frame derived from
  * it are unreachable, so there is nothing to unpersist. Local-checkpoint
  * blocks live on the executors and are lost with one: an analysis that
  * runs after an executor loss fails instead of re-reading the files
  * (ROADMAP D5 routes every checkpoint through one `Lineage` policy).
  */
final case class LoadedSeries(
    df: DataFrame,
    files: Seq[FileMetadata],
    timestampColumn: Option[String],
    errors: ErrorCollector,
    discoveryStats: Option[DiscoveryStats],
    // the ONE context map threaded through the whole PostProcessingHook
    // chain (reference ts_extensions.py:58-75): hooks see each other's
    // entries and callers read accumulated stats (e.g.
    // processing_stats.outliers_removed) after load
    hookContext: Map[String, Any] = Map.empty
) {
  /** The rows of `df`, computed once, on first use (see the class doc). */
  private lazy val materialized: DataFrame = df.localCheckpoint(eager = true)

  /** A4 concat metadata. The reference computes end_time with min() — a bug
    * (load_file.py:1873-1875); we implement the documented max().
    * `size_in_bytes` is what the materialized rows occupy in the block
    * store (memory plus disk), the analogue of the reference's
    * memory_usage(deep=True); a plan-statistics estimate would size the
    * metadata join as scan bytes times table bytes, growing with the square
    * of the file count.
    */
  def concatMetadata: Map[String, Any] = Map(
    "total_files" -> files.size,
    "total_rows" -> materialized.count(),
    "start_time" -> files.flatMap(_.startTime).sortBy(_.getTime).headOption,
    "end_time" -> files.flatMap(_.endTime).sortBy(_.getTime).lastOption,
    "size_in_bytes" -> materializedBytes
  )

  private def materializedBytes: Long = {
    val rddId = materialized.queryExecution.logical.collectFirst { case r: LogicalRDD => r.rdd.id }
    rddId.flatMap(id => df.sparkSession.sparkContext.getRDDStorageInfo.find(_.id == id))
      .fold(0L)(info => info.memSize + info.diskSize)
  }

  private def tsColOrThrow: String = timestampColumn.getOrElse(
    throw new TimeValidationException("no timestamp column detected"))

  /** Reference analyze_time_series_continuity (load_file.py:2024-2125) as a
    * method on the loaded corpus; reads the shared materialization.
    */
  def analyzeContinuity(
      expectedFrequency: Option[String] = None,
      minGapSize: String = "1min"
  ): graft.ts.Continuity.ContinuityReport = {
    val tsCol = tsColOrThrow // before the materialization runs a job
    graft.ts.Continuity.analyze(materialized, tsCol,
      expectedFrequency.map(graft.core.Offsets.parse),
      graft.core.Offsets.parse(minGapSize))
  }

  /** Reference resample_time_series (load_file.py:2241-2360) as a method on
    * the loaded corpus; original frame untouched. The result is planned over
    * the shared materialization, so executing it does not read the files.
    */
  def resample(
      frequency: String,
      methodResample: Option[String] = None,
      methodFill: Option[String] = None,
      fillLimit: Option[Int] = None,
      includeAllGaps: Boolean = true,
      maxGapSize: Option[String] = None
  ): DataFrame = {
    val tsCol = tsColOrThrow
    graft.ts.Resample.resampleTimeSeries(materialized, tsCol, frequency,
      methodResample, methodFill, fillLimit, includeAllGaps, maxGapSize)
  }

  /** Reference generate_time_series_report (load_file.py:1023-1102). */
  def fileReport(config: TimeSeriesConfig = TimeSeriesConfig()): graft.meta.FileReport.TimeSeriesFileReport =
    graft.meta.FileReport.generate(files, config)
}

/** The flagship pipeline (reference FileDataFrame.initialize_processing,
  * load_file.py:1263-1323): discover -> extract metadata -> validate
  * sequence -> check headers -> read as strings + attach metadata ->
  * transform (coerce) -> parse timestamps -> sort -> clean names -> hooks.
  *
  * Spark-first shape (NOT the reference's per-file pandas loop):
  *   - steps 1-3 and the header check are metadata-plane and stay on the
  *     driver (file listing is driver work in Spark too); row data NEVER
  *     lands on the driver;
  *   - files read as ONE multi-path csv scan with an enforced schema (so
  *     Catalyst sees a single scan node: column pruning, limit pushdown and
  *     partition-level parallelism all apply), not N unioned per-file plans
  *     whose lineage would grow O(files);
  *   - per-file constants (source_file, file_start_time, file_end_time)
  *     attach via a BROADCAST join on input_file_name() against the tiny
  *     metadata table — no shuffle; uploads attach them as literals;
  *   - every source then goes through the same step (`finish`): the
  *     transformer, the timestamp parse, the optional global time sort (the
  *     only wide exchange), column cleaning and the hooks.
  */
class TimeSeriesLoader(
    spark: SparkSession,
    discovery: FileDiscoveryConfig = FileDiscoveryConfig(),
    loading: LoadingConfig = LoadingConfig(),
    naming: ColumnNamingConfig = ColumnNamingConfig(),
    tsConfig: TimeSeriesConfig = TimeSeriesConfig(),
    extractor: MetadataExtractor = new TimeMetadataExtractor(),
    fileFilter: Option[FileFilter] = None,
    contentValidator: Option[FileValidator] = None,
    transformer: DataTransformer = new DefaultDataTransformer(),
    hooks: Seq[PostProcessingHook] = Nil,
    sortByTimestamp: Boolean = true
) {
  private val errors = new ErrorCollector

  private def filt: FileFilter =
    fileFilter.getOrElse(new MetadataFileFilter(extractor))

  /** Steps 1-3: discovery + metadata + sequence validation. */
  def discoverAndValidate(basePath: String): (Seq[FileMetadata], DiscoveryStats) = {
    val res = Discovery.discover(basePath, discovery, filt, contentValidator)
    (extractAndValidate(res.files), res.stats)
  }

  /** Steps 2-3 for every source: filename metadata, then sequence validation. */
  private def extractAndValidate(files: Seq[Path]): Seq[FileMetadata] = {
    val metas = Discovery.extractAll(files, extractor, errors)
    val verdict = new TimeSeriesValidator(tsConfig).isValidSequence(metas)
    if (!verdict.isValid) {
      errors.add(ProcessingError(
        verdict.errorMessage.getOrElse("time-series validation failed"),
        ErrorSeverity.Critical, "TimeValidationError"))
      if (tsConfig.failOnValidationError)
        throw new TimeValidationException(verdict.errorMessage.getOrElse("invalid sequence"))
    }
    metas
  }

  /** Full pipeline from a directory. */
  def load(basePath: String): LoadedSeries = {
    val (metas, stats) = discoverAndValidate(basePath)
    loadFiles(metas, Some(stats))
  }

  /** Full pipeline from an explicit file list (S2). */
  def loadPaths(paths: Seq[String]): LoadedSeries = {
    val res = Discovery.fromFiles(paths, filt, contentValidator)
    loadFiles(extractAndValidate(res.files), Some(res.stats))
  }

  /** In-memory uploads (S3): batch source from (name, bytes) pairs, checked
    * and typed exactly like files.
    */
  def loadUploads(uploads: Seq[(String, Array[Byte])]): LoadedSeries = {
    import spark.implicits._
    val valid = Discovery.fromUploads(uploads, extractor)
    val metas = extractAndValidate(valid.map(u => Paths.get(u._1)))
    val metaOf = metas.map(m => m.filepath -> m).toMap
    val headers = enforceHeaders(valid.map { case (name, bytes) =>
      name -> (() => new ByteArrayInputStream(bytes))
    })
    val raw = valid.zip(headers)
      .map { case ((name, bytes), header) =>
        val meta = metaOf(Paths.get(name).toString)
        val lines = spark.createDataset(new String(bytes, loading.encoding).linesIterator.toSeq)
        csvReader(header).csv(lines)
          .withColumn("source_file", lit(new java.io.File(name).getName))
          .withColumn("file_start_time", lit(meta.startTime.orNull).cast(TimestampType))
          .withColumn("file_end_time", lit(meta.endTime.orNull).cast(TimestampType))
      }
      .reduce(_.unionByName(_))
    finish(raw, headers.head, metas, None)
  }

  /** All-string schema: typing is the transformer's job, so garbage cells
    * coerce to null there instead of failing the scan.
    */
  private def csvReader(header: Seq[String]) =
    spark.read
      .option("sep", loading.delimiter)
      .option("header", "true")
      .option("encoding", loading.encoding)
      .option("mode", "PERMISSIVE")
      .schema(StructType(header.map(c => StructField(c, StringType, nullable = true))))

  /** S5: header of a file from a bounded read of its first lines, not a
    * scan (manual limit pushdown, reference nrows=0 at load_file.py:1727).
    */
  def originalColumnNames(path: String): Seq[String] =
    probe(path, Files.newInputStream(Paths.get(path)))._1

  /** One bounded read of a source, decoded with `loading.encoding`: its
    * trimmed header, and per-column numeric-ness from the first 10 data
    * lines (Some(true)=all non-empty values parse as double, Some(false)=some
    * don't, None=no data observed).
    */
  private def probe(name: String, in: InputStream): (Seq[String], Seq[Option[Boolean]]) = {
    val sep = Pattern.quote(loading.delimiter)
    val dec = Pattern.quote(loading.decimal)
    try {
      val reader = new BufferedReader(new InputStreamReader(in, loading.encoding))
      val lines = Iterator.continually(reader.readLine()).takeWhile(_ != null)
      if (!lines.hasNext) throw new DataLoadingException(s"File is empty: $name")
      val header = lines.next().split(sep).map(_.trim).toSeq
      val rows = lines.take(10)
        .map(_.split(sep, -1).map(_.trim).padTo(header.size, "")).toVector
      val numeric = header.indices.map { i =>
        val vals = rows.map(_(i)).filter(_.nonEmpty)
        if (vals.isEmpty) None
        else Some(vals.forall(v =>
          scala.util.Try(v.replaceAll(dec, ".").toDouble).isSuccess))
      }
      (header, numeric)
    } finally in.close()
  }

  /** P5: per-source header + dtype enforcement against source #1 (reference
    * load_file.py:1489-1531: column mismatch at :1513-1522, np.issubdtype
    * dtype mismatch at :1525-1531). Each source is opened once, for its
    * header and probe rows; the data itself is scanned later, by Spark.
    * Returns every source's ordered header: a file with the same column SET
    * in a different ORDER is legal (pandas concat aligns by name) but must
    * get its own positional schema at read time — see loadFiles.
    */
  private def enforceHeaders(sources: Seq[(String, () => InputStream)]): Seq[Seq[String]] = {
    val probes = sources.map { case (name, open) => probe(name, open()) }
    val (ref, refTypes) = probes.head
    val refNumeric = ref.zip(refTypes).toMap
    def fail(name: String, msg: String): Nothing = {
      errors.add(ProcessingError(msg, ErrorSeverity.Error, "DataLoadingError", Some(name)))
      throw new DataLoadingException(msg)
    }
    sources.map(_._1).zip(probes).tail.foreach { case (name, (header, numeric)) =>
      if (header.toSet != ref.toSet)
        fail(name, s"Column mismatch in $name: expected ${ref.mkString(",")} got ${header.mkString(",")}")
      // compare BY NAME (not position): reordered files align by name at
      // read time, so only a column flipping numeric<->non-numeric under
      // its own name is the reference's "Data type mismatch"
      header.zip(numeric).foreach { case (cname, tn) =>
        (refNumeric(cname), tn) match {
          case (Some(a), Some(b)) if a != b =>
            fail(name, s"Data type mismatch in $name: column '$cname'")
          case _ => () // no data observed on one side -> cannot judge
        }
      }
    }
    probes.map(_._1)
  }

  /** Steps 4+: one scan per distinct header ordering (one scan, period, in
    * the overwhelmingly common identical-headers case) + broadcast metadata
    * attach. A positional schema over a REORDERED file would silently
    * misassign values (the reference's pandas concat aligns by name), so
    * files are grouped by their exact ordered header and each group reads
    * with its own schema before a by-name union.
    */
  def loadFiles(metas: Seq[FileMetadata], stats: Option[DiscoveryStats]): LoadedSeries = {
    import spark.implicits._
    require(metas.nonEmpty, "no files to load")
    val headers = enforceHeaders(metas.map(m =>
      m.filepath -> (() => Files.newInputStream(Paths.get(m.filepath)))))

    // group by ordered header, preserving first-appearance order so the
    // result's column order is file #1's order (pandas concat parity)
    val grouped: Seq[(Seq[String], Seq[String])] = headers.distinct.map { h =>
      (h, metas.zip(headers).collect { case (m, hh) if hh == h => m.filepath })
    }
    val raw = grouped
      .map { case (h, paths) => csvReader(h).csv(paths: _*) }
      .reduce((a, b) => a.unionByName(b, allowMissingColumns = true))

    // per-file metadata via broadcast join (no shuffle, no O(files) plan).
    // Join key is the NORMALIZED plain path: input_file_name() yields a
    // URL-encoded URI ("file:///a/b%20c.csv") while File.toURI gives
    // "file:/a/b c.csv" — raw strings never match. url_decode alone is
    // FORM-decoding ('+' -> space, stray '%' throws under ANSI); protect
    // '+' first and fall back to the raw name on undecodable input.
    // The join key is a 64-bit hash of that path, not the path itself: a
    // long key broadcasts as a LongHashedRelation (about 1 MB on the
    // driver), a string key as an UnsafeHashedRelation that holds a whole
    // Tungsten page (16 MB at a 2 GB heap) until the broadcast is cleaned,
    // so driver memory would swing with GC timing. The path comparison
    // after the join keeps the match exact if two paths share a hash.
    val metaDf = broadcast(
      metas
        .map(m => (new java.io.File(m.filepath).getAbsolutePath,
          new java.io.File(m.filepath).getName,
          m.startTime.orNull, m.endTime.orNull))
        .toDF("__mpath", "source_file", "file_start_time", "file_end_time")
        .withColumn("__key", xxhash64(col("__mpath")))
    )
    val decodedName = coalesce(
      expr("""try_url_decode(regexp_replace(input_file_name(), '\\+', '%2B'))"""),
      input_file_name())
    val withMeta = raw
      .withColumn("__path", regexp_replace(decodedName, "^file:/+", "/"))
      .withColumn("__key", xxhash64(col("__path")))
      .join(metaDf, Seq("__key"), "left")
      .where(col("__mpath").isNull || col("__mpath") === col("__path"))
      .drop("__key", "__path", "__mpath")
    finish(withMeta, headers.head, metas, stats)
  }

  /** The step every source shares. `raw` holds the sources' columns as
    * strings plus the metadata columns; `header` is source #1's. The
    * timestamp column is detected once, from that header.
    */
  private def finish(
      raw: DataFrame,
      header: Seq[String],
      metas: Seq[FileMetadata],
      stats: Option[DiscoveryStats]
  ): LoadedSeries = {
    val tsCol = loading.timestampColumn.orElse(header.find(_.toLowerCase.contains("time")))
    val transformed = transformer.transform(raw, tsCol, loading)
    val parsed = tsCol match {
      case Some(tc) if transformed.schema(tc).dataType == StringType =>
        // F1 strict parse with F2-style coalesce fallback over common formats
        transformed.withColumn(tc, parseTimestamp(col(tc)))
      case _ => transformed
    }
    val sorted = tsCol match { // O1: global sort
      case Some(tc) if sortByTimestamp => parsed.orderBy(col(tc))
      case _ => parsed
    }
    val renamed = sorted.toDF(
      sorted.columns.toIndexedSeq.map(c => if (TimeSeriesLoader.MetaColumns(c)) c else cleanName(c)): _*)
    // one accumulating context shared by every hook in the chain (reference
    // threads a single dict, ts_extensions.py:58-75, load_file.py:1853-1861)
    val context = scala.collection.mutable.Map.empty[String, Any]
    val hooked = hooks.foldLeft(renamed) { (acc, h) =>
      try h.process(acc, context)
      catch {
        case e: Exception => // hook errors logged, pipeline continues (ts_extensions.py:70-75)
          errors.add(ProcessingError(e.getMessage, ErrorSeverity.Warning, "HookError"))
          acc
      }
    }
    LoadedSeries(hooked, metas, tsCol.map(cleanName), errors, stats, context.toMap)
  }

  /** F1/F2: strict format first, then an ordered coalesce of common formats
    * (the Spark-native, codegen'd replacement for the reference's per-row
    * dateparser.parse fallback — its acknowledged hot spot,
    * load_file.py:1932-1955). The configured dateOrder (reference
    * DATE_ORDER, load_file.py:1945,1976) decides which slashed-numeric
    * family wins on ambiguous inputs like 01/02/2024.
    */
  private def parseTimestamp(c: org.apache.spark.sql.Column) = {
    val slashed = loading.dateOrder.toUpperCase match {
      case "MDY" => Seq(
        "MM/dd/yyyy HH:mm:ss", "MM/dd/yyyy HH:mm", "MM/dd/yyyy",
        "dd/MM/yyyy HH:mm:ss", "dd/MM/yyyy HH:mm", "dd/MM/yyyy")
      case "YMD" => Seq(
        "yyyy/MM/dd HH:mm:ss", "yyyy/MM/dd HH:mm", "yyyy/MM/dd",
        "dd/MM/yyyy HH:mm:ss", "dd/MM/yyyy HH:mm", "dd/MM/yyyy")
      case _ => Seq( // DMY (reference default)
        "dd/MM/yyyy HH:mm:ss", "dd/MM/yyyy HH:mm", "dd/MM/yyyy",
        "MM/dd/yyyy HH:mm:ss", "MM/dd/yyyy HH:mm", "MM/dd/yyyy")
    }
    val fallbacks = (Seq(
      loading.timeFormat,
      "yyyy-MM-dd HH:mm:ss", "yyyy-MM-dd HH:mm", "yyyy-MM-dd") ++
      slashed ++
      Seq("MM-dd-yyyy HH:mm:ss", "yyyy/MM/dd HH:mm:ss")).distinct
    coalesce(fallbacks.map(f => try_to_timestamp(trim(c), lit(f))): _*)
  }

  private def cleanName(c: String): String = {
    val stripped = if (naming.stripWhitespace) c.trim else c // C1
    val renamed = naming.renameMap.getOrElse(stripped, stripped) // C2
    if (naming.cleanColumnNames) { // C3: keep last " - " segment
      val parts = renamed.split(" - ")
      parts.last.trim
    } else renamed
  }
}

object TimeSeriesLoader {
  /** The per-file metadata columns every loaded frame carries. */
  val MetaColumns: Set[String] = Set("source_file", "file_start_time", "file_end_time")
}
