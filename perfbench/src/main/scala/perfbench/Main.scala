package perfbench

import graft.core.{FileDiscoveryConfig, TimeSeriesConfig, TimeValidationException}
import graft.load.TimeSeriesLoader
import graft.meta.{Discovery, MetadataFileFilter, TimeMetadataExtractor}
import graft.validate.TimeSeriesValidator
import java.lang.management.ManagementFactory
import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths}
import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.sql.{Column, DataFrame, Observation, SparkSession}
import org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator
import org.apache.spark.sql.functions._
import scala.jdk.CollectionConverters._

/** One ingest workload: the paper's pipeline over a generated corpus,
  * driven through the program's public calls only, one operation at a time
  * on one thread (a closed loop with one client).
  *
  * An iteration is the body of `TimeSeriesLoader.load` spelled out as its
  * public steps (discover -> extract metadata -> validate the sequence ->
  * loadFiles), then: materialize the loaded frame -> analyzeContinuity ->
  * resample("5min", mean, ffill) -> materialize. Materializing writes to
  * the `noop` sink, so every row is produced and nothing can be pruned.
  *
  * The run measures, in order: a cold session and its first iteration;
  * `--setups` rounds of set-up (new session + warm-up: one iteration on the
  * small warm-up corpus); then warm iterations for `--seconds`, all in the
  * last set-up's session. Raw numbers go to `--out` as JSON; run.py checks
  * them against the generators' manifests and derives the metrics.
  *
  * Usage: perfbench.Main --corpus DIR --warmup DIR --out FILE --work DIR
  *        [--seconds N] [--setups N] [--trace 0|1]
  */
object Main {
  private val Cores = 4
  private val MetaCols = Set("source_file", "file_start_time", "file_end_time")

  def main(args: Array[String]): Unit = {
    val opts = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val corpus = opts("corpus")
    val warmup = opts("warmup")
    val seconds = opts.getOrElse("seconds", "10").toDouble
    val setups = opts.getOrElse("setups", "3").toInt
    val trace = opts.getOrElse("trace", "0") == "1"
    val work = opts("work")

    var spark = session(work)
    val cg0 = (CodegenMetrics.METRIC_COMPILATION_TIME.getCount, CodeGenerator.compileTime)
    val first = measured(spark, corpus, Tracer.Off, checkOrder = true)
    val firstCodegen = Json.obj(
      "compiles" -> (CodegenMetrics.METRIC_COMPILATION_TIME.getCount - cg0._1),
      "compile_s" -> (CodeGenerator.compileTime - cg0._2) / 1e9)

    val setupRecords = (1 to setups).map { _ =>
      spark.stop()
      val s0 = System.nanoTime()
      spark = session(work)
      val rec = measured(spark, warmup, Tracer.Off, checkOrder = false)
      Json.obj("setup_s" -> secs(s0), "iter" -> rec)
    }

    val groups = new GroupListener
    val plans = new PlanListener
    if (trace) {
      spark.sparkContext.addSparkListener(groups)
      spark.listenerManager.register(plans)
    }
    val loopStart = System.nanoTime()
    val iters = Iterator.from(0).takeWhile(_ => secs(loopStart) < seconds).map { i =>
      val tracer = if (trace) new SpanTracer(spark, i) else Tracer.Off
      val rec = measured(spark, corpus, tracer, checkOrder = false)
      tracer match {
        case st: SpanTracer => rec + ("spans" -> spanJson(spark, st, groups, plans))
        case _ => rec
      }
    }.toVector
    spark.stop()

    val out = Json.obj(
      "first" -> first,
      "first_codegen" -> firstCodegen,
      "setups" -> setupRecords,
      "iters" -> iters)
    Files.write(Paths.get(opts("out")), Json.render(out).getBytes(StandardCharsets.UTF_8))
  }

  def session(work: String): SparkSession = {
    val s = SparkSession.builder()
      .master(s"local[$Cores]")
      .appName("perfbench")
      .config("spark.sql.shuffle.partitions", Cores.toString)
      .config("spark.ui.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
      // the program's own sessions pin this (Spark 4.1 union partitioning
      // mis-claim), so the benchmark runs it the same way
      .config("spark.sql.unionOutputPartitioning", "false")
      .config("spark.local.dir", s"$work/spark-local")
      .config("spark.sql.warehouse.dir", s"$work/warehouse")
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }

  private def secs(fromNs: Long): Double = (System.nanoTime() - fromNs) / 1e9

  private def gcMs: Long =
    ManagementFactory.getGarbageCollectorMXBeans.asScala.map(b => math.max(0L, b.getCollectionTime)).sum

  /** One timed iteration, then (untimed) a full GC and the live heap, and
    * on request the time-order check. Failures are recorded, not thrown.
    */
  private def measured(spark: SparkSession, dir: String, tracer: Tracer, checkOrder: Boolean): Map[String, Any] = {
    val gc0 = gcMs
    val t0 = System.nanoTime()
    val result = try Right(iteration(spark, dir, tracer)) catch { case e: Throwable => Left(e) }
    val wall = secs(t0)
    System.gc()
    val heapMb = ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed / 1048576.0
    val base = Map[String, Any]("wall_s" -> wall, "heap_mb" -> heapMb, "gc_s" -> (gcMs - gc0) / 1e3)
    val checked = result.flatMap { case (facts, loaded, tsCol) =>
      try Right(Map("obs" -> facts(),
        "ordered" -> (if (checkOrder) Boolean.box(nonDecreasing(loaded, tsCol)) else null)))
      catch { case e: Throwable => Left(e) }
    }
    checked match {
      case Left(e) => base + ("error" -> s"${e.getClass.getName}: ${Option(e.getMessage).getOrElse("")}".take(500))
      case Right(fields) => base ++ fields
    }
  }

  /** The pipeline. Returns what the checks need, observed while the frames
    * were materialized (no extra pass), plus the loaded frame. Observed
    * metrics arrive through a listener, so they are read after the timing.
    */
  private def iteration(spark: SparkSession, dir: String, t: Tracer): (() => Map[String, Any], DataFrame, String) = {
    val extractor = new TimeMetadataExtractor()
    val found = t.span("meta.discover") {
      Discovery.discover(dir, FileDiscoveryConfig(), new MetadataFileFilter(extractor))
    }
    val metas = t.span("meta.extract")(Discovery.extractAll(found.files, extractor))
    val verdict = t.span("validate.sequence")(new TimeSeriesValidator(TimeSeriesConfig()).isValidSequence(metas))
    if (!verdict.isValid) throw new TimeValidationException(verdict.errorMessage.getOrElse("invalid sequence"))

    val loaded = t.span("load.build")(new TimeSeriesLoader(spark).loadFiles(metas, Some(found.stats)))
    val df = loaded.df
    val tsCol = loaded.timestampColumn.getOrElse(throw new IllegalStateException("no timestamp column"))
    val valueCols = df.columns.toSeq.filterNot(c => c == tsCol || MetaCols(c))
    def nulls(c: Column) = sum(when(c.isNull, 1).otherwise(0))
    val loadObs = Observation()
    val loadAggs = Seq(count(lit(1)).as("rows"), nulls(col(tsCol)).as("null_ts"),
        nulls(col("source_file")).as("null_source")) ++
      valueCols.indices.flatMap { i =>
        val c = col(valueCols(i))
        Seq(sum(round(c * 100).cast("long")).as(s"sum_$i"), nulls(c).as(s"null_$i"))
      }
    t.span("load.exec")(noop(df.observe(loadObs, loadAggs.head, loadAggs.tail: _*)))

    val report = t.span("ts.continuity")(loaded.analyzeContinuity())
    val resampled = t.span("ts.resample.build")(loaded.resample("5min", Some("mean"), Some("ffill")))
    val resObs = Observation()
    t.span("ts.resample.exec")(noop(resampled.observe(resObs, count(lit(1)).as("rows"))))

    def facts(): Map[String, Any] = {
      val lo = loadObs.get
      Map(
        "files_listed" -> found.stats.totalFound,
        "files_valid" -> found.stats.valid,
        "time_column" -> tsCol,
        "rows" -> lo("rows"),
        "null_ts" -> lo("null_ts"),
        "null_source" -> lo("null_source"),
        "columns" -> valueCols.indices.map { i =>
          Json.obj("name" -> valueCols(i), "sum_cents" -> lo(s"sum_$i"), "nulls" -> lo(s"null_$i"))
        },
        "freq" -> report.inferredFrequency.orNull,
        "total_points" -> report.totalPoints,
        "gaps" -> report.gaps.map(g =>
          Seq(g.start.getTime / 1000, g.end.getTime / 1000, g.expectedPoints)),
        "resample_rows" -> resObs.get("rows"))
    }
    (() => facts(), df, tsCol)
  }

  private def noop(df: DataFrame): Unit = df.write.format("noop").mode("overwrite").save()

  /** Time never decreases, within and across partitions (partitions of a
    * sorted frame come in range order). Runs outside the timings.
    */
  private def nonDecreasing(df: DataFrame, tsCol: String): Boolean = {
    val parts = df.select(unix_micros(col(tsCol))).rdd
      .mapPartitionsWithIndex((i, rows) => Iterator(TimeOrder.summarize(i, rows.map(_.getLong(0)))))
      .collect().sortBy(_._1).filter(_._4 > 0)
    parts.forall(_._5) && parts.sliding(2).forall {
      case Array(a, b) => a._3 <= b._2
      case _ => true
    }
  }

  private def spanJson(spark: SparkSession, st: SpanTracer, groups: GroupListener, plans: PlanListener): Seq[Map[String, Any]] = {
    org.apache.spark.BenchBus.drain(spark.sparkContext)
    val t0 = st.spans.headOption.map(_.startNs).getOrElse(0L)
    val out = st.spans.toSeq.map { s =>
      val c = groups.take(st.group(s.name))
      Json.obj(
        "name" -> s.name, "parent" -> s.parent,
        "start_s" -> (s.startNs - t0) / 1e9, "end_s" -> (s.endNs - t0) / 1e9,
        "jobs" -> c.jobs, "tasks" -> c.tasks,
        "input_bytes" -> c.inputBytes, "input_records" -> c.inputRecords,
        "shuffle_bytes" -> c.shuffleBytes, "spill_bytes" -> c.spillBytes,
        "task_skew" -> c.taskSkew, "cpu_busy" -> c.cpuBusy,
        "plan_s" -> plans.within(s.startMs, s.endMs))
    }
    plans.clear()
    out
  }
}

/** Per-partition summary for the order check: (index, first, last, count,
  * sorted within). A top-level object so the closure captures nothing else.
  */
object TimeOrder {
  def summarize(i: Int, ts: Iterator[Long]): (Int, Long, Long, Long, Boolean) = {
    var first, last = 0L
    var n = 0L
    var ok = true
    ts.foreach { t =>
      if (n == 0) first = t else if (t < last) ok = false
      last = t
      n += 1
    }
    (i, first, last, n, ok)
  }
}
