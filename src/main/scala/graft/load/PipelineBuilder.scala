package graft.load

import graft.core._
import graft.meta.{FileFilter, MetadataExtractor, TimeMetadataExtractor}
import graft.validate.FileValidator
import org.apache.spark.sql.SparkSession

/** Fluent pipeline construction (reference extension registry:
  * with_extensions load_file.py:2420-2510, create_pipeline :2512-2561,
  * get_available_extension_points :2404-2418). Same five extension points,
  * idiomatic Scala builder instead of a string-keyed dict.
  */
object PipelineBuilder {

  /** The registry the reference exposes via get_available_extension_points. */
  val ExtensionPoints: Seq[String] = Seq(
    "metadata_extractor", "file_filter", "content_validator",
    "data_transformer", "post_processing_hook")

  def apply(spark: SparkSession): Builder = new Builder(spark)

  final class Builder private[PipelineBuilder] (spark: SparkSession) {
    private var discovery = FileDiscoveryConfig()
    private var loading = LoadingConfig()
    private var naming = ColumnNamingConfig()
    private var tsConfig = TimeSeriesConfig()
    private var extractor: MetadataExtractor = new TimeMetadataExtractor()
    private var fileFilter: Option[FileFilter] = None
    private var contentValidator: Option[FileValidator] = None
    private var transformer: DataTransformer = new DefaultDataTransformer()
    private var hooks: Vector[PostProcessingHook] = Vector.empty
    private var sortByTimestamp = true

    def withDiscovery(c: FileDiscoveryConfig): Builder = { discovery = c; this }
    def withLoading(c: LoadingConfig): Builder = { loading = c; this }
    def withNaming(c: ColumnNamingConfig): Builder = { naming = c; this }
    def withTimeSeriesConfig(c: TimeSeriesConfig): Builder = { tsConfig = c; this }
    def withMetadataExtractor(e: MetadataExtractor): Builder = { extractor = e; this }
    def withFileFilter(f: FileFilter): Builder = { fileFilter = Some(f); this }
    def withContentValidator(v: FileValidator): Builder = { contentValidator = Some(v); this }
    /** Replaces the default numeric coercion. Called once per load on the
      * whole string-typed frame, per-file metadata in columns; see
      * DataTransformer.
      */
    def withTransformer(t: DataTransformer): Builder = { transformer = t; this }
    /** Hooks chain in registration order (reference load_file.py:1853-1861). */
    def addHook(h: PostProcessingHook): Builder = { hooks = hooks :+ h; this }
    def withSortByTimestamp(b: Boolean): Builder = { sortByTimestamp = b; this }

    def build(): TimeSeriesLoader = new TimeSeriesLoader(
      spark, discovery, loading, naming, tsConfig, extractor,
      fileFilter, contentValidator, transformer, hooks, sortByTimestamp)
  }
}
