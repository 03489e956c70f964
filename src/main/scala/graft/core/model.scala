package graft.core

import java.sql.Timestamp
import java.time.Duration

/** Core data model for the engine.
  *
  * Mirrors the reference's dataclasses (semantics only, Spark-first design):
  *   - FileMetadata            <- reference file_metadata_parser.py:13-18
  *   - TimeValidationIssue     <- reference ts_validator.py:28-41
  *   - TimeSeriesGap           <- reference ts_validator.py:43-48
  *   - ValidationResult        <- reference ts_validator.py:21-26
  *   - configs                 <- reference ts_config.py:9-48
  *   - error ledger            <- reference error_handling.py:9-15,177-235
  */
final case class FileMetadata(
    filepath: String,
    startTime: Option[Timestamp] = None,
    endTime: Option[Timestamp] = None,
    additional: Map[String, String] = Map.empty
)

sealed trait IssueType
object IssueType {
  case object Gap extends IssueType
  case object Overlap extends IssueType
  case object NoTimeInfo extends IssueType
}

final case class TimeValidationIssue(
    issueType: IssueType,
    start: Option[Timestamp],
    end: Option[Timestamp],
    file1: String,
    file2: Option[String],
    duration: Option[Duration]
)

/** A detected gap in a loaded time series (reference ts_validator.py:43-48). */
final case class TimeSeriesGap(
    start: Timestamp,
    end: Timestamp,
    duration: Duration,
    expectedPoints: Long
)

final case class ValidationResult(
    isValid: Boolean,
    errorMessage: Option[String] = None,
    errorType: Option[String] = None
)

/** Validation strategies for file-sequence continuity
  * (reference ts_validator.py:11-17).
  *   - None_: skip validation
  *   - Lenient: gaps tolerated, overlaps fatal (ts_validator.py:211-228)
  *   - Strict: any issue fatal (ts_validator.py:230-238)
  *   - Custom: thresholds from TimeSeriesConfig (ts_validator.py:240-248)
  */
sealed trait ValidationStrategy
object ValidationStrategy {
  case object None_ extends ValidationStrategy
  case object Lenient extends ValidationStrategy
  case object Strict extends ValidationStrategy
  case object Custom extends ValidationStrategy
}

/** reference ts_config.py:9-16 */
final case class FileDiscoveryConfig(
    filePattern: String = "*.csv",
    recursiveSearch: Boolean = false
)

/** reference ts_config.py:19-27; maps ~1:1 onto spark.read options. */
final case class LoadingConfig(
    delimiter: String = ";",
    decimal: String = ".",
    timestampColumn: Option[String] = None,
    timeFormat: String = "dd/MM/yyyy HH:mm", // reference "%d/%m/%Y %H:%M"
    encoding: String = "utf-8",
    // reference dateparser DATE_ORDER (load_file.py:1945,1976): resolves
    // ambiguous numeric dates like 01/02/2024; DMY is the reference default
    dateOrder: String = "DMY" // "DMY" | "MDY" | "YMD"
)

/** reference ts_config.py:30-36 */
final case class ColumnNamingConfig(
    cleanColumnNames: Boolean = true,
    stripWhitespace: Boolean = true,
    renameMap: Map[String, String] = Map.empty
)

/** reference ts_config.py:39-48 */
final case class TimeSeriesConfig(
    strategy: ValidationStrategy = ValidationStrategy.Lenient,
    maxAllowedGap: Duration = Duration.ofMinutes(15),
    allowOverlap: Boolean = false,
    maxAllowedOverlap: Duration = Duration.ZERO,
    failOnValidationError: Boolean = true
)

sealed abstract class ErrorSeverity(val level: Int, val name: String)
object ErrorSeverity {
  case object Critical extends ErrorSeverity(4, "CRITICAL")
  case object Error extends ErrorSeverity(3, "ERROR")
  case object Warning extends ErrorSeverity(2, "WARNING")
  case object Info extends ErrorSeverity(1, "INFO")
}

final case class ProcessingError(
    message: String,
    severity: ErrorSeverity,
    errorType: String,
    file: Option[String] = None,
    context: Map[String, String] = Map.empty,
    timestamp: Long = System.currentTimeMillis()
)

/** Driver-side error ledger (reference error_handling.py:177-235 +
  * load_file.py:137,181-213). Rows stay distributed; only per-file
  * control-plane errors land here.
  */
final class ErrorCollector extends Serializable {
  private val buf = scala.collection.mutable.ArrayBuffer.empty[ProcessingError]
  def add(e: ProcessingError): Unit = synchronized { buf += e }
  def errors: Seq[ProcessingError] = synchronized(buf.toVector)
  def bySeverity(s: ErrorSeverity): Seq[ProcessingError] =
    errors.filter(_.severity == s)
  def byType(t: String): Seq[ProcessingError] = errors.filter(_.errorType == t)
  def byFile(f: String): Seq[ProcessingError] =
    errors.filter(_.file.contains(f))
  /** error counts by severity / type / file (reference load_file.py:305-331) */
  def stats: Map[String, Map[String, Int]] = Map(
    "by_severity" -> errors.groupBy(_.severity.name).map { case (k, v) => k -> v.size },
    "by_type" -> errors.groupBy(_.errorType).map { case (k, v) => k -> v.size },
    "by_file" -> errors.groupBy(_.file.getOrElse("<none>")).map { case (k, v) => k -> v.size }
  )
  def clear(): Unit = synchronized(buf.clear())
}

class GraftException(msg: String, cause: Throwable = null)
    extends RuntimeException(msg, cause)
class FileDiscoveryException(msg: String) extends GraftException(msg)
class FileParsingException(msg: String) extends GraftException(msg)
class DataLoadingException(msg: String, cause: Throwable = null)
    extends GraftException(msg, cause)
class TimeValidationException(msg: String) extends GraftException(msg)
class ConfigValidationException(msg: String) extends GraftException(msg)
