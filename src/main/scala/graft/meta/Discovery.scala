package graft.meta

import graft.core._
import java.nio.file.{Files, Path, Paths}
import scala.jdk.CollectionConverters._

/** Discovery statistics (reference load_file.py:1172-1180). */
final case class DiscoveryStats(
    totalFound: Int,
    valid: Int,
    invalid: Int,
    invalidReasons: Map[String, String]
)

final case class DiscoveryResult(files: Seq[Path], stats: DiscoveryStats)

/** File discovery: glob scan (S1), direct file list (S2), in-memory
  * uploads (S3). Reference load_file.py:1104-1197 / :842-887 / :889-954.
  *
  * Driver-side by design: per-file validation and stats precede any read, and
  * file listing is driver work in Spark as well. The resulting valid-path list
  * feeds spark.read.csv(paths: _*) — the Spark analogue of manual partition
  * pruning (files rejected here are never scanned).
  */
object Discovery {

  /** S1: glob scan of a base directory (reference load_file.py:1104-1197;
    * glob at 1135-1142; fails on missing/unreadable/empty).
    */
  def discover(
      basePath: String,
      config: FileDiscoveryConfig = FileDiscoveryConfig(),
      filter: FileFilter = new DefaultFileFilter(),
      contentValidator: Option[graft.validate.FileValidator] = None
  ): DiscoveryResult = {
    val base = Paths.get(basePath)
    if (!Files.exists(base))
      throw new FileDiscoveryException(s"Directory does not exist: $basePath")
    if (!Files.isDirectory(base))
      throw new FileDiscoveryException(s"Not a directory: $basePath")
    if (!Files.isReadable(base))
      throw new FileDiscoveryException(s"Directory not readable: $basePath")

    val matcher =
      base.getFileSystem.getPathMatcher(s"glob:${config.filePattern}")
    val stream =
      if (config.recursiveSearch) Files.walk(base)
      else Files.list(base)
    val candidates =
      try stream.iterator().asScala.filter(p => matcher.matches(p.getFileName)).toVector
      finally stream.close()

    if (candidates.isEmpty)
      throw new FileDiscoveryException(
        s"No files matching '${config.filePattern}' found in $basePath"
      )
    partition(candidates, filter, contentValidator)
  }

  /** S2: validate an explicit file list (reference load_file.py:842-887). */
  def fromFiles(
      files: Seq[String],
      filter: FileFilter = new DefaultFileFilter(),
      contentValidator: Option[graft.validate.FileValidator] = None
  ): DiscoveryResult =
    partition(files.map(Paths.get(_)), filter, contentValidator)

  private def partition(
      candidates: Seq[Path],
      filter: FileFilter,
      contentValidator: Option[graft.validate.FileValidator]
  ): DiscoveryResult = {
    val checked: Seq[(Path, Option[String])] = candidates.map { p =>
      val reason = filter.check(p).orElse {
        contentValidator.flatMap { v =>
          val r = v.validate(p, Map.empty)
          if (r.isValid) None else r.errorMessage.orElse(Some("content validation failed"))
        }
      }
      (p, reason)
    }
    val valid = checked.collect { case (p, None) => p }.sorted // O3 deterministic order
    val invalid = checked.collect { case (p, Some(r)) => p.toString -> r }
    if (valid.isEmpty)
      throw new FileDiscoveryException("No valid files found after filtering")
    DiscoveryResult(
      valid,
      DiscoveryStats(candidates.size, valid.size, invalid.size, invalid.toMap)
    )
  }

  /** S3: in-memory "uploaded" sources (name, bytes) — a batch in-memory
    * source (reference load_file.py:889-954). Returns the (name, content)
    * pairs that TimeSeriesLoader.loadUploads reads, sorted by name.
    */
  def fromUploads(
      uploads: Seq[(String, Array[Byte])],
      extractor: MetadataExtractor = new DefaultMetadataExtractor()
  ): Seq[(String, Array[Byte])] = {
    val valid = uploads.filter { case (name, bytes) =>
      bytes.nonEmpty && extractor.isValidFilename(name)
    }
    if (valid.isEmpty)
      throw new FileDiscoveryException("No valid files found")
    valid.sortBy(_._1)
  }

  /** Metadata extraction over discovered files (reference
    * load_file.py:1440-1487): per-file extract; failures aggregate into one
    * FileParsingException; result sorted by startTime (O2, TypeError-tolerant
    * when no timestamps — here: None sorts first).
    */
  def extractAll(
      files: Seq[Path],
      extractor: MetadataExtractor,
      errors: ErrorCollector = new ErrorCollector
  ): Seq[FileMetadata] = {
    val (failed, ok) = files.map { p =>
      try Right(extractor.extractMetadata(p))
      catch { case e: Exception => Left(p.toString -> e.getMessage) }
    }.partitionMap(identity)
    if (failed.nonEmpty) {
      failed.foreach { case (f, msg) =>
        errors.add(ProcessingError(msg, ErrorSeverity.Error, "FileParsingError", Some(f)))
      }
      throw new FileParsingException(
        s"Failed to extract metadata from ${failed.size} file(s): " +
          failed.map(_._1).mkString(", ")
      )
    }
    ok.sortBy(_.startTime.map(_.getTime).getOrElse(Long.MinValue))
  }
}
