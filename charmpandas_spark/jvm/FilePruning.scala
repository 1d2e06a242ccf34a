// Whole parquet files pruned at planning from their footers' min/max.
//
// Spark's parquet reader skips row groups inside each task, so a range
// read of a clustered layout still lists, schedules and opens every
// file. PruneParquetFiles wraps the InMemoryFileIndex of each parquet
// relation in a PruningFileIndex, whose listFiles drops every file in
// which parquet-mr's statistics filter keeps no row group. The filter
// is the one the reader pushes: the scan's data filters through
// translateFilter, then ParquetFilters built from the file's footer
// schema, the session's pushdown confs and the footer's datetime
// rebase spec. A file is dropped only when the reader would skip every
// row group in it, so the rows are the same.
package charmpandas.spark

import java.nio.file.{Files, Paths}
import java.nio.file.attribute.BasicFileAttributes
import java.util.concurrent.TimeUnit

import scala.collection.mutable
import scala.util.control.NonFatal

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FileStatus, Path}
import org.apache.parquet.filter2.compat.{FilterCompat, RowGroupFilter}
import org.apache.parquet.filter2.predicate.FilterApi
import org.apache.parquet.format.converter.ParquetMetadataConverter
import org.apache.parquet.hadoop.ParquetInputFormat
import org.apache.parquet.hadoop.metadata.ParquetMetadata
import org.apache.parquet.hadoop.util.HadoopInputFile
import org.apache.parquet.schema.MessageType

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.expressions.{AttributeReference, Expression, FileSourceConstantMetadataAttribute, PlanExpression}
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.catalyst.util.RebaseDateTime.RebaseSpec
import org.apache.spark.sql.charmpandas.SqlPrivate
import org.apache.spark.sql.execution.datasources.{DataSourceUtils, FileIndex, HadoopFsRelation, InMemoryFileIndex, LogicalRelation, PartitionDirectory}
import org.apache.spark.sql.execution.datasources.parquet.{ParquetFileFormat, ParquetFilters, ParquetFooterReader, ParquetOptions}
import org.apache.spark.sql.types.StructType

// Footers, JVM-wide, least recently used first out. The key is the
// path, length and modification time, to the nanosecond for a local
// file, so a rewritten file is read again.
object FooterCache {
  private val Entries = 1024

  private val cache = new java.util.LinkedHashMap[(String, Long, Long), ParquetMetadata](
      64, 0.75f, true) {
    override def removeEldestEntry(
        e: java.util.Map.Entry[(String, Long, Long), ParquetMetadata]): Boolean =
      size > Entries
  }

  private def key(status: FileStatus): Option[(String, Long, Long)] = {
    val path = status.getPath
    if (path.toUri.getScheme != "file") {
      Some((path.toString, status.getLen, status.getModificationTime))
    } else {
      val a = Files.readAttributes(Paths.get(path.toUri), classOf[BasicFileAttributes])
      // a file changed since the listing is read as listed: keep it
      if (a.size != status.getLen) None
      else Some((path.toString, a.size, a.lastModifiedTime.to(TimeUnit.NANOSECONDS)))
    }
  }

  // the file's footer, None when it cannot be read
  def apply(status: FileStatus, conf: => Configuration): Option[ParquetMetadata] =
    try {
      key(status).map { k =>
        cache.synchronized(cache.get(k)) match {
          case null =>
            val footer = ParquetFooterReader.readFooter(
              HadoopInputFile.fromStatus(status, conf), ParquetMetadataConverter.NO_FILTER)
            cache.synchronized(cache.put(k, footer))
            footer
          case footer => footer
        }
      }
    } catch {
      case NonFatal(_) => None
    }
}

// Two wrappers are equal when their delegates are, so exchange reuse,
// sameResult and cache lookups match as they do without the wrapper.
class PruningFileIndex(
    val delegate: InMemoryFileIndex,
    session: SparkSession,
    options: Map[String, String],
    nestedPushdown: Boolean) extends FileIndex {

  override def rootPaths: Seq[Path] = delegate.rootPaths
  override def inputFiles: Array[String] = delegate.inputFiles
  override def refresh(): Unit = delegate.refresh()
  override def sizeInBytes: Long = delegate.sizeInBytes
  override def partitionSchema: StructType = delegate.partitionSchema
  // the scan times listFiles, footer reads included, as metadata time
  override def metadataOpsTimeNs: Option[Long] = delegate.metadataOpsTimeNs

  override def equals(other: Any): Boolean = other match {
    case p: PruningFileIndex => p.delegate == delegate
    case _ => false
  }
  override def hashCode: Int = delegate.hashCode

  override def listFiles(
      partitionFilters: Seq[Expression],
      dataFilters: Seq[Expression]): Seq[PartitionDirectory] = {
    val dirs = delegate.listFiles(partitionFilters, dataFilters)
    val conf = session.sessionState.conf
    if (!conf.parquetFilterPushDown || dataFilters.isEmpty ||
        dirs.iterator.map(_.files.size).sum > PruneParquetFiles.MaxFiles) {
      return dirs
    }
    // the scan's pushed filters, less those on a subquery's value
    val filters = dataFilters
      .filterNot(_.exists(_.isInstanceOf[PlanExpression[_]]))
      .filterNot(_.references.exists {
        case a: AttributeReference => FileSourceConstantMetadataAttribute.unapply(a).isDefined
        case _ => false
      })
      .flatMap(SqlPrivate.translateFilter(_, nestedPushdown))
    // the reader's Hadoop conf layers the scan's options over the SQL
    // confs over the context's Hadoop conf; building that copy costs
    // more than a cached footer, so it is made only to read a new one
    lazy val hadoopConf = session.sessionState.newHadoopConfWithOptions(options)
    val statsKey = ParquetInputFormat.STATS_FILTERING_ENABLED
    val statsFilter = options.get(statsKey)
      .orElse(Option(conf.getConfString(statsKey, null)))
      .getOrElse(session.sparkContext.hadoopConfiguration.get(statsKey, "true"))
    if (filters.isEmpty || !statsFilter.trim.equalsIgnoreCase("true")) {
      return dirs
    }
    val rebaseMode = new ParquetOptions(options, conf).datetimeRebaseModeInRead
    // the reader's predicate for a footer schema and rebase spec; the
    // files of one table mostly share both
    val predicates = mutable.HashMap.empty[(MessageType, RebaseSpec), Option[FilterCompat.Filter]]
    def mayMatch(status: FileStatus): Boolean = FooterCache(status, hadoopConf).forall {
      footer =>
        try {
          val meta = footer.getFileMetaData
          val kv = meta.getKeyValueMetaData
          val rebase = DataSourceUtils.datetimeRebaseSpec(k => kv.get(k), rebaseMode)
          predicates.getOrElseUpdate((meta.getSchema, rebase), {
            val parquetFilters = new ParquetFilters(meta.getSchema,
              conf.parquetFilterPushDownDate, conf.parquetFilterPushDownTimestamp,
              conf.parquetFilterPushDownDecimal, conf.parquetFilterPushDownStringPredicate,
              conf.parquetFilterPushDownInFilterThreshold, conf.caseSensitiveAnalysis,
              rebase)
            filters.flatMap(parquetFilters.createFilter).reduceOption(FilterApi.and)
              .map(FilterCompat.get)
          }).forall { p =>
            !RowGroupFilter.filterRowGroups(p, footer.getBlocks, meta.getSchema).isEmpty
          }
        } catch {
          case NonFatal(_) => true
        }
    }
    dirs.flatMap { d =>
      val kept = d.files.filter(f => mayMatch(f.fileStatus))
      if (kept.isEmpty && d.files.nonEmpty) None else Some(d.copy(files = kept))
    }
  }
}

object PruneParquetFiles extends Rule[LogicalPlan] {
  // a longer listing is not pruned: its first read would open every footer
  val MaxFiles = 256

  override def apply(plan: LogicalPlan): LogicalPlan = plan.transform {
    case l: LogicalRelation => l.relation match {
      case r: HadoopFsRelation
          if r.location.getClass == classOf[InMemoryFileIndex] &&
            r.fileFormat.getClass == classOf[ParquetFileFormat] =>
        val index = new PruningFileIndex(r.location.asInstanceOf[InMemoryFileIndex],
          r.sparkSession, r.options, SqlPrivate.supportNestedPredicatePushdown(r))
        l.copy(relation = r.copy(location = index)(r.sparkSession))
      case _ => l
    }
  }
}
