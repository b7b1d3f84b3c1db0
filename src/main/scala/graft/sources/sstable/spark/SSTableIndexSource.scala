package graft.sources.sstable.spark

import java.util
import scala.jdk.CollectionConverters._
import org.apache.spark.sql.connector.catalog.{SupportsRead, Table, TableCapability, TableProvider}
import org.apache.spark.sql.connector.expressions.Transform
import org.apache.spark.sql.connector.read._
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.sources.DataSourceRegister
import org.apache.spark.sql.types.StructType
import org.apache.spark.sql.util.CaseInsensitiveStringMap
import graft.sources.sstable._

/** `format("sstable-index")`: scans `*-Index.db` as `(key binary,
  * position long)` — the reference's S5/S8 surface
  * (SSTableIndexRecordReader.scala:51, SSTableIndexLoader.scala:14-48).
  * Unlike the reference's Pig loader, `position` is exposed and dropping
  * it is a plain `select` (SURVEY.md §1.3). */
class SSTableIndexSource extends TableProvider with DataSourceRegister {
  override def shortName(): String = "sstable-index"
  override def inferSchema(options: CaseInsensitiveStringMap): StructType =
    SSTableSchema.indexSchema
  override def getTable(schema: StructType, partitioning: Array[Transform],
                        properties: util.Map[String, String]): Table =
    new SSTableIndexTable(properties.asScala.toMap)
}

final class SSTableIndexTable(properties: Map[String, String])
    extends Table with SupportsRead {
  private def path: String = properties.getOrElse("path",
    throw new IllegalArgumentException("sstable-index source requires a path"))
  override def name(): String = s"sstable-index(`$path`)"
  override def schema(): StructType = SSTableSchema.indexSchema
  override def capabilities(): util.Set[TableCapability] =
    util.EnumSet.of(TableCapability.BATCH_READ)
  override def newScanBuilder(options: CaseInsensitiveStringMap): ScanBuilder =
    new SSTableIndexScanBuilder(path,
      Option(options.get(SSTableSource.TargetSplitBytesOption)).map(_.toLong)
        .getOrElse(SSTableSource.DefaultTargetSplitBytes))
}

/** Index scan with the same key-range pushdown as the data source:
  * pushed `key` comparisons prune planned index windows via Summary
  * bounds, and a point lookup skips whole files whose bloom filter
  * excludes the key. All filters stay residual — pruning only skips IO,
  * Spark re-verifies rows. The reference's index surface never pruned
  * (SSTableIndexRecordReader.scala:29-30 scanned every window of every
  * split). */
final class SSTableIndexScanBuilder(path: String, targetSplitBytes: Long)
    extends ScanBuilder with Scan with Batch
    with org.apache.spark.sql.connector.read.SupportsPushDownFilters
    with org.apache.spark.sql.connector.read.SupportsPushDownRequiredColumns
    with org.apache.spark.sql.connector.read.SupportsPushDownLimit
    with org.apache.spark.sql.connector.read.SupportsPushDownTopN
    with org.apache.spark.sql.connector.read.SupportsReportOrdering {
  import org.apache.spark.sql.sources.Filter

  private var required: StructType = SSTableSchema.indexSchema
  private var pushed: Array[Filter] = Array.empty
  private val bounds = new KeyBounds
  private var limit: Option[Int] = None
  private var topN = false
  private val handle = StorageHandle(path,
    org.apache.spark.sql.SparkSession.active.sessionState.newHadoopConf())

  override def pushFilters(filters: Array[Filter]): Array[Filter] = {
    pushed = filters.filter(bounds.accept)
    filters
  }
  override def pushedFilters(): Array[Filter] = pushed
  override def pruneColumns(requiredSchema: StructType): Unit = {
    val names = requiredSchema.fields.map(_.name).toSet
    required = StructType(SSTableSchema.indexSchema.fields.filter(f => names.contains(f.name)))
  }

  /** Same LIMIT / top-n-on-key pushdown as the data source: index
    * windows stream entries in key order, so a partition's first `n`
    * entries are its top-n, and a plain limit just caps each reader.
    * Partial on both paths — Spark keeps the global limit / final sort. */
  override def pushLimit(n: Int): Boolean =
    if (n < 0) false else { limit = Some(n); true }
  override def pushTopN(orders: Array[
      org.apache.spark.sql.connector.expressions.SortOrder], n: Int): Boolean =
    if (!ReadPath.keyAscending(orders) || n < 0) false
    else { limit = Some(n); topN = true; true }
  override def isPartiallyPushed(): Boolean = true

  /** Each partition is one Index.db window of one generation. */
  override def outputOrdering():
      Array[org.apache.spark.sql.connector.expressions.SortOrder] =
    ReadPath.keyOrdering(required)

  override def build(): Scan = this
  override def readSchema(): StructType = required
  override def toBatch: Batch = this
  override def description(): String = {
    val prune = if (bounds.lo.isDefined || bounds.hi.isDefined) " keyRangePruned" else ""
    val lim = limit.map(n => if (topN) s" topN=$n(key asc)" else s" limit=$n")
      .getOrElse("")
    s"sstable-index $path$prune$lim"
  }
  /** The data source's parallel planner, with Index.db block locations
    * and the same Summary/bloom pruning. */
  override def planInputPartitions(): Array[InputPartition] = {
    val listed = ReadSnapshot(handle.get, path, "planning").listed
    val parts = SSTableScan.planPartitions(listed, handle,
      SSTableSource.DefaultDistributedPlanningThreshold, targetSplitBytes,
      bounds.lo.map(_._1), bounds.hi.map(_._1), bounds.eqKey, keys = None,
      hostsFromIndex = true)
    planMetrics.record(listed.length,
      parts.map(_.asInstanceOf[SSTablePartition].dataPath).distinct.length,
      parts.length)
    parts
  }
  /** The data scan's plan-time UI metrics, minus the shadow (the index
    * source never applies deletes). */
  private val planMetrics = new PlanMetrics(3)
  override def supportedCustomMetrics():
      Array[org.apache.spark.sql.connector.metric.CustomMetric] = planMetrics.supported
  override def reportDriverMetrics():
      Array[org.apache.spark.sql.connector.metric.CustomTaskMetric] = planMetrics.report()
  override def createReaderFactory(): PartitionReaderFactory =
    new IndexReaderFactory(required, handle, limit)
}

final class IndexReaderFactory(required: StructType,
                               handle: StorageHandle,
                               rowLimit: Option[Int] = None)
    extends PartitionReaderFactory {
  override def createReader(partition: InputPartition): PartitionReader[InternalRow] = {
    val inner = new IndexWindowReader(partition.asInstanceOf[SSTablePartition],
      required, handle.get)
    rowLimit.map(new CappedReader(inner, _)).getOrElse(inner)
  }
}
