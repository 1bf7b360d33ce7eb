package graft.sources.netcdf

import java.util

import scala.jdk.CollectionConverters._

import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.SparkContext
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.connector.catalog.{SupportsRead, SupportsWrite, Table, TableCapability, TableProvider}
import org.apache.spark.sql.connector.expressions.Transform
import org.apache.spark.sql.connector.read._
import org.apache.spark.sql.connector.read.streaming.{MicroBatchStream, Offset, ReadLimit, ReadMaxFiles, SupportsAdmissionControl}
import org.apache.spark.sql.connector.write._
import org.apache.spark.sql.connector.write.streaming.{StreamingDataWriterFactory, StreamingWrite}
import org.apache.spark.sql.sources
import org.apache.spark.sql.types._
import org.apache.spark.sql.util.CaseInsensitiveStringMap

/** A directory of chunked record-container part files, as the shared
  * DSv2 shell sees it. Both on-disk generations are the same idea —
  * records along an unlimited dimension, stored in chunks, with a
  * header that gives the record count, the variables and their
  * `actual_range` zone maps — so the provider, table, scan builder,
  * planner, micro-batch stream and write shell below exist once, and
  * a format supplies only what is really its own: the header codec,
  * the part-file name filter, the split rules, the reader factory and
  * the task-side DataWriter.
  *
  * Implementations: [[NcContainer]] (classic CDF-1/2/5, `.nc.gz`,
  * `.ncz`) and [[H5Container]] (netCDF-4/HDF5). */
trait ChunkedContainer extends Serializable {

  /** One part file's parsed header. */
  type Meta

  /** Short name (`netcdf3` | `netcdf4`). */
  def name: String

  /** Whether `file` is one of this format's part files. */
  def isPart(file: Path): Boolean

  def readMeta(fs: FileSystem, file: Path): Meta
  def numRecs(meta: Meta): Long
  /** Record variables as Spark fields (without the virtual `record`). */
  def sparkSchema(meta: Meta): StructType
  /** The `actual_range` zone map of a record variable, when recorded. */
  def zoneMap(meta: Meta, variable: String): Option[(Double, Double)]

  /** (record bytes, chunk bytes) the autotuner sizes splits from,
    * given the first file of the planned window (None when empty). */
  def splitGeometry(first: Option[Meta], required: StructType,
      options: Map[String, String]): (Long, Int)

  /** Whether a part file splits into record ranges; a whole-file
    * gzip stream decompresses sequentially and does not. */
  def splittable(file: Path): Boolean = true

  /** The scan partition for records [localStart, localEnd) of `file`,
    * whose record 0 has global index `fileOffset`; `chunkBytes` is the
    * chunk budget from [[splitGeometry]]. */
  def partition(file: Path, localStart: Long, localEnd: Long, fileOffset: Long,
      chunkBytes: Int): InputPartition

  def readerFactory(required: StructType, serConf: SerializableHadoopConf): PartitionReaderFactory

  /** Option checks that must fail on the driver, before any task runs. */
  def checkWriteOptions(options: Map[String, String]): Unit = ()

  /** One task's part-file writer, landing `dir/<baseName>.<ext>`. */
  def dataWriter(schema: StructType, dir: String, baseName: String,
      options: Map[String, String], serConf: SerializableHadoopConf): DataWriter[InternalRow]

  /** A file path loads as that one file; a directory as its part files
    * in name order — the order that fixes each file's global record
    * offset (MFDataset semantics). */
  def listFiles(fs: FileSystem, dir: Path): Seq[Path] = {
    if (!fs.exists(dir)) return Seq.empty
    if (fs.getFileStatus(dir).isFile) Seq(dir)
    else fs.listStatus(dir).toSeq
      .filter(s => s.isFile && isPart(s.getPath))
      .map(_.getPath)
      .sortBy(_.getName)
  }
}

/** The TableProvider over a [[ChunkedContainer]]:
  * `spark.read.format(name).load(dirOrFile)` and
  * `df.write.format(name).save(dir)`. */
abstract class ContainerSource(c: ChunkedContainer)
    extends TableProvider with sources.DataSourceRegister {

  override def shortName(): String = c.name

  /** The first part file's record variables behind the virtual
    * `record` column. A directory without part files has no schema to
    * infer and fails here; writes never get this far (see
    * [[supportsExternalMetadata]]), and a stream over a directory that
    * starts empty passes its schema with `readStream.schema(...)`. */
  override def inferSchema(options: CaseInsensitiveStringMap): StructType = {
    val dir = options.get("path")
    require(dir != null, s"${c.name} requires a path")
    val p = new Path(dir)
    val fs = p.getFileSystem(SparkContext.getOrCreate().hadoopConfiguration)
    val files = c.listFiles(fs, p)
    require(files.nonEmpty, s"no ${c.name} part files under $dir")
    val full = StructType(StructField("record", LongType, nullable = false) +:
      c.sparkSchema(c.readMeta(fs, files.head)).fields.toSeq)
    // GROUP scoping: variables are path-named ("fc/t2m" — real HDF5
    // subgroups in netCDF-4, a flat namespace convention in classic
    // files), and `.option("group", "fc")` restricts the table at
    // header level, so group selection is structural column pruning
    Option(options.get("group")) match {
      case None => full
      case Some(g) =>
        val pfx = g.stripSuffix("/") + "/"
        StructType(full.fields.filter(f =>
          f.name == "record" || f.name.startsWith(pfx)))
    }
  }

  /** Writes hand the query's schema straight to [[getTable]] (no
    * directory to infer from when creating a dataset), reads without a
    * user schema still go through [[inferSchema]]. */
  override def supportsExternalMetadata(): Boolean = true

  override def getTable(
      schema: StructType,
      partitioning: Array[Transform],
      properties: util.Map[String, String]): Table =
    new ContainerTable(c, schema, properties.get("path"))
}

class ContainerTable(c: ChunkedContainer, tableSchema: StructType, dir: String)
    extends Table with SupportsRead with SupportsWrite {

  override def name(): String = s"${c.name}:$dir"
  override def schema(): StructType = tableSchema
  override def capabilities(): util.Set[TableCapability] =
    Set(TableCapability.BATCH_READ, TableCapability.MICRO_BATCH_READ,
      TableCapability.BATCH_WRITE, TableCapability.TRUNCATE,
      TableCapability.STREAMING_WRITE).asJava

  override def newScanBuilder(options: CaseInsensitiveStringMap): ScanBuilder =
    new ContainerScanBuilder(c, tableSchema, dir, options.asScala.toMap)

  override def newWriteBuilder(info: LogicalWriteInfo): WriteBuilder =
    new ContainerWriteBuilder(c, info.schema(), dir, info.options().asScala.toMap)
}

/** Variable pruning (only the requested variables are decoded) and
  * record-range pushdown on the virtual `record` column (the global
  * record index): >, >=, <, <=, = bounds prune whole chunks and files
  * at planning time, so a slice of a huge variable touches only the
  * covering byte ranges. */
class ContainerScanBuilder(c: ChunkedContainer, fullSchema: StructType, dir: String,
    options: Map[String, String])
    extends ScanBuilder with SupportsPushDownRequiredColumns with SupportsPushDownFilters {

  private var required: StructType = fullSchema
  private var lower: Long = 0L
  private var upper: Long = Long.MaxValue
  private var pushed: Array[sources.Filter] = Array.empty
  /** per-variable closed value bounds for zone-map file pruning */
  private var valueBounds: Map[String, (Double, Double)] = Map.empty

  override def pruneColumns(requiredSchema: StructType): Unit =
    required = requiredSchema

  /** Accept exact record-index bounds. Value comparisons on data
    * columns are *observed* for zone-map file pruning (the writers'
    * automatic `actual_range` attributes) but returned to Spark for
    * re-evaluation, so pruning only has to be conservative, never
    * exact. */
  override def pushFilters(filters: Array[sources.Filter]): Array[sources.Filter] = {
    def bound(v: Any): Option[Long] = v match {
      case n: Number => Some(n.longValue())
      case _ => None
    }
    def dbl(v: Any): Option[Double] = v match {
      case n: Number => Some(n.doubleValue())
      case _ => None
    }
    def tighten(colName: String, lo: Double, hi: Double): Unit = {
      val (clo, chi) = valueBounds.getOrElse(colName,
        (Double.NegativeInfinity, Double.PositiveInfinity))
      valueBounds += colName -> (math.max(clo, lo), math.min(chi, hi))
    }
    val (accepted, rest) = filters.partition {
      case sources.GreaterThan("record", v) => bound(v).isDefined
      case sources.GreaterThanOrEqual("record", v) => bound(v).isDefined
      case sources.LessThan("record", v) => bound(v).isDefined
      case sources.LessThanOrEqual("record", v) => bound(v).isDefined
      case sources.EqualTo("record", v) => bound(v).isDefined
      case _ => false
    }
    accepted.foreach {
      case sources.GreaterThan("record", v) => lower = math.max(lower, bound(v).get + 1)
      case sources.GreaterThanOrEqual("record", v) => lower = math.max(lower, bound(v).get)
      case sources.LessThan("record", v) => upper = math.min(upper, bound(v).get)
      case sources.LessThanOrEqual("record", v) => upper = math.min(upper, bound(v).get + 1)
      case sources.EqualTo("record", v) =>
        lower = math.max(lower, bound(v).get); upper = math.min(upper, bound(v).get + 1)
      case _ =>
    }
    rest.foreach {
      case sources.GreaterThan(c, v) => dbl(v).foreach(x => tighten(c, x, Double.PositiveInfinity))
      case sources.GreaterThanOrEqual(c, v) => dbl(v).foreach(x => tighten(c, x, Double.PositiveInfinity))
      case sources.LessThan(c, v) => dbl(v).foreach(x => tighten(c, Double.NegativeInfinity, x))
      case sources.LessThanOrEqual(c, v) => dbl(v).foreach(x => tighten(c, Double.NegativeInfinity, x))
      case sources.EqualTo(c, v) => dbl(v).foreach(x => tighten(c, x, x))
      case _ =>
    }
    pushed = accepted
    rest
  }

  override def pushedFilters(): Array[sources.Filter] = pushed

  override def build(): Scan =
    new ContainerScan(c, required, dir, lower, upper, valueBounds, options)
}

/** Options: `recordsPerPartition` overrides the autotuned split
  * granularity; the formats read their own chunk options (see
  * [[ChunkedContainer.splitGeometry]]). */
class ContainerScan(private[netcdf] val c: ChunkedContainer, required: StructType, dir: String,
    lower: Long, upper: Long, valueBounds: Map[String, (Double, Double)],
    options: Map[String, String]) extends Scan with Batch {

  // captured on the driver at scan build time, shipped to executors
  private val serConf =
    new SerializableHadoopConf(SparkContext.getOrCreate().hadoopConfiguration)

  override def readSchema(): StructType = required
  override def toBatch: Batch = this
  override def description(): String = {
    val hi = if (upper == Long.MaxValue) "inf" else upper.toString
    s"${c.name} $dir records=[$lower,$hi) vars=[${required.fieldNames.mkString(",")}]"
  }

  override def planInputPartitions(): Array[InputPartition] = {
    val p = new Path(dir)
    val fs = p.getFileSystem(SparkContext.getOrCreate().hadoopConfiguration)
    plan(c.listFiles(fs, p), c.readMeta(fs, _), 0, Int.MaxValue)
  }

  /** The one planning loop, batch and stream: header metadata →
    * autotune → zone-map prune → split. Only the files at list
    * positions [s, e) are planned (a micro-batch's new files; all of
    * them for a batch scan); every file before them still advances the
    * global record offset, which stays the cumulative record count of
    * the files before it in name order.
    *
    * The split size is autotuned over the planned files' records
    * ([[NetCDF3Util.autotunePerPart]]: ≈3× cores partitions, at least
    * one chunk, at most `maxPartitionBytes`), so a boundary chunk is
    * re-read by at most one neighbor task. */
  private[netcdf] def plan(files: Seq[Path], metaOf: Path => c.Meta,
      s: Int, e: Int): Array[InputPartition] = {
    val metas = files.map(f => f -> metaOf(f))
    val window = metas.slice(s, e)
    val (recSize, chunkBytes) = c.splitGeometry(window.headOption.map(_._2), required, options)
    val perPart = options.get("recordsperpartition").map(_.toLong).getOrElse {
      NetCDF3Util.autotunePerPart(
        window.map(m => c.numRecs(m._2)).sum,
        recSize,
        chunkBytes,
        NetCDF3Util.maxPartitionBytes,
        SparkContext.getOrCreate().defaultParallelism)
    }
    var offset = 0L
    val parts = Array.newBuilder[InputPartition]
    metas.zipWithIndex.foreach { case ((f, meta), idx) =>
      val n = c.numRecs(meta)
      val lo = math.max(lower, offset)
      val hi = math.min(upper, offset + n)
      // zone-map skip: the whole file is prunable when any filtered
      // variable's actual_range is disjoint from the filter bounds
      def zonePruned = valueBounds.exists { case (colName, (vlo, vhi)) =>
        c.zoneMap(meta, colName).exists { case (fMin, fMax) => fMin > vhi || fMax < vlo }
      }
      if (idx >= s && idx < e && lo < hi && !zonePruned) {
        if (!c.splittable(f)) {
          // one partition per unsplittable file (record bounds still
          // trim its leading/trailing records)
          parts += c.partition(f, lo - offset, hi - offset, offset, chunkBytes)
        } else {
          var a = lo
          while (a < hi) {
            val b = math.min(a + perPart, hi)
            parts += c.partition(f, a - offset, b - offset, offset, chunkBytes)
            a = b
          }
        }
      }
      offset += n
    }
    parts.result()
  }

  override def createReaderFactory(): PartitionReaderFactory =
    c.readerFactory(required, serConf)

  override def toMicroBatchStream(checkpointLocation: String): MicroBatchStream =
    new ContainerStream(this, dir, options)
}

/** Offset = number of part files ingested. Part files are immutable
  * (the writers land them with a temp rename) and the streaming
  * contract is that new files sort after already-seen ones (e.g.
  * timestamped names), mirroring the reference's append-only streamed
  * variable. */
case class NcOffset(fileCount: Int) extends Offset {
  override def json(): String = "{\"fileCount\":" + fileCount + "}"
}

/** Micro-batch stream over a growing directory of part files: each
  * batch covers the files that appeared since the last offset, planned
  * by the batch scan's own [[ContainerScan.plan]] over that window. The
  * virtual `record` column stays globally consistent: each file's base
  * index is the cumulative record count of all files before it in
  * sorted order. */
class ContainerStream(scan: ContainerScan, dir: String, options: Map[String, String])
    extends MicroBatchStream with SupportsAdmissionControl {

  private def fs =
    new Path(dir).getFileSystem(SparkContext.getOrCreate().hadoopConfiguration)
  private def files: Seq[Path] = scan.c.listFiles(fs, new Path(dir))
  // part files are immutable: header metadata is read once per file,
  // so per-batch planning is O(new files) header reads, not O(all)
  private val metaCache = scala.collection.mutable.HashMap.empty[String, scan.c.Meta]

  override def initialOffset(): Offset = NcOffset(0)
  override def latestOffset(): Offset = NcOffset(files.size)

  /** Rate limiting (`maxFilesPerTrigger` option): cap how many new
    * part files each micro-batch admits — the standard back-pressure
    * lever when a burst of files lands on a continuously-ingesting
    * stream (without it, one giant catch-up batch monopolizes the
    * cluster and checkpoint progress becomes all-or-nothing). */
  override def getDefaultReadLimit: ReadLimit =
    options.get("maxfilespertrigger")
      .map(n => ReadLimit.maxFiles(n.toInt))
      .getOrElse(ReadLimit.allAvailable())

  override def latestOffset(start: Offset, limit: ReadLimit): Offset = {
    val s = start.asInstanceOf[NcOffset].fileCount
    limit match {
      case mf: ReadMaxFiles => NcOffset(math.min(files.size, s + mf.maxFiles()))
      case _ => NcOffset(files.size)
    }
  }

  override def reportLatestOffset(): Offset = NcOffset(files.size)

  override def deserializeOffset(json: String): Offset =
    NcOffset("\\d+".r.findFirstIn(json).map(_.toInt).getOrElse(0))
  override def commit(end: Offset): Unit = ()
  override def stop(): Unit = ()

  override def planInputPartitions(start: Offset, end: Offset): Array[InputPartition] = {
    val fsNow = fs
    scan.plan(files, f => metaCache.getOrElseUpdate(f.toString, scan.c.readMeta(fsNow, f)),
      start.asInstanceOf[NcOffset].fileCount, end.asInstanceOf[NcOffset].fileCount)
  }

  override def createReaderFactory(): PartitionReaderFactory = scan.createReaderFactory()
}

/** The write shell both formats share — the Spark-native form of the
  * reference's headline API (`createStreamerVariable` +
  * `streamNumpyData`):
  *
  *   - batch:  `df.write.format(name).mode("append"|"overwrite").save(dir)`
  *   - stream: `df.writeStream.format(name).option("path", dir).start()`
  *
  * Each task streams its rows into one part file through its format's
  * chunk buffer ([[ChunkedContainer.dataWriter]]), and each micro-batch
  * of a streaming query appends `part-e<epoch>-<pid>` files. File names
  * are deterministic per (epoch, partition) and land via temp-name
  * rename, so Spark's task/epoch retries replace rather than duplicate —
  * append-only exactly-once without a commit log (the reader's offset
  * is the sorted file list, and a replaced file keeps its name and sort
  * position).
  *
  * Shared options: `partPrefix` (distinguishes independent append jobs
  * into one dir — same-name parts replace by design). */
class ContainerWriteBuilder(c: ChunkedContainer, schema: StructType, dir: String,
    options: Map[String, String]) extends WriteBuilder with SupportsTruncate {

  require(dir != null, s"${c.name} write requires a path")
  require(!schema.fieldNames.contains("record"),
    s"column name `record` is reserved for the ${c.name} record index")
  c.checkWriteOptions(options)
  private var truncateFirst = false

  override def truncate(): WriteBuilder = { truncateFirst = true; this }

  override def build(): Write = {
    val truncate = truncateFirst
    new Write {
      override def toBatch: BatchWrite = commitProtocol(truncate)
      override def toStreaming: StreamingWrite = commitProtocol(truncate)
      override def description(): String = s"${c.name} write $dir"
    }
  }

  /** Driver-side target-dir preparation, before any task starts
    * renaming into it: truncate deletes any previous contents
    * (overwrite semantics); both modes ensure the dir exists. */
  private def commitProtocol(truncate: Boolean): ContainerCommit = {
    val hconf = SparkContext.getOrCreate().hadoopConfiguration
    val p = new Path(dir)
    val fs = p.getFileSystem(hconf)
    if (truncate && fs.exists(p)) fs.delete(p, true)
    fs.mkdirs(p)
    new ContainerCommit(ContainerWriterFactory(c, schema, dir, options,
      new SerializableHadoopConf(hconf)))
  }
}

/** Batch and streaming commit in one: the per-task rename-into-place
  * (guarded by Spark's output commit coordinator) is the whole commit,
  * so nothing is left to do at job or epoch level. */
private[netcdf] class ContainerCommit(factory: ContainerWriterFactory)
    extends BatchWrite with StreamingWrite {
  override def useCommitCoordinator(): Boolean = true
  override def createBatchWriterFactory(info: PhysicalWriteInfo): DataWriterFactory = factory
  override def createStreamingWriterFactory(info: PhysicalWriteInfo): StreamingDataWriterFactory =
    factory
  override def commit(messages: Array[WriterCommitMessage]): Unit = ()
  override def abort(messages: Array[WriterCommitMessage]): Unit = ()
  override def commit(epochId: Long, messages: Array[WriterCommitMessage]): Unit = ()
  override def abort(epochId: Long, messages: Array[WriterCommitMessage]): Unit = ()
}

private[netcdf] case class NcFileCommitted(name: String, records: Long)
  extends WriterCommitMessage

private[netcdf] case class ContainerWriterFactory(c: ChunkedContainer, schema: StructType,
    dir: String, options: Map[String, String], serConf: SerializableHadoopConf)
    extends DataWriterFactory with StreamingDataWriterFactory {

  private def prefix: String = options.get("partprefix").map(p => s"$p-").getOrElse("")

  override def createWriter(partitionId: Int, taskId: Long): DataWriter[InternalRow] =
    c.dataWriter(schema, dir, s"part-$prefix" + f"$partitionId%05d", options, serConf)

  override def createWriter(partitionId: Int, taskId: Long,
      epochId: Long): DataWriter[InternalRow] =
    c.dataWriter(schema, dir, s"part-$prefix" + f"e$epochId%05d-$partitionId%05d",
      options, serConf)
}
