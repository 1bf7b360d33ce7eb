package graft.sources.netcdf

import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.connector.read._
import org.apache.spark.sql.connector.write.DataWriter
import org.apache.spark.sql.types._

/** DataSourceV2 for directories of classic NetCDF files:
  * `spark.read.format("netcdf3").load(dir)` and
  * `df.write.format("netcdf3").save(dir)` — the shared
  * [[ContainerSource]] shell over [[NcContainer]].
  *
  * One InputPartition per chunk-aligned record range of each part file
  * — the distributed generalization of the reference's chunked
  * `yieldNumpyData` iteration — with variable pruning, record-range
  * pushdown and zone-map file pruning from the shared scan builder.
  *
  * Options: `chunkBytes` (read buffer and split floor, default 4 MiB),
  * `recordsPerPartition` (override split granularity),
  * `maxFilesPerTrigger` (streams).
  */
class NetCDF3Source extends ContainerSource(NcContainer)

object NetCDF3Util {
  def listNcFiles(fs: FileSystem, dir: Path): Seq[Path] = NcContainer.listFiles(fs, dir)

  /** Autotuned records-per-partition when the `recordsPerPartition`
    * option is absent: split the corpus into ≈3× `parallelism` scan
    * partitions (enough slots that stragglers rebalance, few enough
    * that per-task overhead stays negligible), clamped to
    *  - at least one chunk (the IO unit — smaller splits would re-read
    *    the same chunk from two tasks), rounded up to whole chunks;
    *  - at most `spark.sql.files.maxPartitionBytes` worth of records,
    *    matching the parquet scan's split ceiling, so one task never
    *    owns an unbounded record range on a huge corpus.
    * Sizing from file *metadata* (total records × record size) keeps
    * this O(#files) at plan time — no data is read. */
  def autotunePerPart(totalRecs: Long, recSize: Long, chunkBytes: Int,
      maxPartBytes: Long, parallelism: Int): Long = {
    val rs = math.max(recSize, 1L)
    val chunkRecs = math.max(1L, chunkBytes / rs)
    val maxRecs = math.max(chunkRecs, maxPartBytes / rs)
    val target = math.max(1L, totalRecs / math.max(1L, 3L * parallelism))
    val chunks = math.max(1L, (target + chunkRecs - 1) / chunkRecs)
    math.min(chunks * chunkRecs, maxRecs)
  }

  def maxPartitionBytes: Long =
    org.apache.spark.sql.internal.SQLConf.get.filesMaxPartitionBytes
}

/** Classic CDF-1/2/5 part files (`.nc`), their whole-file gzip form
  * (`.nc.gz`, not splittable) and the per-chunk deflated `.ncz`. */
object NcContainer extends ChunkedContainer {
  type Meta = NcFormat.NcMeta

  val name = "netcdf3"

  def isPart(file: Path): Boolean = {
    val n = file.getName
    n.endsWith(".nc") || n.endsWith(".nc.gz") || n.endsWith(".ncz")
  }

  def readMeta(fs: FileSystem, file: Path): Meta = NcFormat.readMeta(fs, file)
  def numRecs(meta: Meta): Long = meta.numRecs
  def sparkSchema(meta: Meta): StructType = meta.sparkSchema
  def zoneMap(meta: Meta, variable: String): Option[(Double, Double)] =
    meta.recordVars.find(_.name == variable).flatMap(_.range)

  /** The record stride against the `chunkBytes` read buffer. */
  def splitGeometry(first: Option[Meta], required: StructType,
      options: Map[String, String]): (Long, Int) =
    (first.map(_.recSize).getOrElse(1L),
      options.getOrElse("chunkbytes", (4 << 20).toString).toInt)

  override def splittable(file: Path): Boolean = !NcFormat.isGzip(file)

  def partition(file: Path, localStart: Long, localEnd: Long, fileOffset: Long,
      chunkBytes: Int): InputPartition =
    NcInputPartition(file.toString, localStart, localEnd, fileOffset, chunkBytes)

  def readerFactory(required: StructType, serConf: SerializableHadoopConf): PartitionReaderFactory =
    new NcReaderFactory(required, serConf)

  override def checkWriteOptions(options: Map[String, String]): Unit =
    require(!(options.get("compress").exists(_.toBoolean) &&
        options.get("compresschunks").exists(_.toBoolean)),
      "choose one of compress (.nc.gz) or compressChunks (.ncz)")

  def dataWriter(schema: StructType, dir: String, baseName: String,
      options: Map[String, String], serConf: SerializableHadoopConf): DataWriter[InternalRow] =
    new NcDataWriter(schema, dir, baseName, options, serConf)
}

case class NcInputPartition(
    file: String,
    localStart: Long, // record range within the file
    localEnd: Long,
    fileOffset: Long, // global index of the file's record 0
    chunkBytes: Int) extends InputPartition

class NcReaderFactory(required: StructType, serConf: SerializableHadoopConf)
    extends PartitionReaderFactory {
  override def createReader(partition: InputPartition): PartitionReader[InternalRow] =
    new NcPartitionReader(partition.asInstanceOf[NcInputPartition], required, serConf)

  /** All variable shapes decode straight into column vectors — one
    * typed fill loop per variable per chunk, no per-row branching:
    * scalars via direct puts, NC_CHAR strings via zero-copy
    * putByteArray from the chunk buffer, rank-2 numeric arrays via
    * child-vector appends. The row reader remains only as a fallback
    * for types the fill loops don't cover. */
  override def supportColumnarReads(partition: InputPartition): Boolean =
    required.fields.forall(f => f.name == "record" || (f.dataType match {
      case DoubleType | FloatType | IntegerType | LongType | ShortType | ByteType => true
      case StringType => true
      case ArrayType(DoubleType | FloatType | IntegerType | LongType, _) => true
      case _ => false
    }))

  override def createColumnarReader(
      partition: InputPartition): PartitionReader[org.apache.spark.sql.vectorized.ColumnarBatch] =
    new NcColumnarReader(partition.asInstanceOf[NcInputPartition], required, serConf)
}

/** Vectorized reader: each loaded chunk becomes one ColumnarBatch. */
class NcColumnarReader(part: NcInputPartition, required: StructType,
    serConf: SerializableHadoopConf)
    extends PartitionReader[org.apache.spark.sql.vectorized.ColumnarBatch] {

  import org.apache.spark.sql.execution.vectorized.OnHeapColumnVector
  import org.apache.spark.sql.vectorized.ColumnarBatch

  private val path = new Path(part.file)
  private val fs = path.getFileSystem(serConf.value)
  private val meta = NcFormat.readMeta(fs, path)
  private val varNames = required.fieldNames.filterNot(_ == "record").toSeq
  private val reader = new NcFormat.RangeReader(
    fs, path, meta, part.localStart, part.localEnd, varNames, part.chunkBytes)

  private val vectors: Array[OnHeapColumnVector] =
    required.fields.map(f => new OnHeapColumnVector(reader.recordsPerChunk, f.dataType))
  private val batch = new ColumnarBatch(vectors.toArray[org.apache.spark.sql.vectorized.ColumnVector])

  override def next(): Boolean = {
    if (!reader.hasNext) return false
    val n = reader.loadChunk()
    val base = part.fileOffset + reader.chunkStartRecord
    var out = 0
    var slot = 0
    required.fields.foreach { f =>
      val v = vectors(out)
      v.reset()
      if (f.name == "record") {
        var i = 0
        while (i < n) { v.putLong(i, base + i); i += 1 }
      } else {
        import NcFormat._
        val m = reader.slotElems(slot)
        if (reader.slotType(slot) == NC_CHAR) {
          // NC_CHAR slab → string: zero-copy from the chunk buffer,
          // trailing NULs trimmed (fixed-width padding)
          val buf = reader.rawBuf
          var i = 0
          while (i < n) {
            val base = reader.slotOffset(slot, i)
            var len = m
            while (len > 0 && buf(base + len - 1) == 0) len -= 1
            v.putByteArray(i, buf, base, len)
            i += 1
          }
        } else if (m > 1) {
          // rank-2 numeric slab → array column: elements append into
          // the child vector, offsets are the regular i*m stride
          val child = v.arrayData()
          reader.slotType(slot) match {
            case NC_DOUBLE =>
              var i = 0
              while (i < n) {
                var k = 0
                while (k < m) { child.appendDouble(reader.getDoubleElem(slot, i, k)); k += 1 }
                v.putArray(i, i * m, m); i += 1
              }
            case NC_FLOAT =>
              var i = 0
              while (i < n) {
                var k = 0
                while (k < m) { child.appendFloat(reader.getFloatElem(slot, i, k)); k += 1 }
                v.putArray(i, i * m, m); i += 1
              }
            case NC_INT =>
              var i = 0
              while (i < n) {
                var k = 0
                while (k < m) { child.appendInt(reader.getIntElem(slot, i, k)); k += 1 }
                v.putArray(i, i * m, m); i += 1
              }
            case NC_INT64 =>
              var i = 0
              while (i < n) {
                var k = 0
                while (k < m) { child.appendLong(reader.getLongElem(slot, i, k)); k += 1 }
                v.putArray(i, i * m, m); i += 1
              }
          }
        } else reader.slotType(slot) match {
          case NC_DOUBLE =>
            var i = 0; while (i < n) { v.putDouble(i, reader.getDoubleAt(slot, i)); i += 1 }
          case NC_FLOAT =>
            var i = 0; while (i < n) { v.putFloat(i, reader.getFloatAt(slot, i)); i += 1 }
          case NC_INT =>
            var i = 0; while (i < n) { v.putInt(i, reader.getIntAt(slot, i)); i += 1 }
          case NC_INT64 =>
            var i = 0; while (i < n) { v.putLong(i, reader.getLongAt(slot, i)); i += 1 }
          case NC_SHORT =>
            var i = 0; while (i < n) { v.putShort(i, reader.getShortAt(slot, i)); i += 1 }
          case NC_BYTE =>
            var i = 0; while (i < n) { v.putByte(i, reader.getByteAt(slot, i)); i += 1 }
        }
        slot += 1
      }
      out += 1
    }
    batch.setNumRows(n)
    true
  }

  override def get(): ColumnarBatch = batch
  override def close(): Unit = { batch.close(); reader.close() }
}

class NcPartitionReader(part: NcInputPartition, required: StructType,
    serConf: SerializableHadoopConf)
    extends PartitionReader[InternalRow] {

  private val path = new Path(part.file)
  private val fs = path.getFileSystem(serConf.value)
  private val meta = NcFormat.readMeta(fs, path)
  private val varNames = required.fieldNames.filterNot(_ == "record").toSeq
  private val reader = new NcFormat.RangeReader(
    fs, path, meta, part.localStart, part.localEnd, varNames, part.chunkBytes)

  private var inChunk = 0
  private var chunkSize = 0
  private val row =
    new org.apache.spark.sql.catalyst.expressions.GenericInternalRow(required.size)

  override def next(): Boolean = {
    if (inChunk >= chunkSize) {
      if (!reader.hasNext) return false
      chunkSize = reader.loadChunk()
      inChunk = 0
    }
    var out = 0
    var slot = 0
    required.fields.foreach { f =>
      if (f.name == "record") {
        row.update(out, part.fileOffset + reader.chunkStartRecord + inChunk)
      } else {
        val v = reader.getValue(slot, inChunk) match {
          case b: Array[Byte] if f.dataType == StringType =>
            // NC_CHAR slab: trim trailing NULs
            var n = b.length
            while (n > 0 && b(n - 1) == 0) n -= 1
            org.apache.spark.unsafe.types.UTF8String.fromBytes(b, 0, n)
          case a: Array[Any] =>
            new org.apache.spark.sql.catalyst.util.GenericArrayData(a)
          case other => other
        }
        row.update(out, v)
        slot += 1
      }
      out += 1
    }
    inChunk += 1
    true
  }

  override def get(): InternalRow = row
  override def close(): Unit = reader.close()
}
