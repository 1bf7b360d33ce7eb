package graft.perfbench

import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.types._

import graft.sources.netcdf.{Hdf5Format, NcFormat}

/** Traced runs replay the codec over the files a workload wrote,
  * outside Spark, through the same public calls the DSv2 readers and
  * writers make: header parse + chunk-index walk (`readMeta`), chunk
  * decode through the partition readers' typed accessors, and encode
  * of the decoded rows through a fresh writer. Decode and encode stop
  * after `budget` user bytes so a replay stays bounded on a large
  * store. Each call is a `codec` span. */
object CodecReplay {

  private def mb(bytes: Long, ns: Long): Double =
    if (ns <= 0) 0.0 else bytes / 1e6 / (ns / 1e9)

  private def timed[T](body: => T): (T, Long) = {
    val t0 = System.nanoTime()
    val r = body
    (r, System.nanoTime() - t0)
  }

  /** netCDF-4 / HDF5 replay. `writer` builds an encoder for a file's
    * schema with the options the workload wrote it with. */
  def h5(fs: FileSystem, files: Seq[Path], budget: Long, tracer: Tracer,
      writer: StructType => Hdf5Format.Hdf5Writer): Map[String, Double] = {
    var metaNs = 0L; var chunks = 0L; var decBytes = 0L; var decNs = 0L
    var encBytes = 0L; var encNs = 0L
    files.foreach { f =>
      val (meta, ns) = timed(tracer.span("codec", s"h5.readMeta ${f.getName}")(Hdf5Format.readMeta(fs, f)))
      metaNs += ns
      chunks += meta.vars.map(_.chunks.length.toLong).sum
      if (decBytes < budget) {
        val ((cols, bytes), dns) = timed(tracer.span("codec", s"h5.decode ${f.getName}")(decodeH5(fs, f, meta)))
        decBytes += bytes; decNs += dns
        val schema = StructType(meta.vars.map(v => StructField(v.name, sparkType(v.kind), nullable = false)))
        val (_, ens) = timed(tracer.span("codec", s"h5.encode ${f.getName}") {
          val w = writer(schema)
          var r = 0
          while (r < meta.numRecs) {
            var c = 0
            while (c < cols.length) { putH5(w, c, cols(c), r); c += 1 }
            r += 1
          }
          w.finish()
        })
        encBytes += bytes; encNs += ens
      }
    }
    val n = math.max(1, files.size)
    Map(
      "codec.h5.read_meta_ms" -> metaNs / 1e6 / n,
      "codec.h5.chunks_indexed" -> chunks.toDouble / n,
      "codec.h5.decode_MBps" -> mb(decBytes, decNs),
      "codec.h5.encode_MBps" -> mb(encBytes, encNs),
      "codec.h5.stored_bytes" -> files.map(fs.getFileStatus(_).getLen).sum.toDouble)
  }

  /** Classic / chunk-compressed (.ncz) replay; encodes into `spool`. */
  def nc3(fs: FileSystem, files: Seq[Path], budget: Long, tracer: Tracer,
      spool: java.io.File, chunkBytes: Int): Map[String, Double] = {
    var metaNs = 0L; var decBytes = 0L; var decNs = 0L; var encBytes = 0L; var encNs = 0L
    files.foreach { f =>
      val (meta, ns) = timed(tracer.span("codec", s"nc3.readMeta ${f.getName}")(NcFormat.readMeta(fs, f)))
      metaNs += ns
      if (decBytes < budget) {
        val ((cols, bytes), dns) = timed(tracer.span("codec", s"nc3.decode ${f.getName}")(decodeNc3(fs, f, meta)))
        decBytes += bytes; decNs += dns
        val schema = meta.sparkSchema
        val lens = schema.fields.collect { case StructField(n, ArrayType(_, _), _, _) =>
          n -> meta.recordVars.find(_.name == n).map(v => (v.slabSize(meta.dims) / NcFormat.typeSize(v.ncType)).toInt).get
        }.toMap
        val (_, ens) = timed(tracer.span("codec", s"nc3.encode ${f.getName}") {
          val w = new NcFormat.Writer(spool.getPath, schema, chunkBytes, lens, compressChunks = true)
          var r = 0
          while (r < meta.numRecs) { val rr = r; w.writeRow(c => cols(c)(rr)); r += 1 }
          w.close()
        })
        encBytes += bytes; encNs += ens
        spool.delete()
      }
    }
    val n = math.max(1, files.size)
    Map(
      "codec.nc3.read_meta_ms" -> metaNs / 1e6 / n,
      "codec.nc3.decode_MBps" -> mb(decBytes, decNs),
      "codec.nc3.encode_MBps" -> mb(encBytes, encNs),
      "codec.nc3.stored_bytes" -> files.map(fs.getFileStatus(_).getLen).sum.toDouble)
  }

  private def sparkType(k: Hdf5Format.H5Kind): DataType = k match {
    case Hdf5Format.KLong => LongType
    case Hdf5Format.KInt => IntegerType
    case Hdf5Format.KDouble => DoubleType
    case Hdf5Format.KFloat => FloatType
    case Hdf5Format.KFloatArr(_) => ArrayType(FloatType, containsNull = false)
    case o => throw new IllegalArgumentException(s"replay does not cover $o")
  }

  /** Decode every record of every variable; returns per-variable
    * column arrays and the user bytes decoded. */
  private def decodeH5(fs: FileSystem, f: Path, meta: Hdf5Format.H5Meta): (Array[AnyRef], Long) = {
    val n = meta.numRecs
    var bytes = 0L
    val cols = meta.vars.map { v =>
      val r = new Hdf5Format.VarReader(fs, f, v, 0L, n)
      try {
        val col: AnyRef = v.kind match {
          case Hdf5Format.KLong => Array.tabulate(n.toInt)(i => r.getLong(i))
          case Hdf5Format.KInt => Array.tabulate(n.toInt)(i => r.getInt(i))
          case Hdf5Format.KDouble => Array.tabulate(n.toInt)(i => r.getDouble(i))
          case Hdf5Format.KFloat => Array.tabulate(n.toInt)(i => r.getFloat(i))
          case Hdf5Format.KFloatArr(k) =>
            Array.tabulate(n.toInt)(i => Array.tabulate(k)(j => r.getFloatElem(i, j)))
          case o => throw new IllegalArgumentException(s"replay does not cover $o")
        }
        bytes += n * v.kind.rowBytes
        col
      } finally r.close()
    }.toArray
    (cols, bytes)
  }

  private def putH5(w: Hdf5Format.Hdf5Writer, c: Int, col: AnyRef, r: Int): Unit = col match {
    case a: Array[Long] => w.putLongAt(c, a(r))
    case a: Array[Int] => w.putIntAt(c, a(r))
    case a: Array[Double] => w.putDoubleAt(c, a(r))
    case a: Array[Float] => w.putFloatAt(c, a(r))
    case a: Array[Array[Float]] => w.putFloatArrAt(c, a(r))
  }

  /** Decode through RangeReader chunk loads; returns per-variable
    * record accessors (boxed as the Writer's writeRow expects). */
  private def decodeNc3(fs: FileSystem, f: Path, meta: NcFormat.NcMeta): (Array[Int => Any], Long) = {
    val names = meta.recordVars.map(_.name)
    val n = meta.numRecs.toInt
    val rr = new NcFormat.RangeReader(fs, f, meta, 0L, meta.numRecs, names)
    val cols: Array[Array[Any]] = Array.fill(names.size)(new Array[Any](n))
    try {
      while (rr.hasNext) {
        val got = rr.loadChunk()
        val base = rr.chunkStartRecord.toInt
        var slot = 0
        while (slot < names.size) {
          val m = rr.slotElems(slot)
          val t = rr.slotType(slot)
          var i = 0
          while (i < got) {
            cols(slot)(base + i) =
              if (m > 1 && t == NcFormat.NC_FLOAT) { val a = new Array[Float](m); var k = 0
                while (k < m) { a(k) = rr.getFloatElem(slot, i, k); k += 1 }; a }
              else if (t == NcFormat.NC_DOUBLE) rr.getDoubleAt(slot, i)
              else if (t == NcFormat.NC_FLOAT) rr.getFloatAt(slot, i)
              else if (t == NcFormat.NC_INT) rr.getIntAt(slot, i)
              else if (t == NcFormat.NC_INT64) rr.getLongAt(slot, i)
              else rr.getValue(slot, i)
            i += 1
          }
          slot += 1
        }
      }
    } finally rr.close()
    val bytes = meta.recordVars.map(_.slabSize(meta.dims)).sum * n
    (cols.map(c => (i: Int) => c(i)), bytes)
  }
}
