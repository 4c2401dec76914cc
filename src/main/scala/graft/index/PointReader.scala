package graft.index

import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FileStatus, Path}
import org.apache.parquet.HadoopReadOptions
import org.apache.parquet.example.data.Group
import org.apache.parquet.example.data.simple.convert.GroupRecordConverter
import org.apache.parquet.filter2.compat.FilterCompat
import org.apache.parquet.filter2.predicate.{FilterApi, FilterPredicate, Operators}
import org.apache.parquet.hadoop.ParquetFileReader
import org.apache.parquet.hadoop.metadata.ParquetMetadata
import org.apache.parquet.hadoop.util.HadoopInputFile
import org.apache.parquet.io.ColumnIOFactory
import org.apache.parquet.io.api.Binary
import org.apache.parquet.schema.{LogicalTypeAnnotation, MessageType, PrimitiveType, Type}

/** Driver-side point reads over one Parquet table directory, with no Spark
  * job — the Lucene move of reading segment files directly, with cached
  * Parquet footers (row-group and page min/max) standing in for the
  * in-memory terms index. For lookups BOUNDED by construction only (query
  * keys, fieldstats rows, a page of docIds, a broadcast-sized delete set):
  * every matching row comes back to the driver.
  *
  * Files are listed the way Spark's file index does (recursively through
  * `wave=N` partition dirs, skipping `_`- and `.`-prefixed names), once per
  * reader: like a DataFrame, a reader is a point-in-time view. Row groups
  * and pages are pruned by Parquet's own filter; only the requested columns
  * a file has are read, and a column a file lacks reads as null.
  */
private[graft] final class PointReader(conf: Configuration, dir: String) {

  lazy val files: Array[FileStatus] = PointReader.list(conf, new Path(dir))

  /** Summed footer row counts: an upper bound on any filtered read. */
  def rowCount: Long =
    files.iterator.flatMap(f => PointReader.footer(conf, f).getBlocks.asScala)
      .map(_.getRowCount).sum

  /** Rows matching `filter` (every row when None), as arrays parallel to
    * `cols`, in listing order.
    */
  def rows(cols: Seq[String], filter: Option[PointReader.Filter]): Seq[Array[Any]] =
    files.toSeq.flatMap(read(_, cols, filter))

  private def read(st: FileStatus, cols: Seq[String],
      filter: Option[PointReader.Filter]): Seq[Array[Any]] = {
    val footer = PointReader.footer(conf, st)
    val schema = footer.getFileMetaData.getSchema
    // the record filter only sees projected columns: always read its own
    val present = (cols ++ filter.toSeq.flatMap(_.cols)).distinct.filter(schema.containsField)
    if (present.isEmpty) return Nil
    val proj = new MessageType(schema.getName,
      present.map(c => schema.getType(schema.getFieldIndex(c))): _*)
    val slot = cols.map(c => if (proj.containsField(c)) proj.getFieldIndex(c) else -1).toArray
    val b = HadoopReadOptions.builder(conf)
    filter.foreach(f => b.withRecordFilter(FilterCompat.get(f.pred)))
    val opts = b.build()
    val in = HadoopInputFile.fromStatus(st, conf)
    val reader = ParquetFileReader.open(in, footer, opts, in.newStream())
    val out = ArrayBuffer.empty[Array[Any]]
    try {
      reader.setRequestedSchema(proj)
      val io = new ColumnIOFactory(footer.getFileMetaData.getCreatedBy)
        .getColumnIO(proj, schema, true)
      var pages = reader.readNextFilteredRowGroup()
      while (pages != null) {
        val rr = io.getRecordReader(pages, new GroupRecordConverter(proj), opts.getRecordFilter)
        var i = 0L
        while (i < pages.getRowCount) {
          val g = rr.read()
          if (g != null && !rr.shouldSkipCurrentRecord)
            out += slot.map(j => if (j >= 0) PointReader.value(g, j) else null)
          i += 1
        }
        pages = reader.readNextFilteredRowGroup()
      }
    } finally reader.close()
    out.toSeq
  }
}

private[graft] object PointReader {

  /** Footer-cache entry cap. A footer of this engine's tables is a few KB. */
  private val MaxFooters = 4096

  /** Process-wide footers keyed by (path, length, mtime): Parquet files are
    * immutable once written, and a rewrite changes the key. LRU at the cap.
    */
  private val footers = new java.util.LinkedHashMap[(String, Long, Long), ParquetMetadata](
    256, 0.75f, true) {
    override def removeEldestEntry(
        e: java.util.Map.Entry[(String, Long, Long), ParquetMetadata]): Boolean =
      size() > MaxFooters
  }

  def footer(conf: Configuration, st: FileStatus): ParquetMetadata = {
    val key = (st.getPath.toString, st.getLen, st.getModificationTime)
    val hit = footers.synchronized(footers.get(key))
    if (hit != null) return hit
    val r = ParquetFileReader.open(HadoopInputFile.fromStatus(st, conf),
      HadoopReadOptions.builder(conf).build())
    val f = try r.getFooter finally r.close()
    footers.synchronized(footers.put(key, f))
    f
  }

  /** Spark's file-index rules: `_x` (but not `_x=y`) and `.x` are hidden. */
  private def hidden(name: String): Boolean =
    (name.startsWith("_") && !name.contains("=")) || name.startsWith(".") ||
      name.endsWith("._COPYING_")

  private def list(conf: Configuration, dir: Path): Array[FileStatus] = {
    val fs = dir.getFileSystem(conf)
    def walk(p: Path): Seq[FileStatus] =
      fs.listStatus(p).toSeq.filterNot(s => hidden(s.getPath.getName)).flatMap { s =>
        if (s.isDirectory) walk(s.getPath) else Seq(s)
      }
    walk(dir).sortBy(_.getPath.toString).toArray
  }

  // ---- predicates ----------------------------------------------------

  /** A Parquet predicate and the columns it reads. */
  final case class Filter(pred: FilterPredicate, cols: Seq[String]) {
    def and(o: Filter): Filter = Filter(FilterApi.and(pred, o.pred), (cols ++ o.cols).distinct)
    def or(o: Filter): Filter = Filter(FilterApi.or(pred, o.pred), (cols ++ o.cols).distinct)
  }

  /** `c IN vs` over a string column (`vs` non-empty). */
  def stringIn(c: String, vs: Seq[String]): Filter = {
    val sc = FilterApi.binaryColumn(c)
    Filter(
      if (vs.size == 1) FilterApi.eq(sc, Binary.fromString(vs.head))
      else FilterApi.in[Binary, Operators.BinaryColumn](sc, vs.map(Binary.fromString).toSet.asJava),
      Seq(c))
  }

  /** `c IN vs` over a long column (`vs` non-empty). */
  def longIn(c: String, vs: Seq[Long]): Filter = {
    val lc = FilterApi.longColumn(c)
    Filter(
      if (vs.size == 1) FilterApi.eq(lc, java.lang.Long.valueOf(vs.head))
      else FilterApi.in[java.lang.Long, Operators.LongColumn](lc,
        vs.map(java.lang.Long.valueOf).toSet.asJava),
      Seq(c))
  }

  /** `(field = f AND term IN ts) OR ...` — one disjunct per field. */
  def keysIn(keys: Seq[(String, String)]): Filter =
    keys.groupBy(_._1).map { case (f, ks) =>
      stringIn("field", Seq(f)).and(stringIn("term", ks.map(_._2).distinct))
    }.reduce(_ or _)

  // ---- values ----------------------------------------------------------

  /** Field `i` of `g` as the Scala value Spark would hand back for it:
    * String, Long, Int, Byte, Array[Byte] or a Map — the types of the
    * index tables' looked-up columns.
    */
  private def value(g: Group, i: Int): Any =
    if (g.getFieldRepetitionCount(i) == 0) null
    else {
      val t: Type = g.getType.getType(i)
      if (t.isPrimitive) primitive(g, i, t.asPrimitiveType)
      else if (t.getLogicalTypeAnnotation
          .isInstanceOf[LogicalTypeAnnotation.MapLogicalTypeAnnotation]) {
        val kv = g.getGroup(i, 0)
        (0 until kv.getFieldRepetitionCount(0)).map { j =>
          val e = kv.getGroup(0, j)
          value(e, 0) -> value(e, 1)
        }.toMap
      } else throw new UnsupportedOperationException(s"point read of nested column $t")
    }

  private def primitive(g: Group, i: Int, t: PrimitiveType): Any = {
    import PrimitiveType.PrimitiveTypeName._
    val ann = t.getLogicalTypeAnnotation
    t.getPrimitiveTypeName match {
      case INT64 => g.getLong(i, 0)
      case INT32 => ann match { // Spark writes ByteType as INT(8)
        case a: LogicalTypeAnnotation.IntLogicalTypeAnnotation if a.getBitWidth == 8 =>
          g.getInteger(i, 0).toByte
        case _ => g.getInteger(i, 0)
      }
      case BINARY =>
        if (ann.isInstanceOf[LogicalTypeAnnotation.StringLogicalTypeAnnotation]) g.getString(i, 0)
        else g.getBinary(i, 0).getBytes
      case other => throw new UnsupportedOperationException(s"point read of $other column")
    }
  }
}
