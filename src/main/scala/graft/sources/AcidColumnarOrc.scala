package graft.sources

import java.util

import scala.jdk.CollectionConverters._

import org.apache.hadoop.fs.Path
import org.apache.hadoop.hive.ql.exec.vector.{ColumnVector => OrcVector, StructColumnVector, VectorizedRowBatch}
import org.apache.orc.{OrcFile, TypeDescription}
import org.apache.spark.broadcast.Broadcast
import org.apache.spark.sql.{DataFrame, GraftShims, SparkSession}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.connector.catalog.{SupportsRead, Table, TableCapability}
import org.apache.spark.sql.connector.read.{Batch, InputPartition, PartitionReader, PartitionReaderFactory, Scan, ScanBuilder, SupportsPushDownRequiredColumns}
import org.apache.spark.sql.execution.datasources.orc.GraftOrcColumnShim
import org.apache.spark.sql.execution.datasources.v2.DataSourceV2Relation
import org.apache.spark.sql.execution.vectorized.{ConstantColumnVector, OnHeapColumnVector}
import org.apache.spark.sql.types._
import org.apache.spark.sql.util.CaseInsensitiveStringMap
import org.apache.spark.sql.vectorized.{ColumnVector, ColumnarArray, ColumnarBatch, ColumnarMap}
import org.apache.spark.unsafe.types.UTF8String
import org.apache.spark.util.SerializableConfiguration

/** The one scan of Hive ACID ORC files: every ACID bucket file and every
  * pre-ACID original read with identity goes through this DSv2 source.
  *
  * Spark's own ORC readers cannot open ACID files at all: orc-core's
  * schema evolution detects the ACID wrapper struct and remaps batches
  * underneath them (vectorized, row-based-native and nested-vectorized
  * all fail inside orc-core; see AcidColumnarSpec's scaladoc). So each
  * task drives an orc-core `RecordReader` itself, with the file's own
  * (identity) schema and explicit include flags, over one byte range of
  * one file — ORC's range contract (the OrcInputFormat split rule) reads
  * exactly the stripes that START within [offset, offset+length), so the
  * ranges of a file tile it and one giant bucket file still parallelizes.
  * The file's vectors are wrapped ZERO-COPY as Spark column vectors in a
  * `ColumnarBatch`; whole-stage codegen consumes them like a native ORC
  * scan.
  *
  * The frame's columns, by name:
  *   - the wrapper fields `operation`, `originalTransaction`, `bucket`,
  *     `rowId`, `currentTransaction`, and `row`, the user columns as one
  *     struct at the reference schema (the widest row struct among the
  *     scanned directories). Structs adapt BY NAME at any depth: a field a
  *     file predates reads as a NULL constant, a field it has that the
  *     reference lacks is never decoded, and a same-named field whose type
  *     changed refuses. Spark's nested schema pruning reaches orc-core
  *     through the include flags, so `row.a` decodes only `a`.
  *   - [[AcidOrc.PartColName]], the split's partition subpath, and the
  *     `k=v` values of its partition columns — both `ConstantColumnVector`s.
  *
  * A pre-ACID original has no wrapper: its root struct is `row`, and its
  * split carries the reference's positional identity (ref ql/io/orc/
  * OrcRawRecordMerger.java OriginalReaderPair) — `originalTransaction` and
  * `currentTransaction` are 0, `operation` is an insert and `bucket` the
  * encoded task id, all constants, and `rowId` counts on from the split's
  * first row, filled per batch.
  *
  * Filter pushdown is not implemented: predicates apply above the scan.
  */
object AcidColumnarOrc {

  /** Identity of a pre-ACID original split (see the object doc). */
  private[sources] case class OriginalIds(bucket: Int, firstRowId: Long)

  /** One scan task: a byte range of one file under partition subpath
    * `partSub`; `ids` is set for pre-ACID originals only.
    */
  private[sources] case class Split(file: String, partSub: String,
      offset: Long, length: Long, ids: Option[OriginalIds] = None)
      extends InputPartition

  private val WrapperTypes: Map[String, DataType] = Map(
    "operation" -> IntegerType, "originalTransaction" -> LongType,
    "bucket" -> IntegerType, "rowId" -> LongType,
    "currentTransaction" -> LongType)

  /** The scan as a frame of `wanted` (wrapper fields and/or
    * [[AcidOrc.PartColName]]) followed by `partCols`. Reading `row` costs
    * one footer read per distinct ACID directory on the driver, fetched in
    * parallel; `originalRows` are the row schemas of the originals among
    * `splits`, whose footers the caller has already read.
    */
  private[sources] def scan(spark: SparkSession, splits: Seq[Split],
      wanted: Seq[String], partCols: Seq[String] = Nil,
      originalRows: Seq[TypeDescription] = Nil): DataFrame = {
    val conf = spark.sparkContext.hadoopConfiguration
    lazy val row = {
      val dirHeads = splits.filter(_.ids.isEmpty).map(_.file).distinct
        .groupBy(f => new Path(f).getParent.toString)
        .map { case (_, fs) => fs.head }.toSeq
      val acidRows = AcidOrc.parallelMap(dirHeads) { f =>
        val r = OrcFile.createReader(new Path(f), OrcFile.readerOptions(conf))
        try {
          val td = r.getSchema
          td.getChildren.get(fieldIndex(td, "row", f))
        } finally r.close()
      }
      AcidOrc.toCatalyst((acidRows ++ originalRows)
        .maxBy(td => td.getMaximumId - td.getId))
    }
    // the synthesized identity of originals is never null
    val nullable = splits.exists(_.ids.isEmpty)
    val schema = StructType(wanted.map {
      case "row" => StructField("row", row)
      case AcidOrc.PartColName =>
        StructField(AcidOrc.PartColName, StringType, nullable = false)
      case w => StructField(w, WrapperTypes(w), nullable)
    } ++ partCols.map(StructField(_, StringType, nullable = false)))
    GraftShims.ofRows(spark, DataSourceV2Relation.create(
      new AcidTable(schema, splits, partCols), None, None))
  }

  /** Index of top-level column `name` in a struct-rooted file schema. */
  private def fieldIndex(td: TypeDescription, name: String,
      file: String): Int = {
    val i = td.getFieldNames.indexOf(name)
    require(td.getCategory == TypeDescription.Category.STRUCT && i >= 0,
      s"ACID file $file lacks column $name: $td")
    i
  }

  private class AcidTable(schema: StructType, splits: Seq[Split],
      partCols: Seq[String]) extends Table with SupportsRead {
    override def name(): String = "graft-acid-columnar"
    override def schema(): StructType = schema
    override def capabilities(): util.Set[TableCapability] =
      Set(TableCapability.BATCH_READ).asJava
    override def newScanBuilder(
        options: CaseInsensitiveStringMap): ScanBuilder =
      new ScanBuilder with SupportsPushDownRequiredColumns with Scan
          with Batch {
        private var required = schema
        // nested pruning is honored inside structs only: an array or map
        // element keeps its full type, the shape the zero-copy wrap reads
        override def pruneColumns(requested: StructType): Unit =
          required = structsOnly(requested, schema).asInstanceOf[StructType]
        override def build(): Scan = this
        override def readSchema(): StructType = required
        override def toBatch: Batch = this
        override def planInputPartitions(): Array[InputPartition] =
          splits.toArray
        // ship the FS conf the driver resolved the files with
        override def createReaderFactory(): PartitionReaderFactory = {
          val sc = SparkSession.active.sparkContext
          new AcidReaderFactory(required, partCols,
            sc.broadcast(new SerializableConfiguration(sc.hadoopConfiguration)))
        }
      }
  }

  private def structsOnly(requested: DataType, full: DataType): DataType =
    (requested, full) match {
      case (r: StructType, f: StructType) => StructType(r.fields.map(rf =>
        rf.copy(dataType = structsOnly(rf.dataType, f(rf.name).dataType))))
      case _ => full
    }

  private class AcidReaderFactory(required: StructType,
      partCols: Seq[String], conf: Broadcast[SerializableConfiguration])
      extends PartitionReaderFactory {
    override def supportColumnarReads(p: InputPartition): Boolean = true
    override def createReader(p: InputPartition): PartitionReader[InternalRow] =
      throw new UnsupportedOperationException(
        "columnar-only source — Spark must call createColumnarReader")
    override def createColumnarReader(
        p: InputPartition): PartitionReader[ColumnarBatch] =
      new AcidReader(p.asInstanceOf[Split], required, partCols,
        conf.value.value)
  }

  private class AcidReader(split: Split, required: StructType,
      partCols: Seq[String], conf: org.apache.hadoop.conf.Configuration)
      extends PartitionReader[ColumnarBatch] {
    private val reader = OrcFile.createReader(new Path(split.file),
      OrcFile.readerOptions(conf))
    private val td = reader.getSchema
    private val batch = td.createRowBatch()
    // the root as a struct: an original's `row`, an ACID file's wrapper
    private val root = new StructColumnVector(batch.getMaxSize, batch.cols: _*)
    private val include = new Array[Boolean](td.getMaximumId + 1)
    include(0) = true
    private val wrapped = Seq.newBuilder[ColumnVector]
    private var nextRowId = split.ids.fold(0L)(_.firstRowId)
    private val rowIds = split.ids.map(_ =>
      new OnHeapColumnVector(batch.getMaxSize, LongType))
    private val partVals: Map[String, String] = split.partSub.split("/")
      .filter(_.nonEmpty).map { seg =>
        val Array(k, v) = seg.split("=", 2)
        k -> v
      }.toMap

    private def constant(dt: DataType)(
        set: ConstantColumnVector => Unit): ColumnVector = {
      val cv = new ConstantColumnVector(batch.getMaxSize, dt)
      set(cv)
      cv
    }

    /** The file's vector `cv` (type `fileTd`) read as `dt`, marking what it
      * decodes in `include`.
      */
    private def vector(dt: DataType, fileTd: TypeDescription,
        cv: OrcVector): ColumnVector = (dt, fileTd.getCategory) match {
      case (st: StructType, TypeDescription.Category.STRUCT) =>
        include(fileTd.getId) = true
        val s = cv.asInstanceOf[StructColumnVector]
        val names = fileTd.getFieldNames
        new NamedStruct(st, s, batch, st.fields.map { f =>
          names.indexOf(f.name) match {
            case -1 => constant(f.dataType)(_.setNull())
            case i => vector(f.dataType, fileTd.getChildren.get(i), s.fields(i))
          }
        })
      case _ =>
        val got = AcidOrc.toCatalyst(fileTd)
        if (got != dt) throw new UnsupportedOperationException(
          s"ACID schema evolution changed a column's type ($got -> $dt); " +
            "only added/removed struct fields adapt — compact the table")
        (fileTd.getId to fileTd.getMaximumId).foreach(include(_) = true)
        val v = GraftOrcColumnShim.wrap(dt, cv)
        wrapped += v
        v
    }

    private def string(v: String): ColumnVector =
      constant(StringType)(_.setUtf8String(UTF8String.fromString(v)))

    private val vectors: Array[ColumnVector] = try required.fields.map { f =>
      (f.name, split.ids) match {
        case (AcidOrc.PartColName, _) => string(split.partSub)
        case (name, _) if partCols.contains(name) =>
          string(partVals.getOrElse(name, ""))
        case (name, None) =>
          val i = fieldIndex(td, name, split.file)
          vector(f.dataType, td.getChildren.get(i), root.fields(i))
        case ("row", Some(_)) => vector(f.dataType, td, root)
        case ("rowId", Some(_)) => rowIds.get
        case ("bucket", Some(ids)) =>
          constant(IntegerType)(_.setInt(ids.bucket))
        case ("operation", Some(_)) =>
          constant(IntegerType)(_.setInt(AcidOrc.OpInsert))
        case (_, Some(_)) => // originalTransaction, currentTransaction
          constant(LongType)(_.setLong(0L))
      }
    } catch { case e: Throwable => reader.close(); throw e }
    private val rows = reader.rows(reader.options.schema(td).include(include)
      .range(split.offset, split.length))
    private val wrappedVectors = wrapped.result()
    private val cb = new ColumnarBatch(vectors)

    override def next(): Boolean = rows.nextBatch(batch) && {
      val n = batch.size
      wrappedVectors.foreach(GraftOrcColumnShim.setBatchSize(_, n))
      rowIds.foreach { v =>
        (0 until n).foreach(i => v.putLong(i, nextRowId + i))
        nextRowId += n
      }
      cb.setNumRows(n)
      true
    }
    override def get(): ColumnarBatch = cb
    override def close(): Unit =
      try rows.close() finally { reader.close(); rowIds.foreach(_.close()) }
  }

  /** A struct read by name: child i is the reference field i over the
    * file's same-named child, or a NULL constant; nulls are the file
    * struct's own.
    */
  private final class NamedStruct(dt: StructType, base: StructColumnVector,
      batch: VectorizedRowBatch, kids: Array[ColumnVector])
      extends ColumnVector(dt) {
    override def isNullAt(r: Int): Boolean =
      !base.noNulls && base.isNull(if (base.isRepeating) 0 else r)
    override def hasNull(): Boolean = !base.noNulls
    override def numNulls(): Int = (0 until batch.size).count(isNullAt)
    override def getChild(i: Int): ColumnVector = kids(i)
    override def close(): Unit = ()
    private def scalar = throw new UnsupportedOperationException(
      s"struct vector read as a scalar: $dt")
    override def getBoolean(r: Int): Boolean = scalar
    override def getByte(r: Int): Byte = scalar
    override def getShort(r: Int): Short = scalar
    override def getInt(r: Int): Int = scalar
    override def getLong(r: Int): Long = scalar
    override def getFloat(r: Int): Float = scalar
    override def getDouble(r: Int): Double = scalar
    override def getArray(r: Int): ColumnarArray = scalar
    override def getMap(r: Int): ColumnarMap = scalar
    override def getDecimal(r: Int, p: Int, s: Int): Decimal = scalar
    override def getUTF8String(r: Int): UTF8String = scalar
    override def getBinary(r: Int): Array[Byte] = scalar
  }
}
