package graft.sources

import java.sql.{Date, Timestamp}

import graft.SparkSpec
import org.apache.hadoop.fs.Path
import org.apache.orc.{OrcFile, TypeDescription}
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Every ORC type [[AcidOrc.toCatalyst]] maps reads back through the ACID
  * scan unchanged: a tree with two deltas and a delete_delta over boolean,
  * byte, short, int, long, float, double, string, char, varchar, binary,
  * date, timestamp, decimal, struct, array, map and array-of-struct
  * columns must read as exactly the frame that was written, minus the
  * deleted rows. The second delta's struct column gained a field
  * (add-columns evolution nested one level down), so older rows must
  * read NULL for it.
  */
class AcidTypeCoverageSpec extends SparkSpec {

  private val rowType = StructType.fromDDL(
    "k bigint, b boolean, y tinyint, h smallint, i int, f float, " +
      "d double, s string, c string, v string, bin binary, dt date, " +
      "ts timestamp, dec decimal(12,3), st struct<a:int,b:string>, " +
      "arr array<int>, m map<string,int>, ast array<struct<p:int,q:string>>")

  private val widerSt = StructType.fromDDL("a int, b string, z double")

  private def frame(rows: Seq[Row], schema: StructType): DataFrame =
    spark.createDataFrame(java.util.Arrays.asList(rows: _*), schema)

  private def older: DataFrame = frame(Seq(
    Row(1L, true, 1.toByte, 2.toShort, 3, 1.5f, 2.25, "s1", "abcde", "vv",
      Array[Byte](1, 2), Date.valueOf("2020-01-02"),
      Timestamp.valueOf("2021-03-04 05:06:07.123456"),
      new java.math.BigDecimal("123.456"), Row(7, "x"), Seq(1, 2, 3),
      Map("a" -> 1), Seq(Row(1, "p"), null, Row(null, "q"))),
    Row(2L, false, (-1).toByte, (-2).toShort, -3, -0.5f, -1e300, "",
      "fghij", "", Array[Byte](), Date.valueOf("1970-01-01"),
      Timestamp.valueOf("1999-12-31 23:59:59"),
      new java.math.BigDecimal("-0.001"), Row(null, "y"), Seq(null, 5),
      Map("b" -> null), Seq()),
    Row(3L, null, null, null, null, null, null, null, null, null, null,
      null, null, null, null, null, null, null),
    Row(4L, true, Byte.MaxValue, Short.MinValue, Int.MaxValue,
      Float.MaxValue, Double.MinPositiveValue, "多字节", "klmno",
      "varchar v", Array[Byte](0, -1, 127), Date.valueOf("2038-01-19"),
      Timestamp.valueOf("2000-02-29 12:00:00.000001"),
      new java.math.BigDecimal("999999999.999"), Row(1, null), Seq(),
      Map[String, Int](), Seq(Row(4, "four")))), rowType)

  private def newer: DataFrame = frame(Seq(
    Row(5L, false, 5.toByte, 6.toShort, 7, 8.5f, 9.75, "s5", "pqrst",
      "newer", Array[Byte](9), Date.valueOf("2024-06-30"),
      Timestamp.valueOf("2024-06-30 00:00:00.5"),
      new java.math.BigDecimal("5.5"), Row(5, "five", 5.5), Seq(5),
      Map("e" -> 5, "f" -> 6), Seq(Row(5, "five"))),
    Row(6L, true, 6.toByte, 7.toShort, 8, 9.5f, 10.75, "s6", "uvwxy",
      null, null, null, null, null, Row(6, null, null), null, null, null)),
    StructType(rowType.map(f =>
      if (f.name == "st") f.copy(dataType = widerSt) else f)))

  /** Write `df` as the single bucket file of insert delta `w`, with `c`
    * retyped char(5) and `v` varchar(10). [[AcidOrc.appendDelta]] hashes
    * rows to buckets by their string form, which struct and map columns
    * lack, so the wrapper frame is built here; and Spark's ORC writer only
    * emits `string`, so the file is copied once more through orc-core
    * under the retyped schema (all three share one bytes vector, so the
    * batches carry over unchanged).
    */
  private def writeDelta(dir: String, w: Long, df: DataFrame): Path = {
    val conf = spark.sparkContext.hadoopConfiguration
    val staging = java.nio.file.Files.createTempDirectory("graft_acidtypes_w")
      .toString
    df.select(lit(AcidOrc.OpInsert).as("operation"),
      lit(w).as("originalTransaction"),
      lit(AcidOrc.encodeBucket(0)).as("bucket"),
      (row_number().over(org.apache.spark.sql.expressions.Window
        .orderBy(col("k"))) - 1L).as("rowId"),
      lit(w).as("currentTransaction"),
      struct(df.columns.map(col): _*).as("row"))
      .coalesce(1).write.mode("overwrite").orc(staging)
    val fs = new Path(staging).getFileSystem(conf)
    val part = fs.listStatus(new Path(staging)).map(_.getPath)
      .find(_.getName.startsWith("part-")).get
    val file = new Path(dir, s"delta_${w}_$w/bucket_00000")
    fs.mkdirs(file.getParent)
    val reader = OrcFile.createReader(part, OrcFile.readerOptions(conf))
    val from = reader.getSchema
    val to = TypeDescription.fromString(from.toString
      .replace(",c:string,", ",c:char(5),")
      .replace(",v:string,", ",v:varchar(10),"))
    val writer = OrcFile.createWriter(file,
      OrcFile.writerOptions(conf).setSchema(to))
    val rows = reader.rows(reader.options.schema(from))
    val batch = from.createRowBatch()
    try while (rows.nextBatch(batch)) writer.addRowBatch(batch)
    finally { rows.close(); reader.close(); writer.close() }
    fs.delete(new Path(staging), true)
    file
  }

  /** Collected rows as comparable strings (binary by content, maps by
    * sorted entries).
    */
  private def canon(df: DataFrame): Seq[String] = {
    def c(v: Any): String = v match {
      case null => "null"
      case b: Array[Byte] => b.mkString("bin[", ",", "]")
      case r: Row => r.toSeq.map(c).mkString("{", ",", "}")
      case m: scala.collection.Map[_, _] => m.toSeq
        .map { case (k, x) => c(k) + "->" + c(x) }.sorted
        .mkString("map[", ",", "]")
      case s: scala.collection.Seq[_] => s.map(c).mkString("[", ",", "]")
      case d: java.math.BigDecimal => d.toPlainString
      case x => x.toString
    }
    df.collect().map(c).toSeq.sorted
  }

  test("every toCatalyst type reads back exactly through a delta + " +
      "delete_delta tree; a nested struct's added field reads NULL in " +
      "older rows") {
    val dir = java.nio.file.Files.createTempDirectory("graft_acidtypes_")
      .toString + "/t"
    val olderFile = writeDelta(dir, 1L, older)
    val newerFile = writeDelta(dir, 2L, newer)
    Seq(olderFile, newerFile).foreach { f =>
      val r = OrcFile.createReader(f,
        OrcFile.readerOptions(spark.sparkContext.hadoopConfiguration))
      try {
        val s = r.getSchema.toString
        assert(s.contains(",c:char(5),") && s.contains(",v:varchar(10),"), s)
      } finally r.close()
    }
    // delete k = 2 and k = 4 from the older delta, by their ROW__IDs
    val doomed = AcidOrc.rawEvents(spark, olderFile.toString)
      .where(col("row.k").isin(2L, 4L))
      .select(col("originalTransaction"), col("bucket"), col("rowId"))
    AcidOrc.appendDeleteDelta(spark, dir, 3L, doomed)

    val expected = older.where(!col("k").isin(2L, 4L))
      .withColumn("st", when(col("st").isNotNull,
        col("st").withField("z", lit(null).cast(DoubleType))))
      .unionByName(newer)
    val got = AcidOrc.read(spark, dir)
    assert(got.schema.map(f => f.name -> f.dataType) ===
      expected.schema.map(f => f.name -> f.dataType))
    assert(canon(got) === canon(expected))
    assert(canon(got).size === 4)
    // the whole-`row` wrapper read of one file is the written frame too
    val raw = AcidOrc.rawEvents(spark, newerFile.toString)
    assert(canon(raw.select(col("row.*"))) === canon(newer))
    // the second field of a struct inside an array, alone: Spark prunes
    // the element struct to that field, which the scan must read whole
    assert(canon(raw.select(col("row.k"), col("row.ast.q"))) ===
      canon(newer.select(col("k"), col("ast.q"))))
  }
}
