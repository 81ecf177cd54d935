package graft.plans

import org.apache.spark.sql.functions._

/** The r17 footer-based stats collector must agree with the aggregation
  * the old implementation ran (min/max/null-count per written file and
  * column), for every stat-bearing type the engine writes — doubles,
  * longs, unicode strings, timestamps, dates, booleans, decimals — nulls,
  * all-NULL columns and multi-file commits included. The expected side is
  * recomputed here with the same min/max/nulls aggregation the pre-r17
  * collector used, so a parquet-writer change that breaks footer fidelity
  * fails this spec before it can silently weaken (or worse, mis-direct)
  * manifest pruning.
  */
class SnapshotFooterStatsSpec extends graft.SparkSpec {

  private def tmp(): String =
    java.nio.file.Files.createTempDirectory("graft_fstats_").toString + "/t"

  test("footer stats == aggregation stats per file/column/type") {
    import spark.implicits._
    val df = spark.range(0, 1000, 1, 3).select(
      $"id",
      when($"id" % 7 === 0, lit(null)).otherwise($"id" * 1.5 - 200).as("d"),
      concat(lit("sé-😀-"), lpad($"id".cast("string"), 4, "0")).as("s"),
      (to_timestamp(lit("2021-03-04 05:06:07.123456")) +
        expr("make_interval(0, 0, 0, 0, 0, 0, id)")).as("ts"),
      date_add(to_date(lit("2020-01-01")), $"id".cast("int")).as("dt"),
      ($"id" % 2 === 0).as("b"),
      ($"id" * 10 + 1).cast("decimal(12,2)").as("dec"),
      lit(null).cast("double").as("allnull"))
    val root = tmp()
    val t = Snapshots.create(spark, root, df)
    val m = t.latest()
    assert(m.files.size >= 3, s"want a multi-file commit, got ${m.files.size}")

    // expected: the pre-r17 aggregation, per file
    val statCols = Seq("id", "d", "s", "ts", "dt", "b", "dec", "allnull")
    val aggs = count(lit(1)).as("__rows") +: statCols.flatMap(c => Seq(
      min(col(c)).cast("string").as(s"__min_$c"),
      max(col(c)).cast("string").as(s"__max_$c"),
      sum(when(col(c).isNull, 1L).otherwise(0L)).as(s"__nulls_$c")))
    val byFile = t.read()
      .groupBy(input_file_name().as("__f"))
      .agg(aggs.head, aggs.tail: _*)
      .collect()
    assert(byFile.nonEmpty)
    byFile.foreach { r =>
      val rel = m.files.find(f => r.getString(0).endsWith(f))
        .getOrElse(fail(s"unmatched file ${r.getString(0)}"))
      val st = m.stats(rel)
      assert(st.rows == r.getAs[Long]("__rows"), s"rows of $rel")
      statCols.foreach { c =>
        val cs = st.cols.getOrElse(c, fail(s"no stats for $c in $rel"))
        assert(cs.nulls == r.getAs[Long](s"__nulls_$c"), s"nulls of $rel/$c")
        val expMin = Option(r.getAs[String](s"__min_$c"))
        val expMax = Option(r.getAs[String](s"__max_$c"))
        // strings must be value-identical after the pruner's parse — for
        // timestamps the rendering differs in trailing zeros, so compare
        // through the same normalization Pruning.key applies
        def norm(dtName: String, s: Option[String]): Option[Any] = s.map { v =>
          dtName match {
            case "ts" => java.time.LocalDateTime.parse(v.replace(' ', 'T'))
            case "d" | "id" | "dec" => BigDecimal(v)
            case _ => v
          }
        }
        assert(norm(c, cs.min) == norm(c, expMin), s"min of $rel/$c: ${cs.min} vs $expMin")
        assert(norm(c, cs.max) == norm(c, expMax), s"max of $rel/$c: ${cs.max} vs $expMax")
      }
    }
  }

  test("readWhere pruning still plans on footer stats (long + timestamp)") {
    import spark.implicits._
    val df = spark.range(0, 100, 1, 4).select(
      $"id",
      (to_timestamp(lit("2021-01-01 00:00:00")) +
        expr("make_interval(0, 0, 0, 0, id, 0, 0)")).as("ts"))
    val root = tmp()
    val t = Snapshots.create(spark, root, df)
    val m = t.latest()
    // each of the 4 files holds a disjoint id range — an id conjunct must
    // prune to ~1 file, and so must the equivalent ts conjunct
    val byId = t.planFiles(m, $"id" === 55L)
    assert(byId.size < m.files.size, s"id pruning planned ${byId.size}/${m.files.size}")
    val tsLit = lit(java.sql.Timestamp.valueOf("2021-01-03 07:00:00"))
    val byTs = t.planFiles(m, $"ts" === tsLit)
    assert(byTs.size < m.files.size, s"ts pruning planned ${byTs.size}/${m.files.size}")
    // and the pruned read answers exactly
    assert(t.readWhere($"id" === 55L).count() == 1L)
    assert(t.readWhere($"ts" === tsLit).count() == 1L)
  }

  test("an unreadable footer during a commit surfaces its own exception, not ExecutionException") {
    val conf = spark.sparkContext.hadoopConfiguration
    val root = java.nio.file.Files.createTempDirectory(FaultyFs.Marker)
      .toString + "/t"
    conf.set("fs.file.impl", classOf[FaultyFs].getName)
    conf.setBoolean("fs.file.impl.disable.cache", true)
    FaultyFs.failOpens = true
    val e =
      try intercept[Exception] {
        Snapshots.create(spark, root, spark.range(0, 100, 1, 3).toDF("id"))
      } finally {
        FaultyFs.failOpens = false
        conf.unset("fs.file.impl"); conf.unset("fs.file.impl.disable.cache")
      }
    assert(e.isInstanceOf[FaultyFs.Unreadable], s"got $e")
  }
}

/** The local filesystem whose parquet opens under a [[FaultyFs.Marker]]
  * directory fail while [[FaultyFs.failOpens]] is set — nothing opens a
  * data file for READING during a commit except its footer-stats
  * collection.
  */
class FaultyFs extends org.apache.hadoop.fs.LocalFileSystem {
  override def open(f: org.apache.hadoop.fs.Path, bufferSize: Int) =
    if (FaultyFs.failOpens && f.getName.endsWith(".parquet") &&
        f.toString.contains(FaultyFs.Marker))
      throw new FaultyFs.Unreadable(f.toString)
    else super.open(f, bufferSize)
}

object FaultyFs {
  val Marker = "graft_faulty_footer_"
  @volatile var failOpens = false
  final class Unreadable(path: String)
      extends java.io.IOException(s"unreadable footer: $path")
}
