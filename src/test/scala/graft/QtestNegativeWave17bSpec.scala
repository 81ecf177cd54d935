package graft

/** Qtest conformance, clientnegative wave 5 (r17, second session):
  * ~30 more statements the reference refuses and this engine must
  * refuse too — DDL shape errors (duplicate columns, empty quoted
  * identifiers, zero-length char/varchar, over-wide decimals),
  * analysis refusals (unknown relations/columns/functions, ambiguous
  * references, missing group-by columns, bad positional aliases),
  * aggregate-syntax misuse (avg(*), max()), CLUSTER BY mixed with
  * ORDER BY, window-in-UDAF nesting, recursive views, and
  * constraint/drop targets that do not exist. Message needles follow
  * the sampler's contract: the refusal must NAME the offense.
  *
  * Deliberately excluded, with reasons:
  *  - update_non_acid_table.q / delete_non_acid_table.q: this engine
  *    executes row-level DML on plain catalog tables COPY-ON-WRITE
  *    (the r17 SqlDml bridge) — the reference's refusal guards its
  *    transactional machinery, not query semantics;
  *  - compare_string_bigint.q (strict-mode type comparisons): the
  *    engine COMPUTES Hive's lenient double coercion (the default
  *    mode), so the strict-mode refusal is a conf posture;
  *  - archive_*.q: HAR archives are an explicit SURVEY §2 policy
  *    refusal, spec'd separately.
  */
class QtestNegativeWave17bSpec extends QtestHarness {

  protected val qcases: Seq[QCase] = Nil // message-pinned, not row-gated

  // refusals need only the tables' schemas (and a row or two): the
  // in-repo stand-ins answer, reference checkout or not
  override lazy val spark: org.apache.spark.sql.SparkSession =
    QtestHarness.standIns

  private def refuses(file: String, sql: String, needles: String*): Unit = {
    val outcome =
      try { Engine.sql(spark, sfDir, sql).collect(); None }
      catch { case e: Exception => Some(e) }
    outcome match {
      case None =>
        fail(s"[$file] statement was ACCEPTED — expected a refusal " +
          s"naming one of $needles\n  $sql")
      case Some(e) =>
        val msg = Option(e.getMessage).getOrElse("")
        assert(needles.exists(n => msg.toLowerCase.contains(n.toLowerCase)),
          s"[$file] expected a refusal naming one of $needles, got: " +
            s"${e.getClass.getSimpleName}: $msg")
    }
  }

  test("negative wave 5: DDL shape refusals") {
    refuses("create_table_failure3.q",
      "create table neg17_dup (a int, a string)",
      "duplicate", "already exists", "found duplicate")
    refuses("invalid_varchar_length_1.q",
      "select cast('x' as varchar(0)) AS v",
      "varchar", "length")
    refuses("invalid_char_length_1.q",
      "select cast('x' as char(0)) AS v",
      "char", "length")
    refuses("decimal_precision.q",
      "select cast(1 as decimal(39, 2)) AS d",
      "decimal", "precision", "38")
    refuses("empty_quoted_identifier_table_name.q",
      "create table `` (a int)",
      "empty", "identifier", "parse", "syntax", "valid name")
    refuses("create_function_nonexistent_class.q",
      "create temporary function neg17_fn as 'org.example.NoSuchUdf'",
      "function", "class", "not", "cannot")
  }

  test("negative wave 5: partition and catalog-target refusals") {
    refuses("alter_table_add_partition.q",
      "alter table neg17_missing add partition (ds='1')",
      "not found", "not exist", "table")
    refuses("alter_partition_coltype_invalidcolname.q",
      "alter table qt_missing_neg partition column (zzz int)",
      "not", "partition", "parse", "table")
    refuses("drop_partition_failure.q",
      "alter table neg17_missing drop partition (ds='1')",
      "not found", "not exist", "table")
    refuses("drop_table_failure1.q",
      "drop table neg17_never_created",
      "not be found", "not found", "table")
    refuses("drop_view_failure1.q",
      "drop view neg17_never_a_view",
      "not be found", "not found", "view")
    refuses("drop_func_nonexistent.q",
      "drop temporary function neg17_never_a_fn",
      "not", "function")
  }

  test("negative wave 5: analysis refusals — columns, relations, " +
      "functions, positions") {
    refuses("invalid_select_column.q",
      "select column1 from qt_src",
      "cannot be resolved", "column1", "unresolved")
    refuses("invalid_tbl_name.q",
      "select * from qt_definitely_missing",
      "not be found", "not found", "table")
    refuses("invalid_select_fn.q",
      "select no_such_function_xyz(1) AS x",
      "function", "cannot", "not")
    refuses("ambiguous_col.q",
      "select key from qt_src a join qt_src b on a.key = b.key",
      "ambiguous", "key")
    refuses("groupby_key.q",
      "select key, value from qt_src group by key",
      "group", "value", "aggregat")
    refuses("groupby_invalid_position.q",
      "select key from qt_src group by 3",
      "position", "range", "group", "3", "aggregate")
  }

  test("negative wave 5: aggregate-syntax misuse") {
    refuses("invalid_avg_syntax.q",
      "SELECT avg(*) FROM qt_src",
      "avg", "*", "parameter", "argument")
    refuses("invalid_max_syntax.q",
      "SELECT max() FROM qt_src",
      "max", "parameter", "argument", "0")
    refuses("invalid_sum_syntax.q",
      "SELECT sum(*) FROM qt_src",
      "sum", "*", "parameter", "argument")
    refuses("invalid_std_syntax.q",
      "SELECT std(*) FROM qt_src",
      "std", "*", "parameter", "argument")
  }

  test("negative wave 5: clause-combination and nesting refusals") {
    refuses("clusterbyorderby.q",
      "select key from qt_src cluster by key order by key",
      "cluster", "order", "not", "both", "parse")
    refuses("windowing_leadlag_in_udaf.q",
      "select sum(lead(cast(key as int), 1) over (order by key)) " +
        "AS s from qt_src",
      "window", "aggregate", "not allowed", "nested")
    refuses("recursive_view.q",
      "create or replace temporary view neg17_v as " +
        "select * from neg17_v",
      "recursive", "not found", "not be found")
    refuses("invalid_cast_to_binary_1.q",
      "select cast(array(1, 2) as binary) AS b",
      "cast", "binary")
    refuses("invalid_cast_from_binary_1.q",
      "select cast(a as timestamp) from " +
        "(select cast('x' as binary) AS a) t",
      "cast", "binary", "timestamp")
  }
}
