package graft

/** Qtest conformance, clientnegative sampler: statements the reference
  * REFUSES (ref ql/src/test/queries/clientnegative) and this engine must
  * refuse too — not silently answer. Each case pins that Engine.sql
  * throws and that the message names the offense (the refusal is part of
  * the user contract, same as a result row).
  *
  * Deliberately excluded, with reasons:
  *  - groupby_cube1.q / groupby_grouping_sets7.q (count(DISTINCT) under
  *    cube): Hive's limitation, not a semantic necessity — this engine
  *    computes them (positive cases r2/c3 gate the VALUES);
  *  - hive-config negatives (set-conf, serde, compactor): no analog
  *    surface or already gated by AuthzSpec/SqlMaintenanceSpec.
  */
class QtestNegativeSpec extends QtestHarness {

  protected val qcases: Seq[QCase] = Nil // message-pinned, not row-gated

  // refusals need only the tables' schemas (and a row or two): the
  // in-repo stand-ins answer, reference checkout or not
  override lazy val spark: org.apache.spark.sql.SparkSession =
    QtestHarness.standIns

  private def refuses(file: String, sql: String, needles: String*): Unit = {
    val e = intercept[Exception] { Engine.sql(spark, sfDir, sql).collect() }
    val msg = Option(e.getMessage).getOrElse("")
    assert(needles.exists(n => msg.toLowerCase.contains(n.toLowerCase)),
      s"[$file] expected a refusal naming one of $needles, got: " +
        s"${e.getClass.getSimpleName}: $msg")
  }

  test("negative qtest: ambiguous column references refuse") {
    refuses("ambiguous_col.q",
      "SELECT a.key FROM (SELECT key, concat(value) AS key " +
        "FROM qt_src) a",
      "ambiguous", "AMBIGUOUS")
    refuses("ambiguous_col_2.q",
      """SELECT t.key FROM (SELECT t11.key, t12.key
        |  FROM qt_src t11 JOIN qt_src t12 ON t11.key = t12.key) t"""
        .stripMargin,
      "ambiguous")
  }

  test("negative qtest: grouping-set and GROUP BY misuse refuses") {
    refuses("groupby_grouping_id1.q",
      "SELECT GROUPING__ID FROM qt_t1",
      "grouping", "GROUP BY")
    refuses("groupby_grouping_sets1.q",
      "SELECT * FROM qt_gsets GROUP BY a GROUPING SETS (())",
      "grouping", "expression", "aggregate")
    refuses("groupby_invalid_position.q",
      "SELECT key, sum(CAST(substr(value, 5) AS DOUBLE)) FROM qt_src " +
        "GROUP BY 3",
      "GROUP BY position 3", "ORDINAL")
    refuses("groupby_key.q",
      "SELECT concat(value, concat(key)) FROM qt_src GROUP BY concat(value)",
      "group", "aggregate")
    refuses("having1.q",
      "SELECT * FROM qt_src HAVING CAST(key AS INT) > 300",
      "aggregate", "group", "HAVING")
  }

  test("negative qtest: ordinal ORDER BY out of range refuses") {
    refuses("orderby_invalid_position.q",
      "SELECT key, value FROM qt_src ORDER BY 0",
      "ORDER BY position 0", "ORDINAL", "range")
    refuses("orderby_position_unsupported.q",
      "SELECT key, value FROM qt_src ORDER BY 3",
      "ORDER BY position 3", "ORDINAL", "range")
  }

  test("negative qtest: malformed aggregate and DISTINCT syntax refuses") {
    refuses("invalid_avg_syntax.q",
      "SELECT avg(*) FROM qt_src",
      "avg", "*")
    refuses("invalid_distinct1.q",
      "SELECT hash(DISTINCT value) FROM qt_src",
      "DISTINCT", "syntax")
    refuses("windowing_leadlag_in_udaf.q",
      "SELECT sum(lead(p_retailprice, 1) OVER (ORDER BY p_partkey)) " +
        "FROM qt_part",
      "window", "nested", "not allowed")
    refuses("windowing_invalid_udaf.q",
      "SELECT nonexistfunc(key) OVER () FROM qt_src",
      "nonexistfunc", "cannot be found", "undefined")
  }

  test("negative qtest: unknown columns and malformed expressions refuse") {
    refuses("invalid_select_column.q",
      "SELECT * FROM qt_src WHERE column1 = 123",
      "column1", "cannot be resolved", "UNRESOLVED")
    refuses("invalid_select_expression.q",
      "SELECT foo FROM qt_src a WHERE foo > .foo",
      "syntax", "PARSE")
  }

  test("negative qtest: malformed subqueries refuse") {
    refuses("subquery_multiple_cols_in_select.q",
      "SELECT * FROM qt_src WHERE qt_src.key IN " +
        "(SELECT * FROM qt_src s1 WHERE s1.key > '9')",
      "number of columns", "NUM_COLUMNS", "mismatch")
    // subquery_in_groupby.q is deliberately NOT here: grouping by an IN
    // subquery is well-defined and this engine (like DuckDB) computes it —
    // pinned as positive case sqi17 in QtestSubqueryMoreSpec
    refuses("cte_with_in_subquery.q",
      "SELECT * FROM (WITH q1 AS (SELECT key FROM q2 WHERE key = '5') " +
        "SELECT * FROM q1) a",
      "q2", "cannot be found", "not found")
  }

  test("negative qtest: semi-join right side is out of scope; IN against " +
      "an array refuses") {
    refuses("semijoin1.q",
      "SELECT b.value FROM qt_src a LEFT SEMI JOIN qt_src b " +
        "ON (b.key = a.key AND b.key = '100')",
      "b.value", "cannot be resolved", "UNRESOLVED")
    refuses("udf_in.q",
      "SELECT 3 IN (array(1, 2, 3)) FROM qt_src",
      "data type mismatch", "INT", "type")
  }

  // ------------------------------------------------------------ wave 2

  test("negative qtest wave 2: casting FROM binary to a numeric refuses") {
    refuses("invalid_cast_from_binary_1.q",
      "SELECT CAST(CAST(value AS BINARY) AS INT) FROM qt_src",
      "cannot cast", "CAST", "binary")
    // invalid_cast_to_binary_*.q deliberately NOT here: Spark's legacy
    // cast renders an int's bytes where Hive refuses — a documented
    // widening, not a silent wrong answer
  }

  test("negative qtest wave 2: DISTINCT inside non-aggregates and " +
      "malformed aggregate calls refuse") {
    refuses("invalid_distinct2.q",
      "SELECT explode(DISTINCT value) FROM qt_src",
      "DISTINCT", "syntax", "PARSE")
    refuses("invalid_distinct3.q",
      "SELECT hash(upper(DISTINCT value)) FROM qt_src",
      "DISTINCT", "syntax", "PARSE")
    refuses("invalid_max_syntax.q",
      "SELECT max(*) FROM qt_src",
      "max", "*", "syntax", "PARSE", "expects")
    refuses("udf_elt_wrong_args_len.q",
      "SELECT elt(3) FROM qt_src",
      "elt", "argument", "parameter")
    refuses("udf_min.q",
      """SELECT min(map("key", key, "value", value)) FROM qt_src""",
      "map", "orderable", "ordering", "type")
  }

  test("negative qtest wave 2: malformed DDL and unknown tables refuse") {
    refuses("invalid_create_tbl2.q",
      "create tabl tmp_zshao_22 (id int, name strin",
      "syntax", "PARSE")
    refuses("analyze_non_existent_tbl.q",
      "analyze table nonexistent compute statistics",
      "not found", "nonexistent", "TABLE_OR_VIEW")
    refuses("selectDistinctStarNeg_1.q",
      "create temporary view v_neg_dup as select distinct * " +
        "from qt_src join qt_src1 on qt_src.key = qt_src1.key",
      "duplicate", "COLUMN_ALREADY_EXISTS", "ambiguous")
  }

  test("negative qtest wave 2: a multi-row scalar subquery refuses at " +
      "runtime") {
    refuses("subquery_scalar_multi_rows.q",
      "select p_name from qt_part where p_size > " +
        "(select p_size from qt_part)",
      "more than one row", "MULTI", "single")
    // subquery_select_aggregate.q deliberately NOT here: an aggregate
    // over a correlated scalar subquery is well-defined and this engine
    // computes it — Hive's refusal is an implementation limitation
  }

  test("negative qtest wave 2: type-mismatched INSERT and union refuse " +
      "even under Hive's lenient store assignment") {
    spark.sql("CREATE DATABASE IF NOT EXISTS qneg")
    spark.sql("DROP TABLE IF EXISTS qneg.wrong_col_t")
    spark.sql("CREATE TABLE qneg.wrong_col_t(a float) USING parquet")
    try refuses("wrong_column_type.q",
      "INSERT OVERWRITE TABLE qneg.wrong_col_t " +
        "SELECT array(1.0, 2.0) FROM qt_src",
      "cannot", "cast", "incompatible")
    finally spark.sql("DROP TABLE IF EXISTS qneg.wrong_col_t")
    refuses("union2.q",
      "SELECT sum(v) FROM (SELECT array('1') AS v FROM qt_src " +
        "UNION ALL SELECT value AS v FROM qt_src) u",
      "compatible", "type", "UNION")
  }

  test("negative qtest wave 2: CLUSTER/ORDER/SORT misuse refuses") {
    refuses("clustern2.q",
      "SELECT x.key, x.value as v1, y.* FROM qt_src x JOIN qt_src y " +
        "ON (x.key = y.key) CLUSTER BY key",
      "ambiguous", "AMBIGUOUS")
    refuses("orderbysortby.q",
      "SELECT key, value FROM qt_src ORDER BY key SORT BY value",
      "ORDER BY", "SORT BY", "syntax", "PARSE")
    refuses("regex_col_1.q",
      "SELECT `+++` FROM qt_srcpart",
      "+++", "cannot be resolved", "UNRESOLVED", "syntax")
    refuses("lateral_view_join.q",
      "SELECT src.key FROM qt_src src LATERAL VIEW " +
        "explode(array(1,2,3)) myTable AS c JOIN qt_src b ON src.key",
      "boolean", "type", "condition", "syntax")
  }

  test("negative qtest wave 2: window/PTF misuse refuses") {
    // ptf_negative_DistributeByOrderBy.q deliberately NOT here: Spark's
    // grammar accepts DISTRIBUTE BY as a PARTITION BY synonym inside
    // OVER — a strict widening of Hive's surface
    refuses("ptf_negative_AggrFuncsWithNoGBYNoPartDef.q",
      "select p_mfgr, sum(p_retailprice) as s1 from qt_part",
      "GROUP BY", "aggregate", "grouping")
    refuses("ptf_window_boundaries.q",
      "select p_mfgr, p_name, p_size, sum(p_retailprice) over " +
        "(rows unbounded following) as s1 from qt_part",
      "frame", "following", "syntax", "boundary")
  }

  test("negative qtest wave 2: Hive's CHAR/VARCHAR length bounds refuse") {
    refuses("invalid_char_length_1.q",
      "create table qneg_char_t (c1 char(1000000)) USING parquet",
      "255", "char")
    refuses("invalid_char_length_3.q",
      "create table qneg_char_t (c1 char(0)) USING parquet",
      "between 1", "char", "length")
    refuses("invalid_varchar_length_1.q",
      "create table qneg_char_t (c1 varchar(100000)) USING parquet",
      "65535", "varchar")
    // the CAST spelling is out of reach: Spark's parser rewrites a cast's
    // char/varchar target to string before any plan is visible
  }

  test("negative qtest wave 2: dynamic-partition INSERT misuse refuses") {
    refuses("insertover_dynapart_ifnotexists.q",
      "insert overwrite table destpart_dp partition (ds='2008-04-08', hr) " +
        "if not exists select key, value, hr from qt_srcpart",
      "IF NOT EXISTS", "dynamic", "syntax")
  }

  // ------------------------------------------------------------ wave 3
  // (r16: DDL misuse + insert/DML misuse + window/PTF misuse families)

  private def withScratchTable(ddl: Seq[String], drops: Seq[String])(
      body: => Unit): Unit = {
    drops.foreach(d => Engine.sql(spark, sfDir, d))
    ddl.foreach(d => Engine.sql(spark, sfDir, d))
    try body
    finally drops.foreach(d => Engine.sql(spark, sfDir, d))
  }

  test("negative qtest wave 3: partition DDL misuse refuses") {
    withScratchTable(
      Seq("CREATE TABLE neg_mp (a int) PARTITIONED BY (b int)"),
      Seq("DROP TABLE IF EXISTS neg_mp")) {
      // alter_table_add_partition.q: a spec column that is not a
      // partition column
      refuses("alter_table_add_partition.q",
        "ALTER TABLE neg_mp ADD PARTITION (b='1', c='1')",
        "partition", "c")
      // drop_partition_failure.q: FULL-spec drop of a missing partition
      // without IF EXISTS keeps the canonical error (the filter-form
      // expansion must not swallow it)
      refuses("drop_partition_failure.q",
        "ALTER TABLE neg_mp DROP PARTITION (b='77')",
        "PARTITIONS_NOT_FOUND", "not found", "cannot be found")
      // dyn_part1.q: dynamic-partition insert naming a non-partition col
      refuses("dyn_part1.q",
        "INSERT OVERWRITE TABLE neg_mp PARTITION (hr) " +
          "SELECT key, value FROM qt_src",
        "hr", "partition")
    }
  }

  test("negative qtest wave 3: table/view DDL misuse refuses") {
    // drop_table_failure1.q
    refuses("drop_table_failure1.q",
      "DROP TABLE UnknownTableNeg77",
      "not found", "cannot be found", "TABLE_OR_VIEW_NOT_FOUND")
    // alter_view_failure.q: table-verbs addressed at a view
    withScratchTable(
      Seq("CREATE TEMPORARY VIEW neg_xxx3 AS SELECT * FROM qt_src"),
      Seq("DROP VIEW IF EXISTS neg_xxx3")) {
      refuses("alter_view_failure.q",
        "ALTER TABLE neg_xxx3 ADD COLUMNS (xyz int)",
        "view", "EXPECT_TABLE", "not supported")
    }
    // create_table_failure: CREATE over an existing name without
    // IF NOT EXISTS
    withScratchTable(
      Seq("CREATE TABLE neg_dup_t AS SELECT 1 AS k",
        "CREATE TABLE neg_dup_t2 AS SELECT 1 AS k"),
      Seq("DROP TABLE IF EXISTS neg_dup_t",
        "DROP TABLE IF EXISTS neg_dup_t2")) {
      refuses("create_table_failure.q",
        "CREATE TABLE neg_dup_t (a int)",
        "already exists", "TABLE_OR_VIEW_ALREADY_EXISTS")
      // renaming onto an existing name must refuse too
      refuses("rename_to_existing.q",
        "ALTER TABLE neg_dup_t2 RENAME TO neg_dup_t",
        "already exists", "TABLE_OR_VIEW_ALREADY_EXISTS")
    }
  }

  test("negative qtest wave 3: insert misuse refuses") {
    withScratchTable(
      Seq("CREATE TABLE neg_source (s1 int, s2 int)"),
      Seq("DROP TABLE IF EXISTS neg_source")) {
      // insert_into_with_schema.q: column-list arity mismatch
      refuses("insert_into_with_schema.q",
        "INSERT INTO neg_source (s2) VALUES (2, 1)",
        "column", "mismatch", "not enough", "too many")
      // smaller SELECT than the target schema
      refuses("insert_into_with_schema2.q",
        "INSERT INTO neg_source SELECT 1",
        "column", "mismatch", "not enough data columns", "INSERT")
    }
    // nopart_insert.q: partitioned target, no partition values provided
    withScratchTable(
      Seq("CREATE TABLE neg_nopart (a string) PARTITIONED BY (ds string)"),
      Seq("DROP TABLE IF EXISTS neg_nopart")) {
      refuses("nopart_insert.q",
        "INSERT OVERWRITE TABLE neg_nopart SELECT key, value, '1', '2' " +
          "FROM qt_src",
        "column", "mismatch", "too many data columns", "INSERT")
    }
  }

  test("negative qtest wave 3: DML against non-table relations refuses") {
    refuses("delete_non_acid_table.q",
      "DELETE FROM qt_src WHERE key = '86'",
      "DELETE", "not supported", "view", "table")
    refuses("update_no_such_table.q",
      "UPDATE no_such_table_neg SET x = 1 WHERE true",
      "not found", "cannot be found", "no_such_table_neg")
  }

  test("negative qtest wave 3: window/PTF misuse refuses") {
    // ptf_negative_AggrFuncsWithNoGBYNoPartDef.q: bare aggregate next to
    // a non-grouped column
    refuses("ptf_negative_AggrFuncsWithNoGBYNoPartDef.q",
      "SELECT p_mfgr, sum(p_retailprice) AS s1 FROM qt_part",
      "group", "aggregate", "MISSING_GROUP_BY")
    // windowing_after_orderby.q: named window referenced but never defined
    refuses("windowing_after_orderby.q",
      "SELECT sum(CAST(key AS INT)) OVER w AS s FROM qt_src ORDER BY s",
      "window", "w", "not defined", "unresolved")
    // udf_sort_array_wrong1.q: invalid second argument
    refuses("udf_sort_array_wrong1.q",
      "SELECT sort_array(array(2, 5, 4), 3) FROM qt_src LIMIT 1",
      "sort_array", "boolean", "type")
    // udf_elt-style arg-count misuse against the locate override
    refuses("udf_locate_wrong_args.q",
      "SELECT locate('a') FROM qt_src LIMIT 1",
      "locate", "argument")
  }

  test("negative qtest wave 3: join and subquery misuse refuses") {
    // joinneg.q: ON references an alias that does not exist
    refuses("joinneg.q",
      "SELECT Y.* FROM (SELECT * FROM qt_src) x JOIN " +
        "(SELECT * FROM qt_src) Y ON (x.key = b.key)",
      "b", "cannot be resolved", "UNRESOLVED")
    // subquery_scalar_multi_columns in a comparison
    refuses("subquery_multi_col_compare.q",
      "SELECT * FROM qt_src WHERE key = (SELECT key, value FROM qt_src " +
        "LIMIT 1)",
      "subquery", "column", "too many")
  }

  test("negative qtest wave 4: UNIQUEJOIN and quantified-subquery " +
      "misuse refuses") {
    // uniquejoin key lists of different arity (ref clientnegative
    // uniquejoin.q: "The number of columns ... differ")
    refuses("uniquejoin_neg.q",
      "FROM UNIQUEJOIN PRESERVE qt_t1 a (a.key, a.val), PRESERVE " +
        "qt_t2 b (b.key) SELECT a.key",
      "arity", "equal", "number of columns")
    // a quantified comparison against a multi-column subquery
    refuses("subquery_quant_multi.q",
      "SELECT count(*) FROM qt_part WHERE p_partkey > ALL " +
        "(SELECT p_partkey, p_size FROM qt_part)",
      "column", "too many", "NUM_COLUMNS")
    // DISTINCT window over an unsupported function keeps Spark's
    // canonical refusal (only count/sum/avg lower)
    refuses("windowing_distinct_neg.q",
      "SELECT max(DISTINCT p_size) OVER (PARTITION BY p_mfgr) FROM " +
        "qt_part",
      "distinct", "DISTINCT")
  }
}
