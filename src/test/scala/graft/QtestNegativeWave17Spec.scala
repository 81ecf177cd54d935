package graft

/** Qtest conformance, clientnegative wave 4 (r17): ~45 more statements
  * the reference refuses and this engine must refuse too — invalid
  * casts around BINARY, aggregate `(*)` misuse, wrong function
  * arities/types across the udf_* negative corpus, malformed
  * subqueries, USING-clause misuse, and schema-shape refusals. Message
  * needles follow QtestNegativeSpec's contract: the refusal must NAME
  * the offense.
  *
  * Deliberately excluded, with reasons (same policy as the sampler):
  *  - subquery_all_equal.q (`= ALL(...)`): the engine computes
  *    quantified comparisons (q54 gates them) — Hive's refusal is a
  *    limitation, not a semantic necessity;
  *  - clustern3/4.q (CLUSTER BY with aliased keys): Spark resolves
  *    them; Hive's refusal is positional-resolution debt;
  *  - concat_ws('-') with no parts: ANSI-legal empty concat, the
  *    engine answers '' like Spark.
  */
class QtestNegativeWave17Spec extends QtestHarness {

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

  test("negative wave 4: BINARY cast refusals") {
    refuses("invalid_cast_from_binary_2.q",
      "SELECT cast(a as tinyint) FROM (SELECT cast('x' as binary) AS a) t",
      "cast", "binary")
    refuses("invalid_cast_from_binary_4.q",
      "SELECT cast(a as int) FROM (SELECT cast('x' as binary) AS a) t",
      "cast", "binary")
    refuses("invalid_cast_from_binary_6.q",
      "SELECT cast(a as double) FROM (SELECT cast('x' as binary) AS a) t",
      "cast", "binary")
    // invalid_cast_to_binary_1.q (int -> binary) is EXCLUDED: Spark
    // defines the cast (big-endian bytes) — an engine extension, same
    // policy class as quantified comparisons
    refuses("invalid_cast_to_binary_4.q",
      "SELECT cast(2.0 as binary)",
      "cast", "binary")
    refuses("invalid_cast_to_binary_6.q",
      "SELECT cast(current_timestamp as binary)",
      "cast", "binary")
  }

  test("negative wave 4: aggregate (*) misuse refusals") {
    refuses("invalid_min_syntax.q",
      "SELECT min(*) FROM qt_src", "min", "*")
    refuses("invalid_sum_syntax.q",
      "SELECT sum(*) FROM qt_src", "sum", "*")
    refuses("invalid_std_syntax.q",
      "SELECT std(*) FROM qt_src", "std", "parameters")
    refuses("invalid_variance_syntax.q",
      "SELECT variance(*) FROM qt_src", "variance", "parameters")
    refuses("invalid_stddev_samp_syntax.q",
      "SELECT stddev_samp(*) FROM qt_src", "stddev_samp", "parameters")
    refuses("invalid_var_samp_syntax.q",
      "SELECT var_samp(*) FROM qt_src", "var_samp", "parameters")
  }

  test("negative wave 4: unknown and misused function refusals") {
    refuses("invalid_select_fn.q",
      "SELECT average(key) FROM qt_src GROUP BY value",
      "average", "function", "UNRESOLVED_ROUTINE")
    refuses("udf_invalid.q",
      "SELECT default.nonexistfunc() FROM qt_src",
      "nonexistfunc", "function", "UNRESOLVED_ROUTINE")
    refuses("udf_elt_wrong_args_len.q",
      "SELECT elt(3) FROM qt_src", "elt", "argument")
    refuses("udf_field_wrong_args_len.q",
      "SELECT field(3) FROM qt_src", "field", "argument")
    refuses("udf_locate_wrong_args_len.q",
      "SELECT locate('a', 'b', 1, 2) FROM qt_src",
      "locate", "argument", "parameter")
    refuses("udf_instr_wrong_args_len.q",
      "SELECT instr('abcd') FROM qt_src",
      "instr", "argument", "parameter")
    refuses("udf_size_wrong_args_len.q",
      "SELECT size() FROM qt_src", "size", "argument", "parameter")
    refuses("udf_printf_wrong1.q",
      "SELECT printf() FROM qt_src",
      "printf", "argument", "parameter")
    refuses("udf_format_number_wrong1.q",
      "SELECT format_number(12332.123456) FROM qt_src",
      "format_number", "argument", "parameter")
    refuses("udf_map_keys_arg_num.q",
      "SELECT map_keys(map('a', '1'), map('b', '2'))",
      "map_keys", "argument", "parameter")
    refuses("udf_sort_array_wrong1.q",
      "SELECT sort_array(array(2, 5, 4), 3)",
      "sort_array", "boolean", "DATATYPE_MISMATCH")
    refuses("udf_sort_array_wrong2.q",
      "SELECT sort_array(8)",
      "sort_array", "array", "DATATYPE_MISMATCH")
    refuses("udf_array_contains_wrong1.q",
      "SELECT array_contains(1, 2)",
      "array_contains", "array", "DATATYPE_MISMATCH")
    refuses("udf_if_wrong_args_len.q",
      "SELECT IF(TRUE, 1)", "if", "argument", "parameter")
    refuses("udf_if_not_bool.q",
      "SELECT IF('STRING', 1, 1)",
      "boolean", "DATATYPE_MISMATCH", "CAST_INVALID_INPUT")
    refuses("udf_in.q",
      "SELECT 3 IN (array(1,2,3)) FROM qt_src",
      "IN", "type", "DATATYPE_MISMATCH")
    refuses("udf_min.q",
      "SELECT min(map('key', key, 'value', value)) FROM qt_src",
      "map", "orderable", "DATATYPE_MISMATCH")
    refuses("udf_greatest_error_1.q",
      "SELECT GREATEST(array('a', 'b'), '2.0')",
      "greatest", "type", "DATATYPE_MISMATCH")
    refuses("udf_next_day_error_1.q",
      "SELECT NEXT_DAY(145622345, 'TU')",
      "next_day", "date", "DATATYPE_MISMATCH")
    refuses("udf_cast_format_bad_pattern.q",
      "select cast ('2015-05-15 12:01:00' as date format 'x')",
      "format", "pattern", "token")
  }

  test("negative wave 4: runtime assertion surfaces") {
    refuses("udf_assert_true.q",
      "SELECT ASSERT_TRUE(x < 2) FROM qt_src LATERAL VIEW " +
        "EXPLODE(ARRAY(1, 2)) a AS x LIMIT 2",
      "assert", "not true")
  }

  test("negative wave 4: subquery shape refusals") {
    refuses("subquery_scalar_multi_columns.q",
      "select p_name from qt_part where p_size > " +
        "(select p_size, p_type from qt_part)",
      "subquery", "column")
    // subquery_in_lhs.q is EXCLUDED: Spark computes a scalar subquery
    // on the LHS of IN — Hive's refusal is planner debt, not semantics
    // subquery_in_groupby.q is EXCLUDED: Spark plans an IN-subquery
    // inside a grouping expression (a join under the aggregate) —
    // Hive's refusal is planner debt, not semantics
    refuses("subquery_in_on.q",
      """SELECT p1.p_name FROM qt_part p1 LEFT JOIN
        |(select p_type as p_col from qt_part) p2
        |ON (select pp1.p_type from qt_part pp1
        |    where pp1.p_partkey = p2.p_col)""".stripMargin,
      "subquery", "join", "unsupported", "condition")
    // subquery_corr_from.q is EXCLUDED: Spark decorrelates the
    // nested-FROM outer reference and computes the query — Hive's
    // refusal is planner debt, not semantics
    refuses("invalid_select_column_with_subquery.q",
      "select * from (select * from qt_src) subq where subq = 123",
      "subq", "resolve", "column")
  }

  test("negative wave 4: join clause refusals") {
    refuses("join_using_clause_wrong_column.q",
      """select * from (VALUES (1)) t1(a)
        |join (VALUES (1)) t2(a) using(a)
        |join (VALUES (1)) t3(a) using(b)""".stripMargin,
      "USING", "b", "resolve")
    refuses("join_cond_unqual_ambiguous.q",
      "select s1.key, s2.key from qt_src s1, qt_src s2 " +
        "where key = s2.key",
      "ambiguous", "AMBIGUOUS")
  }

  test("negative wave 4: schema and DDL shape refusals") {
    refuses("invalid_tbl_name.q",
      "create table invalid-name(a int, b string)",
      "syntax", "parse", "invalid")
    refuses("invalid_t_create2.q",
      "CREATE TABLE datetime_test_neg (d DATETIME)",
      "datetime", "type", "syntax", "unsupported")
    refuses("lateral_view_alias.q",
      "SELECT * FROM qt_src LATERAL VIEW explode(array(1,2,3)) " +
        "myTable AS myCol1, myCol2 LIMIT 3",
      "alias", "number", "expected")
    refuses("regex_col_2.q",
      "SELECT `.a.` FROM qt_srcpart",
      ".a.", "resolve", "column")
    // duplicate_alias_in_transform_schema.q is EXCLUDED: Spark permits
    // duplicate output names in any projection (downstream references
    // refuse as ambiguous — the ambiguous_col cases pin that)
    // wrong_column_type.q: an ARRAY literal into a FLOAT column
    Engine.sql(spark, sfDir, "CREATE TABLE neg_wrong_col_t (a float)")
    try refuses("wrong_column_type.q",
      "INSERT OVERWRITE TABLE neg_wrong_col_t " +
        "SELECT array(1.0, 2.0) FROM qt_src",
      "cast", "incompatible", "array")
    finally Engine.sql(spark, sfDir, "DROP TABLE neg_wrong_col_t")
  }
}
