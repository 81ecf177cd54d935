package graft.plans

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.types.{ArrayType, MapType, StructType}

/** Hive's filter-form `ALTER TABLE ... DROP PARTITION` (ref ql/parse
  * partitionSelectorSpec; pinned by drop_partitions_filter.q and
  * escape1.q): partition specs may carry COMPARATORS — `(c='US', d<'2')`,
  * `(c>='US', d<='2')`, `(c != 'France')` — one statement may list
  * several PARTITION groups, and an equality spec may be PARTIAL
  * (`(ds='1')` over a (ds, part) table drops every matching partition).
  * Spark's parser rejects the comparator form outright and its v1 drop
  * refuses partial specs, so Engine.sql routes DROP PARTITION statements
  * here pre-parse; full-equality specs fall through to Spark's native
  * path (canonical behavior and errors preserved).
  *
  * Semantics (Hive's PartitionPruner over drop filters, replayed):
  *  - conditions inside one PARTITION group AND together; groups union;
  *  - values compare NUMERICALLY when both sides parse as numbers, else
  *    as strings (Hive compares with the partition column's type; the
  *    catalog here stores strings, so numeric-looking pairs promote);
  *  - a filter matching nothing is a silent no-op
  *    (hive.exec.drop.ignorenonexistent defaults true);
  *  - the `__HIVE_DEFAULT_PARTITION__` null slot never matches a
  *    comparator (NULL compares UNKNOWN).
  *
  * At warehouse scale this replaces N hand-written equality drops with
  * one statement — resolution is one catalog listing (no data scan) and
  * each drop is a metadata operation. Sessions under SQL authorization
  * require the table's UPDATE privilege, the same gate the
  * state-rewriting maintenance verbs use.
  */
object PartitionDdl {

  private val Cond =
    """(?s)^\s*(?:`([^`]+)`|(\w+))\s*(!=|<>|<=|>=|=|<|>)\s*(.+?)\s*$""".r

  private val DefaultPartition = "__HIVE_DEFAULT_PARTITION__"

  /** Hive/Spark path-escaped partition value (%xx) back to the raw value. */
  private[plans] def unescapePathName(s: String): String = {
    val sb = new StringBuilder(s.length)
    var i = 0
    while (i < s.length) {
      val c = s.charAt(i)
      if (c == '%' && i + 2 < s.length) {
        val hex = s.substring(i + 1, i + 3)
        try { sb.append(Integer.parseInt(hex, 16).toChar); i += 3 }
        catch { case _: NumberFormatException => sb.append(c); i += 1 }
      } else { sb.append(c); i += 1 }
    }
    sb.toString
  }

  private def stripQuotes(v: String): String = {
    val t = v.trim
    if (t.length >= 2 && ((t.head == '\'' && t.last == '\'') ||
        (t.head == '"' && t.last == '"')))
      t.substring(1, t.length - 1).replace("''", "'").replace("\\'", "'")
    else t
  }

  private def compare(a: String, b: String): Int =
    (scala.util.Try(BigDecimal(a)).toOption,
      scala.util.Try(BigDecimal(b)).toOption) match {
      case (Some(x), Some(y)) => x.compare(y)
      case _ => a.compareTo(b)
    }

  private case class Condition(col: String, op: String, value: String) {
    def matches(partValue: String): Boolean = {
      if (partValue == DefaultPartition) return false
      val c = compare(partValue, value)
      op match {
        case "=" => c == 0
        case "!=" | "<>" => c != 0
        case "<" => c < 0
        case ">" => c > 0
        case "<=" => c <= 0
        case ">=" => c >= 0
      }
    }
  }

  /** `ALTER TABLE t PARTITION COLUMN (col type)` — Hive's partition-key
    * type evolution (ref alter_partition_coltype.q; ql/ddl/table/
    * AlterTableAlterPartitionAnalyzer): a METADATA-ONLY retype of one
    * partition column. Catalog partition values are stored as strings
    * and convert to the schema type at planning, so existing partition
    * directories stay valid and predicates coerce under the NEW type
    * (dt='100' keeps matching after dt becomes int; ts='6.30' matches
    * the 6.3 double partition) — at warehouse scale this is the
    * alternative to rewriting every partition. Spark has no spelling
    * for it (the statement is a parse error), so it lands here.
    */
  private def maybeColType(spark: SparkSession, parts: Seq[String],
      c: Cursor): Option[DataFrame] = {
    val parser = spark.sessionState.sqlParser
    val cat = spark.sessionState.catalog
    for {
      entry <- c.group().collect { case Seq(e) => Cursor(e) }
      _ <- c.done()
      col <- entry.name()
      dt <- entry.rest().flatMap(t =>
        scala.util.Try(parser.parseDataType(t)).toOption).filter {
          case _: ArrayType | _: MapType | _: StructType => false
          case _ => true
        }
      meta <- scala.util.Try(cat.getTableMetadata(
        parser.parseTableIdentifier(sqlName(parts)))).toOption
    } yield {
      require(meta.partitionColumnNames.exists(_.equalsIgnoreCase(col)),
        s"$col is not a partition column of ${parts.mkString(".")} " +
          s"(partition columns: ${meta.partitionColumnNames.mkString(", ")})")
      Authz.requireRelationPrivilege(spark, parts, "update")
      val newSchema = StructType(meta.schema.map(
        f => if (f.name.equalsIgnoreCase(col)) f.copy(dataType = dt) else f))
      cat.alterTable(meta.copy(schema = newSchema))
      spark.catalog.refreshTable(sqlName(parts))
      import spark.implicits._
      Seq(s"partition column $col retyped to ${dt.sql}").toDF("result")
    }
  }

  /** A dotted name back in SQL spelling, each part backtick-quoted. */
  private def sqlName(parts: Seq[String]): String =
    parts.map(p => "`" + p.replace("`", "``") + "`").mkString(".")

  /** `ALTER TABLE t PARTITION COLUMN (...)` or `ALTER TABLE t DROP [IF
    * EXISTS] PARTITION (...)[, PARTITION (...)]* [PURGE]`, parsed on the
    * [[Cursor]] grammar; anything else answers None. Runs pre-parse, so
    * only statements leading with ALTER are lexed at all.
    */
  def maybeSql(spark: SparkSession, query: String): Option[DataFrame] = {
    if (!Cursor.leads(query, "ALTER")) return None
    val c = Cursor(query)
    for {
      _ <- c.expect("ALTER", "TABLE")
      parts <- c.qparts()
      out <-
        if (c.kw("PARTITION", "COLUMN")) maybeColType(spark, parts, c)
        else if (c.kw("DROP")) maybeDrop(spark, parts, c)
        else None
    } yield out
  }

  private def maybeDrop(spark: SparkSession, parts: Seq[String],
      c: Cursor): Option[DataFrame] = {
    def parseCond(s: String): Option[Condition] = s match {
      case Cond(bq, bare, op, v) =>
        Some(Condition(Option(bq).getOrElse(bare).toLowerCase,
          op, stripQuotes(v)))
      case _ => None
    }
    c.kw("IF", "EXISTS")
    val table = sqlName(parts)
    for {
      groups <- c.sepBy(",")(for {
        _ <- c.expect("PARTITION")
        g <- c.group() if g.nonEmpty
      } yield g)
      purge <- Some(c.kw("PURGE"))
      _ <- c.done()
      specs <- Cursor.all(groups)(Cursor.all(_)(parseCond))
      pcols <- scala.util.Try(spark.sessionState.catalog.getTableMetadata(
          spark.sessionState.sqlParser.parseTableIdentifier(table))
        .partitionColumnNames.map(_.toLowerCase)).toOption
      // full-equality statements keep Spark's native semantics and
      // errors; unknown columns, a missing table, a temp view or an
      // unparseable name surface the canonical error too
      if pcols.nonEmpty && specs.forall(_.forall(c => pcols.contains(c.col))) &&
        !specs.forall(g => g.forall(_.op == "=") && g.map(_.col).toSet == pcols.toSet)
    } yield {
      Authz.requireRelationPrivilege(spark, parts, "update")
      val partitions = spark.sql(s"SHOW PARTITIONS $table")
        .collect().map(_.getString(0)).toSeq
      val dropped = partitions.filter { p =>
        val kv = p.split("/").map { seg =>
          val Array(k, v) = seg.split("=", 2)
          k.toLowerCase -> unescapePathName(v)
        }.toMap
        specs.exists(g => g.forall(c => kv.get(c.col).exists(c.matches)))
      }
      dropped.foreach { p =>
        val spec = p.split("/").map { seg =>
          val Array(k, v) = seg.split("=", 2)
          val lit = unescapePathName(v)
            .replace("\\", "\\\\").replace("'", "\\'")
          s"`$k`='$lit'"
        }.mkString(", ")
        spark.sql(s"ALTER TABLE $table DROP IF EXISTS PARTITION ($spec)" +
          (if (purge) " PURGE" else ""))
      }
      import spark.implicits._
      dropped.toDF("dropped_partition")
    }
  }
}
