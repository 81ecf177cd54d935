package graft.plans

import java.util.Locale

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.TableIdentifier
import org.apache.spark.sql.catalyst.analysis.UnresolvedTable
import org.apache.spark.sql.catalyst.expressions.Cast
import org.apache.spark.sql.catalyst.plans.logical.{AlterColumns, LogicalPlan, QualifiedColType, ReplaceColumns}
import org.apache.spark.sql.functions.{col, lit}
import org.apache.spark.sql.types.{DataType, StructField, StructType}

/** Hive's v1 schema-evolution DDL the Spark session catalog refuses —
  * `ALTER TABLE ... REPLACE COLUMNS (...)` (positional re-typing; ref
  * ql/ddl/table/AlterTableReplaceColsOperation, the schema_evol_*
  * corpus) and `ALTER TABLE ... CHANGE [COLUMN] old new type`
  * (rename + re-type; rename even fails Spark's PARSER). Hive converts
  * old data LAZILY on read (schema-on-read); a v1 parquet table has no
  * such conversion layer, so this bridge REWRITES the data through the
  * requested casts once at ALTER time and swaps the table — same
  * results, eager cost.
  *
  * Scale note (explicit contract): the rewrite is O(table) at ALTER
  * time where Hive pays conversion on every read. At warehouse scale
  * evolve through the snapshot-table layer instead
  * ([[Snapshots]] / s08, s19 — pure metadata). This bridge exists for
  * the Hive-DDL surface over plain catalog tables, where the corpus
  * pins positional REPLACE semantics: columns map by POSITION, extra
  * target columns fill NULL, dropped tails disappear, and every
  * (old → new) pair must be castable (fail-loud otherwise, like
  * Hive's incompatible-column check with
  * hive.metastore.disallow.incompatible.col.type.changes).
  *
  * Partitioned tables evolve their DATA columns only (partition
  * columns are identity-preserved, as in Hive).
  */
object SchemaEvolution {

  /** Plan-level intercept: REPLACE COLUMNS and type-changing CHANGE
    * COLUMN (same-name spelling parses to AlterColumns) over session-
    * catalog v1 tables. Returns None for anything else — including v2
    * snapshot tables, which Spark's own path serves.
    */
  def maybePlan(spark: SparkSession, plan: LogicalPlan): Option[DataFrame] =
    plan match {
      case rc: ReplaceColumns =>
        v1Table(spark, rc.table).map { ident =>
          val target = rc.columnsToAdd.map { q: QualifiedColType =>
            require(q.name.size == 1,
              "REPLACE COLUMNS: nested column paths are not supported")
            StructField(q.name.head, q.dataType)
          }
          evolve(spark, ident, replaceByPosition(spark, ident, target))
        }
      case ac: AlterColumns
          if ac.specs.exists(_.newDataType.isDefined) =>
        v1Table(spark, ac.table).map { ident =>
          val cat = spark.sessionState.catalog.getTableMetadata(ident)
          val dataCols = dataSchema(cat)
          require(ac.specs.forall(_.newPosition.isEmpty),
            "CHANGE COLUMN ... FIRST/AFTER is not supported on plain " +
              "catalog tables (use a snapshot table)")
          val byName = ac.specs.map(s =>
            s.column.name.last.toLowerCase(Locale.ROOT) -> s).toMap
          val target = dataCols.map { f =>
            byName.get(f.name.toLowerCase(Locale.ROOT)) match {
              case Some(s) => f.copy(dataType = s.newDataType.getOrElse(f.dataType))
              case None => f
            }
          }
          evolve(spark, ident, dataCols.zip(target).map {
            case (from, to) => (Some(from), to)
          })
        }
      case _ => None
    }

  /** Text-level intercept for the RENAMING spelling (`CHANGE [COLUMN]
    * old new type`), which Spark's parser refuses outright; the type is
    * the statement's remaining text and must parse as one data type.
    */
  def maybeSql(spark: SparkSession, query: String): Option[DataFrame] = {
    val c = Cursor(query)
    val parser = spark.sessionState.sqlParser
    for {
      _ <- c.expect("ALTER", "TABLE")
      tbl <- c.qparts()
      _ <- c.expect("CHANGE")
      _ <- Some(c.kw("COLUMN"))
      oldName <- c.name()
      newName <- c.name() if !oldName.equalsIgnoreCase(newName)
      newType <- c.rest().flatMap(t =>
        scala.util.Try(parser.parseDataType(t)).toOption)
      ident = TableIdentifier(tbl.last, tbl.init.lastOption)
      if tbl.size <= 2 && spark.sessionState.catalog.tableExists(ident)
    } yield {
      val cat = spark.sessionState.catalog.getTableMetadata(ident)
      val dataCols = dataSchema(cat)
      require(dataCols.exists(_.name.equalsIgnoreCase(oldName)),
        s"CHANGE COLUMN: no column '$oldName' in ${ident.table}")
      val mapping = dataCols.map { f =>
        if (f.name.equalsIgnoreCase(oldName))
          (Some(f), StructField(newName, newType))
        else (Some(f), f)
      }
      evolve(spark, ident, mapping)
    }
  }

  // ------------------------------------------------------------------

  private def v1Table(spark: SparkSession,
      table: LogicalPlan): Option[TableIdentifier] = table match {
    case u: UnresolvedTable =>
      val parts = u.multipartIdentifier
      if (parts.size > 2) None
      else {
        val ident =
          if (parts.size == 2) TableIdentifier(parts(1), Some(parts.head))
          else TableIdentifier(parts.head)
        val cat = spark.sessionState.catalog
        if (cat.tableExists(ident) &&
            // snapshot/named tables route through their own layer
            NamedTables.get(ident.table).isEmpty) Some(ident) else None
      }
    case _ => None
  }

  private def dataSchema(
      cat: org.apache.spark.sql.catalyst.catalog.CatalogTable): Seq[StructField] = {
    val partCols = cat.partitionColumnNames.map(_.toLowerCase(Locale.ROOT)).toSet
    cat.schema.filterNot(f => partCols(f.name.toLowerCase(Locale.ROOT)))
  }

  /** Positional REPLACE mapping: i-th old data column feeds the i-th
    * target column; extra targets fill NULL.
    */
  private def replaceByPosition(spark: SparkSession, ident: TableIdentifier,
      target: Seq[StructField]): Seq[(Option[StructField], StructField)] = {
    val cat = spark.sessionState.catalog.getTableMetadata(ident)
    val old = dataSchema(cat)
    target.zipWithIndex.map { case (to, i) =>
      (old.lift(i), to)
    }
  }

  /** Rewrite the table through the mapping's casts and swap. */
  private def evolve(spark: SparkSession, ident: TableIdentifier,
      mapping: Seq[(Option[StructField], StructField)]): DataFrame = {
    mapping.foreach {
      case (Some(from), to) =>
        require(Cast.canCast(from.dataType, to.dataType),
          s"ALTER TABLE ${ident.table}: column '${from.name}' cannot " +
            s"evolve from ${from.dataType.simpleString} to " +
            s"${to.dataType.simpleString} (the reference's " +
            "incompatible-column check refuses this transition too)")
      case _ => ()
    }
    val cat = spark.sessionState.catalog.getTableMetadata(ident)
    val partCols = cat.partitionColumnNames
    val current = spark.table(ident.unquotedString)
    // CHAR targets re-pad to the NEW declared length on conversion —
    // Hive reads a widened char(n) blank-padded to n (alter_char1.q);
    // Spark's cast keeps the stored padding, so the pad is explicit
    // (rtrim first: the stored value carries the OLD length's pad)
    def converted(src: org.apache.spark.sql.Column,
        to: StructField): org.apache.spark.sql.Column = to.dataType match {
      case org.apache.spark.sql.types.CharType(n) =>
        org.apache.spark.sql.functions.rpad(
          org.apache.spark.sql.functions.rtrim(src.cast("string")),
          n, " ").cast(to.dataType)
      case dt => src.cast(dt)
    }
    val projected = current.select(
      mapping.map {
        case (Some(from), to) => converted(col(from.name), to).as(to.name)
        case (None, to) => lit(null).cast(to.dataType).as(to.name)
      } ++ partCols.map(col): _*)
    val provider = cat.provider.getOrElse("parquet")
    val staged = ident.table + "__graft_evolve"
    spark.sql(s"DROP TABLE IF EXISTS $staged")
    val writer = projected.write.format(provider)
    (if (partCols.nonEmpty) writer.partitionBy(partCols: _*) else writer)
      .saveAsTable(staged)
    // CTAS back under the original name (a RENAME leaves partition
    // locations pointing at the staged directory) — the second copy is
    // part of this bridge's documented eager cost
    spark.sql(s"DROP TABLE ${ident.unquotedString}")
    val partSpec =
      if (partCols.isEmpty) ""
      else partCols.mkString(" PARTITIONED BY (", ", ", ")")
    spark.sql(s"CREATE TABLE ${ident.unquotedString} USING $provider" +
      s"$partSpec AS SELECT * FROM $staged")
    spark.sql(s"DROP TABLE $staged")
    spark.emptyDataFrame
  }
}
