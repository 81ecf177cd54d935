package graft.plans

import java.util.Locale

import org.apache.spark.sql.{Column, DataFrame, GraftShims, SparkSession}
import org.apache.spark.sql.catalyst.analysis.{UnresolvedAttribute, UnresolvedIdentifier, UnresolvedRelation}
import org.apache.spark.sql.catalyst.expressions.{EqualTo, Expression}
import org.apache.spark.sql.catalyst.plans.logical._
import org.apache.spark.sql.catalyst.TableIdentifier
import org.apache.spark.sql.catalyst.catalog.CatalogTableType
import org.apache.spark.sql.functions.{coalesce, col, lit, when}

/** SQL-statement DML: UPDATE / DELETE / MERGE / INSERT as SQL text, planned
  * onto the engine's COW and snapshot-table writers.
  *
  * Spark's own parser already produces the DSv2 DML plans
  * (`UpdateTable`, `DeleteFromTable`, `MergeIntoTable`) — it just has no v1
  * execution for them. This module is the missing semantic analyzer: it
  * pattern-matches the PARSED plan (no hand-rolled SQL grammar) and
  * dispatches to [[Dml]] (plain parquet directories) or [[Snapshots]]
  * (versioned snapshot tables), mirroring how the reference routes statement
  * ASTs to semantic analyzers (ref ql/src/java/org/apache/hadoop/hive/ql/
  * parse/UpdateDeleteSemanticAnalyzer.java, MergeSemanticAnalyzer.java:46 —
  * there MERGE rewrites to a multi-insert; here it lowers to the engine's
  * keyed-merge planner, which plans one full-outer join).
  *
  * Target addressing: a name registered in [[NamedTables]], or the
  * path-addressed forms `snapshot.`/root`` and `parquet.`/dir``.
  *
  * Supported statement shapes (a deliberate, clearly-errored subset):
  *   - `UPDATE t SET c = expr, ... [WHERE cond]`
  *   - `DELETE FROM t [WHERE cond]`
  *   - `MERGE INTO t [AS a] USING src [AS b] ON a.k1 = b.k1 [AND ...]`
  *     (an AND-chain of equi-conditions — composite business keys) with any
  *     number of ordered, optionally-conditional WHEN MATCHED THEN UPDATE
  *     SET / DELETE arms, ordered optionally-conditional WHEN NOT MATCHED
  *     THEN INSERT arms (explicit column list — unassigned columns fill
  *     with NULL — or `INSERT *`; a source row no arm accepts is dropped),
  *     and WHEN NOT MATCHED BY SOURCE THEN UPDATE / DELETE arms
  *     (first-matching-arm-wins throughout, lowered via [[MergeEngine]]).
  *   - `INSERT INTO/OVERWRITE t [(col, ...)] [PARTITION (k='v'[, d])]
  *     SELECT ...` against registered/snapshot targets (positional over the
  *     listed columns, unlisted fill NULL; static PARTITION values become
  *     constants, dynamic ones trail the query output); other targets fall
  *     through to Spark's native handling.
  *
  * In MERGE action expressions, source-alias-qualified and unqualified
  * column references resolve to the SOURCE row; target-alias-qualified
  * references resolve to the pre-update target row (matching
  * [[Dml.merge]] / Snapshots merge semantics, where the joined frame keeps
  * target columns under a `__t_` prefix).
  */
object SqlDml {
  import MergeEngine.targetSide

  /** Execute `plan` if it is a DML statement this module handles; None
    * otherwise (caller falls back to plain `spark.sql`).
    */
  def maybeRun(spark: SparkSession, plan: LogicalPlan): Option[DataFrame] =
    plan match {
      case DeleteFromTable(t, cond) =>
        targetOf(t).map { tgt => runDelete(spark, tgt, cond); done(spark) }
          .orElse(catalogTarget(spark, t).map { case (id, quals) =>
            val c = asColumn(cond, quals)
            cowCatalog(spark, id,
              df => df.where(!coalesce(c, lit(false))))
            done(spark)
          })
          .orElse(refuseView(spark, "DELETE", t))
      case UpdateTable(t, assigns, cond) =>
        targetOf(t).map { tgt =>
          runUpdate(spark, tgt, assigns, cond); done(spark) }
          .orElse(catalogTarget(spark, t).map { case (id, quals) =>
            val set = assigns.map(a =>
              assignName(a.key, quals) -> asColumn(a.value, quals)).toMap
            val c = coalesce(cond.map(asColumn(_, quals))
              .getOrElse(lit(true)), lit(false))
            cowCatalog(spark, id, df => df.select(df.schema.fields.map {
              f =>
                set.collectFirst {
                  case (k, v) if k.equalsIgnoreCase(f.name) => v
                } match {
                  case Some(v) => when(c, v.cast(f.dataType))
                    .otherwise(col(f.name)).as(f.name)
                  case None => col(f.name)
                }
            }.toIndexedSeq: _*))
            done(spark)
          })
          .orElse(refuseView(spark, "UPDATE", t))
      case m: MergeIntoTable =>
        targetOf(m.targetTable).map { tgt =>
          runMerge(spark, tgt, m); done(spark) }
          .orElse(refuseView(spark, "MERGE", m.targetTable))
      case i: InsertIntoStatement =>
        targetOf(i.table).map { tgt => runInsert(spark, tgt, i); done(spark) }
      case CreateTable(UnresolvedIdentifier(Seq(name), _), columns, partitioning,
          spec: TableSpecBase, ignoreIfExists)
          if spec.provider.exists(_.equalsIgnoreCase("snapshot")) =>
        Some { runCreate(spark, name, columns, partitioning, spec,
          ignoreIfExists); done(spark) }
      case c: CreateTableAsSelect => c.name match {
        case UnresolvedIdentifier(Seq(name), _) => c.tableSpec match {
          case spec: TableSpecBase
              if spec.provider.exists(_.equalsIgnoreCase("snapshot")) =>
            Some { runCtas(spark, name, c.partitioning, c.query, spec,
              c.ignoreIfExists); done(spark) }
          case _ => None
        }
        case _ => None
      }
      case DropTable(UnresolvedIdentifier(Seq(name), _), ifExists, _)
          if NamedTables.get(name).isDefined =>
        Some { NamedTables.drop(name); done(spark) }
      // Spark 4 parses LOCATION-less CREATE MATERIALIZED VIEW as a pipeline
      // dataset it refuses to execute directly — route it to the engine's MV
      // registry instead (the LOCATION'd form is a parse error and lands in
      // SqlMaintenance's token matcher)
      case cmv: CreateMaterializedViewAsSelect => cmv.name match {
        case UnresolvedIdentifier(Seq(name), _) => Some {
          require(!MaterializedViews.registered(spark).exists(_.name == name),
            s"materialized view $name already exists")
          val df = GraftShims.ofRows(spark,
            NamedTables.substitute(spark, cmv.query))
          val path = cmv.tableSpec match {
            case s: TableSpecBase if s.location.isDefined => s.location.get
            case _ =>
              spark.conf.get("spark.sql.warehouse.dir").stripSuffix("/") +
                s"/graft_mv/$name"
          }
          MaterializedViews.create(spark, name, df, path,
            Some(cmv.originalText))
          done(spark)
        }
        case _ => None
      }
      case AddColumns(tbl: org.apache.spark.sql.catalyst.analysis.UnresolvedTable,
          cols) =>
        NamedTables.refOf(tbl.multipartIdentifier).collect {
          case r: NamedTables.SnapshotRef =>
            runAddColumns(spark, r.root, cols); done(spark)
        }
      case ac: AlterColumns => ac.table match {
        case tbl: org.apache.spark.sql.catalyst.analysis.UnresolvedTable =>
          NamedTables.refOf(tbl.multipartIdentifier).collect {
            case r: NamedTables.SnapshotRef =>
              val t = Snapshots.table(spark, r.root)
              ac.specs.foreach { sp =>
                if (sp.column.name.size != 1)
                  throw new UnsupportedOperationException(
                    s"nested ALTER COLUMN is not supported: ${sp.column.name.mkString(".")}")
                val c = sp.column.name.head
                if (sp.newComment.isDefined || sp.newPosition.isDefined)
                  throw new UnsupportedOperationException(
                    "ALTER COLUMN supports TYPE <widening>, SET/DROP NOT " +
                      "NULL, and SET/DROP DEFAULT")
                var handled = false
                sp.newDataType.foreach { dt => t.alterColumnType(c, dt); handled = true }
                sp.newNullability.foreach { nullable =>
                  if (nullable) t.dropNotNull(c) else t.setNotNull(c)
                  handled = true
                }
                sp.newDefaultExpression.foreach { d =>
                  t.setDefault(c, d.originalSQL); handled = true }
                if (sp.dropDefault) { t.dropDefault(c); handled = true }
                if (!handled)
                  throw new UnsupportedOperationException(
                    "ALTER COLUMN supports TYPE <widening>, SET/DROP NOT " +
                      "NULL, and SET/DROP DEFAULT")
              }
              done(spark)
          }
        case _ => None
      }
      // CHECK gets its own parse node whose child is Spark's validation scan
      // shape, Filter(NOT cond, relation) — the table is dug out of it
      case acc: AddCheckConstraint =>
        acc.child.collectFirst { case r: UnresolvedRelation =>
          r.multipartIdentifier
        }.flatMap(NamedTables.refOf).collect {
          case r: NamedTables.SnapshotRef =>
            val cc = acc.checkConstraint
            Snapshots.table(spark, r.root).addCheck(cc.name, cc.condition)
            done(spark)
        }
      case addc: AddConstraint => addc.table match {
        case tbl: org.apache.spark.sql.catalyst.analysis.UnresolvedTable =>
          NamedTables.refOf(tbl.multipartIdentifier).collect {
            case r: NamedTables.SnapshotRef =>
              val t = Snapshots.table(spark, r.root)
              addc.tableConstraint match {
                case cc: org.apache.spark.sql.catalyst.expressions.CheckConstraint =>
                  t.addCheck(cc.name, cc.condition)
                case pk: org.apache.spark.sql.catalyst.expressions.PrimaryKeyConstraint =>
                  t.addInformational(pk.name,
                    s"PRIMARY KEY (${pk.columns.mkString(", ")})")
                case u: org.apache.spark.sql.catalyst.expressions.UniqueConstraint =>
                  t.addInformational(u.name,
                    s"UNIQUE (${u.columns.mkString(", ")})")
                case fk: org.apache.spark.sql.catalyst.expressions.ForeignKeyConstraint =>
                  t.addInformational(fk.name,
                    s"FOREIGN KEY (${fk.childColumns.mkString(", ")}) " +
                      s"REFERENCES ${fk.parentTableId.mkString(".")} " +
                      s"(${fk.parentColumns.mkString(", ")})")
                case other => throw new UnsupportedOperationException(
                  s"unsupported constraint: $other")
              }
              done(spark)
          }
        case _ => None
      }
      case dropc: DropConstraint => dropc.table match {
        case tbl: org.apache.spark.sql.catalyst.analysis.UnresolvedTable =>
          NamedTables.refOf(tbl.multipartIdentifier).collect {
            case r: NamedTables.SnapshotRef =>
              val t = Snapshots.table(spark, r.root)
              val c = t.constraints()
              if (c.checks.contains(dropc.name) ||
                  c.informational.contains(dropc.name)) t.dropCheck(dropc.name)
              else if (!dropc.ifExists)
                throw new IllegalArgumentException(
                  s"no such constraint: ${dropc.name}")
              done(spark)
          }
        case _ => None
      }
      case rc: RenameColumn => rc.table match {
        case tbl: org.apache.spark.sql.catalyst.analysis.UnresolvedTable =>
          NamedTables.refOf(tbl.multipartIdentifier).collect {
            case r: NamedTables.SnapshotRef =>
              if (rc.column.name.size != 1)
                throw new UnsupportedOperationException(
                  s"nested RENAME COLUMN is not supported: ${rc.column.name.mkString(".")}")
              Snapshots.table(spark, r.root)
                .renameColumn(rc.column.name.head, rc.newName)
              done(spark)
          }
        case _ => None
      }
      case dc: DropColumns => dc.table match {
        case tbl: org.apache.spark.sql.catalyst.analysis.UnresolvedTable =>
          NamedTables.refOf(tbl.multipartIdentifier).collect {
            case r: NamedTables.SnapshotRef =>
              val t = Snapshots.table(spark, r.root)
              val have = t.latest()
              val names = dc.columnsToDrop.map { f =>
                if (f.name.size != 1) throw new UnsupportedOperationException(
                  s"nested DROP COLUMN is not supported: ${f.name.mkString(".")}")
                f.name.head
              }
              val schema = org.apache.spark.sql.types.DataType
                .fromJson(have.schemaJson)
                .asInstanceOf[org.apache.spark.sql.types.StructType]
              names.foreach { n =>
                if (!schema.fieldNames.contains(n) && !dc.ifExists)
                  throw new IllegalArgumentException(s"no such column: $n")
              }
              names.filter(schema.fieldNames.contains)
                .foreach(n => t.dropColumn(n))
              done(spark)
          }
        case _ => None
      }
      // ALTER TABLE ... SET TBLPROPERTIES: write.mode switches the DML
      // strategy (registration update), bloom.columns[/bloom.bits]
      // (re)configures the file-skipping index; other keys are rejected
      // loudly rather than silently dropped
      case sp: SetTableProperties => sp.table match {
        case tbl: org.apache.spark.sql.catalyst.analysis.UnresolvedTable =>
          NamedTables.refOf(tbl.multipartIdentifier).collect {
            case r: NamedTables.SnapshotRef =>
              val name = tbl.multipartIdentifier.mkString(".")
              sp.properties.foreach {
                case ("write.mode", m) =>
                  NamedTables.registerSnapshot(name, r.root, m match {
                    case NamedTables.WriteCow | NamedTables.WriteMor => m
                    case "cow" => NamedTables.WriteCow
                    case "mor" => NamedTables.WriteMor
                    case other => throw new IllegalArgumentException(
                      s"unknown write.mode: $other")
                  })
                case ("bloom.columns", cols) =>
                  val bits = sp.properties.get("bloom.bits")
                    .map(_.toLong).getOrElse(1L << 20)
                  Snapshots.table(spark, r.root).setBloomColumns(
                    cols.split(',').map(_.trim).filter(_.nonEmpty).toSeq, bits)
                case ("bloom.bits", bits) =>
                  // alone = resize the EXISTING index (with bloom.columns in
                  // the same statement it is consumed there)
                  if (!sp.properties.contains("bloom.columns")) {
                    val t = Snapshots.table(spark, r.root)
                    val cfg = t.bloomConfig().getOrElse(
                      throw new IllegalArgumentException(
                        "bloom.bits without bloom.columns needs an existing " +
                          "bloom index to resize"))
                    // cols are stored physically; map back to logical names
                    val m = t.latest()
                    val phys2log = m.colMapping.map(_.swap)
                    t.setBloomColumns(
                      cfg.cols.map(c => phys2log.getOrElse(c, c)),
                      bits.toLong)
                  }
                case (k, _) => throw new UnsupportedOperationException(
                  s"unsupported table property: $k (write.mode, " +
                    "bloom.columns, bloom.bits)")
              }
              done(spark)
          }
        case _ => None
      }
      case st: ShowTableProperties if st.propertyKey.isEmpty => st.table match {
        case u: org.apache.spark.sql.catalyst.analysis.UnresolvedTableOrView =>
          NamedTables.refOf(u.multipartIdentifier).map { ref =>
            import spark.implicits._
            val rows = ref match {
              case r: NamedTables.SnapshotRef =>
                val t = Snapshots.table(spark, r.root)
                Seq("write.mode" -> r.writeMode, "location" -> r.root,
                  "format" -> "snapshot",
                  "version" -> t.latest().version.toString) ++
                  t.bloomConfig().map(c =>
                    "bloom.columns" -> c.cols.mkString(",")).toSeq
              case p: NamedTables.PathRef =>
                Seq("location" -> p.root, "format" -> "parquet")
            }
            rows.toDF("key", "value")
          }
        case _ => None
      }
      // ALTER TABLE ... DROP PARTITION (k='v'[, ...]): lowered to a
      // partition-predicate DELETE — on a snapshot table that is a
      // metadata-cheap file-drop commit (every file in the partition matches
      // wholly), the reference's drop-partition semantics without a
      // metastore (ref ql/.../DDLSemanticAnalyzer.java dropPartitions)
      case dp: DropPartitions => dp.table match {
        case tbl: org.apache.spark.sql.catalyst.analysis.UnresolvedTable =>
          NamedTables.refOf(tbl.multipartIdentifier).collect {
            case r: NamedTables.SnapshotRef =>
              val t = Snapshots.table(spark, r.root)
              val partCols = t.latest().partitionCols.toSet
              dp.parts.foreach {
                case u: org.apache.spark.sql.catalyst.analysis.UnresolvedPartitionSpec =>
                  val unknown = u.spec.keySet.diff(partCols)
                  if (unknown.nonEmpty) throw new IllegalArgumentException(
                    s"not partition column(s): ${unknown.mkString(", ")} " +
                      s"(table partitions: ${partCols.mkString(", ")})")
                  val cond = u.spec.map { case (k, v) =>
                    col(k) === lit(v) }.reduce(_ && _)
                  val head = t.latest()
                  val m = t.deleteWhere(cond)
                  if (m.version == head.version && !dp.ifExists)
                    throw new IllegalArgumentException(
                      s"no such partition: ${u.spec.mkString(", ")}")
                case other => throw new UnsupportedOperationException(
                  s"unsupported partition spec: $other")
              }
              done(spark)
          }
        case _ => None
      }
      case tt: TruncateTable => tt.table match {
        case tbl: org.apache.spark.sql.catalyst.analysis.UnresolvedTable =>
          NamedTables.refOf(tbl.multipartIdentifier).map {
            case r: NamedTables.SnapshotRef =>
              Snapshots.table(spark, r.root).truncate(); done(spark)
            case NamedTables.PathRef(path) =>
              Dml.deleteWhere(spark, path, lit(true)); done(spark)
          }
        case _ => None
      }
      case rt: RenameTable if !rt.isView => rt.child match {
        case u: org.apache.spark.sql.catalyst.analysis.UnresolvedTableOrView
            if u.multipartIdentifier.size == 1 && rt.newName.size == 1 &&
              NamedTables.get(u.multipartIdentifier.head).isDefined =>
          Some { NamedTables.rename(u.multipartIdentifier.head,
            rt.newName.head); done(spark) }
        case _ => None
      }
      case sp: ShowPartitions if sp.pattern.isEmpty => sp.table match {
        case tbl: org.apache.spark.sql.catalyst.analysis.UnresolvedTable =>
          NamedTables.refOf(tbl.multipartIdentifier).collect {
            case r: NamedTables.SnapshotRef => runShowPartitions(spark, r)
          }
        case _ => None
      }
      case ShowTables(ns, pattern, _) if (ns match {
        case org.apache.spark.sql.catalyst.analysis.CurrentNamespace => true
        case org.apache.spark.sql.catalyst.analysis.UnresolvedNamespace(parts, _) =>
          parts.isEmpty ||
            parts.map(_.toLowerCase(Locale.ROOT)) == Seq("default")
        case _ => false
      }) => Some(runShowTables(spark, pattern))
      case d: DescribeRelation => d.relation match {
        case u: org.apache.spark.sql.catalyst.analysis.UnresolvedTableOrView =>
          NamedTables.refOf(u.multipartIdentifier)
            .map(runDescribe(spark, u.multipartIdentifier.mkString("."), _))
        case _ => None
      }
      // `DESCRIBE HISTORY t` parses as DescribeColumn(table=HISTORY,
      // column=t) — reinterpret that shape when the "table" is literally
      // HISTORY and the "column" is a registered snapshot name (Delta's
      // DESCRIBE HISTORY surface; the snapshot_history() TVF is the
      // composable twin)
      case dc: DescribeColumn => (dc.relation, dc.column) match {
        case (u: org.apache.spark.sql.catalyst.analysis.UnresolvedTableOrView,
            a: UnresolvedAttribute)
            if u.multipartIdentifier.map(norm) == Seq("history") &&
              a.nameParts.size == 1 =>
          NamedTables.refOf(a.nameParts).collect {
            case r: NamedTables.SnapshotRef =>
              Snapshots.table(spark, r.root).describeHistory()
          }
        case _ => None
      }
      case sc: ShowCreateTable => sc.child match {
        case u: org.apache.spark.sql.catalyst.analysis.UnresolvedTableOrView =>
          NamedTables.refOf(u.multipartIdentifier)
            .map(runShowCreate(spark, u.multipartIdentifier.mkString("."), _))
        case _ => None
      }
      case _ => None
    }

  /** SHOW TABLES (current namespace): Spark's own listing — temp views and
    * session-catalog tables — plus the engine's registered names, in the
    * native (namespace, tableName, isTemporary) shape. Patterns follow
    * Spark's SHOW TABLES LIKE semantics: `*` wildcard, `|` alternation,
    * case-insensitive. `SHOW TABLES IN ns` passes through untouched —
    * registered names live in the default namespace only.
    */
  private def runShowTables(spark: SparkSession,
      pattern: Option[String]): DataFrame = {
    import spark.implicits._
    def matches(name: String): Boolean = pattern.forall(_.split("\\|")
      .exists(p => name.matches("(?i)" + java.util.regex.Pattern.quote(p)
        .replace("*", "\\E.*\\Q"))))
    val native = spark.sql(
      "SHOW TABLES" + pattern.map(p => s" LIKE '$p'").getOrElse(""))
    val taken = native.collect().map(_.getString(1)).toSet // command output: tiny
    val mine = NamedTables.all().map(_._1)
      .filter(n => matches(n) && !taken.contains(n))
    // Hive's listing is ONE column (tab_name — ref ql/ddl/table/info/
    // ShowTablesOperation.java); Spark's adds namespace/isTemporary
    (taken.toSeq ++ mine).sorted.toDF("tab_name")
  }

  /** SHOW PARTITIONS <registered-snapshot-name>: the distinct `k=v/...`
    * partition specs present in the CURRENT manifest's file list — pure
    * metadata (no data scan), like the reference's metastore-backed listing
    * (ref ql/ddl/table/partition ShowPartitions operations).
    */
  private def runShowPartitions(spark: SparkSession,
      r: NamedTables.SnapshotRef): DataFrame = {
    import spark.implicits._
    val m = Snapshots.table(spark, r.root).latest()
    if (m.partitionCols.isEmpty)
      throw new IllegalArgumentException(
        s"SHOW PARTITIONS: table at ${r.root} is not partitioned")
    m.files
      .map { f =>
        // partition dirs are the k=v segments between the data/<uuid>
        // commit dir and the part file name
        f.split("/").filter(_.contains("=")).mkString("/")
      }
      .filter(_.nonEmpty).distinct.sorted
      .toDF("partition")
  }

  /** DESCRIBE [TABLE] <registered-name>: schema rows plus partition and
    * table-format information, in Spark's describe-output shape.
    */
  private def runDescribe(spark: SparkSession, name: String,
      ref: NamedTables.Ref): DataFrame = {
    import spark.implicits._
    val (schema, partCols, extras) = ref match {
      case r: NamedTables.SnapshotRef =>
        val t = Snapshots.table(spark, r.root)
        val m = t.latest()
        val c = t.constraints()
        val constraintRows =
          (if (c.notNull.isEmpty && c.checks.isEmpty && c.defaults.isEmpty &&
               c.informational.isEmpty) Nil
           else Seq(("# Constraints", "", ""))) ++
            c.notNull.sorted.map(n => (n, "NOT NULL", "enforced")) ++
            c.checks.toSeq.sortBy(_._1).map { case (n, e) =>
              (n, s"CHECK ($e)", "enforced") } ++
            c.defaults.toSeq.sortBy(_._1).map { case (n, e) =>
              (n, s"DEFAULT $e", "") } ++
            c.informational.toSeq.sortBy(_._1).map { case (n, e) =>
              (n, e, "informational") }
        // bucket config stores PHYSICAL names (rename-proof); render the
        // logical ones the displayed schema uses
        def logicalOf(phys: String): String = m.colMapping.collectFirst {
          case (log, p) if p == phys => log }.getOrElse(phys)
        val bucketRows = t.bucketConfig().toSeq.flatMap { b =>
          Seq(("# Bucketing", "", ""),
            ("Bucket Columns", b.cols.map(logicalOf).mkString(", "), ""),
            ("Num Buckets", b.n.toString, "")) ++
            (if (b.sortCols.isEmpty) Nil
             else Seq(("Sort Columns",
               b.sortCols.map(logicalOf).mkString(", "), "")))
        }
        val skewRows = t.skewSpec().toSeq.flatMap { s =>
          Seq(("# Skew", "", ""),
            ("Skewed Columns", s.cols.mkString(", "), ""),
            ("Skewed Values",
              s.values.map(_.mkString("(", ", ", ")")).mkString(", "), ""),
            ("Stored As Directories", s.storedAsDirectories.toString, ""))
        }
        (t.read().schema, m.partitionCols,
          constraintRows ++ bucketRows ++ skewRows ++
          Seq(("# Detail", "", ""), ("Format", "snapshot", ""),
            ("Location", r.root, ""), ("Write Mode", r.writeMode, ""),
            ("Version", m.version.toString, "")))
      case p: NamedTables.PathRef =>
        (spark.read.parquet(p.root).schema, Seq.empty[String],
          Seq(("# Detail", "", ""), ("Format", "parquet", ""),
            ("Location", p.root, "")))
    }
    val cols = schema.fields.map(f =>
      (f.name, f.dataType.simpleString, if (f.nullable) "" else "not null")).toSeq
    val parts =
      if (partCols.isEmpty) Nil
      else ("# Partition Information", "", "") +: partCols.map(c => (c, "", ""))
    (cols ++ parts ++ extras).toDF("col_name", "data_type", "comment")
  }

  /** SHOW CREATE TABLE for a registered name: a re-runnable CREATE statement
    * (column types from the live schema, enforced NOT NULL inline, CHECK /
    * informational constraints as CONSTRAINT clauses, DEFAULTs inline,
    * partitioning and location as written) in Spark's native single-column
    * `createtab_stmt` shape.
    */
  private def runShowCreate(spark: SparkSession, name: String,
      ref: NamedTables.Ref): DataFrame = {
    import spark.implicits._
    val stmt = ref match {
      case r: NamedTables.SnapshotRef =>
        val t = Snapshots.table(spark, r.root)
        val m = t.latest()
        val c = t.constraints()
        val colLines = t.read().schema.fields.map { f =>
          val nn = if (c.notNull.contains(f.name)) " NOT NULL" else ""
          val dflt = c.defaults.get(f.name).map(d => s" DEFAULT $d").getOrElse("")
          s"  ${f.name} ${f.dataType.sql}$nn$dflt"
        }
        val constraintLines =
          c.checks.toSeq.sortBy(_._1).map { case (n, e) =>
            s"  CONSTRAINT $n CHECK ($e)" } ++
          c.informational.toSeq.sortBy(_._1).map { case (n, e) =>
            s"  CONSTRAINT $n $e" }
        val partBy =
          if (m.partitionCols.isEmpty) ""
          else s"\nPARTITIONED BY (${m.partitionCols.mkString(", ")})"
        // render the bucket column by its LOGICAL name (the config stores
        // the rename-proof physical one) so the statement re-runs
        val clusterBy = t.bucketConfig().map { b =>
          def logicalOf(phys: String): String = m.colMapping.collectFirst {
            case (log, p) if p == phys => log }.getOrElse(phys)
          val sorted =
            if (b.sortCols.isEmpty) ""
            else s" SORTED BY (${b.sortCols.map(logicalOf).mkString(", ")})"
          s"\nCLUSTERED BY (${b.cols.map(logicalOf).mkString(", ")})" +
            s"$sorted INTO ${b.n} BUCKETS"
        }.getOrElse("")
        s"CREATE TABLE $name (\n${(colLines ++ constraintLines).mkString(",\n")})\n" +
          s"USING snapshot$partBy$clusterBy\nLOCATION '${r.root}'"
      case p: NamedTables.PathRef =>
        val colLines = spark.read.parquet(p.root).schema.fields
          .map(f => s"  ${f.name} ${f.dataType.sql}")
        s"CREATE TABLE $name (\n${colLines.mkString(",\n")})\n" +
          s"USING parquet\nLOCATION '${p.root}'"
    }
    Seq(stmt).toDF("createtab_stmt")
  }

  /** DML statements return an empty frame, like Spark's own commands. */
  private def done(spark: SparkSession): DataFrame = spark.emptyDataFrame

  /** A resolved DML target: its ref plus the qualifiers (alias and/or table
    * name) its columns may carry in statement expressions.
    */
  private final case class Target(display: String, qualifiers: Set[String],
      ref: NamedTables.Ref, branch: Option[String] = None) {
    def read(spark: SparkSession): DataFrame = ref match {
      case r: NamedTables.SnapshotRef => branch match {
        // a branch target reads (and so aligns/validates against) the
        // BRANCH head, not the mainline
        case Some(b) => Snapshots.table(spark, r.root).readRef(b)
        case None => Snapshots.table(spark, r.root).read()
      }
      case NamedTables.PathRef(path) => spark.read.parquet(path)
    }
  }

  private def norm(s: String): String = s.toLowerCase(Locale.ROOT)

  /** Hive transactional tables take row-level UPDATE/DELETE (ref
    * ql/parse/UpdateDeleteSemanticAnalyzer.java — rewritten to
    * insert-overwrite; the schema_evol_*_update / acid corpus); Spark
    * has no v1 execution for them. Plain session-catalog tables (any
    * stored format) execute COPY-ON-WRITE here: read, transform,
    * stage to a temp parquet dir (the source must be fully
    * materialized before the overwrite truncates it), then
    * INSERT OVERWRITE back through the table's own writer.
    *
    * Scale note: the rewrite is O(table) per statement — exactly
    * Hive's major-compaction cost paid eagerly. Update-heavy tables
    * belong on the snapshot layer ([[Snapshots]], MOR deltas); this
    * path is the Hive-DDL bridge for ordinary catalog tables.
    */
  private def catalogTarget(spark: SparkSession, plan: LogicalPlan,
      quals: Set[String] = Set.empty)
      : Option[(TableIdentifier, Set[String])] = plan match {
    case SubqueryAlias(id, child) =>
      catalogTarget(spark, child, quals + norm(id.name))
    case u: UnresolvedRelation =>
      val parts = u.multipartIdentifier
      if (NamedTables.refOf(parts).isDefined) None
      else {
        catalogIdent(parts).filter { id =>
          val cat = spark.sessionState.catalog
          cat.tableExists(id) &&
            cat.getTableMetadata(id).tableType != CatalogTableType.VIEW
        }.map(id => (id, quals + norm(id.table)))
      }
    case _ => None
  }

  private def catalogIdent(parts: Seq[String]): Option[TableIdentifier] =
    parts match {
      case Seq(t) => Some(TableIdentifier(t))
      case Seq(db, t) => Some(TableIdentifier(t, Some(db)))
      case _ => None
    }

  /** Refuses row-level DML whose target names a view (temporary or
    * catalog): a view has no files to rewrite, and on a temp view Spark
    * fails with an INTERNAL_ERROR (DELETE, UPDATE) or blames a table it
    * calls `unknown` (MERGE). None for any other target, so a missing name
    * keeps Spark's own not-found error.
    */
  private def refuseView(spark: SparkSession, verb: String,
      plan: LogicalPlan): Option[DataFrame] = plan match {
    case SubqueryAlias(_, child) => refuseView(spark, verb, child)
    case u: UnresolvedRelation =>
      val parts = u.multipartIdentifier
      val cat = spark.sessionState.catalog
      val isView = cat.isTempView(parts) || catalogIdent(parts).exists(id =>
        cat.tableExists(id) &&
          cat.getTableMetadata(id).tableType == CatalogTableType.VIEW)
      if (isView) throw new UnsupportedOperationException(
        s"$verb on ${parts.mkString(".")} is not supported: it is a view, and " +
          "row-level DML needs a snapshot, registered or catalog table")
      None
    case _ => None
  }

  private def cowCatalog(spark: SparkSession, id: TableIdentifier,
      f: DataFrame => DataFrame): Unit = {
    val name = id.unquotedString
    val out = f(spark.table(name))
    val tmp = java.nio.file.Files
      .createTempDirectory("graft_cow_catalog_").toString
    out.write.mode("overwrite").parquet(tmp)
    spark.read.parquet(tmp).write.mode("overwrite").insertInto(name)
    spark.catalog.refreshTable(name)
  }

  /** Unwrap the target relation (through its alias). None when the relation
    * is not one this module addresses — the statement then falls through to
    * Spark, which raises its own unsupported-statement error.
    */
  private def targetOf(plan: LogicalPlan): Option[Target] = plan match {
    case SubqueryAlias(id, child) =>
      targetOf(child).map(t => t.copy(qualifiers = t.qualifiers + norm(id.name)))
    case u: UnresolvedRelation =>
      val parts = u.multipartIdentifier
      // `t.branch_b` / `t.tag_g` as a DML target: the ref name routes the
      // write onto the branch head (tags refuse downstream — immutable)
      NamedTables.refReadOf(parts) match {
        case Some((name, sub, root))
            if norm(sub).startsWith("branch_") || norm(sub).startsWith("tag_") =>
          val refName = sub.substring(sub.indexOf('_') + 1)
          Some(Target(parts.mkString("."), Set(norm(parts.last)),
            NamedTables.SnapshotRef(root), Some(refName)))
        case _ =>
          val ref = NamedTables.refOf(parts).orElse(parts match {
            case Seq(fmt, path) if norm(fmt) == "parquet" =>
              Some(NamedTables.PathRef(path))
            case _ => None
          })
          ref.map(r => Target(parts.mkString("."), Set(norm(parts.last)), r))
      }
    case _ => None
  }

  /** Strip a leading target/source qualifier from attribute references so
    * expressions resolve against the bare table scan.
    */
  private def strip(e: Expression, quals: Set[String]): Expression =
    e.transformUp {
      case a: UnresolvedAttribute if a.nameParts.size > 1 &&
          quals.contains(norm(a.nameParts.head)) =>
        UnresolvedAttribute(a.nameParts.tail)
    }

  private def asColumn(e: Expression, quals: Set[String]): Column =
    GraftShims.column(strip(e, quals))

  private def assignName(k: Expression, quals: Set[String]): String =
    strip(k, quals) match {
      case a: UnresolvedAttribute if a.nameParts.size == 1 => a.nameParts.head
      case other => throw new UnsupportedOperationException(
        s"only top-level columns are assignable, got: ${other.sql}")
    }

  private def runDelete(spark: SparkSession, t: Target, cond: Expression): Unit = {
    val c = asColumn(cond, t.qualifiers)
    (t.ref, t.branch) match {
      // branch-addressed DELETE commits onto the branch head (always COW —
      // WAP staging is short-lived, MOR's write trade buys nothing); a tag
      // target refuses inside deleteWhereOnBranch (tags are immutable)
      case (r: NamedTables.SnapshotRef, Some(b)) =>
        Snapshots.table(spark, r.root).deleteWhereOnBranch(b, c)
      case (r: NamedTables.SnapshotRef, None)
          if r.writeMode == NamedTables.WriteMor =>
        Snapshots.table(spark, r.root).deleteWhereMergeOnRead(c)
      case (r: NamedTables.SnapshotRef, None) =>
        Snapshots.table(spark, r.root).deleteWhere(c)
      case (NamedTables.PathRef(path), _) => Dml.deleteWhere(spark, path, c)
    }
  }

  private def runUpdate(spark: SparkSession, t: Target,
      assigns: Seq[Assignment], cond: Option[Expression]): Unit = {
    val set = assigns.map(a =>
      assignName(a.key, t.qualifiers) -> asColumn(a.value, t.qualifiers)).toMap
    val c = cond.map(asColumn(_, t.qualifiers))
      .getOrElse(org.apache.spark.sql.functions.lit(true))
    (t.ref, t.branch) match {
      case (r: NamedTables.SnapshotRef, Some(b)) =>
        Snapshots.table(spark, r.root).updateWhereOnBranch(b, c, set)
      case (r: NamedTables.SnapshotRef, None)
          if r.writeMode == NamedTables.WriteMor =>
        Snapshots.table(spark, r.root).updateWhereMergeOnRead(c, set)
      case (r: NamedTables.SnapshotRef, None) =>
        Snapshots.table(spark, r.root).updateWhere(c, set)
      case (NamedTables.PathRef(path), _) => Dml.updateWhere(spark, path, c, set)
    }
  }

  private def runInsert(spark: SparkSession, t: Target,
      i: InsertIntoStatement): Unit = {
    val rows = GraftShims.ofRows(spark, NamedTables.substitute(spark, i.query))
    val fields = t.read(spark).schema.fields
    val tableCols = fields.map(_.name)
    def resolve(c: String): String =
      tableCols.find(_.equalsIgnoreCase(c)).getOrElse(
        throw new IllegalArgumentException(
          s"INSERT column $c not found in ${t.display}" +
            s" (${tableCols.mkString(", ")})"))
    // PARTITION (k='v', d) — partition columns are ordinary data columns
    // here, so a static spec becomes a constant and a dynamic one a
    // query-supplied column placed LAST, matching the reference's clause
    // shape (ref ql HiveParser.g insertClause/partitionSpec: query columns
    // in table order, dynamic partition columns trailing)
    val static: Map[String, String] =
      i.partitionSpec.collect { case (k, Some(v)) => resolve(k) -> v }
    val dynamic: Seq[String] =
      i.partitionSpec.toSeq.collect { case (k, None) => resolve(k) }
    val named =
      if (i.byName) { // INSERT INTO ... BY NAME: match columns by name
        val expect = tableCols.filterNot(static.contains)
        val missing = expect.filterNot(rows.columns.contains)
        require(missing.isEmpty,
          s"INSERT BY NAME is missing column(s) ${missing.mkString(", ")}")
        rows.select(expect.map(col): _*)
      } else { // plain SQL INSERT is positional over the assigned columns
        val listed: Seq[String] =
          if (i.userSpecifiedCols.nonEmpty) i.userSpecifiedCols.map(resolve)
          else tableCols.toSeq.filterNot(c =>
            static.contains(c) || dynamic.contains(c))
        val expect = listed ++ dynamic
        require(expect.distinct.size == expect.size,
          s"INSERT assigns a column twice: ${expect.mkString(", ")}")
        val clash = listed.filter(static.contains)
        require(clash.isEmpty,
          s"column(s) ${clash.mkString(", ")} appear in both the column " +
            "list and a static PARTITION spec")
        require(rows.columns.length == expect.length,
          s"INSERT arity ${rows.columns.length} != expected " +
            s"${expect.length} (${expect.mkString(", ")})")
        rows.toDF(expect.toIndexedSeq: _*)
      }
    // Full target row: assigned columns cast to the column types (a decimal
    // literal into a double column must not stage a decimal-typed file),
    // static PARTITION values as constants, anything else the column's
    // declared DEFAULT if one exists, else NULL — SQL INSERT's
    // unlisted-column fill (explicitly-inserted NULLs stay NULL; defaults
    // apply only to OMITTED columns, the ANSI/Hive contract).
    val defaults: Map[String, String] = t.ref match {
      case r: NamedTables.SnapshotRef =>
        Snapshots.table(spark, r.root).constraints().defaults
      case _ => Map.empty
    }
    val assigned = named.columns.toSet
    val aligned = named.select(
      fields.map { f =>
        val c =
          if (assigned.contains(f.name)) col(f.name)
          else static.get(f.name).map(lit(_))
            .orElse(defaults.get(f.name).map(org.apache.spark.sql.functions.expr))
            .getOrElse(lit(null))
        c.cast(f.dataType).as(f.name)
      }.toIndexedSeq: _*)
    t.ref match {
      case r: NamedTables.SnapshotRef =>
        val st = Snapshots.table(spark, r.root)
        t.branch match {
          case Some(b) =>
            require(!i.overwrite, "INSERT OVERWRITE onto a branch is not " +
              "supported — append to the branch, audit, then FAST-FORWARD")
            st.appendToBranch(b, aligned)
          case None =>
            if (i.overwrite) st.overwrite(aligned) else st.append(aligned)
        }
      case NamedTables.PathRef(path) =>
        if (i.overwrite) Dml.insertOverwrite(spark, path, aligned)
        else Dml.insertInto(spark, path, aligned)
    }
  }

  /** The manifest-log dir a snapshot root would have — existence = table. */
  private def snapshotExists(spark: SparkSession, root: String): Boolean = {
    val p = new org.apache.hadoop.fs.Path(root, "_graft_log")
    p.getFileSystem(spark.sparkContext.hadoopConfiguration).exists(p)
  }

  private def locationOf(name: String, spec: TableSpecBase): String =
    spec.location.getOrElse(throw new UnsupportedOperationException(
      s"CREATE TABLE $name USING snapshot needs a LOCATION '<root>' clause " +
        "(snapshot tables are path-rooted; there is no default warehouse)"))

  /** The `write.mode` table property: copy-on-write (default) or
    * merge-on-read — picks the UPDATE/DELETE statement strategy.
    */
  private def writeModeOf(spec: TableSpecBase): String =
    spec.properties.getOrElse("write.mode", NamedTables.WriteCow) match {
      case m @ (NamedTables.WriteCow | NamedTables.WriteMor) => m
      case "cow" => NamedTables.WriteCow
      case "mor" => NamedTables.WriteMor
      case other => throw new IllegalArgumentException(
        s"write.mode must be copy-on-write or merge-on-read, got '$other'")
    }

  /** ALTER TABLE t ADD COLUMNS (...): snapshot schema evolution —
    * metadata-only commit, pre-evolution files read the columns as NULL.
    */
  private def runAddColumns(spark: SparkSession, root: String,
      cols: Seq[QualifiedColType]): Unit = {
    val fields = cols.map { c =>
      if (c.name.size != 1) throw new UnsupportedOperationException(
        s"nested ADD COLUMNS is not supported: ${c.name.mkString(".")}")
      org.apache.spark.sql.types.StructField(c.name.head, c.dataType)
    }
    Snapshots.table(spark, root)
      .addColumns(org.apache.spark.sql.types.StructType(fields))
  }

  /** Attach path: a declared CLUSTERED BY must MATCH the durable layout —
    * silently ignoring bucket DDL would let a user believe a table is
    * bucketed (and trust shuffle-free joins) when it is not. Declared names
    * are LOGICAL; the config stores rename-proof physical names, so compare
    * through the manifest's column mapping (this is what keeps the SHOW
    * CREATE TABLE output re-runnable after a bucket-column RENAME).
    */
  private def requireBucketSpecMatches(spark: SparkSession, root: String,
      partitioning: Seq[org.apache.spark.sql.connector.expressions.Transform])
      : Unit = {
    val (_, declared) = partitionColsOf(partitioning)
    declared.foreach { d =>
      val t = Snapshots.table(spark, root)
      val m = t.latest()
      val actual = t.bucketConfig()
      val declPhys = d.cols.map(m.physical)
      val declSortPhys = d.sortBy.map(m.physical)
      val matches = actual.exists(a =>
        a.cols == declPhys && a.n == d.n && a.sortCols == declSortPhys)
      require(matches,
        s"CLUSTERED BY (${d.cols.mkString(", ")}) INTO ${d.n} BUCKETS " +
          s"does not match the existing table at $root " +
          s"(${actual.fold("not bucketed")(a =>
            s"CLUSTERED BY (${a.cols.mkString(", ")}) INTO ${a.n} BUCKETS")}); " +
          "bucketing is fixed at CREATE and cannot be changed by re-attach")
    }
  }

  /** Splits a v2 partitioning spec into identity partition columns and an
    * optional bucket spec: `PARTITIONED BY (col, ...)` plus the reference's
    * `CLUSTERED BY (col) INTO n BUCKETS` (ref ql/ddl CreateTableDesc
    * bucketing spec; metastore StorageDescriptor.bucketCols), which Spark
    * parses as a bucket transform.
    */
  private def partitionColsOf(partitioning: Seq[
      org.apache.spark.sql.connector.expressions.Transform])
      : (Seq[String], Option[Snapshots.BucketBy]) = {
    import org.apache.spark.sql.connector.expressions.{Literal => VLit, NamedReference}
    val (buckets, rest) = partitioning.partition(t =>
      t.name == "bucket" || t.name == "sorted_bucket")
    val parts = rest.map { t =>
      if (t.name == "identity" && t.references.length == 1)
        t.references.head.fieldNames.mkString(".")
      else throw new UnsupportedOperationException(
        s"only PARTITIONED BY (col, ...) and CLUSTERED BY (cols) " +
          s"[SORTED BY (cols)] INTO n BUCKETS are supported, got: $t")
    }
    // the transform companions are sql-private, so read the public
    // Transform shape. Argument layouts (probed against Spark's parser):
    //   bucket:        count-literal, bucketCols...
    //   sorted_bucket: bucketCols..., count-literal, sortCols...
    val bucketBy = buckets match {
      case Nil => None
      case Seq(b) =>
        val args = b.arguments.toSeq
        val litIdx = args.indexWhere(_.isInstanceOf[VLit[_]])
        require(litIdx >= 0, s"bucket transform without a count: $b")
        val n = args(litIdx).asInstanceOf[VLit[_]].value.toString.toInt
        def refs(xs: Seq[org.apache.spark.sql.connector.expressions.Expression]) =
          xs.collect { case r: NamedReference => r.fieldNames.mkString(".") }
        val (cols, sortCols) =
          if (b.name == "sorted_bucket")
            (refs(args.take(litIdx)), refs(args.drop(litIdx + 1)))
          else (refs(args), Seq.empty[String])
        require(cols.nonEmpty && cols.forall(!_.contains(".")),
          s"CLUSTERED BY needs top-level columns, got: ${cols.mkString(", ")}")
        Some(Snapshots.BucketBy(cols, n, sortCols))
      case _ => throw new UnsupportedOperationException(
        "at most one CLUSTERED BY ... INTO n BUCKETS clause is supported")
    }
    (parts, bucketBy)
  }

  /** CREATE TABLE name USING snapshot LOCATION '<root>' — attaches an
    * existing snapshot table to the name, or creates an empty one when a
    * column list is given.
    */
  private def runCreate(spark: SparkSession, name: String,
      columns: Seq[ColumnDefinition],
      partitioning: Seq[org.apache.spark.sql.connector.expressions.Transform],
      spec: TableSpecBase, ignoreIfExists: Boolean): Unit = {
    if (NamedTables.get(name).isDefined) {
      if (ignoreIfExists) return
      throw new IllegalStateException(s"table $name already exists")
    }
    val root = locationOf(name, spec)
    if (snapshotExists(spark, root))
      requireBucketSpecMatches(spark, root, partitioning)
    if (!snapshotExists(spark, root)) {
      if (columns.isEmpty) throw new IllegalArgumentException(
        s"no snapshot table at $root and no column list to create one from")
      val schema = org.apache.spark.sql.types.StructType(
        columns.map(c => org.apache.spark.sql.types.StructField(
          c.name, c.dataType, c.nullable)))
      val empty = spark.createDataFrame(
        new java.util.ArrayList[org.apache.spark.sql.Row](), schema)
      val (partCols, bucketBy) = partitionColsOf(partitioning)
      val t = Snapshots.create(spark, root, empty.coalesce(1),
        partCols, 8, bucketBy)
      // column-level NOT NULL / DEFAULT and table-level CONSTRAINT clauses
      // become the engine's enforced/declared constraints (the table is
      // empty, so existence validation is trivially clean)
      columns.filterNot(_.nullable).foreach(c => t.setNotNull(c.name))
      columns.foreach(c => c.defaultValue.foreach(d =>
        t.setDefault(c.name, d.originalSQL)))
      spec match {
        case u: UnresolvedTableSpec => u.constraints.foreach {
          case cc: org.apache.spark.sql.catalyst.expressions.CheckConstraint =>
            t.addCheck(cc.name, cc.condition)
          case pk: org.apache.spark.sql.catalyst.expressions.PrimaryKeyConstraint =>
            t.addInformational(pk.name,
              s"PRIMARY KEY (${pk.columns.mkString(", ")})")
          case uc: org.apache.spark.sql.catalyst.expressions.UniqueConstraint =>
            t.addInformational(uc.name, s"UNIQUE (${uc.columns.mkString(", ")})")
          case fk: org.apache.spark.sql.catalyst.expressions.ForeignKeyConstraint =>
            t.addInformational(fk.name,
              s"FOREIGN KEY (${fk.childColumns.mkString(", ")}) " +
                s"REFERENCES ${fk.parentTableId.mkString(".")} " +
                s"(${fk.parentColumns.mkString(", ")})")
          case other => throw new UnsupportedOperationException(
            s"unsupported constraint: $other")
        }
        case _ => ()
      }
    }
    NamedTables.registerSnapshot(name, root, writeModeOf(spec))
  }

  /** CREATE TABLE name USING snapshot LOCATION '<root>' AS SELECT ...
    *
    * A registered NAME is the existence test. An unregistered name whose
    * LOCATION already holds a snapshot table attaches it (no write): that is
    * the retry of a CTAS that failed between create and register (the
    * orphan-root half-failure) and the `IF NOT EXISTS` re-run — in both
    * cases the durable state at the location wins over re-deriving it from
    * the query.
    */
  private def runCtas(spark: SparkSession, name: String,
      partitioning: Seq[org.apache.spark.sql.connector.expressions.Transform],
      query: LogicalPlan, spec: TableSpecBase, ignoreIfExists: Boolean): Unit = {
    if (NamedTables.get(name).isDefined) {
      if (ignoreIfExists) return
      throw new IllegalStateException(s"table $name already exists")
    }
    val root = locationOf(name, spec)
    if (snapshotExists(spark, root))
      requireBucketSpecMatches(spark, root, partitioning)
    else {
      val rows = GraftShims.ofRows(spark, NamedTables.substitute(spark, query))
      val (partCols, bucketBy) = partitionColsOf(partitioning)
      Snapshots.create(spark, root, rows, partCols, 8, bucketBy)
    }
    NamedTables.registerSnapshot(name, root, writeModeOf(spec))
  }

  private def runMerge(spark: SparkSession, t: Target, m: MergeIntoTable): Unit = {
    def unsupported(msg: String): Nothing =
      throw new UnsupportedOperationException(s"MERGE: $msg")

    // source frame + the qualifiers its columns carry in action expressions
    val srcQuals: Set[String] = m.sourceTable match {
      case SubqueryAlias(id, u: UnresolvedRelation) =>
        Set(norm(id.name), norm(u.multipartIdentifier.last))
      case SubqueryAlias(id, _) => Set(norm(id.name))
      case u: UnresolvedRelation => Set(norm(u.multipartIdentifier.last))
      case _ => Set.empty
    }
    val sourceDf0 =
      GraftShims.ofRows(spark, NamedTables.substitute(spark, m.sourceTable))
    val targetCols = t.read(spark).columns.toSeq
    val srcCols0 = sourceDf0.columns.toSet

    // ON clause: an AND-chain of equi-conditions, each conjunct classified
    // to a (target column, source column) pair — composite business keys
    // are the norm in fact-table upserts
    def classify(a: UnresolvedAttribute): (String, String) = { // (side, column)
      val parts = a.nameParts
      if (parts.size == 2 && t.qualifiers.contains(norm(parts.head)))
        ("t", parts(1))
      else if (parts.size == 2 && srcQuals.contains(norm(parts.head)))
        ("s", parts(1))
      else if (parts.size == 1) {
        val inT = targetCols.contains(parts.head)
        val inS = srcCols0.contains(parts.head)
        if (inT && inS) unsupported(
          s"ambiguous ON column ${parts.head}: qualify it with the table alias")
        else if (inT) ("t", parts.head)
        else if (inS) ("s", parts.head)
        else unsupported(s"ON column ${parts.head} not found on either side")
      } else unsupported(s"cannot resolve ON reference ${a.sql}")
    }
    def conjuncts(e: Expression): Seq[Expression] = e match {
      case org.apache.spark.sql.catalyst.expressions.And(l, r) =>
        conjuncts(l) ++ conjuncts(r)
      case other => Seq(other)
    }
    val mergeKeys: Seq[(String, String)] = conjuncts(m.mergeCondition).map {
      case EqualTo(a: UnresolvedAttribute, b: UnresolvedAttribute) =>
        (classify(a), classify(b)) match {
          case (("t", tk), ("s", sk)) => (tk, sk)
          case (("s", sk), ("t", tk)) => (tk, sk)
          case _ => unsupported(
            "each ON conjunct must equate a target column with a source column")
        }
      case other => unsupported(
        s"ON must be an AND-chain of target.k = source.k equi-conditions, got: ${other.sql}")
    }
    val source = sourceDf0

    // WHEN NOT MATCHED (ordered arms, first-matching-arm-wins; conditions
    // allowed). The source frame keeps ALL its original columns — insert
    // expressions travel as explicit per-column values in the spec, so
    // matched-arm references always bind to the real source columns (a
    // projection that replaced them could silently re-bind same-named
    // columns). Insert values are arbitrary expressions over the SOURCE row
    // (literals, functions, source columns); unassigned target columns fill
    // with NULL; target references are meaningless in an insert and error.

    // action expressions in the joined scope: target-qualified refs -> __t_
    // columns, source refs -> source columns by their plain names;
    // unqualified names resolve source-first (the upsert intent)
    def actionColumn(e: Expression): Column = GraftShims.column(e.transformUp {
      case a: UnresolvedAttribute =>
        val parts = a.nameParts
        if (parts.size > 1 && t.qualifiers.contains(norm(parts.head)))
          UnresolvedAttribute(targetSide(parts(1)) +: parts.drop(2))
        else if (parts.size > 1 && srcQuals.contains(norm(parts.head)))
          UnresolvedAttribute(parts.tail)
        else a
    })

    def insertArm(a: MergeAction): MergeEngine.Insert = a match {
      case s: InsertStarAction =>
        val missing = targetCols.filterNot(srcCols0)
        if (missing.nonEmpty) unsupported(
          s"INSERT * needs source columns ${missing.mkString(", ")}")
        MergeEngine.Insert(s.condition.map(actionColumn),
          None) // whole source row by name
      case InsertAction(cond, assigns) =>
        val values = assigns.map { x =>
          val tgt = assignName(x.key, t.qualifiers)
          val e = strip(x.value, srcQuals)
          e.foreach {
            case attr: UnresolvedAttribute if attr.nameParts.size > 1 &&
                t.qualifiers.contains(norm(attr.nameParts.head)) =>
              unsupported(s"INSERT values cannot reference the target: ${attr.sql}")
            case _ => ()
          }
          tgt -> GraftShims.column(e)
        }.toMap
        MergeEngine.Insert(cond.map(actionColumn), Some(values))
      case other => unsupported(s"unsupported WHEN NOT MATCHED action: $other")
    }
    // WHEN NOT MATCHED BY SOURCE expressions see only the target row —
    // unqualified names resolve target-side; source references are an error
    def targetOnlyColumn(e: Expression): Column = GraftShims.column(e.transformUp {
      case a: UnresolvedAttribute =>
        val parts = a.nameParts
        if (parts.size > 1 && t.qualifiers.contains(norm(parts.head)))
          UnresolvedAttribute(targetSide(parts(1)) +: parts.drop(2))
        else if (parts.size > 1 && srcQuals.contains(norm(parts.head)))
          unsupported(s"WHEN NOT MATCHED BY SOURCE cannot reference the source: ${a.sql}")
        else if (parts.size == 1)
          UnresolvedAttribute(targetSide(parts.head) +: parts.drop(1))
        else a
    })

    def matchedArm(a: MergeAction, tr: Expression => Column,
        allowStar: Boolean): MergeEngine.MatchedArm =
      a match {
        case DeleteAction(cond) => MergeEngine.Delete(cond.map(tr))
        case UpdateAction(cond, assigns, _) =>
          MergeEngine.Update(cond.map(tr), assigns.map(x =>
            assignName(x.key, t.qualifiers) -> tr(x.value)).toMap)
        case s: UpdateStarAction if allowStar =>
          // UPDATE SET * expands by name: each target column takes the
          // same-named source column
          val missing = targetCols.filterNot(srcCols0)
          if (missing.nonEmpty) unsupported(
            s"UPDATE SET * needs source columns ${missing.mkString(", ")}")
          MergeEngine.Update(s.condition.map(tr),
            targetCols.map(c => c -> col(c)).toMap)
        case other => unsupported(s"unsupported action: $other")
      }

    val spec = MergeEngine.Spec(
      matched = m.matchedActions.map(matchedArm(_, actionColumn, allowStar = true)),
      inserts = m.notMatchedActions.map(insertArm),
      notMatchedBySource = m.notMatchedBySourceActions.map(
        matchedArm(_, targetOnlyColumn, allowStar = false)))
    if (spec.matched.isEmpty && spec.inserts.isEmpty &&
        spec.notMatchedBySource.isEmpty)
      unsupported("statement has no effect: no WHEN clause was given")

    (t.ref, t.branch) match {
      // branch-addressed MERGE: the COW mergeSpec algebra committed onto
      // the branch head; tags refuse inside mergeSpecOnBranch
      case (r: NamedTables.SnapshotRef, Some(b)) =>
        Snapshots.table(spark, r.root).mergeSpecOnBranch(b, source,
          mergeKeys, spec)
      case (r: NamedTables.SnapshotRef, None)
          if r.writeMode == NamedTables.WriteMor =>
        Snapshots.table(spark, r.root).mergeSpecMergeOnRead(source, mergeKeys,
          spec)
      case (r: NamedTables.SnapshotRef, None) =>
        Snapshots.table(spark, r.root).mergeSpec(source, mergeKeys, spec)
      case (NamedTables.PathRef(path), _) =>
        Dml.mergeSpec(spark, path, source, mergeKeys, spec,
          sourceKeysUnique = false)
    }
  }
}
