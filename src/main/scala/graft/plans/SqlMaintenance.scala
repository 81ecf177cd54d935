package graft.plans

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Table-maintenance SQL verbs Spark's parser does not know:
  *
  * {{{
  * RESTORE TABLE t TO VERSION AS OF 3
  * RESTORE TABLE t TO TIMESTAMP AS OF '2026-08-01 00:00:00'
  * OPTIMIZE t
  * OPTIMIZE t ZORDER BY (c1, c2)
  * VACUUM t [RETAIN n HOURS]
  * }}}
  *
  * The reference exposes the same lifecycle through ALTER TABLE ... COMPACT
  * and metastore retention (ref ql/src/java/org/apache/hadoop/hive/ql/txn/
  * compactor/Compactor.java:40); here each verb is one call on the
  * snapshot-table API ([[Snapshots.SnapshotTable.restore]], `compact`,
  * `zOrderBy`, `vacuum`) and returns a one-row metrics frame.
  *
  * These verbs, and the rest of the family below (refs, EXECUTE, MVs,
  * ACID bridges, EXPLAIN options, SHOW, EXIM), are PARSE errors to Spark:
  * this layer only sees text the session parser already rejected, and it
  * parses each verb on the one [[Cursor]] grammar under its fall-through
  * invariant. The table identifier is a registered [[NamedTables]] name or
  * a backtick-quoted root path.
  */
object SqlMaintenance {

  /** Enforcement parts for a maintenance ident: plain names check as
    * themselves; backtick-quoted snapshot roots check under the `snapshot`
    * path form so [[Authz]]'s owning-name reverse resolution applies (no
    * path side door).
    */
  private def privParts(ident: String): Seq[String] =
    if (ident.startsWith("`")) Seq("snapshot", nameOf(ident))
    else Seq(nameOf(ident))

  /** SET PARTITION SPEC entries: each an identifier or a transform call
    * (`day(ts)`, `bucket(16, id)`, `truncate(10, c)`). None on any
    * malformed entry (the statement then surfaces Spark's parse error).
    */
  private def specEntries(raw: Seq[String]): Option[Seq[String]] = {
    val entries = raw.map(_.replace("`", ""))
    val wellFormed = entries.nonEmpty && entries.forall(e =>
      e.matches("""[A-Za-z_][A-Za-z0-9_]*""") ||
        PartitionTransforms.parseEntry(e).isRight)
    if (wellFormed) Some(entries) else None
  }

  /** Execute `sqlText` if it is a maintenance statement; None otherwise
    * (caller surfaces the canonical parse error). Handlers are tried in
    * sequence on a fresh cursor each; a handler only executes (and only
    * privilege-checks) after its FULL shape parsed through end-of-statement.
    */
  def maybeRun(spark: SparkSession, sqlText: String): Option[DataFrame] = {
    val c = Cursor(sqlText)
    handlers.view.flatMap(h => h(spark, c.fresh())).headOption
  }

  private type Handler = (SparkSession, Cursor) => Option[DataFrame]
  private def handlers: Seq[Handler] = Seq(
    hRestore, hOptimize, hVacuum, hAlterTable, hMatView, hReplicate,
    hConvert, hAcidCompact, hAcidOverwrite, hExplain, hShow, hExim)

  // state-rewriting table verbs require the table's UPDATE privilege
  // (RESTORE rolls state back, OPTIMIZE rewrites layout, VACUUM destroys
  // time travel, refs/EXECUTE move what readers see) — without this they
  // are ungated sabotage while the DML verbs they bypass are checked
  private def gate(spark: SparkSession, ident: String): Unit =
    Authz.requireRelationPrivilege(spark, privParts(ident), "update")

  private def hRestore(spark: SparkSession, c: Cursor): Option[DataFrame] = {
    if (!c.kw("RESTORE", "TABLE")) return None
    for {
      ident <- c.ident()
      op <-
        if (c.kw("TO", "VERSION", "AS", "OF"))
          c.num().map(v => (t: Snapshots.SnapshotTable) => t.restore(v.toLong))
        else if (c.kw("TO", "TIMESTAMP", "AS", "OF"))
          c.str().map(ts => (t: Snapshots.SnapshotTable) =>
            t.restoreAsOf(java.sql.Timestamp.valueOf(ts).getTime))
        else None
      _ <- c.done()
    } yield { gate(spark, ident); runRestore(spark, ident, op) }
  }

  private def hOptimize(spark: SparkSession, c: Cursor): Option[DataFrame] = {
    if (!c.kw("OPTIMIZE")) return None
    for {
      ident <- c.ident()
      zcols <- c.opt("ZORDER", "BY")(c.parenIdents())
      _ <- c.done()
    } yield {
      gate(spark, ident)
      zcols match {
        case Some(cols) => runOptimize(spark, ident, _.zOrderBy(cols))
        case None => runOptimize(spark, ident, _.compact())
      }
    }
  }

  private def hVacuum(spark: SparkSession, c: Cursor): Option[DataFrame] = {
    if (!c.kw("VACUUM")) return None
    for {
      ident <- c.ident()
      hours <- c.opt("RETAIN") {
        for { n <- c.num(); _ <- c.expect("HOURS") }
        yield n.toDouble
      }
      _ <- c.done()
    } yield {
      gate(spark, ident)
      runVacuum(spark, ident, hours.getOrElse(24.0))
    }
  }

  // ALTER TABLE <t> ... : snapshot refs (branch/tag DDL, ref ql/ddl/table/
  // snapshotref/ + iceberg-handler IcebergSnapshotRefExec.java), the
  // EXECUTE family (ref parse/AlterTableExecuteSpec.java), partition-spec
  // evolution, and the SKEWED BY list-bucketing DDL (ref ql/ddl/table/
  // storage/skewed/AlterTableSkewedByAnalyzer.java)
  private def hAlterTable(spark: SparkSession, c: Cursor): Option[DataFrame] = {
    if (!c.kw("ALTER", "TABLE")) return None
    c.ident().flatMap { ident =>
      def refCreate(kind: String): Option[DataFrame] = {
        val ifNot = c.kw("IF", "NOT", "EXISTS")
        for {
          name <- c.word()
          fromV <- c.opt("FOR", "SYSTEM_VERSION", "AS", "OF")(c.num())
          age <- c.opt("RETAIN")(retainMs(c))
          _ <- c.done()
        } yield {
          gate(spark, ident)
          val t = tableOf(spark, ident)
          if (kind == "branch")
            t.createBranch(name, fromV.map(_.toLong), ifNot, age)
          else t.createTag(name, fromV.map(_.toLong), ifNot, age)
          okDf(spark, s"created $kind $name")
        }
      }
      def refDrop(kind: String): Option[DataFrame] = {
        val ifEx = c.kw("IF", "EXISTS")
        for { name <- c.word(); _ <- c.done() } yield {
          gate(spark, ident)
          val t = tableOf(spark, ident)
          if (kind == "branch") t.dropBranch(name, ifEx)
          else t.dropTag(name, ifEx)
          okDf(spark, s"dropped $kind $name")
        }
      }
      def execute(): Option[DataFrame] =
        if (c.kw("FAST-FORWARD"))
          for { b <- c.str().orElse(c.word()); _ <- c.done() } yield {
            gate(spark, ident)
            val m = tableOf(spark, ident).fastForward(b)
            okDf(spark, s"fast-forwarded to branch $b at version ${m.version}")
          }
        else if (c.kw("CHERRY-PICK"))
          for { v <- c.num(); _ <- c.done() } yield {
            gate(spark, ident)
            val m = tableOf(spark, ident).cherryPick(v.toLong)
            okDf(spark, s"cherry-picked version $v as version ${m.version}")
          }
        else if (c.kw("ROLLBACK"))
          // EXECUTE ROLLBACK(<version> | '<timestamp>') over restore (ref
          // ddl/table/execute/AlterTableExecuteAnalyzer.java getRollbackDesc)
          for {
            _ <- c.expect("(")
            arg <- c.num().map(Left(_)).orElse(c.str().map(Right(_)))
            _ <- c.expect(")")
            _ <- c.done()
          } yield {
            gate(spark, ident)
            val t = tableOf(spark, ident)
            val m = arg match {
              case Left(v) => t.restore(v.toLong)
              case Right(ts) =>
                t.restoreAsOf(java.sql.Timestamp.valueOf(ts.trim).getTime)
            }
            okDf(spark, s"rolled back to version " +
              s"${m.meta.getOrElse("restored_version", "?")} as version ${m.version}")
          }
        else if (c.kw("EXPIRE_SNAPSHOTS")) {
          if (c.kw("(")) // EXPIRE_SNAPSHOTS('<ts>'): retire versions at or
            // before the cut, keeping at least the head
            for {
              ts <- c.str()
              _ <- c.expect(")")
              _ <- c.done()
            } yield {
              gate(spark, ident)
              val t = tableOf(spark, ident)
              val cutMs = java.sql.Timestamp.valueOf(ts.trim).getTime
              val newer = t.history().count(_.timestampMs > cutMs)
              val reclaimed = t.vacuum(retainLast = math.max(newer, 1),
                minAgeHours = 0.0)
              okDf(spark, s"expired snapshots at or before $ts " +
                s"($reclaimed files reclaimed)")
            }
          else
            for {
              _ <- c.expect("RETAIN", "LAST")
              n <- c.num()
              _ <- c.done()
            } yield {
              gate(spark, ident)
              val reclaimed = tableOf(spark, ident)
                .vacuum(retainLast = n.toInt, minAgeHours = 0.0)
              okDf(spark, s"expired snapshots beyond the last $n " +
                s"($reclaimed files reclaimed)")
            }
        } else if ({ c.kw("DELETE"); c.kw("ORPHAN-FILES") })
          // [DELETE] ORPHAN-FILES [OLDER THAN '<ts>']: reclaim unreferenced
          // files WITHOUT pruning history (the reference defaults to now-3d)
          for {
            older <- c.opt("OLDER", "THAN")(c.str())
            _ <- c.done()
          } yield {
            gate(spark, ident)
            val hours = older match {
              case Some(ts) => math.max(0.0, (System.currentTimeMillis() -
                java.sql.Timestamp.valueOf(ts.trim).getTime) / 3600000.0)
              case None => 72.0
            }
            val reclaimed = tableOf(spark, ident)
              .vacuum(retainLast = Int.MaxValue, minAgeHours = hours,
                orphanOnly = true)
            okDf(spark, s"deleted $reclaimed orphan files")
          }
        else if (c.kw("SET_CURRENT_SNAPSHOT"))
          for { v <- c.num(); _ <- c.done() } yield {
            gate(spark, ident)
            val m = tableOf(spark, ident).setCurrentSnapshot(v.toLong)
            okDf(spark, s"set current snapshot to $v at version ${m.version}")
          }
        else None

      // SKEWED BY (cols) ON (v | (v, ...), ...) [STORED AS DIRECTORIES]:
      // one skewed-value tuple is a bare scalar (single column) or a
      // paren-list matching the column arity
      def skewedBy(): Option[DataFrame] = {
        def scalar(): Option[String] = c.str().orElse(c.num())
        def tuple(): Option[Seq[String]] =
          if (c.kw("("))
            for { vs <- c.sepBy(",")(scalar()); _ <- c.expect(")") } yield vs
          else scalar().map(Seq(_))
        for {
          cols <- c.parenIdents()
          _ <- c.expect("ON", "(")
          groups <- c.sepBy(",")(tuple())
          _ <- c.expect(")")
          dirs <- Some(c.kw("STORED", "AS", "DIRECTORIES"))
          _ <- c.done()
        } yield {
          gate(spark, ident)
          tableOf(spark, ident).setSkewed(
            Snapshots.SkewSpec(cols, groups, dirs))
          okDf(spark, s"declared SKEWED BY (${cols.mkString(", ")}) with " +
            s"${groups.size} skewed value(s); retained as metadata — " +
            "runtime skew is handled by AQE skew-join + salting, no " +
            "per-value directories are materialized")
        }
      }

      def refReplace(kind: String, orCreate: Boolean): Option[DataFrame] =
        for {
          name <- c.word()
          toV <- c.opt("FOR", "SYSTEM_VERSION", "AS", "OF")(c.num())
          age <- c.opt("RETAIN")(retainMs(c))
          _ <- c.done()
        } yield {
          gate(spark, ident)
          val t = tableOf(spark, ident)
          if (kind == "branch")
            t.replaceBranch(name, toV.map(_.toLong), orCreate, age)
          else t.replaceTag(name, toV.map(_.toLong), orCreate, age)
          okDf(spark, s"replaced $kind $name")
        }

      if (c.kw("CREATE", "OR", "REPLACE", "BRANCH"))
        refReplace("branch", orCreate = true)
      else if (c.kw("CREATE", "OR", "REPLACE", "TAG"))
        refReplace("tag", orCreate = true)
      else if (c.kw("REPLACE", "BRANCH")) refReplace("branch", orCreate = false)
      else if (c.kw("REPLACE", "TAG")) refReplace("tag", orCreate = false)
      else if (c.kw("CREATE", "BRANCH")) refCreate("branch")
      else if (c.kw("CREATE", "TAG")) refCreate("tag")
      else if (c.kw("DROP", "BRANCH")) refDrop("branch")
      else if (c.kw("DROP", "TAG")) refDrop("tag")
      else if (c.kw("RENAME", "BRANCH"))
        for {
          from <- c.word()
          _ <- c.expect("TO")
          to <- c.word()
          _ <- c.done()
        } yield {
          gate(spark, ident)
          tableOf(spark, ident).renameBranch(from, to)
          okDf(spark, s"renamed branch $from to $to")
        }
      else if (c.kw("EXECUTE")) execute()
      else if (c.kw("SET", "PARTITION", "SPEC"))
        // entries may be transforms — day(ts), bucket(16, id),
        // truncate(10, c) — not a plain identifier list
        for {
          raw <- c.group()
          _ <- c.done()
          cols <- specEntries(raw)
        } yield {
          gate(spark, ident)
          val m = tableOf(spark, ident).setPartitionSpec(cols)
          okDf(spark, s"set partition spec to (${cols.mkString(", ")}) " +
            s"at version ${m.version}")
        }
      else if (c.kw("SKEWED", "BY")) skewedBy()
      else if (c.kw("NOT", "SKEWED"))
        c.done().map { _ =>
          gate(spark, ident)
          tableOf(spark, ident).clearSkewed()
          okDf(spark, "table is no longer declared skewed")
        }
      else if (c.kw("NOT", "STORED", "AS", "DIRECTORIES"))
        c.done().map { _ =>
          gate(spark, ident)
          tableOf(spark, ident).clearSkewDirectories()
          okDf(spark, "skewed values are no longer stored as directories")
        }
      else None
    }
  }

  private def hMatView(spark: SparkSession, c: Cursor): Option[DataFrame] = {
    if (c.kw("CREATE", "MATERIALIZED", "VIEW"))
      for {
        ident <- c.ident()
        loc <- c.opt("LOCATION")(c.str())
        _ <- c.expect("AS")
        query <- c.rest()
      } yield {
        // materializing a query = reading it: same SELECT checks, and
        // fail closed for policied users (one MV serves EVERY user via the
        // rewrite — a filtered materialization corrupts it for others, an
        // unfiltered one leaks to the policied user)
        val planned = Authz.checkQueryText(spark, query)
        require(!planned.isInstanceOf[
            org.apache.spark.sql.catalyst.plans.logical.Command],
          "CREATE MATERIALIZED VIEW needs a query, not a command")
        if (Authz.policiedFor(spark, planned))
          throw new Authz.AccessDenied(
            "CREATE MATERIALIZED VIEW over a row-filtered/masked source " +
              "is not allowed for this user — the materialization is " +
              "shared by all users")
        runCreateMv(spark, nameOf(ident), loc, query, planned)
      }
    else if (c.kw("ALTER", "MATERIALIZED", "VIEW"))
      for {
        ident <- c.ident()
        _ <- c.expect("REBUILD")
        _ <- c.done()
      } yield {
        MaterializedViews.registered(spark)
          .find(_.name == nameOf(ident)).map(_.sql) match {
          case Some(Some(q)) =>
            val planned = Authz.checkQueryText(spark, q)
            if (Authz.policiedFor(spark, planned))
              throw new Authz.AccessDenied(
                "ALTER MATERIALIZED VIEW REBUILD would materialize this " +
                  "user's filtered/masked view into the shared MV")
          case Some(None) =>
            // a plan-declared MV (no stored SQL) cannot be privilege- or
            // policy-checked against its sources — admin only
            Authz.requireAdmin(spark,
              "ALTER MATERIALIZED VIEW REBUILD (plan-declared MV)")
          case None => () // no such MV: runRebuildMv raises the clear error
        }
        runRebuildMv(spark, nameOf(ident))
      }
    else if (c.kw("DROP", "MATERIALIZED", "VIEW"))
      for { ident <- c.ident(); _ <- c.done() } yield {
        Authz.requireAdmin(spark, "DROP MATERIALIZED VIEW")
        MaterializedViews.drop(spark, nameOf(ident))
        spark.emptyDataFrame
      }
    else None
  }

  // CONVERT HIVE ACID '<srcDir>' TO SNAPSHOT '<dstRoot>' [AS <name>]: the
  // one-statement migration path off a managed ACID warehouse (the role of
  // the reference's ALTER TABLE ... CONVERT TO ICEBERG, HIVE-26252) — read
  // the ACID snapshot once through [[graft.sources.AcidOrc]], land it as a
  // versioned snapshot table preserving the partition layout, optionally
  // register the catalog name.
  private def hConvert(spark: SparkSession, c: Cursor): Option[DataFrame] = {
    if (!c.kw("CONVERT", "HIVE", "ACID")) return None
    for {
      src <- c.str()
      _ <- c.expect("TO", "SNAPSHOT")
      dst <- c.str()
      name <- c.opt("AS")(c.ident())
      _ <- c.done()
    } yield {
      // reads raw warehouse files into a brand-new ungoverned location —
      // admin only, like REPLICATE
      Authz.requireAdmin(spark, "CONVERT HIVE ACID")
      // insert-only (MM) trees convert through their own reader (plain
      // files of any format, no ROW__ID wrapper to strip)
      val df =
        if (graft.sources.AcidMm.detectKind(spark, src) == "insert_only")
          graft.sources.AcidMm.read(spark, src)
        else graft.sources.AcidOrc.read(spark, src)
      val partCols = graft.sources.AcidOrc.partitionColumns(spark, src)
      val t = Snapshots.create(spark, dst, df, partitionBy = partCols)
      name.foreach(n => NamedTables.registerSnapshot(nameOf(n), dst))
      val rows = t.read().count()
      okDf(spark, s"converted $src to snapshot table $dst" +
        name.map(n => s" (registered as ${nameOf(n)})").getOrElse("") +
        s": $rows rows" +
        (if (partCols.nonEmpty)
           s", partitioned by (${partCols.mkString(", ")})" else ""))
    }
  }

  // COMPACT HIVE ACID '<dir>' ['major'|'minor'|'rebalance' [N]]
  // [ABORTED (wid[, wid]*)]: the reference's ALTER TABLE ... COMPACT verb
  // (ref ql/ddl/table/misc/compact/AlterTableCompactDesc.java) addressed
  // at a raw ACID warehouse directory — the bridge has no metastore table
  // to ALTER. major folds every partition to base_<maxWid> with ROW__IDs
  // preserved; minor folds the deltas above the base into one span
  // without rewriting it, with the lowest live acid-stream consumer
  // offset wired in as the fold floor automatically (a lagging consumer
  // survives the fold); rebalance rewrites into N evenly-sized buckets,
  // ROW__IDs reassigned. Insert-only (MM) trees are auto-detected and
  // routed to the MM compactors; for those the ABORTED clause names
  // uncommitted single-txn write ids to drop FIRST (the reference
  // compactor's removeFilesForMmTable runs before any fold — folding an
  // aborted delta into a multi-id span would make its rows permanently
  // unfilterable). Full-ACID trees have no aborted-id side channel here
  // (the bridge assumes a clean listing, AcidOrc.scala:73), so ABORTED
  // on a full-ACID dir is rejected. Rewrites raw warehouse files —
  // admin-gated like CONVERT.
  private def hAcidCompact(spark: SparkSession, c: Cursor): Option[DataFrame] = {
    if (!c.kw("COMPACT", "HIVE", "ACID")) return None
    for {
      dir <- c.str()
      kind = c.str()
      n = c.num()
      aborted <- c.opt("ABORTED")(c.parenIdents())
      _ <- c.done()
      k = kind.getOrElse("major").toLowerCase
      _ <- if (k == "major" || k == "minor" || k == "rebalance") Some(())
           else None
      _ <- if (n.isEmpty || k == "rebalance") Some(()) else None
    } yield {
      if (k == "rebalance" && !n.forall(_.matches("""\d+""")))
        throw new IllegalArgumentException(
          s"rebalance bucket count must be a whole number, got ${n.get}")
      val abortedIds = aborted.getOrElse(Nil).map { w =>
        if (!w.matches("""\d+""")) throw new IllegalArgumentException(
          s"ABORTED write ids must be whole numbers, got $w")
        w.toLong
      }.toSet
      Authz.requireAdmin(spark, "COMPACT HIVE ACID")
      val mm = graft.sources.AcidMm.detectKind(spark, dir) == "insert_only"
      if (abortedIds.nonEmpty && !mm) throw new IllegalArgumentException(
        "ABORTED write-id exclusion applies to insert-only (MM) tables; " +
          s"$dir is full-ACID (its listing is assumed clean of aborted ids)")
      k match {
        case "minor" =>
          // every live consumer's protection points (consumed floors AND
          // in-flight batch ends) become fold-split boundaries
          val floors =
            graft.streaming.AcidStreamRegistry.splitPoints(spark, dir)
          if (mm) graft.sources.AcidMm.compactMinor(spark, dir,
            abortedWriteIds = abortedIds, consumerFloors = floors)
          else graft.sources.AcidOrc.compactMinor(spark, dir,
            consumerFloors = floors)
        case "rebalance" =>
          if (mm) throw new IllegalArgumentException(
            "rebalance compaction applies to full-ACID tables; " +
              s"$dir is insert-only (no buckets to rebalance)")
          graft.sources.AcidOrc.rebalance(spark, dir,
            n.map(_.toInt).getOrElse(4))
        case _ =>
          if (mm) graft.sources.AcidMm.compactMajor(spark, dir,
            abortedWriteIds = abortedIds)
          else graft.sources.AcidOrc.compact(spark, dir)
      }
      okDf(spark, s"$k compaction of $dir complete")
    }
  }

  // OVERWRITE HIVE ACID '<dir>' [PARTITION '<k=v[/k2=v2]>'] WRITEID <n>
  // AS <query>: INSERT OVERWRITE onto an insert-only (MM) transactional
  // directory — lands the query's rows as a new `base_<n>` superseding
  // every dir at or below it (the reference's MM insert-overwrite writes
  // a base under the txn manager's next write id; here the id is
  // explicit, like [[graft.sources.AcidMm.appendDelta]]). The embedded
  // query gets the caller's read checks; writing raw warehouse files is
  // admin-gated like COMPACT/CONVERT. Full-ACID trees are refused (their
  // overwrite needs ROW__ID allocation — CONVERT to a snapshot table).
  private def hAcidOverwrite(spark: SparkSession, c: Cursor): Option[DataFrame] = {
    if (!c.kw("OVERWRITE", "HIVE", "ACID")) return None
    for {
      dir <- c.str()
      part <- c.opt("PARTITION")(c.str())
      _ <- c.expect("WRITEID")
      n <- c.num()
      _ <- if (n.matches("""\d+""")) Some(()) else None
      _ <- c.expect("AS")
      q <- c.rest()
    } yield {
      Authz.requireAdmin(spark, "OVERWRITE HIVE ACID")
      if (graft.sources.AcidMm.detectKind(spark, dir) == "full_acid")
        throw new IllegalArgumentException(
          s"$dir is a full-ACID tree; OVERWRITE HIVE ACID applies to " +
            "insert-only (MM) tables — CONVERT it to a snapshot table " +
            "for row-level DML")
      Authz.checkQueryText(spark, q)
      val df = spark.sql(q)
      graft.sources.AcidMm.overwrite(spark, dir, n.toLong, df,
        partSub = part.getOrElse(""))
      okDf(spark, s"overwrote $dir" +
        part.map(p => s" partition $p").getOrElse("") +
        s" at write id $n")
    }
  }

  private def hReplicate(spark: SparkSession, c: Cursor): Option[DataFrame] = {
    if (!c.kw("REPLICATE", "TABLE")) return None
    for {
      ident <- c.ident()
      _ <- c.expect("TO")
      target <- c.str()
      _ <- c.done()
    } yield {
      // raw FILE copy to a caller-chosen path: masked/filtered content
      // leaves in cleartext regardless of policies — admin only
      Authz.requireAdmin(spark, "REPLICATE TABLE")
      import spark.implicits._
      val r = Replication.sync(spark, tableOf(spark, ident).root, target)
      Seq((nameOf(ident), target, r.mode, r.fromVersion, r.toVersion,
        r.commitsApplied))
        .toDF("table", "target", "mode", "from_version", "to_version",
          "commits_applied")
    }
  }

  // the reference's EXPLAIN options (ref ql/.../parse/ExplainConfiguration
  // .java): CBO shows the cost-annotated plan -> Spark's EXPLAIN COST;
  // VECTORIZATION reports the vectorized-execution view -> EXPLAIN CODEGEN
  // (whole-stage codegen IS this engine's vectorization runtime). The
  // EXPLAIN family reveals plans/stats of the inner query — it requires
  // the query's own privileges (Hive likewise authorizes EXPLAIN as the
  // statement); ANALYZE additionally EXECUTES, so it runs the policied
  // plan (see runExplainAnalyze). AUTHORIZATION stays open by PURPOSE: it
  // is the "what would I need" diagnostic (it reveals only names derived
  // from the text the user typed).
  private def hExplain(spark: SparkSession, c: Cursor): Option[DataFrame] = {
    if (!c.kw("EXPLAIN")) return None
    if (c.kw("ANALYZE")) c.rest().map(runExplainAnalyze(spark, _))
    else if (c.kw("CBO")) c.rest().map { q =>
      Authz.checkQueryText(spark, q)
      spark.sql(s"EXPLAIN COST $q")
    }
    else if (c.kw("AUTHORIZATION"))
      c.rest().map(runExplainAuthorization(spark, _))
    else if (c.kw("DEPENDENCY")) c.rest().map { q =>
      Authz.checkQueryText(spark, q)
      runExplainDependency(spark, q)
    }
    else if (c.kw("VECTORIZATION")) {
      if (!c.kw("ONLY")) { if (!c.kw("SUMMARY")) c.kw("DETAIL") }
      c.rest().map { q =>
        Authz.checkQueryText(spark, q)
        spark.sql(s"EXPLAIN CODEGEN $q")
      }
    }
    else None
  }

  private def hShow(spark: SparkSession, c: Cursor): Option[DataFrame] = {
    if (!c.kw("SHOW")) return None
    if (c.kw("COMPACTIONS")) c.done().map(_ => runShowCompactions(spark))
    else if (c.kw("LOCKS")) {
      c.ident(); c.kw("EXTENDED")
      c.done().map(_ => runShowLocks(spark))
    }
    else if (c.kw("TRANSACTIONS")) c.done().map(_ => runShowTransactions(spark))
    else if (c.kw("MATERIALIZED", "VIEWS")) c.done().map { _ =>
      import spark.implicits._
      MaterializedViews.registered(spark)
        .map(mv => (mv.name, mv.path, mv.sources.size.toLong))
        .sortBy(_._1).toDF("name", "location", "n_sources")
    }
    else None
  }

  /** EXPLAIN AUTHORIZATION <statement> — the reference's authorization
    * report (ref ql/.../ExplainTask.java `outputDependencies` under the
    * AUTHORIZATION explain option: INPUTS / OUTPUTS / CURRENT_USER /
    * OPERATION). The access profile is EXACTLY what [[Authz]] enforces
    * (same resolution, same CTE scoping), so the report is the enforcement
    * contract, not a parallel guess.
    */
  private def runExplainAuthorization(spark: SparkSession,
      query: String): DataFrame = {
    import spark.implicits._
    val plan = spark.sessionState.sqlParser.parsePlan(query)
    val (inputs, outputs, op) = Authz.statementAccess(plan)
    val lines =
      Seq("INPUTS:") ++ inputs.map("  " + _) ++
        Seq("OUTPUTS:") ++ outputs.map("  " + _) ++
        Seq("CURRENT_USER:", "  " + Authz.currentUser(spark),
          "OPERATION:", "  " + op.toUpperCase(java.util.Locale.ROOT))
    lines.toDF("authorization")
  }

  /** EXPLAIN DEPENDENCY <statement> — the reference's input-table report
    * (ref ql/.../ExplainTask.java getJSONDependencies: one JSON document
    * listing input_tables/input_partitions). Partition granularity is the
    * scan's pruning concern here (partition columns live in the path
    * layout), so input_partitions reports empty, as Hive does for
    * unpartitioned inputs.
    */
  private def runExplainDependency(spark: SparkSession,
      query: String): DataFrame = {
    import spark.implicits._
    val plan = spark.sessionState.sqlParser.parsePlan(query)
    // READ dependencies only — a DML target is written, not depended on
    // (Hive's getJSONDependencies likewise lists inputs; reporting the
    // target would make lineage tools record a table upstream of itself)
    val (inputs, _, _) = Authz.statementAccess(plan)
    def esc(s: String): String =
      s.replace("\\", "\\\\").replace("\"", "\\\"")
    val tables = inputs.distinct.sorted
      .map(t => s"""{"tablename":"${esc(t)}","tabletype":"MANAGED_TABLE"}""")
      .mkString(",")
    Seq(s"""{"input_tables":[$tables],"input_partitions":[]}""")
      .toDF("dependency")
  }

  /** SHOW COMPACTIONS — the reference's compactor-visibility verb (ref
    * ql/.../ddl/process/ShowCompactionsDesc.java). This engine's compactor
    * analog is the versioned reorganization commit (compact / cluster /
    * zorder actions in the manifest log), which either publishes or
    * doesn't — so every listed row is terminal (`succeeded`), there is no
    * queue to report. Lists all registered snapshot tables.
    */
  private def runShowCompactions(spark: SparkSession): DataFrame = {
    import spark.implicits._
    val reorg = Set("compact", "cluster", "zorder")
    NamedTables.all().collect {
      case (name, r: NamedTables.SnapshotRef) =>
        Snapshots.table(spark, r.root).history()
          .filter(m => reorg(m.action))
          .map(m => (name, m.version, m.action,
            new java.sql.Timestamp(m.timestampMs), m.files.size.toLong,
            "succeeded"))
    }.flatten
      .sortBy(t => (t._1, t._2))
      .toDF("table", "version", "type", "commit_ts", "n_files", "state")
  }

  /** SHOW LOCKS [table] — the reference's lock-manager visibility verb
    * (ref ql/.../ddl/process/ShowLocksDesc.java, column shape from
    * ShowLocksOperation). This engine's concurrency model is lock-free
    * optimistic (snapshot CAS commits — a writer either publishes its
    * version or retries; nothing ever WAITS on a lock), so the well-formed
    * answer is always zero rows: there are no locks to hold, matching the
    * operability contract the way SHOW COMPACTIONS' terminal rows do.
    */
  private def runShowLocks(spark: SparkSession): DataFrame = {
    import spark.implicits._
    Seq.empty[(Long, String, String, String, String, String, String, Long,
        java.sql.Timestamp, java.sql.Timestamp, String, String)]
      .toDF("lockid", "database", "table", "partition", "lock_state",
        "blocked_by", "lock_type", "transaction_id", "last_heartbeat",
        "acquired_at", "user", "hostname")
  }

  /** SHOW TRANSACTIONS — the reference's txn-manager visibility verb (ref
    * ql/.../ddl/process/ShowTransactionsDesc.java). Snapshot commits are
    * atomic CAS publishes with no open-transaction state between
    * statements, so the open-txn list is always empty — zero rows, the
    * reference's column shape.
    */
  private def runShowTransactions(spark: SparkSession): DataFrame = {
    import spark.implicits._
    Seq.empty[(Long, String, java.sql.Timestamp, java.sql.Timestamp,
        String, String)]
      .toDF("txnid", "state", "started", "last_heartbeat", "user", "host")
  }

  /** EXPLAIN ANALYZE <query> — Hive's post-execution plan report (ref ql/
    * .../ExplainTask.java, hive.explain.user with actual row counts): runs
    * the query to completion, then renders the FINAL physical plan (AQE
    * re-planned stages included) one node per row with its actual runtime
    * metrics. Spark's native EXPLAIN modes are estimates-only; this is the
    * measured twin.
    */
  private def runExplainAnalyze(spark: SparkSession,
      query: String): DataFrame = {
    import spark.implicits._
    // EXPLAIN ANALYZE EXECUTES the statement: enforce its privileges and
    // run the POLICIED plan — the reported row counts are then the
    // invoker's own view, not a probe oracle over filtered/masked data
    val checked = Authz.checkQueryText(spark, query)
    val df = org.apache.spark.sql.GraftShims.ofRows(spark,
      NamedTables.substitute(spark,
        Authz.applyPolicies(spark, checked)))
    val qe = df.queryExecution
    qe.toRdd.foreach(_ => ()) // execute THIS plan object so metrics populate
    val shown = Set("numOutputRows", "numFiles", "filesSize", "spillSize",
      "numPartitions", "dataSize", "shuffleBytesWritten", "shuffleRecordsWritten",
      "recordsRead", "peakMemory", "time", "scanTime", "aggTime", "sortTime")
    def walk(p: org.apache.spark.sql.execution.SparkPlan,
        depth: Int): Seq[String] = {
      val ms = p.metrics.collect {
        case (k, m) if shown.contains(k) && m.value > 0 => s"$k=${m.value}"
      }.toSeq.sorted.mkString(", ")
      val line = s"${"  " * depth}${p.nodeName}" +
        (if (ms.nonEmpty) s"  [$ms]" else "")
      val kids = p match {
        case a: org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec =>
          Seq(a.executedPlan)
        case q: org.apache.spark.sql.execution.adaptive.QueryStageExec =>
          Seq(q.plan)
        case r: org.apache.spark.sql.execution.exchange.ReusedExchangeExec =>
          Seq(r.child)
        case other => other.children
      }
      line +: kids.flatMap(walk(_, depth + 1))
    }
    walk(qe.executedPlan, 0).toDF("plan")
  }

  /** CREATE MATERIALIZED VIEW name [LOCATION '<dir>'] AS <query> — Hive's
    * declarative MV surface (ref ql/.../CreateMaterializedViewDesc.java);
    * the registered MV then answers matching queries via the rewrite rule
    * (exact subtree + aggregate rollup). The defining SQL is stored so
    * REBUILD re-parses it against the sources' CURRENT state.
    */
  private def runCreateMv(spark: SparkSession, name: String,
      loc: Option[String], query: String,
      planned: org.apache.spark.sql.catalyst.plans.logical.LogicalPlan)
      : DataFrame = {
    import spark.implicits._
    require(!MaterializedViews.registered(spark).exists(_.name == name),
      s"materialized view $name already exists")
    val path = loc.getOrElse(
      spark.conf.get("spark.sql.warehouse.dir").stripSuffix("/") +
        s"/graft_mv/$name")
    val df = org.apache.spark.sql.GraftShims.ofRows(spark,
      NamedTables.substitute(spark, planned))
    MaterializedViews.create(spark, name, df, path, Some(query))
    val rows = spark.read.parquet(path).count()
    Seq((name, path, rows)).toDF("name", "location", "rows")
  }

  /** ALTER MATERIALIZED VIEW name REBUILD (ref ql/.../
    * AlterMaterializedViewRebuildAnalyzer.java): recompute from the stored
    * SQL when available (fresh source listing); plan-declared MVs re-execute
    * their stored plan.
    */
  private def runRebuildMv(spark: SparkSession, name: String): DataFrame = {
    import spark.implicits._
    val mv = MaterializedViews.registered(spark).find(_.name == name)
      .getOrElse(throw new IllegalArgumentException(
        s"no such materialized view: $name"))
    MaterializedViews.drop(spark, name) // no rewrite against the mid-rebuild dir
    val df = mv.sql match {
      case Some(q) => org.apache.spark.sql.GraftShims.ofRows(spark,
        NamedTables.substitute(spark,
          spark.sessionState.sqlParser.parsePlan(q)))
      case None => org.apache.spark.sql.GraftShims.ofRows(spark, mv.plan)
    }
    MaterializedViews.create(spark, name, df, mv.path, mv.sql)
    val rows = spark.read.parquet(mv.path).count()
    Seq((name, mv.path, rows)).toDF("name", "location", "rows")
  }

  private def runRestore(spark: SparkSession, ident: String,
      op: Snapshots.SnapshotTable => Snapshots.Manifest): DataFrame = {
    import spark.implicits._
    val t = tableOf(spark, ident)
    val m = op(t)
    Seq((nameOf(ident), m.meta.getOrElse("restored_version", m.version.toString).toLong,
      m.version, m.files.size.toLong))
      .toDF("table", "restored_version", "new_version", "n_files")
  }

  private def runOptimize(spark: SparkSession, ident: String,
      op: Snapshots.SnapshotTable => Snapshots.Manifest): DataFrame = {
    import spark.implicits._
    val t = tableOf(spark, ident)
    val before = t.latest()
    val m = op(t)
    Seq((nameOf(ident), m.action, m.version,
      before.files.size.toLong, m.files.size.toLong))
      .toDF("table", "action", "version", "n_files_before", "n_files_after")
  }

  private def runVacuum(spark: SparkSession, ident: String,
      minAgeHours: Double): DataFrame = {
    import spark.implicits._
    val t = tableOf(spark, ident)
    val reclaimed = t.vacuum(retainLast = 1, minAgeHours = minAgeHours)
    Seq((nameOf(ident), reclaimed))
      .toDF("table", "n_files_reclaimed")
  }

  /** RETAIN n DAYS|HOURS -> maxRefAgeMs (ref AlterTableSnapshotRefSpec
    * getMaxRefAgeMs).
    */
  private def retainMs(c: Cursor): Option[Long] = c.num().flatMap { n =>
    if (c.kw("DAYS")) Some(n.toLong * 86400000L)
    else if (c.kw("HOURS")) Some(n.toLong * 3600000L)
    else None
  }

  /** EXPORT TABLE t TO 'dir' / IMPORT [TABLE t] FROM 'dir' (ref
    * ql/parse/{Export,Import}SemanticAnalyzer.java; the exim_*
    * corpus) — both verbs are parse errors to Spark, so they can only
    * arrive through this fall-through. EXPORT reveals the table's
    * data, so it requires SELECT on the table under enforcement;
    * IMPORT recreates the dump ([[Ddl.importTable]]), optionally
    * under a new name (exim_08_nonpart_rename's form).
    */
  private def hExim(spark: SparkSession, c: Cursor): Option[DataFrame] = {
    if (c.kw("EXPORT", "TABLE")) {
      for {
        ident <- c.ident()
        _ <- c.expect("TO")
        dir <- c.str()
        _ <- c.done()
      } yield {
        Authz.requireRelationPrivilege(spark, privParts(ident), "select")
        Ddl.exportTable(spark, ident, dir)
        okDf(spark, s"exported $ident to $dir")
      }
    } else if (c.kw("IMPORT")) {
      for {
        name <- c.opt("TABLE")(c.ident())
        _ <- c.expect("FROM")
        dir <- c.str()
        _ <- c.done()
      } yield {
        val created = Ddl.importTable(spark, dir, name.getOrElse(""))
        okDf(spark, s"imported table $created from $dir")
      }
    } else None
  }

  private def okDf(spark: SparkSession, msg: String)
      : org.apache.spark.sql.DataFrame = {
    import spark.implicits._
    Seq(msg).toDF("result")
  }

  private def nameOf(ident: String): String =
    ident.stripPrefix("`").stripSuffix("`")

  /** A registered catalog name, or a backtick-quoted snapshot root path. */
  private def tableOf(spark: SparkSession, ident: String): Snapshots.SnapshotTable = {
    val name = nameOf(ident)
    val root = NamedTables.get(name) match {
      case Some(r: NamedTables.SnapshotRef) => r.root
      case Some(_: NamedTables.PathRef) => throw new IllegalArgumentException(
        s"$name is a plain parquet path table — maintenance verbs need a snapshot table")
      case None if ident.startsWith("`") => name // quoted root path
      case None => throw new IllegalArgumentException(
        s"$name is not a registered table (register it or backtick-quote a root path)")
    }
    Snapshots.table(spark, root)
  }
}
