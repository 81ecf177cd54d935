package graft.plans

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{Column, DataFrame}

import graft.plans.Snapshots.{jsonFormats, Branch, Manifest, RefRow, SnapshotRef}

/** Branch/tag refs for [[Snapshots.SnapshotTable]] — split out of
  * Snapshots.scala purely for file size; every member runs as part of the
  * table class (self-typed mixin), same semantics, same commit log.
  */
private[plans] trait SnapshotRefOps { self: Snapshots.SnapshotTable =>

  // ------------------------------------------------- refs (branches/tags)
  //
  // Branches give the table WAP (write-audit-publish): stage commits on
  // a branch, audit the branch head, then FAST-FORWARD the mainline to
  // it — production readers never see unaudited data (ref iceberg
  // ManageSnapshots / mr/hive/IcebergSnapshotRefExec.java; the Hive 4
  // branch DDL). Tags are immutable named versions for reproducible
  // reads (a training run pinned to `tag_v1` re-reads byte-identical
  // data regardless of later commits).

  private[plans] lazy val refsStore = new CasJsonStore[Map[String, SnapshotRef]](
    new Path(logPath, "_refs"),
    spark.sparkContext.hadoopConfiguration,
    Map.empty,
    m => org.json4s.jackson.Serialization.write(
      m.toList.sortBy(_._1).map { case (n, r) =>
        RefRow(n, r.kind, r.version, r.createdAtMs, r.maxRefAgeMs) }),
    txt => org.json4s.jackson.Serialization.read[List[RefRow]](txt)
      .map(r => r.name ->
        SnapshotRef(r.kind, r.version, r.createdAtMs, r.maxRefAgeMs)).toMap)

  /** All refs (name -> kind/version). */
  def refs(): Map[String, SnapshotRef] = refsStore.load()._2

  def createBranch(name: String, fromVersion: Option[Long] = None,
      ifNotExists: Boolean = false,
      maxRefAgeMs: Option[Long] = None): Unit =
    createRef(name, "branch", fromVersion, ifNotExists, maxRefAgeMs)

  def createTag(name: String, fromVersion: Option[Long] = None,
      ifNotExists: Boolean = false,
      maxRefAgeMs: Option[Long] = None): Unit =
    createRef(name, "tag", fromVersion, ifNotExists, maxRefAgeMs)

  private def createRef(name: String, kind: String,
      fromVersion: Option[Long], ifNotExists: Boolean,
      maxRefAgeMs: Option[Long] = None): Unit = {
    val v = fromVersion.getOrElse(latest().version)
    require(fs.exists(manifestPath(v)),
      s"version $v does not exist (vacuumed or never committed)")
    var outcome = ""
    refsStore.mutate { m =>
      m.get(name) match {
        case Some(r) if r.kind != kind => outcome = r.kind; m
        case Some(_) => outcome = if (ifNotExists) "kept" else kind; m
        case None => outcome = "created"; m + (name ->
          SnapshotRef(kind, v, System.currentTimeMillis(), maxRefAgeMs))
      }
    }
    // mirror the reference's errors (ref IcebergSnapshotRefExec.java:
    // "Cannot complete create <kind> operation on <name>, as it exists
    // as <other kind>")
    outcome match {
      case "created" | "kept" => ()
      case other if other != kind => throw new IllegalArgumentException(
        s"cannot create $kind $name on $root: it exists as $other")
      case _ => throw new IllegalArgumentException(
        s"$kind $name already exists on $root")
    }
  }

  /** ALTER TABLE ... [CREATE OR] REPLACE BRANCH/TAG (ref iceberg-handler
    * AlterTableSetSnapshotRefSpec replace-branch/replace-tag): repoint an
    * EXISTING ref at another version (same-kind only), atomically via the
    * ref-store CAS. `orCreate` = the CREATE OR REPLACE spelling — creates
    * the ref when absent instead of refusing.
    */
  def replaceBranch(name: String, toVersion: Option[Long] = None,
      orCreate: Boolean = false, maxRefAgeMs: Option[Long] = None): Unit =
    replaceRef(name, "branch", toVersion, orCreate, maxRefAgeMs)

  def replaceTag(name: String, toVersion: Option[Long] = None,
      orCreate: Boolean = false, maxRefAgeMs: Option[Long] = None): Unit =
    replaceRef(name, "tag", toVersion, orCreate, maxRefAgeMs)

  private def replaceRef(name: String, kind: String, toVersion: Option[Long],
      orCreate: Boolean, maxRefAgeMs: Option[Long]): Unit = {
    val v = toVersion.getOrElse(latest().version)
    require(fs.exists(manifestPath(v)),
      s"version $v does not exist (vacuumed or never committed)")
    var outcome = ""
    refsStore.mutate { m =>
      m.get(name) match {
        case Some(r) if r.kind == kind =>
          outcome = "replaced"
          m + (name -> r.copy(version = v,
            maxRefAgeMs = maxRefAgeMs.orElse(r.maxRefAgeMs)))
        case Some(r) => outcome = r.kind; m
        case None if orCreate =>
          outcome = "created"
          m + (name ->
            SnapshotRef(kind, v, System.currentTimeMillis(), maxRefAgeMs))
        case None => outcome = "absent"; m
      }
    }
    outcome match {
      case "replaced" | "created" => ()
      case "absent" => throw new IllegalArgumentException(
        s"no $kind $name on $root to replace; use CREATE OR REPLACE")
      case other => throw new IllegalArgumentException(
        s"cannot replace $kind $name on $root: it exists as $other")
    }
  }

  def dropBranch(name: String, ifExists: Boolean = false): Unit =
    dropRef(name, "branch", ifExists)
  def dropTag(name: String, ifExists: Boolean = false): Unit =
    dropRef(name, "tag", ifExists)

  private def dropRef(name: String, kind: String, ifExists: Boolean): Unit = {
    var outcome = ""
    refsStore.mutate { m =>
      m.get(name) match {
        case Some(r) if r.kind == kind => outcome = "dropped"; m - name
        case Some(r) => outcome = r.kind; m
        case None => outcome = "absent"; m
      }
    }
    outcome match {
      case "dropped" => ()
      case "absent" if ifExists => ()
      case "absent" => throw new IllegalArgumentException(
        s"no $kind $name on $root")
      case other => throw new IllegalArgumentException(
        s"cannot drop $kind $name on $root: it exists as $other")
    }
  }

  def renameBranch(from: String, to: String): Unit = {
    var outcome = ""
    refsStore.mutate { m =>
      (m.get(from), m.get(to)) match {
        case (Some(r), None) if r.kind == "branch" =>
          outcome = "renamed"; m - from + (to -> r)
        case (Some(r), None) => outcome = s"${r.kind} $from"; m
        case (None, _) => outcome = s"missing $from"; m
        case (_, Some(_)) => outcome = s"taken $to"; m
      }
    }
    require(outcome == "renamed",
      s"cannot rename branch $from to $to on $root: $outcome")
  }

  private def refHead(name: String): Manifest = {
    val r = refs().getOrElse(name,
      throw new IllegalArgumentException(s"no branch or tag $name on $root"))
    resolve(readManifest(manifestPath(r.version)))
  }

  /** Read the state a branch or tag points at (time travel by name). */
  def readRef(name: String): DataFrame = readFiles(refHead(name))

  /** Append onto a BRANCH head — [[Snapshots.SnapshotTable.append]]
    * committed on the branch line (see [[Snapshots.Line]]): invisible to
    * the mainline, serialized with other branch writers on the ref.
    */
  def appendToBranch(branch: String, df: DataFrame,
      maxRetries: Int = 10): Manifest =
    appendUnless(df, maxRetries, Map.empty, _ => false, Branch(branch))

  /** The branch's current head manifest, refusing tags — the validation
    * gate every branch-addressed verb passes through.
    */
  private[plans] def branchHead(branch: String): Manifest = {
    val r = refs().getOrElse(branch,
      throw new IllegalArgumentException(s"no branch $branch on $root"))
    require(r.kind == "branch",
      s"$branch on $root is a tag — tags are immutable")
    resolve(readManifest(manifestPath(r.version)))
  }

  /** CAS-bump `branch` from version `from` to `to`; false when the ref
    * moved or vanished since the commit read its head.
    */
  private[plans] def bumpRef(branch: String, from: Long, to: Long): Boolean = {
    var took = false
    refsStore.mutate { rm =>
      rm.get(branch) match {
        case Some(cur) if cur.kind == "branch" && cur.version == from =>
          took = true; rm + (branch -> cur.copy(version = to))
        case _ => took = false; rm
      }
    }
    took
  }

  // Branch DML is always COW: the WAP audience is small and short-lived,
  // so MOR's write-cost trade has nothing to buy there.

  /** DELETE WHERE cond addressed at a BRANCH (`DELETE FROM t.branch_x`). */
  def deleteWhereOnBranch(branch: String, cond: Column,
      maxRetries: Int = 10): Manifest =
    deleteOn(Branch(branch), cond, maxRetries)

  /** UPDATE ... SET ... WHERE cond addressed at a BRANCH — same
    * assignment rules as the mainline [[Snapshots.SnapshotTable.updateWhere]]
    * (partition columns not assignable, all SET expressions read the
    * pre-update row).
    */
  def updateWhereOnBranch(branch: String, cond: Column,
      set: Map[String, Column], maxRetries: Int = 10): Manifest =
    updateOn(Branch(branch), cond, set, maxRetries)

  /** Composite-key multi-arm MERGE addressed at a BRANCH — the mainline
    * [[Snapshots.SnapshotTable.mergeSpec]] (file-granular rewrite of the
    * [[MergeEngine.postImage]], whose lowering every MERGE planner shares)
    * committed onto the branch head; always COW, like all branch DML.
    */
  def mergeSpecOnBranch(branch: String, source: DataFrame,
      mergeKeys: Seq[(String, String)], spec: MergeEngine.Spec,
      sourceKeysUnique: Boolean = false, maxRetries: Int = 10): Manifest =
    mergeSpecOn(Branch(branch), source, mergeKeys, spec, sourceKeysUnique,
      maxRetries)

  /** ALTER TABLE ... EXECUTE FAST-FORWARD: advance the MAINLINE to the
    * branch head — the publish step of WAP. Requires the current
    * mainline head to be an ancestor of the branch head (nothing
    * committed to main since the fork), else refuses: a fast-forward
    * never merges or discards mainline commits. The new mainline manifest
    * is the branch head's state, parented on (and diffed against) the
    * branch head.
    */
  def fastForward(branch: String, maxRetries: Int = 10): Manifest = {
    val b = branchHead(branch)
    retrying("fast-forward", maxRetries) { () =>
      val head = latest()
      if (head.version == b.version) Some(head) // already there
      else {
        // ancestor walk along parent pointers (bounded by log length); a
        // pruned intermediate manifest (vacuum) breaks the chain — refuse
        // with the clear error rather than crash on the missing file
        var v = b.version
        var found = false
        while (v >= 0 && !found && fs.exists(manifestPath(v))) {
          if (v == head.version) found = true
          else v = readManifest(manifestPath(v)).parent
        }
        require(found,
          s"cannot fast-forward $root to branch $branch: mainline head " +
            s"${head.version} is not an ancestor of branch head " +
            s"${b.version} — commits landed on main since the fork (or " +
            "the fork lineage was vacuumed)")
        val m = b.copy(version = nextSlot(head), parent = b.version,
          timestampMs = System.currentTimeMillis(), action = "fast-forward",
          meta = Map("ff_branch" -> branch, "ff_version" -> b.version.toString))
        if (publish(b, m)) Some(m) else None
      }
    }
  }

  /** ALTER TABLE ... EXECUTE CHERRY-PICK: re-apply one APPEND-ONLY
    * commit's added files onto the current mainline head. Commits that
    * remove or retire files refuse (the reference likewise limits
    * cherry-picks to append/dynamic-overwrite snapshots).
    */
  def cherryPick(v: Long, maxRetries: Int = 10): Manifest = {
    val p = manifestPath(v)
    require(fs.exists(p),
      s"version $v does not exist (vacuumed or never committed)")
    val raw = readManifest(p)
    val (adds, addStats, removed) =
      if (raw.kind == "delta")
        (raw.adds, raw.addStats, raw.removes ++ raw.deleteAdds)
      else {
        // a checkpoint whose parent was vacuumed has no computable diff —
        // treating the full listing as "adds" would silently re-append
        // the entire table
        require(raw.parent < 0 || fs.exists(manifestPath(raw.parent)),
          s"cherry-pick of version $v at $root: its parent manifest " +
            s"${raw.parent} was vacuumed — the commit's own changes can " +
            "no longer be isolated")
        val parent =
          if (raw.parent < 0) None
          else Some(resolve(readManifest(manifestPath(raw.parent))))
        val pf = parent.map(_.files.toSet).getOrElse(Set.empty[String])
        val adds = raw.files.filterNot(pf)
        val removes =
          parent.map(_.files.filterNot(raw.files.toSet)).getOrElse(Nil)
        val dAdds = raw.deletes.filterNot(
          parent.map(_.deletes.toSet).getOrElse(Set.empty[String]))
        (adds, raw.stats.view.filterKeys(adds.toSet).toMap, removes ++ dAdds)
      }
    require(removed.isEmpty,
      s"cherry-pick of version $v at $root unsupported: only append-only " +
        "commits can be cherry-picked (this one removes or retires files)")
    commit("cherry-pick", maxRetries,
        _ => Map("cherry_picked" -> v.toString)) { head =>
      require(schemaOf(head.schemaJson).fieldNames.sorted.sameElements(
        schemaOf(raw.schemaJson).fieldNames.sorted),
        s"cherry-pick of version $v across schema evolution is not supported")
      val fresh = adds.filterNot(head.files.toSet)
      if (fresh.isEmpty) None
      else Some(head.copy(files = head.files ++ fresh,
        stats = head.stats ++ addStats.view.filterKeys(fresh.toSet).toMap))
    }
  }

  /** ALTER TABLE ... EXECUTE SET_CURRENT_SNAPSHOT: point the mainline at
    * ANY committed version's state (incl. a branch commit) — [[restore]]
    * without the backwards-only restriction.
    */
  def setCurrentSnapshot(v: Long, maxRetries: Int = 10): Manifest = {
    val p = manifestPath(v)
    require(fs.exists(p),
      s"version $v does not exist (vacuumed or never committed)")
    val old = resolve(readManifest(p))
    commit("set-current-snapshot", maxRetries,
        _ => Map("set_version" -> v.toString))(head =>
      if (v == head.version) None else Some(old))
  }
}
