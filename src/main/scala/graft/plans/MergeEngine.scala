package graft.plans

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** The one lowering of MERGE, shared by every planner — path tables
  * ([[Dml.mergeSpec]]) and snapshot tables copy-on-write, merge-on-read and
  * on a branch (`Snapshots`): the standard multi-arm statement
  *
  * {{{
  * MERGE INTO t USING s ON t.k1 = s.k1 [AND t.k2 = s.k2 ...]
  *   WHEN MATCHED [AND c1] THEN UPDATE SET ... | DELETE      (ordered arms)
  *   WHEN NOT MATCHED [AND ci] THEN INSERT ...               (ordered arms)
  *   WHEN NOT MATCHED BY SOURCE [AND cj] THEN UPDATE | DELETE (ordered arms)
  * }}}
  *
  * lowered to ONE join + a single projection ([[lower]]) — the same
  * declarative rewrite the reference performs to a multi-insert (ref
  * ql/src/java/org/apache/hadoop/hive/ql/parse/MergeSemanticAnalyzer.java:46),
  * with first-matching-arm-wins selection encoded as a CASE over an arm
  * index. Arm conditions and update expressions evaluate in the joined
  * scope: source columns by their plain names, target columns under the
  * `__t_` prefix (see [[targetSide]]). A copy-on-write planner keeps the
  * surviving rows ([[postImage]]); the merge-on-read writer retires the
  * target rows an arm acted on and appends their images and the inserts —
  * an update as a delete event plus an insert event, as the reference
  * writes an ACID update (ref
  * ql/src/java/org/apache/hadoop/hive/ql/io/AcidUtils.java).
  *
  * Row existence on each side of the join is tracked with explicit
  * presence markers (`lit(true)` attached to each side before the join),
  * NOT by key nullness: a source row with a NULL merge key matches nothing
  * and therefore takes the insert arm (standard SQL join semantics), and a
  * NULL-keyed target row is in scope for NOT MATCHED BY SOURCE arms.
  * Inferring existence from key nullability would misclassify both.
  */
private[plans] object MergeEngine {

  /** The joined-scope name of target column `c`. */
  def targetSide(c: String): String = "__t_" + c

  // outside the `__t_` namespace: a target column named `present` must not
  // collide with the target-side marker
  private val TPresent = "__present_t"
  private val SPresent = "__present_s"
  private val SrcCnt = "__src_cnt"
  private val SrcRn = "__src_rn"
  private val Alive = "__alive"
  private val Acted = "__acted"

  /** [[lower]] marker: the row belongs to the merged table — a target row
    * no arm deleted (as its image) or an inserted source row.
    */
  val alive: Column = col(Alive)
  /** [[lower]] marker: a matched or NOT MATCHED BY SOURCE arm updated or
    * deleted the row's target row.
    */
  val acted: Column = col(Acted)
  /** [[lower]] marker: the row has no target row (a source row that
    * matched nothing).
    */
  val sourceOnly: Column = col(TPresent).isNull

  sealed trait MatchedArm { def condition: Option[Column] }
  /** WHEN [NOT] MATCHED [BY SOURCE] [AND cond] THEN UPDATE SET set. */
  final case class Update(condition: Option[Column], set: Map[String, Column])
    extends MatchedArm
  /** WHEN [NOT] MATCHED [BY SOURCE] [AND cond] THEN DELETE. */
  final case class Delete(condition: Option[Column]) extends MatchedArm

  /** WHEN NOT MATCHED [AND cond] THEN INSERT. With `values = None` the
    * whole source row inserts by name (source must carry every target
    * column); with explicit values, each target column takes its expression
    * (evaluated over the source row). Several ordered arms are allowed —
    * first-matching-arm-wins, like the matched arms; a source row no arm
    * accepts is dropped.
    */
  final case class Insert(condition: Option[Column],
      values: Option[Map[String, Column]] = None)

  final case class Spec(
      matched: Seq[MatchedArm] = Nil,
      inserts: Seq[Insert] = Nil,
      notMatchedBySource: Seq[MatchedArm] = Nil) {
    def touchesUnmatchedTargets: Boolean = notMatchedBySource.nonEmpty
    /** The target columns some UPDATE arm assigns. */
    def assignedColumns: Set[String] = (matched ++ notMatchedBySource)
      .collect { case Update(_, set) => set.keySet }.flatten.toSet
  }

  /** Desugar the single-arm convenience parameters the planners expose. */
  def specOf(whenMatchedSet: Map[String, Column], whenMatchedDelete: Boolean,
      insertUnmatched: Boolean): Spec = Spec(
    matched =
      if (whenMatchedDelete) Seq(Delete(None))
      else if (whenMatchedSet.nonEmpty) Seq(Update(None, whenMatchedSet))
      else Nil,
    inserts = if (insertUnmatched) Seq(Insert(None)) else Nil)

  /** The lowered statement `target ⋈ source`: one row per joined pair,
    * carrying the `provenance` columns of its target row (NULL on a
    * source-only row), each column of `cols` (the target schema's column
    * order) as the statement leaves it — the arm's image of a target row,
    * the row itself when no arm acts, or the winning insert arm's values —
    * and the markers [[alive]], [[acted]] and [[sourceOnly]]. `keys` are the
    * ON-clause equi-pairs (targetCol, sourceCol) — one entry for a simple
    * key, several for a composite business key. The source must carry every
    * source key, plus every target column when a whole-row insert arm
    * exists.
    *
    * The join keeps only the sides a consumer can need: target rows no
    * source row matches survive only for `wholeTarget` (a copy-on-write
    * post-image keeps every target row) or a NOT MATCHED BY SOURCE arm, and
    * source rows no target row matches only for an insert arm.
    *
    * `sourceKeysUnique` skips the standard cardinality guard (>1 source row
    * matching one target row fails the statement in-job); the guard only
    * arms when a matched arm exists — an insert-only MERGE tolerates
    * duplicate source keys (they simply don't insert when matched), per
    * SQL/Delta semantics.
    */
  def lower(target: DataFrame, source: DataFrame,
      keys: Seq[(String, String)], cols: Seq[String], spec: Spec,
      sourceKeysUnique: Boolean, wholeTarget: Boolean,
      provenance: Seq[String] = Nil): DataFrame = {
    require(keys.nonEmpty, "MERGE needs at least one ON equi-condition")
    val srcCols = source.columns.toSet
    val missingKeys = keys.map(_._2).filterNot(srcCols)
    require(missingKeys.isEmpty,
      s"source must carry the merge key(s) ${missingKeys.mkString(", ")}")
    spec.inserts.foreach { ins =>
      if (ins.values.isEmpty) {
        val missing = cols.filterNot(srcCols)
        require(missing.isEmpty,
          s"MERGE with an insert arm needs source columns ${missing.mkString(", ")}")
      }
    }
    def tc(c: String): Column = col(targetSide(c))

    // cardinality guard: only meaningful when a matched row could be
    // updated/deleted more than once — insert-only statements tolerate
    // duplicate source keys (SQL/Delta semantics: they simply don't insert
    // when matched). The join still produces one joined copy of the target
    // row PER matching source row, so a whole-target insert-only statement
    // instead numbers the copies and keeps exactly one (the kept copy is
    // the unchanged target row — no arm touches it, so which copy survives
    // is immaterial).
    val guardCardinality = !sourceKeysUnique && spec.matched.nonEmpty
    val dedupMatched = wholeTarget && !sourceKeysUnique && spec.matched.isEmpty
    val win = org.apache.spark.sql.expressions.Window
      .partitionBy(keys.map(k => col(k._2)): _*)
    val guarded0 =
      if (guardCardinality) source.withColumn(SrcCnt, count(lit(1)).over(win))
      else if (dedupMatched)
        source.withColumn(SrcRn, row_number().over(win.orderBy(lit(1))))
      else source
    val sMarked = guarded0.withColumn(SPresent, lit(true))
    val tRen = target.select(cols.map(c => col(c).as(targetSide(c))) ++
      provenance.map(col) :+ lit(true).as(TPresent): _*)
    val joinCond = keys.map { case (tk, sk) => tc(tk) === col(sk) }
      .reduce(_ && _)
    // a one-sided outer join keeps its preserved side on the left
    val joined = (spec.inserts.nonEmpty,
        wholeTarget || spec.touchesUnmatchedTargets) match {
      case (true, true) => tRen.join(sMarked, joinCond, "full_outer")
      case (true, false) => sMarked.join(tRen, joinCond, "left_outer")
      case (false, true) => tRen.join(sMarked, joinCond, "left_outer")
      case (false, false) => sMarked.join(tRen, joinCond, "inner")
    }

    val matched = col(TPresent).isNotNull && col(SPresent).isNotNull
    val keyDesc = concat_ws(", ", keys.map { case (_, sk) =>
      concat(lit(s"$sk="), coalesce(col(sk).cast("string"), lit("NULL")))
    }: _*)
    val checked =
      if (!guardCardinality) joined
      else joined.filter(when(matched && col(SrcCnt) > 1,
        raise_error(concat(
          lit("MERGE cardinality violation: multiple source rows match target "),
          keyDesc))).isNull)

    // first-matching-arm-wins: arm index 0 = no arm applies (row unchanged);
    // the when-chain is built in arm order so the FIRST true condition wins
    def armIndex(arms: Seq[MatchedArm], scope: Column): Column = {
      val chain = arms.zipWithIndex.foldLeft(Option.empty[Column]) {
        case (acc, (arm, i)) =>
          val c = scope && arm.condition.getOrElse(lit(true))
          Some(acc.map(_.when(c, i + 1)).getOrElse(when(c, i + 1)))
      }
      chain.map(_.otherwise(0)).getOrElse(lit(0))
    }
    val targetOnly = col(TPresent).isNotNull && col(SPresent).isNull
    val mIdx = armIndex(spec.matched, matched)
    val nIdx = armIndex(spec.notMatchedBySource, targetOnly)

    def deleteIdxs(arms: Seq[MatchedArm]): Seq[Int] =
      arms.zipWithIndex.collect { case (_: Delete, i) => i + 1 }
    def surviving(idx: Column, arms: Seq[MatchedArm]): Column =
      deleteIdxs(arms) match {
        case Nil => lit(true)
        case del => !idx.isin(del.map(Integer.valueOf): _*)
      }

    // ordered insert arms, first-matching-arm-wins (0 = no arm accepts —
    // the source row is dropped, standard multi-arm NOT MATCHED semantics)
    val iIdx = spec.inserts.zipWithIndex.foldLeft(Option.empty[Column]) {
      case (acc, (Insert(cond, _), i)) =>
        val c = cond.getOrElse(lit(true))
        Some(acc.map(_.when(c, i + 1)).getOrElse(when(c, i + 1)))
    }.map(_.otherwise(0)).getOrElse(lit(0))
    val matchedSurvives =
      if (dedupMatched) surviving(mIdx, spec.matched) && col(SrcRn) === 1
      else surviving(mIdx, spec.matched)
    val isAlive = when(sourceOnly, iIdx =!= 0)
      .when(matched, matchedSurvives)
      .otherwise(surviving(nIdx, spec.notMatchedBySource))

    def armValue(idx: Column, arms: Seq[MatchedArm], c: String): Column =
      arms.zipWithIndex.foldLeft(tc(c)) {
        case (acc, (Update(_, set), i)) if set.contains(c) =>
          when(idx === (i + 1), set(c)).otherwise(acc)
        case (acc, _) => acc
      }
    // conform to the target's declared types: inserted source columns and
    // SET expressions may carry different (castable) types, and a staged
    // file whose physical type disagrees with the table schema is silent
    // corruption at read time
    val types = target.schema.fields.map(f => f.name -> f.dataType).toMap
    val projection = cols.map { c =>
      // per-arm insert value for column c, selected by the winning arm
      // index (base case unreachable: iIdx==0 rows are not alive)
      val insVal = spec.inserts.zipWithIndex
        .foldLeft(lit(null): Column) { case (acc, (Insert(_, values), i)) =>
          val v = values match {
            case Some(vs) => vs.getOrElse(c, lit(null))
            case None => if (srcCols(c)) col(c) else tc(c) // tc: unreachable filler
          }
          when(iIdx === (i + 1), v).otherwise(acc)
        }
      when(sourceOnly, insVal)
        .when(matched, armValue(mIdx, spec.matched, c))
        .otherwise(armValue(nIdx, spec.notMatchedBySource, c))
        .cast(types(c)).as(c)
    }
    checked.select(provenance.map(col) ++ projection ++ Seq(col(TPresent),
      isAlive.as(Alive), (mIdx =!= 0 || nIdx =!= 0).as(Acted)): _*)
  }

  /** Post-image of `target ⟗ source` for a copy-on-write rewrite: every
    * surviving row of the merged target, in the `cols` order (see
    * [[lower]]).
    */
  def postImage(target: DataFrame, source: DataFrame,
      keys: Seq[(String, String)], cols: Seq[String], spec: Spec,
      sourceKeysUnique: Boolean): DataFrame =
    lower(target, source, keys, cols, spec, sourceKeysUnique,
      wholeTarget = true).filter(alive).select(cols.map(col): _*)

  /** Runs a MERGE, raising a cardinality violation as the documented
    * `IllegalStateException`: the in-job guard surfaces as a
    * SparkRuntimeException wrapped in job-failure layers.
    */
  def unwrapCardinality[A](body: => A): A =
    try body catch {
      case e: Throwable =>
        val hit = Iterator.iterate(e)(_.getCause).takeWhile(_ != null).take(10)
          .find(c => c.getMessage != null &&
            c.getMessage.contains("MERGE cardinality violation"))
        hit match {
          case Some(c) => throw new IllegalStateException(
            c.getMessage.linesIterator.toSeq.headOption.getOrElse(c.getMessage), e)
          case None => throw e
        }
    }
}
