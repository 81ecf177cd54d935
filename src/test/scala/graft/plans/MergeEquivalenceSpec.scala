package graft.plans

import graft.SparkSpec
import org.apache.spark.sql.functions._

/** Randomized cross-strategy MERGE equivalence: for seeded random tables and
  * sources (duplicate values, NULL source keys, NULL target keys, disjoint
  * and overlapping key ranges), the COW merge, the MOR merge, and a
  * driver-side reference model must agree row-for-row.
  *
  * This is the regression net for the bug class found in round 7 (COW and
  * MOR gave different answers for NULL-key source rows): any future
  * divergence between the two physical strategies — or between either and
  * SQL MERGE semantics — fails here on some seed instead of surviving
  * until an oracle fixture happens to cover it.
  */
final case class MergeEqRow(id: java.lang.Long, v: java.lang.Integer,
    tag: String)

class MergeEquivalenceSpec extends SparkSpec {
  import spark.implicits._
  private type R = MergeEqRow
  private val R = MergeEqRow

  private def scratch(): String =
    java.nio.file.Files.createTempDirectory("graft_meq_").toString + "/t"

  private def randomRows(rng: scala.util.Random, ids: Seq[Long],
      nNullKeys: Int, tag: String): Seq[R] =
    ids.map(i => R(i, rng.nextInt(100), s"$tag$i")) ++
      (1 to nNullKeys).map(i => R(null, rng.nextInt(100), s"${tag}_null$i"))

  /** SQL MERGE semantics, computed row-at-a-time on the driver:
    * matched (key equality, never on NULL) → update or delete;
    * unmatched source rows (incl. NULL keys) → insert when an arm exists.
    */
  private def model(target: Seq[R], source: Seq[R], delete: Boolean,
      insert: Boolean): Seq[(java.lang.Long, java.lang.Integer, String)] = {
    val byKey = source.filter(_.id != null).map(r => (r.id: Long) -> r).toMap
    val kept = target.flatMap { t =>
      if (t.id != null && byKey.contains(t.id)) {
        if (delete) None
        else Some((t.id, byKey(t.id).v, t.tag)) // SET v = source.v
      } else Some((t.id, t.v, t.tag))
    }
    val inserts =
      if (!insert) Nil
      else source.filter(s => s.id == null || !target.exists(t =>
        t.id != null && t.id == s.id)).map(s => (s.id, s.v, s.tag))
    kept ++ inserts
  }

  private def asSet(rows: Seq[org.apache.spark.sql.Row]) =
    rows.map(r => (r.get(0), r.get(1), r.get(2))).groupBy(identity)
      .view.mapValues(_.size).toMap

  for (seed <- 1 to 12) {
    test(s"COW == MOR == reference model (seed $seed)") {
      val rng = new scala.util.Random(seed)
      val targetIds = (0L until 30L).filter(_ => rng.nextDouble() < 0.7)
      val srcIds = (0L until 40L).filter(_ => rng.nextDouble() < 0.4)
      val target = randomRows(rng, targetIds, nNullKeys = rng.nextInt(2), "t")
      val source = randomRows(rng, srcIds, nNullKeys = rng.nextInt(3), "s")
      val delete = rng.nextBoolean()
      val insert = rng.nextBoolean() || !delete // at least one effect arm

      val tDf = target.toDF("id", "v", "tag")
      val sDf = source.toDF("id", "v", "tag")
      val expected = model(target, source, delete, insert)
        .map { case (a, b, c) => (a: Any, b: Any, c: Any) }
        .groupBy(identity).view.mapValues(_.size).toMap

      val cow = Snapshots.create(spark, scratch(), tDf)
      cow.merge(sDf, "id", "id",
        whenMatchedSet = if (delete) Map.empty else Map("v" -> col("v")),
        whenMatchedDelete = delete, insertUnmatched = insert)
      val mor = Snapshots.create(spark, scratch(), tDf)
      mor.mergeMergeOnRead(sDf, "id", "id",
        whenMatchedSet = if (delete) Map.empty else Map("v" -> col("v")),
        whenMatchedDelete = delete, insertUnmatched = insert)

      val cowGot = asSet(cow.read().collect().toSeq)
      val morGot = asSet(mor.read().collect().toSeq)
      assert(cowGot === expected, s"COW diverges from SQL semantics (seed $seed)")
      assert(morGot === expected, s"MOR diverges from SQL semantics (seed $seed)")
    }
  }

  for (seed <- 13 to 18) {
    test(s"UPDATE/DELETE: COW == MOR == model (seed $seed)") {
      val rng = new scala.util.Random(seed)
      val target = randomRows(rng, (0L until 40L)
        .filter(_ => rng.nextDouble() < 0.6), nNullKeys = rng.nextInt(3), "t")
      val lo = rng.nextInt(40).toLong
      val hi = lo + rng.nextInt(20).toLong
      // predicate over a nullable key: NULL id must match nothing
      val cond = col("id") >= lo && col("id") < hi
      val tDf = target.toDF("id", "v", "tag")
      val doDelete = rng.nextBoolean()

      val expected = (if (doDelete)
        target.filterNot(t => t.id != null && t.id >= lo && t.id < hi)
      else target.map(t =>
        if (t.id != null && t.id >= lo && t.id < hi) t.copy(v = -1) else t))
        .map(t => (t.id: Any, t.v: Any, t.tag: Any))
        .groupBy(identity).view.mapValues(_.size).toMap

      val cow = Snapshots.create(spark, scratch(), tDf)
      val mor = Snapshots.create(spark, scratch(), tDf)
      if (doDelete) { cow.deleteWhere(cond); mor.deleteWhereMergeOnRead(cond) }
      else {
        cow.updateWhere(cond, Map("v" -> lit(-1)))
        mor.updateWhereMergeOnRead(cond, Map("v" -> lit(-1)))
      }
      assert(asSet(cow.read().collect().toSeq) === expected,
        s"COW ${if (doDelete) "DELETE" else "UPDATE"} diverges (seed $seed)")
      assert(asSet(mor.read().collect().toSeq) === expected,
        s"MOR ${if (doDelete) "DELETE" else "UPDATE"} diverges (seed $seed)")
    }
  }

  for (seed <- 19 to 22) {
    test(s"SQL MERGE statement == model (seed $seed)") {
      val rng = new scala.util.Random(seed)
      val target = randomRows(rng, (0L until 30L)
        .filter(_ => rng.nextDouble() < 0.6), nNullKeys = 1, "t")
      val source = randomRows(rng, (0L until 40L)
        .filter(_ => rng.nextDouble() < 0.4), nNullKeys = 2, "s")
      val expected = model(target, source, delete = false, insert = true)
        .map { case (a, b, c) => (a: Any, b: Any, c: Any) }
        .groupBy(identity).view.mapValues(_.size).toMap

      val root = scratch()
      Snapshots.create(spark, root, target.toDF("id", "v", "tag"))
      val name = s"meq_sql_$seed"
      NamedTables.registerSnapshot(name, root)
      source.toDF("id", "v", "tag").createOrReplaceTempView("meq_src")
      graft.Engine.sql(spark, sfDir,
        s"""MERGE INTO $name t USING meq_src s ON t.id = s.id
           |WHEN MATCHED THEN UPDATE SET v = s.v
           |WHEN NOT MATCHED THEN INSERT *""".stripMargin)
      val got = asSet(Snapshots.table(spark, root).read().collect().toSeq)
      assert(got === expected, s"SQL MERGE diverges from model (seed $seed)")
      NamedTables.drop(name)
    }
  }

  /** Multi-arm SQL MERGE semantics on the driver: the first matching arm
    * wins in each group; target rows with a NULL key match nothing and are
    * in scope for NOT MATCHED BY SOURCE; source rows with a NULL key take
    * the insert arms; a source row no insert arm accepts is dropped.
    */
  private def multiArmModel(target: Seq[R], source: Seq[R], delBelow: Int,
      updBelow: Int, nmbsBelow: Int, nmbsDelete: Boolean, insBelow: Int)
      : Seq[(Any, Any, Any)] = {
    val byKey = source.filter(_.id != null).map(r => (r.id: Long) -> r).toMap
    val kept = target.flatMap { t =>
      byKey.get(if (t.id == null) Long.MinValue else t.id) match {
        case Some(s) if s.v < delBelow => None
        case Some(s) if s.v < updBelow => Some((t.id, s.v, t.tag + "_u"))
        case Some(_) => Some((t.id, t.v, t.tag))
        case None if t.v < nmbsBelow =>
          if (nmbsDelete) None else Some((t.id, t.v + 1000, t.tag))
        case None => Some((t.id, t.v, t.tag))
      }
    }
    val inserts = source.filter(s => s.id == null ||
        !target.exists(t => t.id != null && t.id == s.id)).flatMap { s =>
      if (s.v < insBelow) Some((s.id, s.v, "i1_" + s.tag))
      else if (s.v % 3 != 0) Some((s.id, -s.v, "i2"))
      else None
    }
    (kept ++ inserts).map { case (a, b, c) => (a: Any, b: Any, c: Any) }
  }

  for (seed <- 23 to 30) {
    test(s"multi-arm SQL MERGE: COW == MOR == model, MOR commits merge-mor " +
        s"(seed $seed)") {
      val rng = new scala.util.Random(seed)
      val target = randomRows(rng, (0L until 30L)
        .filter(_ => rng.nextDouble() < 0.6), nNullKeys = 1 + rng.nextInt(2), "t")
      val source = randomRows(rng, (0L until 40L)
        .filter(_ => rng.nextDouble() < 0.5), nNullKeys = 1 + rng.nextInt(2), "s")
      val delBelow = rng.nextInt(40)
      val updBelow = delBelow + rng.nextInt(60)
      val nmbsBelow = rng.nextInt(100)
      val nmbsDelete = rng.nextBoolean()
      val insBelow = rng.nextInt(100)
      val expected = multiArmModel(target, source, delBelow, updBelow,
        nmbsBelow, nmbsDelete, insBelow).groupBy(identity)
        .view.mapValues(_.size).toMap

      source.toDF("id", "v", "tag").createOrReplaceTempView("meq_src")
      val nmbsArm = if (nmbsDelete) "DELETE" else "UPDATE SET v = t.v + 1000"
      def run(mode: String): (Map[(Any, Any, Any), Int], String) = {
        val root = scratch()
        Snapshots.create(spark, root, target.toDF("id", "v", "tag"))
        val name = s"meq_multi_$seed"
        NamedTables.registerSnapshot(name, root, mode)
        try {
          graft.Engine.sql(spark, sfDir,
            s"""MERGE INTO $name t USING meq_src s ON t.id = s.id
               |WHEN MATCHED AND s.v < $delBelow THEN DELETE
               |WHEN MATCHED AND s.v < $updBelow THEN
               |  UPDATE SET v = s.v, tag = concat(t.tag, '_u')
               |WHEN NOT MATCHED AND s.v < $insBelow THEN
               |  INSERT (id, v, tag) VALUES (s.id, s.v, concat('i1_', s.tag))
               |WHEN NOT MATCHED AND s.v % 3 <> 0 THEN
               |  INSERT (id, v, tag) VALUES (s.id, -s.v, 'i2')
               |WHEN NOT MATCHED BY SOURCE AND t.v < $nmbsBelow THEN $nmbsArm
               |""".stripMargin)
        } finally NamedTables.drop(name)
        val t = Snapshots.table(spark, root)
        (asSet(t.read().collect().toSeq), t.latest().action)
      }
      val (cowGot, cowAction) = run(NamedTables.WriteCow)
      val (morGot, morAction) = run(NamedTables.WriteMor)
      assert(cowAction === "merge")
      assert(morAction === "merge-mor", "a MOR table's MERGE must not fall back to COW")
      assert(cowGot === expected, s"COW diverges from the model (seed $seed)")
      assert(morGot === expected, s"MOR diverges from the model (seed $seed)")
    }
  }
}
