package graft.plans

import org.apache.spark.sql.SparkSession

/** Hive configuration spellings with a live Spark equivalent: a
  * `SET hive.<key>=<v>` arriving at the front door also flips the
  * matching Spark conf, so .q scripts drive the same switches they do
  * on the reference. The SET statement itself still executes (Spark
  * stores arbitrary keys), keeping `SET -v`-style inspection intact.
  *
  * Mapped keys (the rest of Hive's ~2000 knobs are execution-engine
  * internals with no Spark meaning — they store as opaque session
  * entries):
  *  - `hive.support.quoted.identifiers` (ref ql/parse/ParseDriver's
  *    ALLOW_QUOTED_ID): `none` makes backquoted SELECT-list names
  *    REGEX column specs (union_regex.q's `(a1)?+.+`) ↔ Spark's
  *    `spark.sql.parser.quotedRegexColumnNames`; `column` restores
  *    identifier semantics.
  */
object HiveConfs {

  /** Call on every front-door statement BEFORE parsing; a statement not
    * leading with SET costs one short scan ([[Cursor.leads]]).
    */
  def maybeMap(spark: SparkSession, query: String): Unit =
    if (Cursor.leads(query, "SET")) {
      val c = Cursor(query)
      if (c.kw("SET", "hive", ".", "support", ".", "quoted", ".",
          "identifiers", "="))
        c.word().foreach(v => spark.conf.set(
          "spark.sql.parser.quotedRegexColumnNames",
          v.equalsIgnoreCase("none").toString))
    }
}
