package graft

import org.apache.spark.sql.SparkSessionExtensions

import graft.plans.FrontDoor

/** Deployment entry point for cluster use:
  *
  * {{{
  * spark-submit --conf spark.sql.extensions=graft.GraftExtensions ...
  * }}}
  *
  * Every session (incl. thrift/connect-served ones) gets the Hive-gap
  * function registry and the front door's stages without calling
  * Engine.configure. The injections derive from the one stage registry,
  * [[graft.plans.FrontDoor]]: each stage runs in the injected parser, as
  * an analyzer rule, through its own session rule, or not at all when it
  * is front-door only (raw-text stages and stages that
  * execute the statement). Authorization runs in the parser, so plain
  * `spark.sql` enforces privileges, row filters and column masks exactly
  * as [[Engine.sql]] does. Session confs are the deployment's: set the
  * ones [[Engine.configure]] sets (`spark.sql.ansi.enabled=false` above
  * all — Hive's coercions need non-ANSI mode), and the static confs of
  * [[Engine.staticConfs]] in the cluster conf, since no extension can set a
  * static conf once the context is up. Local embedding uses
  * `Engine.session()` / `Engine.configure(spark)` directly.
  */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  override def apply(ext: SparkSessionExtensions): Unit = {
    // the checkRule hook runs early with a session handle and is
    // idempotent: registries and durable state (spark.graft.catalog) load
    // before any query can reference them
    ext.injectCheckRule { session => Engine.install(session); _ => () }
    FrontDoor.planStages.foreach(st => st.ext match {
      case FrontDoor.AsResolution =>
        ext.injectResolutionRule(new FrontDoor.StageRule(st, _))
      case FrontDoor.AsPostHoc =>
        ext.injectPostHocResolutionRule(new FrontDoor.StageRule(st, _))
      case FrontDoor.Own(inject) => inject(ext)
      case _: FrontDoor.AtParse | _: FrontDoor.FrontDoorOnly => ()
    })
    ext.injectParser(new FrontDoor.Parser(_, _))
  }
}
