package graft.plans

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.analysis.UnresolvedAttribute
import org.apache.spark.sql.catalyst.expressions.{Alias, Cast, Expression}
import org.apache.spark.sql.catalyst.parser.CatalystSqlParser
import org.apache.spark.sql.types.DataType

/** `CREATE TEMPORARY MACRO` — HiveQL's inline SQL macros (ref ql/src/java/
  * org/apache/hadoop/hive/ql/ddl/function/macro/CreateMacroAnalyzer.java):
  * a named expression template whose parameters substitute at call sites
  * and whose result type is INFERRED from the expanded expression (unlike
  * a SQL UDF's declared RETURNS).
  *
  * Spark-native lowering: the macro body parses once to a Catalyst
  * expression; a `FunctionBuilder` registered in the session
  * FunctionRegistry replaces each parameter reference with the call's
  * argument (cast to the declared parameter type, Hive's coercion rule).
  * Expansion happens BEFORE analysis, so macros cost nothing at runtime —
  * the optimizer sees the inlined expression, folds constants through it,
  * and whole-stage codegen compiles it like hand-written SQL. Macros
  * compose: a macro body may call other macros (expanded recursively by
  * the analyzer's function resolution).
  */
object Macros {

  private def norm(s: String): String = s.toLowerCase(java.util.Locale.ROOT)

  // macro name -> (params, fully-inlined body). Bodies stored here never
  // contain macro calls (see create), so expansion terminates by
  // construction.
  private val defs = scala.collection.concurrent.TrieMap
    .empty[String, (Seq[(String, DataType)], Expression)]

  /** One macro expansion: parameter references become the call's arguments
    * cast to the declared types (Hive's coercion rule).
    */
  private def expand(name: String, params: Seq[(String, DataType)],
      body: Expression, args: Seq[Expression]): Expression = {
    if (args.length != params.length)
      throw new IllegalArgumentException(
        s"macro $name expects ${params.length} argument(s), got ${args.length}")
    val sub = params.map(p => norm(p._1)).zip(args.zip(params.map(_._2))).toMap
    body.transformUp {
      case a: UnresolvedAttribute if a.nameParts.size == 1 &&
          sub.contains(norm(a.nameParts.head)) =>
        val (arg, dt) = sub(norm(a.nameParts.head))
        Cast(arg, dt)
    }
  }

  /** Define (or replace) a temporary macro in the session registry.
    *
    * Referenced macros inline at CREATE time — the reference resolves a
    * macro's body once, at definition (CreateMacroAnalyzer semantic
    * analysis), so a macro captures the definitions visible when it was
    * created and redefinition cycles cannot form. A direct self-reference
    * is rejected (Hive: the name does not exist yet during its own
    * analysis).
    */
  def create(spark: SparkSession, name: String,
      params: Seq[(String, DataType)], bodySql: String): Unit = {
    val parsed = spark.sessionState.sqlParser.parseExpression(bodySql)
    val paramNames = params.map(p => norm(p._1))
    require(paramNames.distinct.size == paramNames.size,
      s"duplicate macro parameter in $name")
    import org.apache.spark.sql.catalyst.analysis.UnresolvedFunction
    val inlined = parsed.transformUp {
      case f: UnresolvedFunction if f.nameParts.size == 1 &&
          defs.contains(norm(f.nameParts.head)) =>
        val (p, b) = defs(norm(f.nameParts.head))
        expand(f.nameParts.head, p, b, f.arguments)
    }
    val selfRef = inlined.collectFirst {
      case f: UnresolvedFunction if f.nameParts.size == 1 &&
          norm(f.nameParts.head) == norm(name) => f
    }
    require(selfRef.isEmpty, s"recursive macro definition: $name references itself")
    defs.put(norm(name), (params, inlined))
    val builder: Seq[Expression] => Expression =
      args => expand(name, params, inlined, args)
    spark.sessionState.functionRegistry
      .createOrReplaceTempFunction(name, builder, "built-in")
  }

  def drop(spark: SparkSession, name: String, ifExists: Boolean): Unit = {
    // only names this module defined are droppable — a bare dropFunction
    // would happily remove a BUILTIN sharing the name (DROP TEMPORARY
    // MACRO lower must not delete lower())
    if (defs.remove(norm(name)).isEmpty) {
      if (!ifExists)
        throw new IllegalArgumentException(s"temporary macro not found: $name")
      return
    }
    spark.sessionState.functionRegistry.dropFunction(FunctionIdentifier(name))
  }

  // ------------------------------------------------------------ SQL verbs

  /** Execute `sqlText` if it is a macro verb (parse errors to Spark's own
    * grammar, so nothing is shadowed); None otherwise. The body is the
    * statement's remaining text and must read as ONE expression: `x + 1
    * junk` parses as an alias, i.e. trailing junk, and falls through.
    */
  def maybeSql(spark: SparkSession, sqlText: String): Option[DataFrame] = {
    import spark.implicits._
    val c = Cursor(sqlText)
    if (c.kw("CREATE", "TEMPORARY", "MACRO"))
      for {
        name <- c.name()
        paramList <- c.group() // DECIMAL(10,2) stays one entry
        body <- c.rest()
        parsed <- scala.util.Try(
          spark.sessionState.sqlParser.parseExpression(body)).toOption
        if !parsed.isInstanceOf[Alias]
      } yield {
        val params = paramList.map { p =>
          val param = Cursor(p)
          val typed = for { n <- param.name(); t <- param.rest() } yield (n, t)
          require(typed.isDefined, s"macro parameter needs a type: '$p'")
          typed.get._1 -> CatalystSqlParser.parseDataType(typed.get._2)
        }
        create(spark, name, params, body)
        Seq(s"created temporary macro $name").toDF("result")
      }
    else if (c.kw("DROP", "TEMPORARY", "MACRO"))
      for {
        ifExists <- Some(c.kw("IF", "EXISTS"))
        name <- c.name()
        _ <- c.done()
      } yield {
        drop(spark, name, ifExists)
        Seq(s"dropped temporary macro $name").toDF("result")
      }
    else None
  }
}
