package graft

import org.apache.spark.metrics.source.CodegenMetrics

/** Spark's generated-class cache is one JVM-wide LRU whose size is a
  * static conf. At Spark's default of 100 entries, a statement mix whose
  * generated bodies outnumber the cache (in local mode each body takes two
  * entries: one compiled on the driver thread, one on an executor thread)
  * misses on every access when it repeats, and re-runs Janino each time.
  * Both session builders carry [[Engine.staticConfs]], so a repeated
  * statement reuses its compiled class.
  */
class CodegenCacheSpec extends SparkSpec {

  private val key = "spark.sql.codegen.cache.maxEntries"

  test("the test session and Engine.session both carry the engine's cache size") {
    val want = Engine.staticConfs(key)
    assert(spark.conf.get(key) === want)
    assert(spark.sessionState.conf.codegenCacheMaxEntries.toString === want)
    // Engine.session over the running context returns the shared session
    // and re-applies its runtime confs; keep the suite's shuffle width
    val partitions = spark.conf.get("spark.sql.shuffle.partitions")
    try assert(Engine.session("local[2]", "codegen-cache-spec")
      .sessionState.conf.codegenCacheMaxEntries.toString === want)
    finally spark.conf.set("spark.sql.shuffle.partitions", partitions)
  }

  test("a working set above 100 generated bodies compiles once") {
    // 120 distinct whole-stage bodies: the literals are inlined into the
    // generated source, so every statement is its own cache key
    def round(): Long = {
      val before = CodegenMetrics.METRIC_COMPILATION_TIME.getCount
      (1 to 120).foreach { i =>
        val rows = spark.range(0, 100, 1, 1).selectExpr(s"id * $i + $i AS v")
          .collect()
        assert(rows.last.getLong(0) === 99L * i + i)
      }
      CodegenMetrics.METRIC_COMPILATION_TIME.getCount - before
    }
    val first = round()
    assert(first >= 120, s"round 1 compiled $first classes, want one per statement")
    val second = round()
    assert(second === 0L, s"round 2 recompiled $second of round 1's $first classes")
  }
}
