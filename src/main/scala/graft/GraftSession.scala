package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.FunctionIdentifier

/** Canonical session factory for the engine's entry points and tests.
  *
  * - `ansi.enabled=false`: the reference's cleaning semantics are
  *   pandas `errors='coerce'` — unparseable values degrade to NULL
  *   instead of erroring (SURVEY.md §2.2 P6, §2.9). Spark 4 defaults
  *   ANSI on, which would turn those data-quality paths into runtime
  *   failures.
  * - `shuffle.partitions` equals the local core count, not 200.
  * - AQE on: runtime re-planning (skew joins, partition coalescing).
  *   Its partition sizes stay at Spark's defaults (64m advisory, 1m
  *   coalescing minimum); OPTIMIZATION_r20.md measured a 16m minimum
  *   as slower.
  * - GraftExtensions installed at build time: custom SQL functions,
  *   the as-of TVF/strategy/rules and the RANGE_BIN hint rule are live
  *   in every session (and every `newSession()` child). This is the
  *   only install path. `getOrCreate` reuses an existing session and
  *   ignores `withExtensions`, so building on top of a session that
  *   lacks them throws instead of returning a half-equipped session.
  */
object GraftSession {
  def build(appName: String, cpus: String = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")): SparkSession = {
    // a session the builder creates below always carries the
    // extensions, so only a reused one is checked: the check builds the
    // session state, CPU a fresh start would otherwise spend in its
    // first query
    val reused = SparkSession.getActiveSession.orElse(SparkSession.getDefaultSession).isDefined
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .appName(appName)
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.ansi.enabled", "false")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.ui.enabled", "false")
      .withExtensions(new GraftExtensions)
      .getOrCreate()
    if (reused && !spark.sessionState.functionRegistry.functionExists(FunctionIdentifier("cosine_sim")))
      throw new IllegalStateException(
        s"GraftSession.build('$appName') reused a running session without " +
          "graft.GraftExtensions (getOrCreate ignores withExtensions once a " +
          "session exists): stop that session first, or build it with " +
          "spark.sql.extensions=graft.GraftExtensions")
    spark.sparkContext.setLogLevel("WARN")
    spark
  }
}
