package graft

import org.apache.spark.sql.{SparkSession, DataFrame}
import graft.queries._

/** Driver contract — see /root/repo/SURVEY.md §7 + the builder prompt.
  *
  * `queries` is the oracle-checked operator inventory (SURVEY §2 + the
  * LLM-pipeline extensions); each entry runs a real engine code path and has
  * a DuckDB SQL twin in `oracleSql` producing the identical result set.
  */
object SparkEntry {

  /** Flagship on the sf0.001 testdata; the smoke check needs rows > 0.
    * Runs the ENGINE end-to-end: derives a source table, runs SyncRunner
    * through its full lifecycle (standard first sync → NOOP re-sync →
    * incremental after updates) and returns the per-run report frame.
    * Fails loudly — no fallback — when any run is not ok or the modes are
    * not exactly Standard → Noop → Incremental: a smoke check that cannot
    * fail proves nothing. */
  def entry(spark: SparkSession): DataFrame = {
    import spark.implicits._
    val reports = {
      val sfDir = "/root/testdata/sf0.001"
      val dir = java.nio.file.Files.createTempDirectory("graft_entry").toString
      val store = new graft.state.SyncStateStore(s"$dir/state.json")
      val runner = new graft.run.SyncRunner(spark, store, parallelWorkers = 2)
      graft.sync.SyncFixtures.perfect(spark, sfDir)
        .write.parquet(s"$dir/src")
      val plan = runner.TablePlan("LINEITEM", s"$dir/src", s"$dir/tgt")
      val first = runner.runAll(Seq(plan))   // standard first sync
      val second = runner.runAll(Seq(plan))  // perfect re-sync ⇒ NOOP
      graft.sync.SyncFixtures.source(spark, sfDir)
        .write.mode("overwrite").parquet(s"$dir/src")
      val third = runner.runAll(Seq(plan))   // 5% updates ⇒ INCREMENTAL
      first ++ second ++ third
    }
    reports.find(!_.ok).foreach(r => throw new IllegalStateException(
      s"entry: ${r.table} (${r.mode}) failed: ${r.error.getOrElse("")}"))
    val modes = reports.map(_.mode.toString)
    if (modes != Seq("Standard", "Noop", "Incremental"))
      throw new IllegalStateException("entry: expected modes Standard, Noop, " +
        s"Incremental; got ${modes.mkString(", ")}")
    reports.map(r =>
        (r.table, r.mode.toString, r.ok, r.metrics.modified, r.metrics.newInSource,
          r.metrics.changePercent))
        .toDF("table", "mode", "ok", "modified", "new_in_source", "change_pct")
  }

  /** One entry per implemented operator from SURVEY.md §2. */
  def queries: Map[String, (SparkSession, String) => DataFrame] =
    SyncQueries.queries ++ AnalyticsQueries.queries ++ ExtQueries.queries

  /** For each key in queries, equivalent ANSI SQL runnable by DuckDB on
    * the same parquet tables. Omit for non-SQL-expressible ops. */
  def oracleSql: Map[String, String] =
    SyncOracles.oracles ++ AnalyticsQueries.oracles ++ ExtQueries.oracles
}
