package graft.sync

import graft.model.ChangeClass
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** The merge/apply layer — M1/M2/M3 re-expressed as distributed plans.
  *
  * The reference applies changes as batched key-list DELETEs plus SqlBulkCopy
  * (AxDbDataService.cs:177-404, 909-932). Lake-native Spark re-expression:
  * the new target state is `target ▷ deleteKeys ∪ insertRows` — one anti-join
  * and a union, no driver-side key lists, no 5000-key batches. Join
  * orientations put the bounded key frames on the build side; the hint is
  * left to AQE, which broadcasts them at runtime when they actually fit
  * (a static broadcast() would force a multi-MB hash build when a fixture
  * window spans the whole table). For a real
  * JDBC target the same key frames feed a staged-table `DELETE JOIN`
  * (see [[graft.jdbc.PushdownSql]]).
  *
  * All functions are pure DataFrame → DataFrame so the same logic backs
  * in-memory correctness queries, parquet round-trip tests, and real sinks.
  */
object Apply {

  private def keyOnly(df: DataFrame, keyCol: String) = df.select(keyCol).distinct()

  /** M1 standard mode with delta comparison: targeted deletes + insert.
    * delete = MODIFIED ∪ DELETED, insert = MODIFIED ∪ NEW
    * (AxDbDataService.cs:266-270; union SO2 becomes a filter on the
    * classification column — one pass, no union shuffle).
    */
  def applyStandard(classified: DataFrame, target: DataFrame, keyCol: String = "RecId"): DataFrame = {
    val deleteKeys = keyOnly(
      classified.filter(col(Classify.ChangeTypeCol).isin(ChangeClass.Modified, ChangeClass.Deleted)),
      keyCol)
    val insertRows = classified
      .filter(col(Classify.ChangeTypeCol).isin(ChangeClass.Modified, ChangeClass.New))
      .drop(Classify.ChangeTypeCol)
    target
      .join(deleteKeys, Seq(keyCol), "left_anti")
      .unionByName(insertRows.select(target.columns.map(col): _*))
  }

  /** M1 standard mode WITHOUT delta comparison, windowed strategy cleanup:
    * `DELETE WHERE RecId >= min(window)` then insert the window
    * (AxDbDataService.cs:473-483). Used when a record-count window is synced
    * and no comparison columns exist.
    */
  def applyWindowStandard(window: DataFrame, target: DataFrame, keyCol: String = "RecId"): DataFrame = {
    val minW = window.agg(min(col(keyCol)).as("min_w"))
    target
      .crossJoin(broadcast(minW))
      // empty window ⇒ min_w is null ⇒ keep EVERY target row (the reference's
      // `DELETE WHERE RecId >= min(window)` deletes nothing for an empty
      // window); without the null guard the filter would drop the whole target
      .filter(col("min_w").isNull || col(keyCol) < col("min_w"))
      .drop("min_w")
      .unionByName(window.select(target.columns.map(col): _*))
  }

  /** M3 truncate mode: full overwrite (CopyOrchestrator.cs:944-988). */
  def applyTruncate(source: DataFrame, targetCols: Seq[String]): DataFrame =
    source.select(targetCols.map(col): _*)

  /** M2 incremental (optimized) mode — the reference's control-data pipeline
    * (CopyOrchestrator.cs:993-1233) as joins:
    *
    *  1. three-step delete (all key-set ops server-side in the reference,
    *     AxDbDataService.cs:1114-1212 — here: one union of key frames):
    *     d1 = target keys changed in source   (J4, SysRowVersion > sourceMark)
    *     d2 = target rows locally mutated     (target.SysRowVersion > targetMark,
    *          AxDbDataService.cs:1147-1158)
    *     d3 = target keys not in the control window (J3, not-in-source)
    *  2. missing keys recomputed AFTER deletes (J2, CopyOrchestrator.cs:1083-1097)
    *  3. threshold = least(min version of missing control rows, sourceMark)
    *     (A3 + TimestampHelper.MinTimestamp, CopyOrchestrator.cs:1106-1123)
    *  4. delta fetch: source rows with version >= threshold — deliberate
    *     over-fetch (`>=` vs `>`, SURVEY §7.3.4) …
    *  5. … re-filtered to recIdsToInsert = changed ∪ missing (P6 as a
    *     semi-join, never a collected set — FilterDataTableByRecIds,
    *     AxDbDataService.cs:937-955)
    *  6. new target = (target ▷ deletes) ∪ inserts.
    *
    * `control` is the narrow (key, version) projection (S7); it is bounded by
    * the record-count window so the key frames are broadcast.
    */
  def applyIncremental(
      source: DataFrame,
      control: DataFrame,
      target: DataFrame,
      sourceMark: Long,
      targetMark: Long,
      keyCol: String = "RecId",
      versionCol: String = "SysRowVersion"): DataFrame = {
    val flags = incrementalFlags(control, target, lit(sourceMark), lit(targetMark),
      keyCol, versionCol)
    val cs = changeSet(source, flags, fetchThreshold(flags, lit(sourceMark)),
      keyCol, versionCol)
    target
      .join(cs.deleteKeys, Seq(keyCol), "left_anti")
      .unionByName(cs.inserts.select(target.columns.map(col): _*))
  }

  /** The incremental CHANGESET — what actually gets written. The reference
    * never rewrites the whole target: it issues targeted deletes and bulk-
    * inserts only the changed rows (AxDbDataService.cs:177-404). The lake
    * analog is a delta commit: tombstone keys + insert rows (what Delta's
    * MERGE writes). At 100 TB this is the difference between moving ~5% and
    * moving everything — materializing [[applyIncremental]]'s full frame is
    * for correctness checks, not the write path.
    */
  final case class ChangeSet(
      deleteKeys: DataFrame, inserts: DataFrame, keyFlags: DataFrame)

  /** The reference expresses the key-set algebra as THREE sequential
    * server-side DELETEs plus two anti-joins (a SQL Server statement-at-a-
    * time artifact). Columnar re-expression: ONE full-outer join of the
    * control window against the target (key, version) pairs yields, per
    * key, every flag the pipeline needs — changed (J4), locally-mutated,
    * not-in-window (J3), missing-after-delete (J2), to-insert — so the
    * whole changeset costs one key-join + one aggregate + one semi-join on
    * the source, instead of ~8 shuffles. The same flags feed the cost
    * model's counts ([[Planner.ChangeStats.columns]]). Marks are columns: a
    * literal on the runner path, a scalar subquery in [[Planner.decideAsQuery]].
    */
  def incrementalFlags(
      control: DataFrame,
      target: DataFrame,
      sourceMark: Column,
      targetMark: Column,
      keyCol: String = "RecId",
      versionCol: String = "SysRowVersion"): DataFrame = {
    val c = control.select(col(keyCol), col(versionCol).as("cv"), lit(1).as("in_c"))
    val t = target.select(col(keyCol), col(versionCol).as("tv"), lit(1).as("in_t"))
    val inC = col("in_c") === 1
    val inT = col("in_t") === 1
    c.join(t, Seq(keyCol), "full_outer")
      .select(col(keyCol), col("cv"),
        // J4: version advanced beyond the stored source mark
        (coalesce(inC, lit(false)) && col("cv") > sourceMark).as("is_changed"),
        // local purge: target-side version beyond the stored target mark
        (coalesce(inT, lit(false)) && col("tv") > targetMark).as("is_local_mut"),
        coalesce(inC, lit(false)).as("is_in_control"),
        coalesce(inT, lit(false)).as("is_in_target"))
      .withColumn("is_delete",
        col("is_changed") || col("is_local_mut") ||
          (col("is_in_target") && !col("is_in_control"))) // J3 not-in-window
      // J2 missing AFTER deletes: in the window but not surviving in target
      .withColumn("is_missing",
        col("is_in_control") && !(col("is_in_target") && !col("is_delete")))
      .withColumn("is_insert", col("is_changed") || col("is_missing"))
  }

  /** Update-only changeset — the checksum-verified fast tier: when the key
    * sets of control and target are IDENTICAL ([[Planner.SyncProbe.keysInSync]])
    * and no target row was locally mutated, there are no missing keys and no
    * not-in-window keys, so the whole changeset degenerates to ONE pruned
    * scan with NO JOIN AT ALL:
    *
    *   inserts    = source rows with version > sourceMark   (the changes)
    *   deleteKeys = keys(inserts)                           (replace-in-place)
    *
    * Why no join: the runner's control pass (S7) is the (key, version)
    * projection of `source` itself, so the changed keys
    * {k : v(k) > mark} are BY CONSTRUCTION the keys of the fetched rows —
    * the S8 over-fetch (`>=`) and P6 key re-filter exist only to catch
    * missing rows, of which tier 2 provably has none. The filter is a
    * literal predicate, so a version-clustered layout prunes everything
    * except the actually-changed row groups.
    *
    * This is the plan shape that makes a steady-state 5%-drift re-sync
    * scale: ZERO shuffles and zero joins — one 16 B/row probe pass, one
    * pruned fetch. The exact flags join remains the fallback for any
    * key-set difference (inserts/deletes at source, never-synced rows,
    * local edits). Semantics proven equal to [[applyIncremental]] in
    * ApplySpec.
    */
  def updateOnlyChangeSet(
      source: DataFrame,
      sourceMark: Long,
      keyCol: String = "RecId",
      versionCol: String = "SysRowVersion"): ChangeSet = {
    val inserts = source.filter(col(versionCol) > lit(sourceMark))
    val changedKeys = inserts.select(keyCol)
    ChangeSet(changedKeys, inserts, changedKeys)
  }

  /** The incremental changeset over [[incrementalFlags]]: tombstones for
    * every `is_delete` key, inserts = the S8 delta fetch (source rows with
    * version >= `threshold`, a deliberate over-fetch: `>=` vs `>`, SURVEY
    * §7.3.4) re-filtered to the `is_insert` keys (P6 as a semi-join, never
    * a collected set — FilterDataTableByRecIds, AxDbDataService.cs:937-955;
    * AQE broadcasts the keys when they fit).
    *
    * The runner resolves the threshold DRIVER-side and passes a literal, so
    * the S8 predicate pushes into the parquet scan and row-group min/max
    * skipping (or a JDBC WHERE) prunes the unchanged bulk of the source.
    * The reference makes the same trade: it computes the fetch threshold
    * driver-side (A3, CopyOrchestrator.cs:1106-1123) and sends it as a
    * query parameter (Tier2DataService.cs:381-434). On a version-clustered
    * table layout this is the difference between scanning ~change% and
    * scanning 100% of a 100 TB table. Plans that must stay one lazy query
    * pass [[fetchThreshold]] instead. */
  def changeSet(
      source: DataFrame,
      flags: DataFrame,
      threshold: Column,
      keyCol: String = "RecId",
      versionCol: String = "SysRowVersion"): ChangeSet = {
    val deleteKeys = flags.filter(col("is_delete")).select(keyCol)
    val insertKeys = flags.filter(col("is_insert")).select(keyCol)
    val inserts = source
      .filter(col(versionCol) >= threshold)
      .join(insertKeys, Seq(keyCol), "left_semi")
    ChangeSet(deleteKeys, inserts, flags)
  }

  /** The S8 fetch threshold as an in-plan scalar subquery: the min version
    * among missing control rows, floored by the mark (A3 +
    * TimestampHelper.MinTimestamp, CopyOrchestrator.cs:1106-1123). */
  def fetchThreshold(flags: DataFrame, sourceMark: Column): Column =
    flags.agg(min(when(col("is_missing"), col("cv"))).as("v"))
      .select(least(coalesce(col("v"), sourceMark), sourceMark))
      .scalar()

  /** Write a new target state to parquet atomically enough for tests
    * (overwrite into a fresh dir). Lake-native sink analog of the bulk-insert
    * path (S12). */
  def writeLake(df: DataFrame, path: String): Unit =
    df.write.mode("overwrite").parquet(path)

  /** Write a changeset as a delta commit (tombstones + inserts). The two
    * outputs share most of their DAG (deleteKeys feeds the insert path), so
    * the shared key frames are persisted for the duration of the two writes
    * — without this the whole join pipeline runs twice. */
  def writeChangeSet(cs: ChangeSet, dir: String): Unit = {
    val pinned = cs.keyFlags.persist()
    try {
      cs.deleteKeys.write.mode("overwrite").parquet(s"$dir/deletes")
      cs.inserts.write.mode("overwrite").parquet(s"$dir/inserts")
    } finally pinned.unpersist()
  }
}
