package graft.queries

import graft.model.ComparisonContext
import graft.sync._
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Oracle-checked queries over the sync core (SURVEY §2.1–§2.8).
  *
  * Each entry exercises a real engine code path (Extract/Classify/Apply/
  * Planner) over the deterministic [[SyncFixtures]]; the DuckDB twin SQL
  * lives in [[SyncOracles]] — keep in lockstep.
  */
object SyncQueries {

  /** Slim fixture projection shared by merge-result queries. */
  private val outCols =
    Seq("RecId", "SysRowVersion", "RECVERSION", "l_quantity", "l_extendedprice", "l_returnflag")
  private val fullCtx = ComparisonContext(hasRecVersion = true, hasCreated = true, hasModified = true)

  private def slim(df: DataFrame): DataFrame = df.select(outCols.map(col): _*)
  private def slimT(df: DataFrame): DataFrame =
    df.select((outCols :+ "CREATEDDATETIME" :+ "MODIFIEDDATETIME").map(col): _*)

  private def mark(spark: SparkSession, dir: String): Long =
    SyncFixtures.storedMark(spark, dir).head().getLong(0)

  /** The runner's tier-3 changeset over the fixture pair (source window vs
    * target, both marks at the stored mark), threshold kept in-plan. */
  private def m2ChangeSet(spark: SparkSession, dir: String,
      src: DataFrame, tgt: DataFrame): Apply.ChangeSet = {
    val m = lit(mark(spark, dir))
    val flags = Apply.incrementalFlags(
      SyncFixtures.control(SyncFixtures.source(spark, dir)), tgt, m, m)
    Apply.changeSet(src, flags, Apply.fetchThreshold(flags, m))
  }

  /** Shared documents-lake fixture for the bm25 maintenance family (ONE
    * copy — q_cdf_maintain_bm25 and q_bm25_maintained_serve replay the
    * same state or their oracles silently diverge): initial = documents
    * with a synthetic 'zzqx' token prepended to the %5==1 band (so the
    * upsert CHANGES df/max_tf/lengths), commit 1 upserts that band back
    * to source text, commit 2 deletes the %9==4 band. Returns
    * (initial, feed, replayed final). */
  private def bm25LakeFixture(s: SparkSession, d: String)
      : (DataFrame, DataFrame, DataFrame) = {
    val dir = java.nio.file.Files.createTempDirectory("graft_lake_q").toString + "/t"
    val docs = s.read.parquet(s"$d/documents.parquet").select("doc_id", "text")
    val tgt = docs.withColumn("text",
      when(col("doc_id") % 5 === 1, concat(lit("zzqx "), col("text")))
        .otherwise(col("text")))
    LakeTable.overwrite(tgt, dir)
    val upsert = docs.filter(col("doc_id") % 5 === 1)
    LakeTable.appendCommit(
      Apply.ChangeSet(upsert.select("doc_id"), upsert, upsert.select("doc_id")),
      dir, nowMs = 1000L)
    val dels = docs.filter(col("doc_id") % 9 === 4).select("doc_id")
    LakeTable.appendCommit(
      Apply.ChangeSet(dels, docs.filter(lit(false)), dels), dir, nowMs = 2000L)
    val fromSeq = LakeTable.resolve(dir).get._2
    // NOT cached, by measurement (r15 session 3): the maintenance
    // consumers do reference tgt/feed/fin several times, but lease-caching
    // any of the three RAISED isolated min-of-draws user-CPU
    // (q_cdf_maintain_bm25 20.6 -> 26.7 with all three leased, -> 29.6
    // with tgt+feed only) while cutting wall — the columnar text
    // encode/decode costs more CPU than the re-derivations it saves at
    // this corpus size, and at 100 TB these are stored tables whose
    // re-reads are plain scans anyway.
    (tgt, LakeTable.changes(s, dir, fromSeq, keyCol = "doc_id"),
      LakeTable.read(s, dir, keyCol = "doc_id"))
  }

  /** Shared embeddings-lake fixture for the IVF-index maintenance pair
    * (ONE copy — q_cdf_maintain_ivf and q_ivf_maintained_serve must
    * replay the same state): initial = embeddings with the %5==1 band
    * NEGATED (so the upsert genuinely moves those vectors' assignments),
    * commit 1 upserts that band back to the true embeddings, commit 2
    * deletes the %9==4 band. Returns (initial, feed, replayed final). */
  private def ivfLakeFixture(s: SparkSession, d: String)
      : (DataFrame, DataFrame, DataFrame) = {
    val dir = java.nio.file.Files.createTempDirectory("graft_lake_q").toString + "/t"
    val embs = s.read.parquet(s"$d/embeddings.parquet")
      .select("vec_id", "embedding")
    val ini = embs.withColumn("embedding",
      when(col("vec_id") % 5 === 1,
        transform(col("embedding"), x => -x)).otherwise(col("embedding")))
    LakeTable.overwrite(ini, dir)
    val upsert = embs.filter(col("vec_id") % 5 === 1)
    LakeTable.appendCommit(
      Apply.ChangeSet(upsert.select("vec_id"), upsert, upsert.select("vec_id")),
      dir, nowMs = 1000L)
    val dels = embs.filter(col("vec_id") % 9 === 4).select("vec_id")
    LakeTable.appendCommit(
      Apply.ChangeSet(dels, embs.filter(lit(false)), dels), dir, nowMs = 2000L)
    val fromSeq = LakeTable.resolve(dir).get._2
    // not cached — same measurement as [[bm25LakeFixture]]
    (ini, LakeTable.changes(s, dir, fromSeq, keyCol = "vec_id"),
      LakeTable.read(s, dir, keyCol = "vec_id"))
  }

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // S5 — top-N-by-key fetch
    "q_s5_topn" -> ((s, d) =>
      Extract.topNByKey(SyncFixtures.source(s, d), 1000)
        .select("RecId", "SysRowVersion", "l_orderkey", "l_quantity")),

    // S7 — control-data fetch (narrow projection, pruned scan)
    "q_s7_control" -> ((s, d) =>
      Extract.controlFetch(SyncFixtures.source(s, d), 5000)),

    // fixture lockstep proof for the ~1 KB wide payload (the bench scenarios
    // depend on it carrying real bytes; this pins Spark == DuckDB derivation)
    "q_fixture_payload" -> ((s, d) =>
      Extract.topNByKey(SyncFixtures.source(s, d), 2000)
        .select("RecId", "payload")),

    // S8 — timestamp-delta fetch (>= over-fetch semantics)
    "q_s8_delta" -> ((s, d) =>
      Extract.deltaFetch(SyncFixtures.source(s, d), mark(s, d), 0L, 2000000)
        .select("RecId", "SysRowVersion", "RECVERSION")),

    // S9 — legacy modified-date fetch (cutoff computed in-plan, broadcast)
    "q_s9_modified" -> ((s, d) => {
      val cutoff = SyncFixtures.base(s, d)
        .agg((max(col("l_shipdate")) - expr("INTERVAL 90 DAY")).as("cutoff"))
      SyncFixtures.source(s, d)
        .crossJoin(broadcast(cutoff))
        .filter(col("MODIFIEDDATETIME") > col("cutoff"))
        .select("RecId", "MODIFIEDDATETIME")
    }),

    // S6 — custom-SQL strategy: template substitution (*→fields,
    // @recordCount, @sysRowVersionFilter) executed via spark.sql over the
    // registered source view — the lake twin of the JDBC query option
    "q_s6_customsql" -> ((s, d) => {
      val m = mark(s, d)
      SyncFixtures.source(s, d).createOrReplaceTempView("graft_src")
      val sql = Extract.substituteTemplate(
        "SELECT * FROM graft_src WHERE @sysRowVersionFilter ORDER BY RecId DESC LIMIT @recordCount",
        Seq("RecId", "SysRowVersion", "l_quantity"),
        recordCount = 3000,
        versionFilter = Some(s"SysRowVersion >= $m"))
      s.sql(sql)
    }),

    // A-window — running per-supplier quantity in RecId order (window agg
    // surface; deterministic: unique ordering key, integer sums)
    "q_window_running" -> ((s, d) => {
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy("l_suppkey").orderBy("RecId")
        .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding, 0)
      SyncFixtures.base(s, d)
        .select(col("RecId"), col("l_suppkey"),
          sum(col("l_quantity").cast("long")).over(w).as("running_qty"))
    }),

    // J1 — delta-comparison classification (full comparison context)
    "q_j1_classify" -> ((s, d) =>
      Classify.classify(slimT(SyncFixtures.source(s, d)), slimT(SyncFixtures.target(s, d)), fullCtx)
        .select("RecId", Classify.ChangeTypeCol)),

    // J1 fallback — RECVERSION-only context with StoredMaxRecId refinement
    "q_j1_fallback" -> ((s, d) => {
      val ctx = ComparisonContext(hasRecVersion = true, hasCreated = false,
        hasModified = false, storedMaxRecId = Some(mark(s, d) - 1000))
      val src = SyncFixtures.source(s, d).select("RecId", "RECVERSION")
      val tgt = SyncFixtures.target(s, d).select("RecId", "RECVERSION")
      Classify.classify(src, tgt, ctx).select("RecId", Classify.ChangeTypeCol)
    }),

    // A4 — classification counts
    "q_a4_counts" -> ((s, d) =>
      Classify.counts(
        Classify.classify(slimT(SyncFixtures.source(s, d)), slimT(SyncFixtures.target(s, d)), fullCtx))),

    // J2 — missing-keys anti-join
    "q_j2_missing" -> ((s, d) =>
      SyncFixtures.control(SyncFixtures.source(s, d)).select("RecId")
        .join(SyncFixtures.target(s, d).select("RecId"), Seq("RecId"), "left_anti")),

    // J3 — not-in-source anti-join (delete 3 of 3)
    "q_j3_notinsource" -> ((s, d) =>
      SyncFixtures.target(s, d).select("RecId")
        .join(SyncFixtures.control(SyncFixtures.source(s, d)).select("RecId"),
          Seq("RecId"), "left_anti")),

    // J4 — changed-in-source semi-join (delete 1 of 3)
    "q_j4_changed" -> ((s, d) => {
      val m = mark(s, d)
      val changed = SyncFixtures.control(SyncFixtures.source(s, d))
        .filter(col("SysRowVersion") > lit(m)).select("RecId")
      SyncFixtures.target(s, d).select("RecId")
        .join(broadcast(changed), Seq("RecId"), "left_semi")
    }),

    // SO2 — union of delete key sets (changed ∪ locally-mutated ∪ not-in-source)
    "q_so2_delete_keys" -> ((s, d) => {
      val m = mark(s, d)
      val control = SyncFixtures.control(SyncFixtures.source(s, d))
      val tgt = SyncFixtures.target(s, d)
      val changed = tgt.select("RecId")
        .join(control.filter(col("SysRowVersion") > lit(m)).select("RecId"), Seq("RecId"), "left_semi")
      val localMut = tgt.filter(col("SysRowVersion") > lit(m)).select("RecId")
      val notInSource = tgt.select("RecId")
        .join(control.select("RecId"), Seq("RecId"), "left_anti")
      changed.unionByName(localMut).unionByName(notInSource).distinct()
    }),

    // A1/A2/A5/A6 — mark + count aggregates in one row
    "q_a_marks" -> ((s, d) => {
      val src = SyncFixtures.source(s, d)
      val tgt = SyncFixtures.target(s, d)
      src.agg(
        max(col("SysRowVersion")).as("max_src_version"),
        min(col("RecId")).as("min_src_recid"),
        max(col("RecId")).as("max_src_recid"),
        count(lit(1)).as("src_cnt"))
        .crossJoin(tgt.agg(
          max(col("SysRowVersion")).as("max_tgt_version"),
          count(lit(1)).as("tgt_cnt")))
    }),

    // M2 — incremental merge: final target state == source window
    "q_m2_incremental" -> ((s, d) => {
      val m = mark(s, d)
      val src = slim(SyncFixtures.source(s, d))
      Apply.applyIncremental(
        src, SyncFixtures.control(SyncFixtures.source(s, d)),
        slim(SyncFixtures.target(s, d)), m, m)
    }),

    // M1 — standard merge via J1 classification: same final state, different path
    "q_m1_standard" -> ((s, d) => {
      val src = slimT(SyncFixtures.source(s, d))
      val tgt = slimT(SyncFixtures.target(s, d))
      val classified = Classify.classify(src, tgt, fullCtx)
      slim(Apply.applyStandard(classified, tgt))
    }),

    // M1 windowed — DELETE WHERE RecId >= min(window), then insert window
    "q_m1_window" -> ((s, d) => {
      val w = Extract.topNByKey(slim(SyncFixtures.source(s, d)), 2000)
      Apply.applyWindowStandard(w, slim(SyncFixtures.target(s, d)))
    }),

    // M3 — truncate merge (50%-changed source forces overwrite)
    "q_m3_truncate" -> ((s, d) =>
      Apply.applyTruncate(SyncFixtures.source50(s, d), outCols)),

    // M2 through the PRODUCTION write path: base snapshot + one appended
    // delta commit + log replay (LakeTable) must converge to the same state
    // as the in-memory merge — the lake-format round trip, oracle-checked
    "q_lake_replay" -> ((s, d) => {
      val dir = java.nio.file.Files.createTempDirectory("graft_lake_q").toString + "/t"
      val src = slim(SyncFixtures.source(s, d))
      val tgt = slim(SyncFixtures.target(s, d))
      LakeTable.overwrite(tgt, dir)
      val cs = m2ChangeSet(s, d, src, tgt)
      LakeTable.appendCommit(cs, dir)
      LakeTable.read(s, dir)
    }),

    // PARTIAL compaction end-to-end (VERDICT r7 #1): a range-CLUSTERED base
    // snapshot of tgt + one band-localized upsert commit, folded by
    // LakeTable.compact — which must take the partial path (asserted: most
    // base files are carried by manifest reference, zero bytes moved) —
    // then read back through the manifest. Result ≡ tgt outside the band's
    // source keys ∪ the band's source rows; any divergence between the
    // carried files, the rewritten files, or the manifest resolution fails
    // the hash.
    "q_lake_compact_partial" -> ((s, d) => {
      val dir = java.nio.file.Files.createTempDirectory("graft_lake_q").toString + "/t"
      val src = slim(SyncFixtures.source(s, d))
      val tgt = slim(SyncFixtures.target(s, d))
      LakeTable.overwriteClustered(tgt, dir, nFiles = 8)
      val band = src
        .filter(col("RecId").between(SyncFixtures.SkipLo, SyncFixtures.SkipHi))
      LakeTable.appendCommit(
        Apply.ChangeSet(band.select("RecId"), band, band.select("RecId")), dir)
      val r = LakeTable.compact(s, dir)
      require(r.mode == "partial" && r.carriedFiles > 0,
        s"band-localized commit over a clustered base must compact partially: $r")
      LakeTable.read(s, dir)
    }),

    // timestamp time travel: base (state time 500) + the incremental commit
    // stamped 1000 + a LATER band-delete commit stamped 2000; reading as-of
    // 1500 must resolve exactly the commit-1 state (== src, the replay
    // oracle) — a cut that wrongly includes the later tombstones loses the
    // band and fails the hash
    "q_lake_asof_ts" -> ((s, d) => {
      val dir = java.nio.file.Files.createTempDirectory("graft_lake_q").toString + "/t"
      val src = slim(SyncFixtures.source(s, d))
      val tgt = slim(SyncFixtures.target(s, d))
      LakeTable.overwrite(tgt, dir, stateTimeMs = 500L)
      val cs = m2ChangeSet(s, d, src, tgt)
      LakeTable.appendCommit(cs, dir, nowMs = 1000L)
      val delBand = src
        .filter(col("RecId").between(SyncFixtures.SkipLo, SyncFixtures.SkipHi))
        .select("RecId")
      LakeTable.appendCommit(
        Apply.ChangeSet(delBand, src.filter(lit(false)), delBand), dir, nowMs = 2000L)
      LakeTable.readAtTimestamp(s, dir, asOfMs = 1500L)
    }),

    // change-data feed: the commit log AS a queryable event stream — an
    // upsert commit (changed band deleted+re-inserted) then a band-delete
    // commit; the feed is exactly those events tagged (_op, _seq), the
    // O(changes) path a downstream consumer tails instead of re-scanning
    "q_lake_cdf" -> ((s, d) => {
      val dir = java.nio.file.Files.createTempDirectory("graft_lake_q").toString + "/t"
      val src = slim(SyncFixtures.source(s, d))
      val tgt = slim(SyncFixtures.target(s, d))
      LakeTable.overwrite(tgt, dir)
      val changed = src.filter(col("RecId") % 20 === 3)
      LakeTable.appendCommit(
        Apply.ChangeSet(changed.select("RecId"), changed, changed.select("RecId")),
        dir, nowMs = 1000L)
      val delBand = src
        .filter(col("RecId").between(SyncFixtures.SkipLo, SyncFixtures.SkipHi))
        .select("RecId")
      LakeTable.appendCommit(
        Apply.ChangeSet(delBand, src.filter(lit(false)), delBand), dir, nowMs = 2000L)
      val fromSeq = LakeTable.resolve(dir).get._2
      LakeTable.changes(s, dir, fromSeq)
        .withColumn("_seq", col("_seq") - lit(fromSeq)) // pointer-relative
    }),

    // NET snapshot diff from the commit log (O(changes), never a full-
    // table outer join): upsert commit + band delete + identical re-insert
    // — the re-inserted rows are NET no-ops and must vanish, including
    // band rows deleted at p+1 and restored verbatim at p+2
    "q_lake_diff" -> ((s, d) => {
      val dir = java.nio.file.Files.createTempDirectory("graft_lake_q").toString + "/t"
      val src = slim(SyncFixtures.source(s, d))
      val tgt = slim(SyncFixtures.target(s, d))
      LakeTable.overwrite(tgt, dir)
      val p = LakeTable.resolve(dir).get._2
      val changed = src.filter(col("RecId") % 20 === 3)
      LakeTable.appendCommit(
        Apply.ChangeSet(changed.select("RecId"), changed, changed.select("RecId")),
        dir, nowMs = 1000L)
      val delBand = src
        .filter(col("RecId").between(SyncFixtures.SkipLo, SyncFixtures.SkipHi))
        .select("RecId")
      LakeTable.appendCommit(
        Apply.ChangeSet(delBand, src.filter(lit(false)), delBand), dir, nowMs = 2000L)
      val reins = tgt.filter(col("RecId") % 23 === 7)
      LakeTable.appendCommit(
        Apply.ChangeSet(reins.select("RecId"), reins, reins.select("RecId")),
        dir, nowMs = 3000L)
      LakeTable.snapshotDiff(s, dir, fromSeq = p - 1, toSeq = p + 2)
    }),

    // incremental view maintenance over the change feed: the base's
    // per-group counts advanced by the two commits' events (tombstone
    // pre-images resolved from the window-local timeline) must equal a
    // direct aggregate of the final replayed state — the O(changes) path
    // a 100 TB derived table maintains instead of re-scanning
    "q_cdf_maintain" -> ((s, d) => {
      val dir = java.nio.file.Files.createTempDirectory("graft_lake_q").toString + "/t"
      val src = slim(SyncFixtures.source(s, d))
      val tgt = slim(SyncFixtures.target(s, d))
      LakeTable.overwrite(tgt, dir)
      val changed = src.filter(col("RecId") % 20 === 3)
      LakeTable.appendCommit(
        Apply.ChangeSet(changed.select("RecId"), changed, changed.select("RecId")),
        dir, nowMs = 1000L)
      val delBand = src
        .filter(col("RecId").between(SyncFixtures.SkipLo, SyncFixtures.SkipHi))
        .select("RecId")
      LakeTable.appendCommit(
        Apply.ChangeSet(delBand, src.filter(lit(false)), delBand), dir, nowMs = 2000L)
      val fromSeq = LakeTable.resolve(dir).get._2
      Maintain.counts(tgt, LakeTable.changes(s, dir, fromSeq),
        "RecId", "l_returnflag")
    }),

    // sum-maintenance twin: the pre-image machinery also carries the
    // deleted rows' VALUES, so per-group sums decrement exactly (RECVERSION
    // flips 1→2 on the upserted band, so init ≠ final on both n and total)
    "q_cdf_maintain_sum" -> ((s, d) => {
      val dir = java.nio.file.Files.createTempDirectory("graft_lake_q").toString + "/t"
      val src = slim(SyncFixtures.source(s, d))
      val tgt = slim(SyncFixtures.target(s, d))
      LakeTable.overwrite(tgt, dir)
      val changed = src.filter(col("RecId") % 20 === 3)
      LakeTable.appendCommit(
        Apply.ChangeSet(changed.select("RecId"), changed, changed.select("RecId")),
        dir, nowMs = 1000L)
      val delBand = src
        .filter(col("RecId").between(SyncFixtures.SkipLo, SyncFixtures.SkipHi))
        .select("RecId")
      LakeTable.appendCommit(
        Apply.ChangeSet(delBand, src.filter(lit(false)), delBand), dir, nowMs = 2000L)
      val fromSeq = LakeTable.resolve(dir).get._2
      Maintain.sums(tgt, LakeTable.changes(s, dir, fromSeq),
        "RecId", "l_returnflag", "RECVERSION")
    }),

    // max-maintenance (the NON-invertible aggregate): inserts raise the
    // candidate in O(changes); groups whose deleted pre-image HELD the
    // candidate max recompute from the final state pruned to those groups
    "q_cdf_maintain_max" -> ((s, d) => {
      val dir = java.nio.file.Files.createTempDirectory("graft_lake_q").toString + "/t"
      val src = slim(SyncFixtures.source(s, d))
      val tgt = slim(SyncFixtures.target(s, d))
      LakeTable.overwrite(tgt, dir)
      val changed = src.filter(col("RecId") % 20 === 3)
      LakeTable.appendCommit(
        Apply.ChangeSet(changed.select("RecId"), changed, changed.select("RecId")),
        dir, nowMs = 1000L)
      val delBand = src
        .filter(col("RecId").between(SyncFixtures.SkipLo, SyncFixtures.SkipHi))
        .select("RecId")
      LakeTable.appendCommit(
        Apply.ChangeSet(delBand, src.filter(lit(false)), delBand), dir, nowMs = 2000L)
      val fromSeq = LakeTable.resolve(dir).get._2
      Maintain.maxes(tgt, LakeTable.changes(s, dir, fromSeq),
        LakeTable.read(s, dir), "RecId", "l_returnflag", "SysRowVersion")
    }),

    // min-maintenance twin (the reference's A1 min(RecId) analog over the
    // change feed): inserts lower the candidate in O(changes); groups whose
    // deleted pre-image HELD the candidate min recompute from the pruned
    // final state
    "q_cdf_maintain_min" -> ((s, d) => {
      val dir = java.nio.file.Files.createTempDirectory("graft_lake_q").toString + "/t"
      val src = slim(SyncFixtures.source(s, d))
      val tgt = slim(SyncFixtures.target(s, d))
      LakeTable.overwrite(tgt, dir)
      val changed = src.filter(col("RecId") % 20 === 3)
      LakeTable.appendCommit(
        Apply.ChangeSet(changed.select("RecId"), changed, changed.select("RecId")),
        dir, nowMs = 1000L)
      val delBand = src
        .filter(col("RecId").between(SyncFixtures.SkipLo, SyncFixtures.SkipHi))
        .select("RecId")
      LakeTable.appendCommit(
        Apply.ChangeSet(delBand, src.filter(lit(false)), delBand), dir, nowMs = 2000L)
      val fromSeq = LakeTable.resolve(dir).get._2
      Maintain.mins(tgt, LakeTable.changes(s, dir, fromSeq),
        LakeTable.read(s, dir), "RecId", "l_returnflag", "SysRowVersion")
    }),

    // maintained QUANTILE sketch over the same feed shape: inserts merge
    // in O(changes); groups whose deleted pair reaches the sketch's
    // truncation horizon recompute from the pruned final state — result
    // ≡ the direct sketch over the final state (the oracle replays it)
    "q_cdf_maintain_quantile" -> ((s, d) => {
      val dir = java.nio.file.Files.createTempDirectory("graft_lake_q").toString + "/t"
      val src = slim(SyncFixtures.source(s, d))
      val tgt = slim(SyncFixtures.target(s, d))
      LakeTable.overwrite(tgt, dir)
      val changed = src.filter(col("RecId") % 20 === 3)
      LakeTable.appendCommit(
        Apply.ChangeSet(changed.select("RecId"), changed, changed.select("RecId")),
        dir, nowMs = 1000L)
      val delBand = src
        .filter(col("RecId").between(SyncFixtures.SkipLo, SyncFixtures.SkipHi))
        .select("RecId")
      LakeTable.appendCommit(
        Apply.ChangeSet(delBand, src.filter(lit(false)), delBand), dir, nowMs = 2000L)
      val fromSeq = LakeTable.resolve(dir).get._2
      Maintain.quantileSketches(tgt, LakeTable.changes(s, dir, fromSeq),
        LakeTable.read(s, dir), "RecId", "l_returnflag", "RECVERSION")
    }),

    // per-column drift report: WHICH columns drive the changes across the
    // matched keys — one join, one combined aggregate, constant-size stack
    "q_column_drift" -> ((s, d) =>
      Classify.columnDrift(
        slim(SyncFixtures.source(s, d)), slim(SyncFixtures.target(s, d)),
        "RecId",
        Seq("SysRowVersion", "RECVERSION", "l_quantity",
          "l_extendedprice", "l_returnflag"))),

    // maintained distinct-count SKETCH: per-group HLL registers advanced by
    // the feed — insert-only groups merge registers without touching the
    // table; delete-dirty groups recompute pruned; either way registers ==
    // a direct build over the final state (merge IS per-bucket max)
    "q_cdf_maintain_distinct" -> ((s, d) => {
      val dir = java.nio.file.Files.createTempDirectory("graft_lake_q").toString + "/t"
      val src = slim(SyncFixtures.source(s, d))
      val tgt = slim(SyncFixtures.target(s, d))
      LakeTable.overwrite(tgt, dir)
      val changed = src.filter(col("RecId") % 20 === 3)
      LakeTable.appendCommit(
        Apply.ChangeSet(changed.select("RecId"), changed, changed.select("RecId")),
        dir, nowMs = 1000L)
      val delBand = src
        .filter(col("RecId").between(SyncFixtures.SkipLo, SyncFixtures.SkipHi))
        .select("RecId")
      LakeTable.appendCommit(
        Apply.ChangeSet(delBand, src.filter(lit(false)), delBand), dir, nowMs = 2000L)
      val fromSeq = LakeTable.resolve(dir).get._2
      Maintain.distincts(tgt, LakeTable.changes(s, dir, fromSeq),
        LakeTable.read(s, dir), "RecId", "l_returnflag", "SysRowVersion")
    }),

    // BM25/TF-IDF retrieval-index stats maintained O(changes) from the
    // change feed (VERDICT r10 #3): df by exact pre-image increments,
    // max_tf by the maxes dirty/clean discipline, corpus stats by pure
    // increments — ≡ a direct rebuild over the replayed final state. The
    // seam that keeps bm25TopDocs' broadcast side current per ingest
    // batch instead of re-deriving it from a 100 TB corpus scan.
    "q_cdf_maintain_bm25" -> ((s, d) => {
      val (tgt, feed, fin) = bm25LakeFixture(s, d)
      Maintain.bm25Stats(tgt, feed, fin, "doc_id", "text")
        .crossJoin(broadcast(
          Maintain.bm25CorpusStats(tgt, feed, "doc_id", "text")))
        .select("term", "df", "max_tf", "n_docs", "tot_len")
    }),

    // the COMPOSITION the maintenance exists for: BM25 retrieval SERVED
    // from the maintained statistics (df + corpus stats arrive as inputs,
    // no corpus-wide re-aggregation per query) over the replayed final
    // state — result ≡ a from-scratch BM25 over that state, which is what
    // the oracle computes directly
    "q_bm25_maintained_serve" -> ((s, d) => {
      val (tgt, feed, fin) = bm25LakeFixture(s, d)
      graft.ext.CorpusAnalysis.bm25TopDocsFromStats(fin,
        Maintain.bm25Stats(tgt, feed, fin, "doc_id", "text"),
        Maintain.bm25CorpusStats(tgt, feed, "doc_id", "text"),
        "doc_id", "text", Seq("customer", "window", "stream"), topN = 10)
    }),

    // per-doc FEATURE TABLE (quality / language / token count) maintained
    // O(changes) from the change feed — the curation-metadata store a
    // training pipeline filters and mixes on, advanced per ingest batch
    // instead of re-scoring the corpus; ≡ from-scratch features over the
    // replayed final state (derivedRows: pure map-side column derivation)
    "q_cdf_maintain_docfeatures" -> ((s, d) => {
      val (tgt, feed, _) = bm25LakeFixture(s, d)
      def features(df: DataFrame) = df.select(col("doc_id"),
        graft.ext.TextAnalysis.qualityScore(col("text")).as("quality"),
        graft.ext.TextAnalysis.langId(col("text")).as("lang_pred"),
        graft.ext.TextAnalysis.tokenCount(col("text")).cast("long").as("n_tokens"))
      Maintain.derivedRows(features(tgt), feed, "doc_id", Seq("text"))(features)
    }),

    // the curation gate SERVED from the maintained feature table: the
    // maintained metadata decides (quality + language thresholds — the
    // q_corpus_shards gate), the corpus supplies text for SURVIVORS only
    // — ≡ a from-scratch feature filter over the replayed final state
    "q_docfeatures_maintained_serve" -> ((s, d) => {
      val (tgt, feed, fin) = bm25LakeFixture(s, d)
      def features(df: DataFrame) = df.select(col("doc_id"),
        graft.ext.TextAnalysis.qualityScore(col("text")).as("quality"),
        graft.ext.TextAnalysis.langId(col("text")).as("lang_pred"),
        graft.ext.TextAnalysis.tokenCount(col("text")).cast("long").as("n_tokens"))
      val feats = Maintain.derivedRows(features(tgt), feed, "doc_id", Seq("text"))(features)
      fin.join(
          feats.filter(col("quality") >= 0.55 && col("lang_pred") === "en")
            .select("doc_id", "quality", "n_tokens"),
          Seq("doc_id"))
        .select(col("doc_id"), col("quality"), col("n_tokens"),
          length(col("text")).cast("long").as("n_chars"))
    }),

    // token-BUDGET curation SERVED from the maintained feature table
    // (VERDICT r12 #6 — the cheapest consumer of derivedRows' generality
    // claim): the pretraining-mix allocation rule — best-quality docs
    // first until the token budget is spent — decided ENTIRELY from
    // maintained metadata (quality ordering + n_tokens running sum over
    // the feature table); the corpus supplies text for SURVIVORS only.
    // ≡ the same selection computed from scratch over the replayed final
    // state, which is what the oracle does directly.
    "q_token_budget_maintained_serve" -> ((s, d) => {
      val (tgt, feed, fin) = bm25LakeFixture(s, d)
      def features(df: DataFrame) = df.select(col("doc_id"),
        graft.ext.TextAnalysis.qualityScore(col("text")).as("quality"),
        graft.ext.TextAnalysis.langId(col("text")).as("lang_pred"),
        graft.ext.TextAnalysis.tokenCount(col("text")).cast("long").as("n_tokens"))
      val feats = Maintain.derivedRows(features(tgt), feed, "doc_id", Seq("text"))(features)
      val sel = graft.ext.Sampling.tokenBudgetPerGroup(feats, lit(1),
        Seq(col("quality").desc, col("doc_id").asc), col("n_tokens"),
        budget = 5000L)
      fin.join(sel.select("doc_id", "n_tokens"), Seq("doc_id"))
        .select(col("doc_id"), col("n_tokens"),
          length(col("text")).cast("long").as("n_chars"))
    }),

    // MinHash LSH band index maintained O(changes) from the change feed —
    // the near-dup twin completing the maintained-index trio (BM25
    // lexical / IVF dense / MinHash near-dup): only the changed documents
    // re-shingle and re-hash; ≡ a from-scratch band derivation over the
    // replayed final state, which the oracle re-derives from the shared
    // minhash constants
    "q_cdf_maintain_minhash" -> ((s, d) => {
      val (tgt, feed, _) = bm25LakeFixture(s, d)
      Maintain.minhashBandIndex(
        graft.ext.Dedup.minhashBandRowsPerDoc(tgt, "doc_id", "text"),
        feed, "doc_id", "text")
    }),

    // near-dup pairs SERVED from the maintained band index: candidates
    // come from the index's band-bucket self-join (the only corpus-sized
    // candidate input — incrementally maintained, never recomputed),
    // verification reads candidate docs' text only — ≡ from-scratch
    // minhash LSH pairs over the replayed final state
    "q_minhash_maintained_serve" -> ((s, d) => {
      val (tgt, feed, fin) = bm25LakeFixture(s, d)
      val idx = Maintain.minhashBandIndex(
        graft.ext.Dedup.minhashBandRowsPerDoc(tgt, "doc_id", "text"),
        feed, "doc_id", "text")
      graft.ext.Dedup.minhashLshPairsFromIndex(idx, fin, "doc_id", "text")
    }),

    // IVF coarse-quantizer postings maintained O(changes) from the change
    // feed — the ANN-index twin of q_cdf_maintain_bm25: only the changed
    // vectors rescore against the broadcast codebook (trained ONCE on the
    // initial state, the offline-retrain discipline); untouched keys pass
    // through verbatim. ≡ a from-scratch assignment of the replayed final
    // state under the same centroids, which the oracle re-derives
    "q_cdf_maintain_ivf" -> ((s, d) => {
      val (ini, feed, _) = ivfLakeFixture(s, d)
      val prepIni = graft.ext.Similarity.prepare(ini, "vec_id", "embedding")
      val centroids = graft.ext.KMeans.lloyd(prepIni, k = 8, iters = 3)
      Maintain.ivfPostings(
        graft.ext.KMeans.assignUnder(prepIni, centroids), feed,
        centroids, "vec_id", "embedding")
    }),

    // the COMPOSITION the postings maintenance exists for: IVF top-k
    // SERVED from the maintained index (vectors in the lake, postings a
    // separate incrementally-maintained table, joined at serve time) —
    // ≡ ivf top-k over a rebuilt assignment of the replayed final state
    "q_ivf_maintained_serve" -> ((s, d) => {
      val (ini, feed, fin) = ivfLakeFixture(s, d)
      val prepIni = graft.ext.Similarity.prepare(ini, "vec_id", "embedding")
      val centroids = graft.ext.KMeans.lloyd(prepIni, k = 8, iters = 3)
      val posts = Maintain.ivfPostings(
        graft.ext.KMeans.assignUnder(prepIni, centroids), feed,
        centroids, "vec_id", "embedding")
      graft.ext.Similarity.ivfTopKFromPostings(
        graft.ext.Similarity.prepare(
          fin.select("vec_id", "embedding"), "vec_id", "embedding"),
        posts, k = 3)
    }),

    // SCD-2 history build over the change feed: every version of every key
    // with its validity interval in commit-seq space — the dimension-
    // history view the current-row sync cannot answer (who held what when)
    "q_scd2_history" -> ((s, d) => {
      val dir = java.nio.file.Files.createTempDirectory("graft_lake_q").toString + "/t"
      val src = slim(SyncFixtures.source(s, d))
      val tgt = slim(SyncFixtures.target(s, d))
      LakeTable.overwrite(tgt, dir)
      val changed = src.filter(col("RecId") % 20 === 3)
      LakeTable.appendCommit(
        Apply.ChangeSet(changed.select("RecId"), changed, changed.select("RecId")),
        dir, nowMs = 1000L)
      val delBand = src
        .filter(col("RecId").between(SyncFixtures.SkipLo, SyncFixtures.SkipHi))
        .select("RecId")
      LakeTable.appendCommit(
        Apply.ChangeSet(delBand, src.filter(lit(false)), delBand), dir, nowMs = 2000L)
      val fromSeq = LakeTable.resolve(dir).get._2
      val feed = LakeTable.changes(s, dir, fromSeq)
        .withColumn("_seq", col("_seq") - lit(fromSeq)) // pointer-relative
      Maintain.history(tgt, feed, "RecId", Seq("RECVERSION"))
    }),

    // SCD-2 point-in-time join (the train-serving-skew guard): facts carry
    // an as-of seq, the dimension is the SCD-2 history, and the lookup is
    // the binned point-in-interval join — each fact sees EXACTLY the
    // version valid at its own time, never today's. Open validity bounds
    // clamp to sentinels outside the probed range.
    "q_scd2_pit" -> ((s, d) => {
      val dir = java.nio.file.Files.createTempDirectory("graft_lake_q").toString + "/t"
      val src = slim(SyncFixtures.source(s, d))
      val tgt = slim(SyncFixtures.target(s, d))
      LakeTable.overwrite(tgt, dir)
      val changed = src.filter(col("RecId") % 20 === 3)
      LakeTable.appendCommit(
        Apply.ChangeSet(changed.select("RecId"), changed, changed.select("RecId")),
        dir, nowMs = 1000L)
      val delBand = src
        .filter(col("RecId").between(SyncFixtures.SkipLo, SyncFixtures.SkipHi))
        .select("RecId")
      LakeTable.appendCommit(
        Apply.ChangeSet(delBand, src.filter(lit(false)), delBand), dir, nowMs = 2000L)
      val fromSeq = LakeTable.resolve(dir).get._2
      val feed = LakeTable.changes(s, dir, fromSeq)
        .withColumn("_seq", col("_seq") - lit(fromSeq))
      val iv = Maintain.history(tgt, feed, "RecId", Seq("RECVERSION"))
        .select(col("RecId"), col("RECVERSION"),
          coalesce(col("valid_from_seq"), lit(-1L)).as("vf"),
          coalesce(col("valid_to_seq"), lit(2L)).as("vt"))
      val probe = tgt.select(col("RecId"), (col("RecId") % 2).as("as_of"))
      graft.ext.RangeJoin.pointInInterval(probe, iv, "as_of", "vf", "vt",
        binWidth = 4, keyCols = Seq("RecId"), valueCols = Seq("RECVERSION"))
    }),

    // streaming incremental sync run END TO END: two AvailableNow runs over
    // a file source (bootstrap = the stale target, then the changed band as
    // a second file = one micro-batch delta commit through the SAME
    // LakeTable protocol as the batch runner), final table hash-compared
    // against the batch twin — closes the one spec-only component family
    // (VERDICT r5 #4)
    "q_stream_sync" -> ((s, d) => {
      val dir = java.nio.file.Files.createTempDirectory("graft_stream_q").toString
      val (inDir, tgtDir, ckpt) = (s"$dir/in", s"$dir/tgt", s"$dir/ckpt")
      val tgt = slim(SyncFixtures.target(s, d))
      val changed = slim(SyncFixtures.source(s, d)).filter(col("RecId") % 20 === 3)
      tgt.write.parquet(inDir) // run 1: bootstrap snapshot
      graft.streaming.StreamingSync.incrementalSyncStream(
        s, inDir, tgtDir, ckpt, tgt.schema).awaitTermination(300000) match {
        case true => ()
        case false => sys.error("streaming sync run did not finish in 300 s")
      }
      changed.write.mode("append").parquet(inDir) // run 2: the delta batch
      graft.streaming.StreamingSync.incrementalSyncStream(
        s, inDir, tgtDir, ckpt, tgt.schema).awaitTermination(300000) match {
        case true => ()
        case false => sys.error("streaming sync run did not finish in 300 s")
      }
      LakeTable.read(s, tgtDir).select(outCols.map(col): _*)
    }),

    // commit-level data skipping: a key-range read of the logged table —
    // disjoint commits never enter the plan, the range predicate reaches
    // every surviving parquet scan, and the result is provably the plain
    // replay filtered (which is exactly what the oracle states)
    "q_lake_skip" -> ((s, d) => {
      val dir = java.nio.file.Files.createTempDirectory("graft_lake_q").toString + "/t"
      val src = slim(SyncFixtures.source(s, d))
      val tgt = slim(SyncFixtures.target(s, d))
      LakeTable.overwrite(tgt, dir)
      val cs = m2ChangeSet(s, d, src, tgt)
      LakeTable.appendCommit(cs, dir)
      LakeTable.readKeyRange(s, dir, SyncFixtures.SkipLo, SyncFixtures.SkipHi)
    }),

    // version-band commit skipping (VERDICT r10 #4): the S8 delta-fetch
    // shape served FROM a lake table — _stats carries each commit's
    // insert-version band, so a version-threshold read plans tombstones-
    // only for below-band commits and pushes the threshold into the
    // surviving scans; result ≡ plain replay filtered, which is exactly
    // what the oracle states
    "q_lake_skip_version" -> ((s, d) => {
      val dir = java.nio.file.Files.createTempDirectory("graft_lake_q").toString + "/t"
      val src = slim(SyncFixtures.source(s, d))
      val tgt = slim(SyncFixtures.target(s, d))
      LakeTable.overwrite(tgt, dir)
      // below-band commit: re-upsert of unmodified low-version rows (the
      // %131 exclusion keeps every fixture version non-decreasing per key
      // — the readVersionFrom contract)
      val low = tgt.filter(col("RecId") % 23 === 7 && col("RecId") % 131 =!= 5)
      LakeTable.appendCommit(
        Apply.ChangeSet(low.select("RecId"), low, low.select("RecId")),
        dir, nowMs = 1000L)
      // above-band commit: the changed band, versions lifted by +1e16
      val hi = src.filter(col("RecId") % 20 === 3 && col("RecId") % 131 =!= 5)
      LakeTable.appendCommit(
        Apply.ChangeSet(hi.select("RecId"), hi, hi.select("RecId")),
        dir, nowMs = 2000L)
      LakeTable.readVersionFrom(s, dir, 10000000000000000L)
    }),

    // custom-band twin (v4): the SAME delta-fetch shape thresholded on the
    // reference's RECVERSION-style counter instead of SysRowVersion — the
    // table opts the column in (setStatsColumns declares its monotone
    // contract: 1 -> 2 on update, never back), each commit records a
    // vc:recversion band, and the below-band re-upsert's insert scan drops
    // from the plan while results stay ≡ replay().filter(RECVERSION >= 2)
    "q_lake_skip_version_custom" -> ((s, d) => {
      val dir = java.nio.file.Files.createTempDirectory("graft_lake_q").toString + "/t"
      val src = slim(SyncFixtures.source(s, d))
      val tgt = slim(SyncFixtures.target(s, d))
      LakeTable.overwrite(tgt, dir)
      LakeTable.setStatsColumns(dir, Seq("RECVERSION"))
      // below-band commit: unmodified rows, RECVERSION stays 1
      val low = tgt.filter(col("RecId") % 23 === 7 && col("RecId") % 131 =!= 5)
      LakeTable.appendCommit(
        Apply.ChangeSet(low.select("RecId"), low, low.select("RecId")),
        dir, nowMs = 1000L)
      // above-band commit: the changed band, RECVERSION = 2
      val hi = src.filter(col("RecId") % 20 === 3 && col("RecId") % 131 =!= 5)
      LakeTable.appendCommit(
        Apply.ChangeSet(hi.select("RecId"), hi, hi.select("RecId")),
        dir, nowMs = 2000L)
      LakeTable.readVersionFrom(s, dir, 2L, versionCol = "RECVERSION")
    }),

    // composed range+version pruning: the per-shard "changes since V"
    // probe — one plan carrying both the commit-level key skip and the
    // version-band insert skip; ≡ plain replay doubly filtered
    "q_lake_skip_rangeversion" -> ((s, d) => {
      val dir = java.nio.file.Files.createTempDirectory("graft_lake_q").toString + "/t"
      val src = slim(SyncFixtures.source(s, d))
      val tgt = slim(SyncFixtures.target(s, d))
      LakeTable.overwrite(tgt, dir)
      val low = tgt.filter(col("RecId") % 23 === 7 && col("RecId") % 131 =!= 5)
      LakeTable.appendCommit(
        Apply.ChangeSet(low.select("RecId"), low, low.select("RecId")),
        dir, nowMs = 1000L)
      val hi = src.filter(col("RecId") % 20 === 3 && col("RecId") % 131 =!= 5)
      LakeTable.appendCommit(
        Apply.ChangeSet(hi.select("RecId"), hi, hi.select("RecId")),
        dir, nowMs = 2000L)
      LakeTable.readKeyRangeVersionFrom(s, dir,
        SyncFixtures.SkipLo, SyncFixtures.SkipHi, 10000000000000000L)
    }),

    // O4/O5/O6 — planner cost model as one distributed row
    "q_planner_decide" -> ((s, d) =>
      Planner.decideAsQuery(
        SyncFixtures.control(SyncFixtures.source(s, d)),
        SyncFixtures.target(s, d).select("RecId", "SysRowVersion"),
        SyncFixtures.storedMark(s, d))),

    // O5 — perfect-sync short-circuit: NOOP decision
    "q_planner_noop" -> ((s, d) =>
      Planner.decideAsQuery(
        SyncFixtures.control(SyncFixtures.perfect(s, d)),
        SyncFixtures.perfect(s, d).select("RecId", "SysRowVersion"),
        SyncFixtures.storedMark(s, d))),

    // O6 — ≥40% changes → TRUNCATE decision
    "q_planner_truncate" -> ((s, d) =>
      Planner.decideAsQuery(
        SyncFixtures.control(SyncFixtures.source50(s, d)),
        SyncFixtures.target(s, d).select("RecId", "SysRowVersion"),
        SyncFixtures.storedMark(s, d))),

    // S1/A7 — discovery scan analog over the lake: per-table row counts.
    // One plan, one action: union the 1-column scans with a table tag and
    // aggregate once (10 sequential read.agg jobs would pay per-job
    // overhead 10×).
    "q_discovery" -> ((s, d) => {
      val names = Seq("region", "nation", "customer", "supplier", "part",
        "orders", "lineitem", "events", "documents", "embeddings")
      names.map { n =>
        s.read.parquet(s"$d/$n.parquet")
          .select(lit(n).as("table_name"))
      }.reduce(_.unionByName(_))
        .groupBy("table_name").agg(count(lit(1)).as("row_count"))
        .filter(col("row_count") > 0)
    }),

    // S10 source formats — CSV landing zone: export supplier to an
    // RFC-4180-quoted CSV, read it back through CsvSource with the
    // original schema, and aggregate EVERY column (counts, exact cents,
    // per-string hash sums). The oracle runs on the PARQUET table, so a
    // hash match proves the text round-trip is lossless — any mangled
    // char, dropped row or drifted double changes a checksum.
    "q_src_csv" -> ((s, d) => {
      val sup = s.read.parquet(s"$d/supplier.parquet")
      val out = s"${sys.props("java.io.tmpdir")}/graft_srcfmt_" +
        s"${new java.io.File(d).getName}/supplier_csv"
      sup.write.mode("overwrite").options(graft.run.CsvSource.RoundTripOptions).csv(out)
      graft.run.CsvSource(out, sup.schema).load(s)
        .groupBy("s_nationkey").agg(
          count(lit(1)).as("n"),
          sum(col("s_suppkey")).as("key_sum"),
          sum(floor(col("s_acctbal") * 100 + 0.5).cast("long")).as("acctbal_cents"),
          sum(graft.ext.Dedup.h32(col("s_name"))).as("name_check"))
    }),

    // S10 source formats — ORC landing zone over part: binary+typed, so
    // the round trip is exact by construction; the aggregate still proves
    // it over every column type (int32, int64, double, strings)
    "q_src_orc" -> ((s, d) => {
      val p = s.read.parquet(s"$d/part.parquet")
      val out = s"${sys.props("java.io.tmpdir")}/graft_srcfmt_" +
        s"${new java.io.File(d).getName}/part_orc"
      p.write.mode("overwrite").orc(out)
      graft.run.OrcSource(out, p.schema).load(s)
        .groupBy("p_brand").agg(
          count(lit(1)).as("n"),
          sum(col("p_partkey")).as("key_sum"),
          sum(col("p_size").cast("long")).as("size_sum"),
          sum(floor(col("p_retailprice") * 100 + 0.5).cast("long")).as("price_cents"),
          sum(graft.ext.Dedup.h32(col("p_name"))).as("name_check"),
          sum(graft.ext.Dedup.h32(col("p_type"))).as("type_check"))
    }),

    // S10 source formats — JSON-lines landing zone, same round-trip proof
    // over orders (adds a TIMESTAMP column to the fidelity check)
    "q_src_json" -> ((s, d) => {
      val ord = s.read.parquet(s"$d/orders.parquet")
      val out = s"${sys.props("java.io.tmpdir")}/graft_srcfmt_" +
        s"${new java.io.File(d).getName}/orders_json"
      ord.write.mode("overwrite").json(out)
      graft.run.JsonSource(out, ord.schema).load(s)
        .groupBy(col("o_orderstatus"), year(col("o_orderdate")).as("o_year")).agg(
          count(lit(1)).as("n"),
          sum(col("o_orderkey")).as("key_sum"),
          sum(floor(col("o_totalprice") * 100 + 0.5).cast("long")).as("price_cents"),
          max(col("o_orderdate")).as("max_ts"),
          sum(graft.ext.Dedup.h32(col("o_orderpriority"))).as("prio_check"))
    })
  )
}
