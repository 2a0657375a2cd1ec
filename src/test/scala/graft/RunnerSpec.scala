package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.model.{FetchStrategy, SyncMode}
import graft.run.{PostActions, SyncRunner}
import graft.state.SyncStateStore
import graft.sync.{LakeTable, SyncFixtures}

/** End-to-end multi-table sync lifecycle over lake dirs — the golden-state
  * scenario matrix (DBSyncTool_Optimization_Spec.md:1595-1620). */
class RunnerSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  import spark.implicits._

  private def newEnv(): (String, SyncStateStore, SyncRunner) = {
    val dir = java.nio.file.Files.createTempDirectory("graft_run").toString
    val store = new SyncStateStore(s"$dir/state.json")
    val runner = new SyncRunner(spark, store, parallelWorkers = 2)
    (dir, store, runner)
  }

  // small deterministic table: RecId, SysRowVersion, payload
  private def mkSource(dir: String, name: String, version: Long => Long,
      keep: Long => Boolean = _ => true): String = {
    val path = s"$dir/src_$name"
    (1L to 500L).filter(keep).map(i => (i, version(i), s"row$i"))
      .toDF("RecId", "SysRowVersion", "payload")
      .write.mode("overwrite").parquet(path)
    path
  }

  test("first sync (standard) → perfect re-sync (NOOP) → 5% update (INCREMENTAL) → 60% update (TRUNCATE)") {
    val (dir, store, runner) = newEnv()
    val src = mkSource(dir, "t1", identity)
    def plan = runner.TablePlan("T1", src, s"$dir/tgt_t1")

    val r1 = runner.runAll(Seq(plan))
    assert(r1.head.ok && r1.head.mode == SyncMode.Standard)
    assert(LakeTable.read(spark, s"$dir/tgt_t1").count() == 500)
    assert(store.get("T1").flatMap(_.sourceVersion).contains(500L))

    // unchanged source ⇒ NOOP: no data moved AND nothing written — the
    // target dir must be byte-identical (the O5 zero-write invariant)
    def targetListing() = {
      def walk(f: java.io.File): Seq[String] =
        if (f.isDirectory) Option(f.listFiles).getOrElse(Array.empty).toSeq.flatMap(walk)
        else Seq(s"${f.getPath}:${f.length}:${f.lastModified}")
      walk(new java.io.File(s"$dir/tgt_t1")).sorted
    }
    val before = targetListing()
    val r2 = runner.runAll(Seq(plan))
    assert(r2.head.ok && r2.head.mode == SyncMode.Noop)
    assert(targetListing() == before, "NOOP must not touch the target")

    // 5% updated (every 20th row bumps version) ⇒ INCREMENTAL, and the
    // write is a DELTA COMMIT: only tombstones + changed rows hit disk,
    // the base snapshot stays untouched (VERDICT r1 #1)
    mkSource(dir, "t1", i => if (i % 20 == 3) i + 100000 else i)
    val r3 = runner.runAll(Seq(plan))
    assert(r3.head.ok && r3.head.mode == SyncMode.Incremental)
    assert(targetListing().filter(_.contains("base-")) == before.filter(_.contains("base-")),
      "incremental must not rewrite the base snapshot")
    val commit0 = s"$dir/tgt_t1/_log/0"
    assert(spark.read.parquet(s"$commit0/inserts").count() == 25)
    assert(spark.read.parquet(s"$commit0/deletes").count() == 25)
    val afterIncr = LakeTable.read(spark, s"$dir/tgt_t1")
    assert(afterIncr.count() == 500)
    assert(afterIncr.filter(col("SysRowVersion") > 100000L).count() == 25)

    // marks must have advanced to the new max version
    assert(store.get("T1").flatMap(_.sourceVersion).exists(_ > 100000L))

    // 60% updated ⇒ TRUNCATE (≥40% threshold)
    mkSource(dir, "t1", i => if (i % 10 < 6) i + 200000 else i)
    val r4 = runner.runAll(Seq(plan))
    assert(r4.head.ok && r4.head.mode == SyncMode.Truncate)
    assert(LakeTable.read(spark, s"$dir/tgt_t1").count() == 500)
  }

  // the degradation ladder's strategy rungs (SURVEY §7.3.8): stored marks
  // and an existing target, yet a strategy that cannot run incrementally
  // routes to STANDARD in runTable — decide() never sees it
  Seq(
    "full table" -> FetchStrategy.FullTable,
    "forced top-N" -> FetchStrategy.TopNByKey(Long.MaxValue, forceTruncate = true),
    "placeholder-free Sql" ->
      FetchStrategy.CustomSql("SELECT * FROM t WHERE RecId > 0", Long.MaxValue)
  ).foreach { case (label, strategy) =>
    test(s"stored marks + $label strategy: STANDARD") {
      val (dir, store, runner) = newEnv()
      val src = mkSource(dir, "fb", identity)
      def plan(s: FetchStrategy) = runner.TablePlan("FB", src, s"$dir/tgt_fb", s)
      val default = FetchStrategy.TopNByKey(Long.MaxValue)
      assert(runner.runAll(Seq(plan(default))).head.mode == SyncMode.Standard)
      // marks in place: the default strategy re-syncs the unchanged source
      // as NOOP, the opted-out one as a full STANDARD reload
      assert(store.get("FB").flatMap(_.sourceVersion).contains(500L))
      assert(runner.runAll(Seq(plan(default))).head.mode == SyncMode.Noop)
      val r = runner.runAll(Seq(plan(strategy))).head
      assert(r.ok && r.mode == SyncMode.Standard, r.toString)
      assert(LakeTable.read(spark, s"$dir/tgt_fb").count() == 500)
      assert(store.get("FB").flatMap(_.sourceVersion).contains(500L))
    }
  }

  test("compaction after N commits folds the log into a fresh base (bounded replay)") {
    val (dir, store, _) = newEnv()
    val runner = new SyncRunner(spark, store, parallelWorkers = 1, compactEvery = 2)
    val src = mkSource(dir, "tc", identity)
    def plan = runner.TablePlan("TC", src, s"$dir/tgt_tc")
    runner.runAll(Seq(plan)) // standard base

    // three incremental rounds at compactEvery=2 ⇒ at least one compaction
    (1 to 3).foreach { round =>
      mkSource(dir, "tc", i => if (i % 20 == 3) i + round * 100000 else i)
      val r = runner.runAll(Seq(plan))
      assert(r.head.ok && r.head.mode == SyncMode.Incremental, r.head.toString)
    }
    assert(LakeTable.pendingCommits(s"$dir/tgt_tc") < 2)
    val state = LakeTable.read(spark, s"$dir/tgt_tc")
    assert(state.count() == 500)
    assert(state.filter(col("SysRowVersion") > 300000L).count() == 25)
  }

  test("clustered lake layout + key-local drift: the production compaction " +
      "rewrites only touched files and writes a small fraction of the table " +
      "(partitioned-rewrite composition, VERDICT r7 #2)") {
    import graft.run.{IoMeter, LakeApplier, ParquetSource}
    val (dir, store, _) = newEnv()
    // compactEvery=1 ⇒ the incremental sync's commit is folded immediately:
    // the measured write cost below is commit + compaction, the full
    // steady-state apply path
    val runner = new SyncRunner(spark, store, parallelWorkers = 1, compactEvery = 1)
    val srcPath = s"$dir/src_pc"
    def writeSrc(version: Long => Long): Unit =
      (1L to 2000L).map(i => (i, version(i), s"row$i" * 8))
        .toDF("RecId", "SysRowVersion", "payload")
        .write.mode("overwrite").parquet(srcPath)
    writeSrc(identity)
    val tgt = s"$dir/tgt_pc"
    def plan = runner.TablePlan("PC", "ignored", "ignored",
      sourceOverride = Some(ParquetSource(srcPath)),
      applierOverride = Some(LakeApplier(tgt, compactEvery = 1,
        clusterKey = Some("RecId"), clusterFiles = 8)))
    assert(runner.runAll(Seq(plan)).head.mode == SyncMode.Standard)

    def baseFiles(): Map[String, (Long, Long)] = {
      val base = LakeTable.resolve(tgt).get._1
      LakeTable.baseDataFiles(base).map { p =>
        val st = graft.sync.LakeFs.list(p).head
        (p.split('/').takeRight(2).mkString("/"), (st.getLen, st.getModificationTime))
      }.toMap
    }
    val before = baseFiles()
    assert(before.size == 8, s"clustered layout must yield 8 files: $before")
    val baseBytes = before.values.map(_._1).sum

    // key-local 5% drift: only the top 100 keys change (the monotone-RecId
    // production shape)
    writeSrc(i => if (i > 1900L) i + 100000L else i)
    val meter = IoMeter.install(spark.sparkContext)
    val (r, io) = meter.measure { runner.runAll(Seq(plan)) }
    assert(r.head.ok && r.head.mode == SyncMode.Incremental, r.head.toString)
    assert(LakeTable.pendingCommits(tgt) == 0, "compactEvery=1 must fold the commit")

    val after = baseFiles()
    val carried = before.keySet.intersect(after.keySet)
    assert(carried.size >= 6,
      s"a top-5% drift over 8 range-clustered files must carry most:\n$before\nvs\n$after")
    carried.foreach(k => assert(before(k) == after(k),
      s"carried base file was rewritten: $k"))
    // the sync's TOTAL writes (commit + compaction rewrite) stay a small
    // fraction of the base — the partitioned-rewrite claim in bytes
    assert(io.writtenB < baseBytes / 2,
      s"5% key-local sync wrote ${io.writtenB} B vs base $baseBytes B")
    // and the state is exactly the drifted source
    val state = LakeTable.read(spark, tgt)
    assert(state.count() == 2000)
    assert(state.filter(col("SysRowVersion") > 100000L).count() == 100)
  }

  test("source deletes are pruned, new rows inserted (J2/J3 via runner)") {
    val (dir, store, runner) = newEnv()
    val src = mkSource(dir, "t2", identity)
    def plan = runner.TablePlan("T2", src, s"$dir/tgt_t2")
    runner.runAll(Seq(plan))

    // delete 10% at source, append 5 new rows with fresh versions
    val path = s"$dir/src_t2"
    ((1L to 500L).filterNot(_ % 10 == 0).map(i => (i, i, s"row$i")) ++
      (501L to 505L).map(i => (i, i + 1000L, s"new$i")))
      .toDF("RecId", "SysRowVersion", "payload")
      .write.mode("overwrite").parquet(path)

    val r = runner.runAll(Seq(plan))
    assert(r.head.ok && r.head.mode == SyncMode.Incremental)
    val tgt = LakeTable.read(spark, s"$dir/tgt_t2")
    assert(tgt.count() == 455) // 450 kept + 5 new
    assert(tgt.filter(col("RecId") % 10 === 0).count() == 0)
    assert(tgt.filter(col("RecId") > 500).count() == 5)
  }

  test("Source/Applier seam: explicit trait overrides drive the same lifecycle") {
    import graft.run.{LakeApplier, ParquetSource}
    val (dir, store, runner) = newEnv()
    val src = mkSource(dir, "ts", identity)
    def plan = runner.TablePlan("TS", "ignored-path", "ignored-path",
      sourceOverride = Some(ParquetSource(src)),
      applierOverride = Some(LakeApplier(s"$dir/tgt_ts", compactEvery = 2)))
    assert(runner.runAll(Seq(plan)).head.mode == SyncMode.Standard)
    assert(runner.runAll(Seq(plan)).head.mode == SyncMode.Noop)
    mkSource(dir, "ts", i => if (i % 20 == 3) i + 100000 else i)
    assert(runner.runAll(Seq(plan)).head.mode == SyncMode.Incremental)
    assert(LakeTable.read(spark, s"$dir/tgt_ts").count() == 500)
  }

  test("lake-to-lake sync: a LakeSource upstream drives the full lifecycle " +
      "(standard → NOOP → incremental), the incremental wide fetch plans " +
      "only the above-mark commits' inserts, and the downstream state " +
      "equals the upstream read") {
    val (dir, store, runner) = newEnv()
    // upstream lake table: base snapshot + one low-version commit (noise a
    // delta fetch must SKIP) + later one high-version update commit
    val up = s"$dir/upstream"
    LakeTable.overwrite((1L to 500L).map(i => (i, i, s"row$i"))
      .toDF("RecId", "SysRowVersion", "payload"), up)
    val lowTouch = (1L to 500L).filter(_ % 31 == 5)
      .map(i => (i, i, s"row$i")) // re-upsert, version UNCHANGED (≤ mark)
      .toDF("RecId", "SysRowVersion", "payload")
    LakeTable.appendCommit(graft.sync.Apply.ChangeSet(
      lowTouch.select("RecId"), lowTouch, lowTouch.select("RecId")), up)
    val src = graft.run.LakeSource(up)
    def plan = runner.TablePlan("L2L", sourcePath = up,
      targetPath = s"$dir/tgt_l2l", sourceOverride = Some(src))

    val r1 = runner.runAll(Seq(plan))
    assert(r1.head.ok && r1.head.mode == SyncMode.Standard)
    val r2 = runner.runAll(Seq(plan))
    assert(r2.head.ok && r2.head.mode == SyncMode.Noop)

    // 5% drift upstream as a lake commit with versions above the mark
    val changed = (1L to 500L).filter(_ % 20 == 3)
      .map(i => (i, i + 100000L, s"row${i}v2"))
      .toDF("RecId", "SysRowVersion", "payload")
    val hiSeq = LakeTable.appendCommit(graft.sync.Apply.ChangeSet(
      changed.select("RecId"), changed, changed.select("RecId")), up)

    // the pruned wide-fetch plan: only the above-mark commit's inserts
    val widePlan = src.loadFromVersion(spark, 501L).inputFiles.toSeq
    assert(widePlan.exists(_.contains(s"/_log/$hiSeq/inserts")),
      "above-mark commit's inserts must be planned")
    assert(!widePlan.exists(f =>
        f.contains("/_log/") && f.contains("/inserts") &&
          !f.contains(s"/_log/$hiSeq/")),
      s"below-mark commits' inserts must be skipped:\n${widePlan.mkString("\n")}")

    val r3 = runner.runAll(Seq(plan))
    assert(r3.head.ok && r3.head.mode == SyncMode.Incremental)
    assert(r3.head.metrics.modified == (1L to 500L).count(_ % 20 == 3))
    // downstream ≡ upstream, row for row
    val got = LakeTable.read(spark, s"$dir/tgt_l2l")
      .select("RecId", "SysRowVersion", "payload")
    val want = LakeTable.read(spark, up)
      .select("RecId", "SysRowVersion", "payload")
    assert(got.except(want).count() == 0 && want.except(got).count() == 0)
  }

  test("multi-table parallel run; failure marks table not-ok, others keep state (D1/D3)") {
    val (dir, store, runner0) = newEnv()
    val runner = new SyncRunner(spark, store, parallelWorkers = 3, failFast = false)
    val good1 = mkSource(dir, "a", identity)
    val good2 = mkSource(dir, "b", identity)
    val plans = Seq(
      runner.TablePlan("A", good1, s"$dir/tgt_a"),
      runner.TablePlan("BAD", s"$dir/does_not_exist", s"$dir/tgt_bad"),
      runner.TablePlan("B", good2, s"$dir/tgt_b"))
    val rs = runner.runAll(plans).map(r => r.table -> r.ok).toMap
    assert(rs("A") && rs("B") && !rs("BAD"))
    // retry only re-runs the failed table
    val retried = runner.retryFailed(plans, runner.runAll(plans))
    assert(retried.map(_.table) == Seq("BAD"))
  }

  test("a failure without a message still reports its exception class") {
    val (dir, _, runner) = newEnv()
    val throwing = new graft.run.TableSource {
      def load(s: org.apache.spark.sql.SparkSession) =
        throw new IllegalStateException()
    }
    val r = runner.runTable(runner.TablePlan("THROWS", "ignored-path",
      s"$dir/tgt_throws", sourceOverride = Some(throwing)))
    assert(!r.ok)
    assert(r.error.exists(_.contains("IllegalStateException")), r.error)
  }

  test("schema evolution through the runner: a column added at the source " +
      "flows through the incremental tier (P1 parity end-to-end)") {
    val (dir, store, runner) = newEnv()
    val path = s"$dir/src_evo"
    (1L to 300L).map(i => (i, i, s"row$i"))
      .toDF("RecId", "SysRowVersion", "payload")
      .write.mode("overwrite").parquet(path)
    def plan = runner.TablePlan("TEVO", path, s"$dir/tgt_evo")

    assert(runner.runAll(Seq(plan)).head.mode == SyncMode.Standard)

    // the source gains a column `extra`, and 5% of rows change
    (1L to 300L).map(i =>
      if (i % 20 == 3) (i, i + 100000, s"row$i", s"x$i")
      else (i, i, s"row$i", s"x$i"))
      .toDF("RecId", "SysRowVersion", "payload", "extra")
      .write.mode("overwrite").parquet(path)
    val r = runner.runAll(Seq(plan))
    assert(r.head.ok && r.head.mode == SyncMode.Incremental, r.head.error)

    // the replayed target carries the evolved schema: changed rows have
    // `extra`, unchanged rows (which predate the column) null-fill it
    val tgt = LakeTable.read(spark, s"$dir/tgt_evo")
    assert(tgt.columns.toSet == Set("RecId", "SysRowVersion", "payload", "extra"))
    val got = tgt.select("RecId", "extra").as[(Long, Option[String])]
      .collect().toMap
    assert(got(3L).contains("x3") && got(23L).contains("x23"))
    assert(got(1L).isEmpty && got(2L).isEmpty)
    assert(tgt.count() == 300)
  }

  test("crash-safe per-table marks: store survives process restart (D6)") {
    val (dir, store, runner) = newEnv()
    val src = mkSource(dir, "t3", identity)
    runner.runAll(Seq(runner.TablePlan("T3", src, s"$dir/tgt_t3")))
    val reopened = new SyncStateStore(s"$dir/state.json")
    assert(reopened.get("T3").flatMap(_.sourceVersion).contains(500L))
    assert(reopened.get("T3").flatMap(_.maxRecId).contains(500L))
  }
}

class EntrySpec extends AnyFunSuite {
  test("entry() runs the real runner lifecycle (standard → NOOP → incremental), " +
      "not the fallback query") {
    val df = graft.SparkEntry.entry(TestSpark.spark)
    assert(df.columns.contains("mode"), "fallback query shape — runner path broke")
    assert(df.select("mode").collect().map(_.getString(0)).toSeq ==
      Seq("Standard", "Noop", "Incremental"))
    assert(df.filter(!col("ok")).count() == 0)
  }
}

class ChangeLogSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  import spark.implicits._
  import graft.sync.{Apply, ChangeLog, LakeFs}

  test("changeset log replay reconstructs the synced state across commits") {
    val dir = java.nio.file.Files.createTempDirectory("graft_log").toString
    def t(rows: Seq[(Long, Long, String)]) = rows.toDF("RecId", "SysRowVersion", "payload")

    val base = t((1L to 100L).map(i => (i, i, s"v0_$i")))
    base.write.parquet(s"$dir/base")

    // commit 1: source updated rows 1-5, deleted rows 96-100
    val src1 = t((1L to 95L).map(i =>
      if (i <= 5) (i, i + 1000L, s"v1_$i") else (i, i, s"v0_$i")))
    val cs1 = TestSpark.incrementalChangeSet(
      src1, src1.select("RecId", "SysRowVersion"),
      spark.read.parquet(s"$dir/base"), 100L, 100L)
    assert(ChangeLog.append(cs1, s"$dir/log") == 0)

    // commit 2: row 1 updated again, new rows 101-103
    val src2 = t((1L to 95L).map(i =>
      if (i == 1L) (i, 2000L, s"v2_$i")
      else if (i <= 5) (i, i + 1000L, s"v1_$i") else (i, i, s"v0_$i"))
      ++ (101L to 103L).map(i => (i, i + 2000L, s"new_$i")))
    val cur1 = ChangeLog.replay(spark, s"$dir/base", s"$dir/log")
    val cs2 = TestSpark.incrementalChangeSet(
      src2, src2.select("RecId", "SysRowVersion"), cur1, 1005L, 1005L)
    assert(ChangeLog.append(cs2, s"$dir/log") == 1)

    val replayed = ChangeLog.replay(spark, s"$dir/base", s"$dir/log")
      .select("RecId", "SysRowVersion", "payload")
      .as[(Long, Long, String)].collect().toSet
    val expected = src2.as[(Long, Long, String)].collect().toSet
    assert(replayed == expected)
  }

  test("replay-time schema evolution: commits after a column add/drop replay (P1 parity)") {
    val dir = java.nio.file.Files.createTempDirectory("graft_evo").toString
    (1L to 10L).map(i => (i, i, s"p_$i")).toDF("RecId", "SysRowVersion", "payload")
      .write.parquet(s"$dir/base")

    // commit 0: written AFTER the source gained column `extra`
    val cs0 = Apply.ChangeSet(
      deleteKeys = Seq(10L).toDF("RecId"),
      inserts = Seq((1L, 100L, "p2_1", "x_1"), (11L, 101L, "p_11", "x_11"))
        .toDF("RecId", "SysRowVersion", "payload", "extra"),
      keyFlags = spark.emptyDataFrame)
    ChangeLog.append(cs0, s"$dir/log")

    // commit 1: written AFTER the source dropped column `payload`
    val cs1 = Apply.ChangeSet(
      deleteKeys = Seq(9L).toDF("RecId"),
      inserts = Seq((2L, 200L, "x_2")).toDF("RecId", "SysRowVersion", "extra"),
      keyFlags = spark.emptyDataFrame)
    ChangeLog.append(cs1, s"$dir/log")

    val out = ChangeLog.replay(spark, s"$dir/base", s"$dir/log")
    assert(out.columns.toSet == Set("RecId", "SysRowVersion", "payload", "extra"))
    val byKey = out.select("RecId", "SysRowVersion", "payload", "extra")
      .collect().map(r => r.getLong(0) ->
        (r.getLong(1), Option(r.getString(2)), Option(r.getString(3)))).toMap
    assert(byKey.size == 9) // 10 base - del 10 - del 9 + new 11
    assert(byKey(1L) == ((100L, Some("p2_1"), Some("x_1")))) // updated post-add
    assert(byKey(2L) == ((200L, None, Some("x_2")))) // re-inserted post-drop: payload nulls
    assert(byKey(3L) == ((3L, Some("p_3"), None))) // base row predates `extra`
    assert(byKey(11L) == ((101L, Some("p_11"), Some("x_11")))) // new row
    assert(!byKey.contains(9L) && !byKey.contains(10L))
  }

  test("model check: replay of random commit sequences equals the " +
      "sequential delete-then-insert fold (seeded)") {
    val rnd = new scala.util.Random(20260812)
    (1 to 4).foreach { caseI =>
      val dir = java.nio.file.Files.createTempDirectory(s"graft_model$caseI").toString
      // model: key -> (version, payload); commits apply deletes THEN inserts
      // (the reference's order — an insert beats a same-commit tombstone)
      var model = (1L to 60L).map(k => k -> ((k, s"v0_$k"))).toMap
      model.toSeq.map { case (k, (v, p)) => (k, v, p) }
        .toDF("RecId", "SysRowVersion", "payload").write.parquet(s"$dir/base")
      var ver = 1000L
      (0 until 2 + rnd.nextInt(3)).foreach { ci =>
        val delKeys = rnd.shuffle((1L to 80L).toVector).take(rnd.nextInt(8))
        val upserts = Seq.fill(5 + rnd.nextInt(10))(1L + rnd.nextInt(80).toLong)
          .distinct.map { k => ver += 1; (k, ver, s"c${ci}_$k") }
        ChangeLog.append(graft.sync.Apply.ChangeSet(
          delKeys.toDF("RecId"),
          upserts.toDF("RecId", "SysRowVersion", "payload"),
          spark.emptyDataFrame), s"$dir/log")
        model = (model -- delKeys) ++ upserts.map(r => r._1 -> ((r._2, r._3)))
      }
      val out = ChangeLog.replay(spark, s"$dir/base", s"$dir/log")
        .as[(Long, Long, String)].collect()
        .map(r => r._1 -> ((r._2, r._3))).toMap
      assert(out == model, s"case $caseI diverged from the fold model")
    }
  }

  test("replay-time type widening: a commit after a lossless column-type " +
      "ALTER replays cast-up; a lossy change fails loudly") {
    import org.apache.spark.sql.types._
    val dir = java.nio.file.Files.createTempDirectory("graft_widen").toString
    // base: qty is INT, price is DECIMAL(10,2)
    Seq((1L, 1L, 5, BigDecimal("12.34")), (2L, 2L, 7, BigDecimal("56.78")))
      .toDF("RecId", "SysRowVersion", "qty", "price")
      .select(col("RecId"), col("SysRowVersion"),
        col("qty").cast(IntegerType).as("qty"),
        col("price").cast(DecimalType(10, 2)).as("price"))
      .write.parquet(s"$dir/base")
    // commit 0: source ALTERed qty INT→BIGINT and price →DECIMAL(18,4)
    val cs0 = graft.sync.Apply.ChangeSet(
      deleteKeys = Seq(2L).toDF("RecId"),
      inserts = Seq((3L, 30L, 9999999999L, BigDecimal("1234567890.1234")))
        .toDF("RecId", "SysRowVersion", "qty", "price")
        .select(col("RecId"), col("SysRowVersion"), col("qty"),
          col("price").cast(DecimalType(18, 4)).as("price")),
      keyFlags = spark.emptyDataFrame)
    ChangeLog.append(cs0, s"$dir/log")

    val out = ChangeLog.replay(spark, s"$dir/base", s"$dir/log")
    val fields = out.schema.fields.map(f => f.name -> f.dataType).toMap
    assert(fields("qty") == LongType)
    assert(fields("price") == DecimalType(18, 4)) // 16 int digits + 4 scale ⊇ (8,2)
    val byKey = out.collect()
      .map(r => r.getLong(0) -> ((r.getLong(2), r.getDecimal(3).toString))).toMap
    assert(byKey.keySet == Set(1L, 3L))
    assert(byKey(1L) == ((5L, "12.3400"))) // base row cast up
    assert(byKey(3L) == ((9999999999L, "1234567890.1234")))

    // lossy change (string payload over an int column) refuses to replay
    val cs1 = graft.sync.Apply.ChangeSet(
      deleteKeys = Seq.empty[Long].toDF("RecId"),
      inserts = Seq((4L, 40L, "not-a-number"))
        .toDF("RecId", "SysRowVersion", "qty"),
      keyFlags = spark.emptyDataFrame)
    ChangeLog.append(cs1, s"$dir/log")
    val e = intercept[IllegalStateException] {
      ChangeLog.replay(spark, s"$dir/base", s"$dir/log").collect()
    }
    assert(e.getMessage.contains("qty"))

    // opt-in LatestWins: the NEWEST generation's type (string) wins and
    // every earlier qty casts into it — P1 reference parity, where a source
    // ALTER silently takes effect on the next run
    val tolerant = ChangeLog.replay(spark, s"$dir/base", s"$dir/log",
      typePolicy = graft.sync.TypePolicy.LatestWins)
    assert(tolerant.schema("qty").dataType ==
      org.apache.spark.sql.types.StringType)
    val tq = tolerant.collect()
      .map(r => r.getLong(0) -> r.getString(2)).toMap
    assert(tq == Map(1L -> "5", 3L -> "9999999999", 4L -> "not-a-number"))
  }

  test("TypePolicy.LatestWins in the OTHER direction: string history under " +
      "a now-numeric column try_casts, unconvertible values become null") {
    import org.apache.spark.sql.types._
    val dir = java.nio.file.Files.createTempDirectory("graft_widen2").toString
    // base: code is STRING, with one numeric and one non-numeric value
    Seq((1L, 1L, "123"), (2L, 2L, "legacy-x"))
      .toDF("RecId", "SysRowVersion", "code").write.parquet(s"$dir/base")
    // source ALTERed code → BIGINT; the next commit carries longs
    val cs = graft.sync.Apply.ChangeSet(
      deleteKeys = Seq.empty[Long].toDF("RecId"),
      inserts = Seq((3L, 30L, 777L)).toDF("RecId", "SysRowVersion", "code"),
      keyFlags = spark.emptyDataFrame)
    ChangeLog.append(cs, s"$dir/log")

    intercept[IllegalStateException] {
      ChangeLog.replay(spark, s"$dir/base", s"$dir/log").collect()
    }
    val out = ChangeLog.replay(spark, s"$dir/base", s"$dir/log",
      typePolicy = graft.sync.TypePolicy.LatestWins)
    assert(out.schema("code").dataType == LongType)
    val byKey = out.collect().map(r =>
      r.getLong(0) -> (if (r.isNullAt(2)) None else Some(r.getLong(2)))).toMap
    // "123" converts; "legacy-x" degrades to null (try_cast, not a crash)
    assert(byKey == Map(1L -> Some(123L), 2L -> None, 3L -> Some(777L)))
  }

  // ---- `_schema` sidecars: lake reads open every generation with its
  // recorded schema (no inference job); a missing or torn sidecar falls
  // back to inference with identical results.

  /** A lake table whose base carries a nested `array<float>` column and
    * which has 3 pending commits: one adds a column, one widens qty
    * int → long, one deletes and inserts. */
  private def pendingTable(): String = {
    val t = java.nio.file.Files.createTempDirectory("graft_sidecar").toString + "/t"
    def rows(keys: Seq[Long], tag: String) = keys
      .map(i => (i, i, i.toInt, Seq(i.toFloat, 0.5f), s"$tag$i"))
      .toDF("RecId", "SysRowVersion", "qty", "emb", "payload")
    LakeTable.overwrite(rows(1L to 40L, "p"), t)
    def commit(del: Seq[Long], ins: org.apache.spark.sql.DataFrame, ms: Long) =
      LakeTable.appendCommit(
        Apply.ChangeSet(del.toDF("RecId"), ins, spark.emptyDataFrame), t, ms)
    commit(Seq(3L), rows(Seq(1L), "a").withColumn("SysRowVersion", lit(100L))
      .withColumn("extra", lit("x")), 1000L)
    commit(Seq.empty, rows(Seq(2L), "w").withColumn("SysRowVersion", lit(101L))
      .withColumn("qty", col("qty").cast("long")), 2000L)
    commit(Seq(5L), rows(Seq(41L), "n").withColumn("SysRowVersion", lit(102L)),
      3000L)
    assert(LakeTable.pendingCommits(t) == 3)
    t
  }

  private def copyTable(t: String): String = {
    val dst = java.nio.file.Files.createTempDirectory("graft_sidecar_copy")
      .toString + "/t"
    val fs = LakeFs.fs(t)
    org.apache.hadoop.fs.FileUtil.copy(fs, new org.apache.hadoop.fs.Path(t),
      fs, new org.apache.hadoop.fs.Path(dst), false, LakeFs.hadoopConf)
    dst
  }

  private def sidecars(t: String): Seq[String] = {
    val it = LakeFs.fs(t).listFiles(new org.apache.hadoop.fs.Path(t), true)
    Iterator.continually(it).takeWhile(_.hasNext).map(_.next().getPath)
      .filter(_.getName == ChangeLog.SchemaFile).map(_.toString).toSeq
  }

  /** The three lake reads this spec pins, built (not run) on `t`. */
  private def reads(t: String): Seq[(String, org.apache.spark.sql.DataFrame)] =
    Seq("read" -> LakeTable.read(spark, t),
      "readVersionFrom" -> LakeTable.readVersionFrom(spark, t, 50L),
      "changes" -> LakeTable.changes(spark, t, 0))

  /** Spark jobs launched on this thread while `body` runs. A fence job run
    * after it is awaited on the listener bus, which delivers events in
    * order, so every earlier job start has been counted. */
  private def jobsDuring(body: => Unit): Int = {
    import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
    val sc = spark.sparkContext
    val group = s"sidecar-probe-${System.nanoTime}"
    val counted = new java.util.concurrent.atomic.AtomicInteger
    val fence = new java.util.concurrent.CountDownLatch(1)
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        Option(e.properties).map(_.getProperty("spark.jobGroup.id")) match {
          case Some(`group`) => counted.incrementAndGet(); ()
          case Some(g) if g == s"$group-fence" => fence.countDown()
          case _ => ()
        }
    }
    sc.addSparkListener(listener)
    try {
      sc.setJobGroup(group, "sidecar probe")
      body
      sc.setJobGroup(s"$group-fence", "sidecar probe fence")
      sc.parallelize(Seq(1), 1).count()
      assert(fence.await(60, java.util.concurrent.TimeUnit.SECONDS))
      counted.get
    } finally {
      sc.clearJobGroup()
      sc.removeSparkListener(listener)
    }
  }

  test("building read, readVersionFrom or changes over 3 pending commits " +
      "launches no Spark job") {
    val t = pendingTable()
    assert(jobsDuring(LakeTable.read(spark, t)) == 0)
    assert(jobsDuring(LakeTable.readVersionFrom(spark, t, 50L)) == 0)
    assert(jobsDuring(LakeTable.changes(spark, t, 0)) == 0)
    // the counter is live: without sidecars the read infers each schema once
    // (1 base + 2 per commit)
    val stripped = copyTable(t)
    sidecars(stripped).foreach(LakeFs.delete)
    assert(jobsDuring(LakeTable.read(spark, stripped)) == 7)
  }

  test("a missing or torn sidecar falls back to inference: identical rows " +
      "and schema") {
    val t = pendingTable()
    val stripped = copyTable(t)
    val all = sidecars(stripped)
    assert(all.size == 4, all) // the base + 3 commits
    all.foreach(LakeFs.delete)
    val torn = copyTable(t)
    val commit = sidecars(torn).filter(_.contains("/_log/")).head
    val body = LakeFs.readUtf8(commit)
    LakeFs.writeUtf8(commit, body.take(body.length * 2 / 3))
    val want = reads(t)
    for (copy <- Seq(stripped, torn); ((name, got), (_, exp)) <- reads(copy).zip(want)) {
      assert(got.schema == exp.schema, s"$name on $copy")
      assert(got.collect().toSet == exp.collect().toSet, s"$name on $copy")
    }
    assert(want.head._2.schema("emb").dataType ==
      org.apache.spark.sql.types.ArrayType(
        org.apache.spark.sql.types.FloatType, containsNull = true))
  }
}

class FileSourceSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  import spark.implicits._

  test("CSV round trip survives hostile content: embedded quotes, commas, " +
      "newlines, empty strings, nulls, extreme doubles") {
    val dir = java.nio.file.Files.createTempDirectory("graft_csv").toString
    val rows = Seq(
      (1L, "plain", Some(1.5)),
      (2L, "comma, inside", Some(-0.0)),
      (3L, "say \"hi\" twice \"\"", Some(Double.MinPositiveValue)),
      (4L, "line\nbreak and \r carriage", Some(1.7976931348623157e308)),
      (5L, "", None), // empty string reads back as null — CSV's inherent limit
      (6L, "trailing space ", Some(0.1)))
    val df = rows.toDF("id", "s", "d")
    df.write.options(graft.run.CsvSource.RoundTripOptions).csv(s"$dir/out")
    val back = graft.run.CsvSource(s"$dir/out", df.schema).load(spark)
      .as[(Long, Option[String], Option[Double])].collect()
      .map(r => r._1 -> ((r._2, r._3))).toMap
    assert(back(2L)._1.contains("comma, inside"))
    assert(back(3L)._1.contains("say \"hi\" twice \"\""))
    assert(back(4L)._1.contains("line\nbreak and \r carriage"))
    assert(back(4L)._2.contains(1.7976931348623157e308)) // doubles exact
    assert(back(3L)._2.contains(Double.MinPositiveValue))
    assert(back(5L)._1.isEmpty && back(5L)._2.isEmpty)
    assert(back(6L)._1.contains("trailing space "))
  }

  test("JSON round trip preserves nulls, empty strings and ms timestamps") {
    val dir = java.nio.file.Files.createTempDirectory("graft_json").toString
    val ts = java.sql.Timestamp.valueOf("2024-06-01 12:34:56.789")
    val df = Seq(
      (1L, Some("x \"quoted\" \n multiline"), Some(ts)),
      (2L, Some(""), None),
      (3L, None, Some(ts))).toDF("id", "s", "t")
    df.write.json(s"$dir/out")
    val back = graft.run.JsonSource(s"$dir/out", df.schema).load(spark)
      .as[(Long, Option[String], Option[java.sql.Timestamp])].collect()
      .map(r => r._1 -> ((r._2, r._3))).toMap
    assert(back(1L)._1.contains("x \"quoted\" \n multiline"))
    assert(back(1L)._2.contains(ts))
    assert(back(2L)._1.contains("")) // JSON CAN distinguish "" from null
    assert(back(2L)._2.isEmpty)
    assert(back(3L)._1.isEmpty && back(3L)._2.contains(ts))
  }
}

class LakeTableCrashSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  import spark.implicits._
  import graft.sync.{Apply, ChangeLog, LakeTable}

  test("an unreferenced base dir (crash before pointer swap) is invisible to readers") {
    val t = java.nio.file.Files.createTempDirectory("graft_crash").toString + "/t"
    val v1 = (1L to 100L).map(i => (i, i, s"v1_$i")).toDF("RecId", "SysRowVersion", "payload")
    LakeTable.overwrite(v1, t)
    // simulate a crash: a newer snapshot lands on disk but the pointer never moves
    (1L to 5L).map(i => (i, i, s"torn_$i")).toDF("RecId", "SysRowVersion", "payload")
      .write.parquet(s"$t/base-99")
    assert(LakeTable.read(spark, t).count() == 100)
    assert(!LakeTable.read(spark, t).select("payload").as[String]
      .collect().exists(_.startsWith("torn")))
  }

  test("a half-written commit (crash mid-append) is invisible to replay") {
    val t = java.nio.file.Files.createTempDirectory("graft_crash2").toString + "/t"
    val v1 = (1L to 50L).map(i => (i, i, s"v1_$i")).toDF("RecId", "SysRowVersion", "payload")
    LakeTable.overwrite(v1, t)
    // simulate a crash inside writeChangeSet: the staging dir exists with
    // only the deletes half written
    (1L to 10L).toDF("RecId").write.parquet(s"$t/_log/.tmp-0/deletes")
    assert(LakeTable.read(spark, t).count() == 50)
    assert(LakeTable.pendingCommits(t) == 0)
    // and the next real append lands as commit 0 regardless of the garbage
    val src = (1L to 50L).map(i =>
      if (i <= 3) (i, i + 100L, s"v2_$i") else (i, i, s"v1_$i"))
      .toDF("RecId", "SysRowVersion", "payload")
    LakeTable.appendCommit(
      Apply.updateOnlyChangeSet(src, 50L), t)
    assert(LakeTable.read(spark, t)
      .filter(col("SysRowVersion") > 100L).count() == 3)
  }

  test("full lifecycle through an explicit file: URI (Hadoop FileSystem seam)") {
    val t = "file:" + java.nio.file.Files.createTempDirectory("graft_fs").toString + "/t"
    val v1 = (1L to 40L).map(i => (i, i, s"v1_$i")).toDF("RecId", "SysRowVersion", "payload")
    assert(!LakeTable.exists(t))
    LakeTable.overwrite(v1, t)
    assert(LakeTable.exists(t) && LakeTable.read(spark, t).count() == 40)
    val src = (1L to 40L).map(i =>
      if (i <= 4) (i, i + 100L, s"v2_$i") else (i, i, s"v1_$i"))
      .toDF("RecId", "SysRowVersion", "payload")
    LakeTable.appendCommit(
      Apply.updateOnlyChangeSet(src, 40L), t)
    assert(LakeTable.pendingCommits(t) == 1)
    assert(LakeTable.read(spark, t).filter(col("SysRowVersion") > 100L).count() == 4)
    LakeTable.compact(spark, t)
    assert(LakeTable.pendingCommits(t) == 0)
    assert(LakeTable.read(spark, t).filter(col("SysRowVersion") > 100L).count() == 4)
  }

  test("corrupt pointer degrades to table-missing and self-heals on overwrite") {
    val t = java.nio.file.Files.createTempDirectory("graft_corrupt").toString + "/t"
    val v1 = (1L to 30L).map(i => (i, i, s"v1_$i")).toDF("RecId", "SysRowVersion", "payload")
    LakeTable.overwrite(v1, t)
    java.nio.file.Files.writeString(
      java.nio.file.Paths.get(s"$t/_current"), "garbled no tab here")
    // degrade-to-standard, not a crash: resolve -> None, read -> typed error
    assert(!LakeTable.exists(t))
    intercept[IllegalArgumentException](LakeTable.read(spark, t))
    // the bootstrap overwrite a standard sync performs repairs the pointer
    LakeTable.overwrite(v1, t)
    assert(LakeTable.read(spark, t).count() == 30)
  }

  test("GC grace: the previous base survives one overwrite for in-flight readers") {
    val t = java.nio.file.Files.createTempDirectory("graft_grace").toString + "/t"
    def gen(tag: String) =
      (1L to 20L).map(i => (i, i, s"${tag}_$i")).toDF("RecId", "SysRowVersion", "payload")
    def bases() = graft.sync.LakeFs.list(t)
      .map(_.getPath.getName).filter(_.startsWith("base-")).toSet
    LakeTable.overwrite(gen("g1"), t)
    val b1 = bases()
    LakeTable.overwrite(gen("g2"), t)
    // a reader holding the g1 pointer can still finish its scan
    assert(b1.subsetOf(bases()))
    LakeTable.overwrite(gen("g3"), t)
    // ...but g1 is gone after the NEXT overwrite (one-generation retention)
    assert(bases().intersect(b1).isEmpty)
    assert(LakeTable.read(spark, t).select("payload").as[String]
      .collect().forall(_.startsWith("g3")))
  }

  test("rename-emulating scheme contract (mock object store): lifecycle " +
      "works non-atomically, pointer replace degrades, torn pointer recovers") {
    spark.sparkContext.hadoopConfiguration.set(
      "fs.mockos.impl", classOf[graft.testfs.MockObjectStoreFileSystem].getName)
    val t = "mockos:" +
      java.nio.file.Files.createTempDirectory("graft_mockos").toString + "/t"
    // the scheme is classified as rename-emulating (warn path), file: is not
    assert(graft.sync.LakeFs.warnIfNonAtomic(t))
    assert(!graft.sync.LakeFs.warnIfNonAtomic("file:/tmp/x"))

    val v1 = (1L to 40L).map(i => (i, i, s"v1_$i")).toDF("RecId", "SysRowVersion", "payload")
    assert(!LakeTable.exists(t))
    LakeTable.overwrite(v1, t)
    assert(LakeTable.read(spark, t).count() == 40)
    val src = (1L to 40L).map(i =>
      if (i <= 4) (i, i + 100L, s"v2_$i") else (i, i, s"v1_$i"))
      .toDF("RecId", "SysRowVersion", "payload")
    LakeTable.appendCommit(
      Apply.updateOnlyChangeSet(src, 40L), t)
    assert(LakeTable.read(spark, t).filter(col("SysRowVersion") > 100L).count() == 4)
    // second overwrite replaces an EXISTING pointer: FileSystem.rename
    // refuses (dst exists), FileContext is unsupported for the scheme —
    // the delete+rename degradation must still publish the new pointer
    LakeTable.compact(spark, t)
    assert(LakeTable.pendingCommits(t) == 0)
    assert(LakeTable.read(spark, t).filter(col("SysRowVersion") > 100L).count() == 4)
    // torn pointer (the transient state the non-atomic swap can expose):
    // degrade to table-missing, self-heal on the next overwrite
    graft.sync.LakeFs.writeUtf8(s"$t/_current", "garbled no tab here")
    assert(!LakeTable.exists(t))
    LakeTable.overwrite(v1, t)
    assert(LakeTable.read(spark, t).count() == 40)
  }
}

class PostActionsSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark

  test("sql script: comments skipped, stop on first error (PostTransferSqlService.cs:21-114)") {
    val script =
      """-- setup comment
        |SELECT 1
        |
        |SELECT bad_function_xyz(1)
        |SELECT 2""".stripMargin
    val (executed, err) = PostActions.runSqlScript(spark, script)
    assert(executed == 1)
    assert(err.isDefined)
  }

  test("date token resolution [yyyy_MM_dd] (BackupService.cs:23-31)") {
    val now = java.time.LocalDateTime.of(2026, 8, 12, 10, 30)
    assert(PostActions.resolveDateTokens("/backup/[yyyy_MM_dd_HHmm]/db", now) ==
      "/backup/2026_08_12_1030/db")
    assert(PostActions.resolveDateTokens("/plain/path", now) == "/plain/path")
  }

  test("shell hook runs with snapshot path appended (S17)") {
    val (code, out) = PostActions.runShellHook(Seq("echo", "backup done:"), "/snap/2026")
    assert(code == 0)
    assert(out.trim == "backup done: /snap/2026")
  }

  test("snapshot progress polling: monotone ticks ending at 100% (S15, BackupService.cs:126-186)") {
    val spark = TestSpark.spark
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft_snap").toString
    (1L to 2000L).map(i => (i, s"row$i")).toDF("RecId", "payload")
      .write.parquet(s"$dir/t1")
    val ticks = scala.collection.mutable.ArrayBuffer.empty[(Double, Long)]
    val dest = PostActions.snapshotWithProgress(spark, Seq(s"$dir/t1"),
      s"$dir/backup/[yyyy_MM_dd]", pollIntervalMs = 10,
      onProgress = (pct, bytes) => ticks.synchronized { ticks += ((pct, bytes)); () })
    assert(new java.io.File(s"$dest/t1").exists)
    val snap = ticks.synchronized(ticks.toList)
    assert(snap.nonEmpty && snap.last._1 == 100.0 && snap.last._2 > 0)
    assert(snap.map(_._2) == snap.map(_._2).sorted, "bytes must be monotone")
  }

  test("gated chain stops at first failure (D9)") {
    var ran = List.empty[Int]
    val chain = Seq[() => Either[String, Unit]](
      () => { ran ::= 1; Right(()) },
      () => { ran ::= 2; Left("boom") },
      () => { ran ::= 3; Right(()) })
    assert(PostActions.runChain(chain) == Left("stage 2 failed: boom"))
    assert(ran.reverse == List(1, 2))
  }
}

class ConfigUtilSpec extends AnyFunSuite {
  import graft.config.ConfigUtil._

  test("base64 obfuscation round trip (EncryptionHelper.cs:11-48)") {
    assert(deobfuscate(obfuscate("p@ssw0rd")).contains("p@ssw0rd"))
    assert(deobfuscate("!!!notbase64!!!").isEmpty)
  }

  test("connection string parse (ConnectionStringHelper.cs:20-100)") {
    val m = parseConnectionString("Server=host,1433; Database=AxDB;User ID=sa;")
    assert(m("server") == "host,1433")
    assert(m("database") == "AxDB")
  }

  test("INI sectioned parse (DefaultValuesHelper.cs:9-76)") {
    val ini =
      """[PostTransferSql]
        |; comment
        |UPDATE X SET Y = 1
        |[Other]
        |line""".stripMargin
    val m = parseIni(ini)
    assert(m("PostTransferSql") == Seq("UPDATE X SET Y = 1"))
    assert(m("Other") == Seq("line"))
  }
}

class CatalogSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  import spark.implicits._
  import graft.catalog.Catalog

  test("SQLDICTIONARY parse: FIELDID=0 names the table (Tier2DataService.cs:484-543)") {
    val dict = Seq(
      ("CUSTTABLE", 1, 0, "CUSTTABLE"),
      ("AccountNum", 1, 1, "ACCOUNTNUM"),
      ("Name", 1, 2, "NAME"),
      ("VENDTABLE", 2, 0, "VENDTABLE"),
      ("VendId", 2, 1, "VENDID"))
      .toDF("NAME", "TABLEID", "FIELDID", "SQLNAME")
    val cache = Catalog.loadDictionary(dict)
    assert(cache.tableNameToId == Map("CUSTTABLE" -> 1, "VENDTABLE" -> 2))
    assert(cache.fieldsOf("CustTable") == Seq("ACCOUNTNUM", "NAME"))
  }

  test("planTables: filters, both-sides requirement, copyable intersection") {
    val src = Catalog.DictionaryCache(
      Map("CUSTTABLE" -> 1, "SRCONLY" -> 2, "SYSLOG" -> 3),
      Map(1 -> Seq("RECID", "SYSROWVERSION", "NAME", "SECRET"), 2 -> Seq("A"), 3 -> Seq("B")))
    val tgt = Catalog.DictionaryCache(
      Map("CUSTTABLE" -> 11, "SYSLOG" -> 13),
      Map(11 -> Seq("RECID", "SYSROWVERSION", "NAME"), 13 -> Seq("B")))
    val discovered = Seq(
      Catalog.DiscoveredTable("CUSTTABLE", 1000, 100000),
      Catalog.DiscoveredTable("SRCONLY", 10, 100),
      Catalog.DiscoveredTable("SYSLOG", 5, 50),
      Catalog.DiscoveredTable("lowercase_bad", 5, 50))
    val plans = Catalog.planTables(discovered, src, tgt,
      includes = Seq("*"), excludes = Seq("SYS*"),
      globalExcludedFields = Set("SECRET"))
    assert(plans.map(_.name) == Seq("CUSTTABLE"))
    assert(plans.head.copyableFields == Seq("RECID", "SYSROWVERSION", "NAME"))
    assert(plans.head.optimizedEligible)
    assert(plans.head.bytesPerRow == 100L)
  }
}
