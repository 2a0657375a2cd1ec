package graftbench

import graft.model.SyncReport
import graft.run.{LakeApplier, LakeSource, ParquetSource, SyncRunner, VersionPrunableSource}
import graft.state.SyncStateStore
import graft.sync.{LakeTable, SyncFixtures}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import scala.collection.mutable.ArrayBuffer

/** One drift of one source table before a cycle: `pu` of the present rows
  * get a new version, `pd` of them are deleted, `pi` of the absent pool
  * rows are inserted. */
final case class Drift(cycle: Int, table: Int, pu: Double, pd: Double, pi: Double)

/** The lake→lake sync workload (`sync_steady`): N tables derived from a
  * generated lineitem, each synced by `SyncRunner.runAll` from a source —
  * a parquet directory, or (for `lake_sources`) an upstream lake table —
  * into a downstream lake table. Everything outside the `runAll` calls is
  * untimed: drift, checks. */
final class SyncWorkload(spark: SparkSession, tracer: Tracer, dataDir: String,
    work: String, plan: Seq[Array[String]], seed: Long) {
  private val p = PlanFile.params(plan)
  private val nTables = p("tables").toInt
  private val workers = p("workers").toInt
  private val compactEvery = p("compact_every").toInt
  private val compactFast = p("compact_every_fast").toInt
  private val setupReps = p("setup_reps").toInt
  private val lakeSources: Set[Int] =
    p("lake_sources").split(",").filter(_.nonEmpty).map(_.toInt).toSet
  private val drifts: Map[Int, Seq[Drift]] = plan.filter(_.head == "drift").map(a =>
    Drift(a(1).toInt, a(2).toInt, a(3).toDouble, a(4).toDouble, a(5).toDouble)).groupBy(_.cycle)
  private val queues: Map[Int, Seq[Int]] =
    plan.filter(_.head == "queue").map(a => a(1).toInt -> a.drop(2).map(_.toInt).toSeq).toMap
  private val names = (0 until nTables).map(i => s"T$i")
  private def src(i: Int) = s"$work/src/${names(i)}"
  private def tgtRoot(rep: Int) = s"$work/tgt$rep"
  private def tgt(rep: Int, i: Int) = s"${tgtRoot(rep)}/${names(i)}"

  val checks = new Checks
  private var peakDiskBytes = 0L
  private def sampleDisk(): Unit = peakDiskBytes = math.max(peakDiskBytes, Fs.bytes(work))

  // ---- inputs: table i = generated lineitem with RecIds shifted into its
  // own band. The harness holds each source's expected content in memory
  // (RecId -> the cycle that last wrote the row): ~90% of the base
  // keys are present at the start, the rest form the insert pool ----
  private val Band = 1000000000000000L
  private val base0 = SyncFixtures.base(spark, dataDir).persist()
  private val bases: IndexedSeq[DataFrame] = (0 until nTables).map(i =>
    base0.withColumn("RecId", col("RecId") + lit(i * Band)))
  private val baseKeys: IndexedSeq[Array[Long]] = {
    val keys = base0.select("RecId").collect().map(_.getLong(0)).sorted
    (0 until nTables).map(i => keys.map(_ + i * Band))
  }
  private val state: IndexedSeq[scala.collection.mutable.LongMap[Int]] =
    (0 until nTables).map { i =>
      val m = scala.collection.mutable.LongMap.empty[Int]
      baseKeys(i).foreach(k => if (u(i, 0, 0, k) >= 0.1) m.update(k, 0))
      m
    }

  /** Seeded uniform draw in [0, 1) per (table, cycle, purpose, key). */
  private def u(i: Int, cycle: Int, tag: Int, key: Long): Double = {
    import scala.util.hashing.MurmurHash3.{finalizeHash, mix, mixLast}
    val h = finalizeHash(mixLast(mix(mix(mix(mix(seed.toInt, i), cycle), tag),
      (key ^ (key >>> 32)).toInt), (key >>> 17).toInt), 5)
    (h.toLong & 0xffffffffL) / 4294967296.0
  }

  /** Full source rows for (RecId, cycle) pairs: version `Bump * cycle +
    * RecId`; rows written after cycle 0 carry the updated-row markers of
    * [[SyncFixtures]] (RECVERSION 2, MODIFIEDDATETIME + 30 days). */
  private def rows(i: Int, keys: Iterable[(Long, Int)]): DataFrame = {
    import spark.implicits._
    val k = keys.toSeq.toDF("RecId", "vcycle")
    SyncFixtures.perfectFrom(bases(i).join(k, Seq("RecId")))
      .withColumn("SysRowVersion", lit(SyncFixtures.Bump) * col("vcycle") + col("RecId"))
      .withColumn("RECVERSION", when(col("vcycle") > 0, lit(2)).otherwise(lit(1)))
      .withColumn("MODIFIEDDATETIME", when(col("vcycle") > 0,
        col("l_shipdate") + expr("INTERVAL 30 DAY")).otherwise(col("l_shipdate")))
      .withColumn("payload", SyncFixtures.widePayload)
      .drop("vcycle")
  }

  /** key+version digest of the expected source, computed in the harness
    * with the hash Spark's `xxhash64(RecId, SysRowVersion)` uses. */
  private def expectedDigest(i: Int): (Long, Long, Long) = {
    import org.apache.spark.sql.catalyst.expressions.XXH64.hashLong
    var sum = 0L
    var xor = 0L
    state(i).foreach { case (k, c) =>
      val h = hashLong(SyncFixtures.Bump * c + k, hashLong(k, 42L))
      sum += Math.floorMod(h, Checks.Prime)
      xor ^= h
    }
    (state(i).size.toLong, sum, xor)
  }

  private def writeSource(i: Int): Unit =
    if (lakeSources(i)) LakeTable.overwrite(rows(i, state(i)), src(i))
    else rows(i, state(i)).write.mode("overwrite").parquet(src(i))

  private def createSources(): Unit = Par.map(0 until nTables)(writeSource)

  /** Drift table `d.table`'s source before cycle `d.cycle` and rewrite it
    * (a lake source gets a new snapshot generation: an upstream that keeps
    * itself compacted). Returns (changed rows, bytes of the changed rows as
    * the source stores them). */
  private def applyDrift(d: Drift): (Long, Long) = {
    val i = d.table
    val st = state(i)
    val present = st.keys.toSeq
    val upd = present.filter(k => u(i, d.cycle, 1, k) < d.pu)
    val del = present.filter { k => val x = u(i, d.cycle, 1, k); x >= d.pu && x < d.pu + d.pd }
    val ins = baseKeys(i).filter(k => !st.contains(k) && u(i, d.cycle, 3, k) < d.pi)
    del.foreach(st.remove)
    (upd ++ ins).foreach(st.update(_, d.cycle))
    writeSource(i)
    ((upd.size + del.size + ins.size).toLong, (upd.size + ins.size) * Fs.bytes(src(i)) / st.size)
  }

  // ---- the measured path ----
  /** The runner's table list for a cycle, in the plan's queue order (by
    * name for the set-up loads). */
  private def plans(runner: SyncRunner, rep: Int, cycle: Int,
      traced: Boolean): Seq[runner.TablePlan] =
    queues.getOrElse(cycle, 0 until nTables).map { i =>
      val s = if (lakeSources(i)) LakeSource(src(i)) else ParquetSource(src(i))
      val a = LakeApplier(tgt(rep, i), if (i == compactFast) 1 else compactEvery)
      runner.TablePlan(names(i), src(i), tgt(rep, i),
        sourceOverride = Some(if (traced) Traced.source(s, names(i), tracer) else s),
        applierOverride = Some(if (traced) new TracedApplier(a, names(i), tgt(rep, i), tracer)
          else a))
    }

  private def newRunner(rep: Int): SyncRunner =
    new SyncRunner(spark, new SyncStateStore(s"$work/state$rep.json"),
      parallelWorkers = workers, compactEvery = compactEvery)

  private def readSource(i: Int): DataFrame =
    if (lakeSources(i)) LakeTable.read(spark, src(i)) else spark.read.parquet(src(i))

  /** key+version digest of every target against the expected source. */
  private def checkVersions(rep: Int, cycle: Int): Unit =
    Par.map(0 until nTables) { i =>
      Checks.digest(LakeTable.read(spark, tgt(rep, i)), col("RecId"), col("SysRowVersion"))
    }.zipWithIndex.foreach { case (got, i) =>
      checks.expect(s"cycle $cycle ${names(i)} key+version", got == expectedDigest(i))
    }

  /** Full-row digest of every target against its source. */
  private def checkRows(rep: Int): Unit = {
    val cols = readSource(0).columns.sorted.map(col).toSeq
    Par.map(0 until nTables) { i =>
      (Checks.digest(readSource(i), cols: _*),
        Checks.digest(LakeTable.read(spark, tgt(rep, i)), cols: _*))
    }.zipWithIndex.foreach { case ((want, got), i) =>
      checks.expect(s"end ${names(i)} full rows", want == got)
    }
  }

  /** One cycle: drift the sources (untimed), time `runAll`, check every
    * target against its expected source (untimed). */
  private def cycle(runner: SyncRunner, rep: Int, c: Int, traced: Boolean): CycleRun = {
    val changes = Par.map(drifts.getOrElse(c, Nil))(applyDrift)
    val tgtBefore = Fs.files(tgtRoot(rep))
    if (traced) tracer.start()
    val startMs = System.currentTimeMillis()
    val c0 = Counters.now()
    val reports = runner.runAll(plans(runner, rep, c, traced))
    val c1 = Counters.now()
    if (traced) tracer.stop()
    val run = CycleRun(c, startMs, c0, c1, reports, changes.map(_._1).sum,
      changes.map(_._2).sum, Fs.added(tgtBefore, Fs.files(tgtRoot(rep))))
    sampleDisk()
    checkVersions(rep, c)
    Log(f"cycle $c: ${run.wallS}%.2fs " + reports.map(r => s"${r.table}=${r.mode}").mkString(" "))
    run
  }

  /** Keep a traced cycle's spans as a tree: cycle → table sync (its
    * duration the report's total) → decorator spans. */
  private def archiveCycle(run: CycleRun): Unit = {
    val own = tracer.allSpans
    val cycleId = tracer.newId()
    val syncIds = run.reports.map(r => r.table -> tracer.newId()).toMap
    val starts = own.groupBy(_.key).map { case (k, ss) => k -> ss.map(_.startMs).min }
    tracer.archive(
      Span(cycleId, 0, "cycle", run.cycle.toString, 0, run.startMs, run.wallS,
        run.c1.rchar - run.c0.rchar, Map.empty) +:
      (run.reports.map(r => Span(syncIds(r.table), cycleId, "table.sync", r.table, 0,
        starts.getOrElse(r.table, run.startMs), r.metrics.totalSec, 0,
        Map("mode" -> r.mode.toString))) ++
        own.map(s => s.copy(parent = syncIds.getOrElse(s.key, cycleId)))))
  }

  def run(seconds: Double, trace: Boolean, sessionS: Double): Map[String, Any] = {
    Log(s"inputs read: ${state.map(_.size).sum} rows")
    if (trace) {
      // the decorators keep the traits the runner routes on
      checks.expect("traced LakeSource stays a VersionPrunableSource",
        Traced.source(LakeSource(src(0)), names(0), tracer).isInstanceOf[VersionPrunableSource])
      checks.expect("traced ParquetSource stays plain",
        !Traced.source(ParquetSource(src(0)), names(0), tracer).isInstanceOf[VersionPrunableSource])
    }
    createSources()
    sampleDisk()
    Log("sources created")

    // set-up: the initial Standard load, repeated on fresh targets (the
    // last one is kept), then one untimed warm-up cycle
    val loads = (1 to setupReps).map { rep =>
      if (rep > 1) { Fs.delete(tgtRoot(rep - 1)); Fs.delete(s"$work/state${rep - 1}.json") }
      val tracedRep = trace && rep == setupReps
      val runner = newRunner(rep)
      if (tracedRep) tracer.start()
      val t0 = System.nanoTime()
      val load = runner.runAll(plans(runner, rep, 0, tracedRep))
      val s = (System.nanoTime() - t0) / 1e9
      if (tracedRep) tracer.stop()
      sampleDisk()
      Log(f"set-up load $rep: $s%.2fs")
      (s, load.map(CycleRun.reportJson(0, _)))
    }
    val rep = setupReps
    val runner = newRunner(rep)
    checkVersions(rep, 0)
    val setupSpans = tracer.allSpans
    val setupJobs = tracer.allJobs
    tracer.archive(setupSpans)
    tracer.clear()
    val warm = cycle(runner, rep, 1, traced = false)

    // measured cycles; a traced run alternates traced and untraced ones
    val units = ArrayBuffer.empty[Map[String, Any]]
    var timed = 0.0
    while (timed < seconds || (trace && units.size < 4)) {
      val traced = trace && units.size % 2 == 0
      val run = cycle(runner, rep, units.size + 2, traced)
      timed += run.wallS
      val layers =
        if (traced) Layers.sync(tracer.allSpans, tracer.allJobs, run, math.min(workers, nTables))
        else Map.empty[String, Double]
      if (traced) archiveCycle(run)
      tracer.clear()
      units += Map("traced" -> traced, "wall_s" -> run.wallS, "cycles" -> Seq(run.json),
        "layers" -> layers)
    }

    checkRows(rep)
    Log("final rows checked")
    // each source is a fresh snapshot of the rows its target now holds
    val lakeBytes = (0 until nTables).map(i => Fs.bytes(tgt(rep, i))).sum
    val freshBytes = (0 until nTables).map(i => Fs.bytes(src(i))).sum
    Map(
      "session_s" -> sessionS,
      "setups_s" -> loads.map(_._1),
      "setup_reports" -> loads.last._2,
      "warmup_s" -> warm.wallS,
      "warmup" -> warm.json,
      "setup_layers" -> (if (trace) Layers.overwrite(setupSpans, setupJobs) else Map.empty),
      "units" -> units.toSeq,
      "space_amp" -> lakeBytes.toDouble / freshBytes,
      "peak_disk_bytes" -> peakDiskBytes,
      "checks" -> checks.json)
  }
}

/** One timed `runAll` call and what it changed. */
final case class CycleRun(cycle: Int, startMs: Long, c0: Counters,
    c1: Counters, reports: Seq[SyncReport], changedRows: Long, changedBytes: Long,
    targetWrittenBytes: Long) {
  def wallS: Double = (c1.wallNs - c0.wallNs) / 1e9
  def json: Map[String, Any] = c0.delta(c1) ++ Map(
    "cycle" -> cycle, "changed_rows" -> changedRows, "changed_bytes" -> changedBytes,
    "target_written_bytes" -> targetWrittenBytes,
    "reports" -> reports.map(CycleRun.reportJson(cycle, _)))
}

object CycleRun {
  def reportJson(cycle: Int, r: SyncReport): Map[String, Any] = Map(
    "cycle" -> cycle, "table" -> r.table, "mode" -> r.mode.toString, "ok" -> r.ok,
    "s" -> r.metrics.totalSec, "error" -> r.error)
}

/** Correctness bookkeeping: every check counts as attempted; failures are
  * listed by name. */
final class Checks {
  private var attempted = 0
  private val failures = ArrayBuffer.empty[String]
  def expect(name: String, ok: Boolean): Unit = synchronized {
    attempted += 1
    if (!ok) failures += name
  }
  def json: Map[String, Any] = synchronized {
    Map("attempted" -> attempted, "failed" -> failures.size, "failures" -> failures.take(20).toSeq)
  }
}

object Checks {
  val Prime = 1000000007L

  /** Order-independent digest of `xxhash64(cols)` over a frame: row count,
    * sum of the hashes mod a prime, xor of the hashes. */
  def digest(df: DataFrame, cols: org.apache.spark.sql.Column*): (Long, Long, Long) = {
    val r = df.select(xxhash64(cols: _*).as("h"))
      .agg(count(lit(1)), coalesce(sum(pmod(col("h"), lit(Prime))), lit(0L)),
        coalesce(bit_xor(col("h")), lit(0L)))
      .head()
    (r.getLong(0), r.getLong(1), r.getLong(2))
  }
}

/** Independent harness work (drifts, checks) run side by side. */
object Par {
  private lazy val pool = scala.concurrent.ExecutionContext.fromExecutorService(
    java.util.concurrent.Executors.newFixedThreadPool(4, (r: Runnable) => {
      val t = new Thread(r, "graftbench-par")
      t.setDaemon(true)
      t
    }))

  def map[A, B](xs: Seq[A])(f: A => B): Seq[B] = {
    import scala.concurrent.{Await, Future}
    Await.result(Future.sequence(xs.map(x => Future(f(x))(pool)))(implicitly, pool),
      scala.concurrent.duration.Duration.Inf)
  }
}
