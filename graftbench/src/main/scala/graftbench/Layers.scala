package graftbench

/** Per-layer attribution of one traced pass, computed from the decorator
  * spans and the listener's jobs after the pass has finished. Values are
  * sums over the pass (the launcher averages passes); the overwrite
  * `_count` and `_mb_written` sums let the launcher form per-call rates. */
object Layers {
  private val MB = 1024.0 * 1024.0

  /** Wall covered by a set of [start, end] intervals (ms → s). */
  def unionS(iv: Seq[(Double, Double)]): Double = {
    var total = 0.0
    var curS = Double.NaN
    var curE = Double.NaN
    iv.sortBy(_._1).foreach { case (s, e) =>
      if (curS.isNaN || s > curE) {
        if (!curS.isNaN) total += curE - curS
        curS = s; curE = e
      } else curE = math.max(curE, e)
    }
    if (!curS.isNaN) total += curE - curS
    total / 1000.0
  }

  private def jobsOf(jobs: Seq[JobRec], spans: Seq[Span]): Seq[JobRec] = {
    val ids = spans.map(_.id.toString).toSet
    jobs.filter(j => j.span != null && ids.contains(j.span))
  }

  private def cpuS(js: Seq[JobRec]): Double = js.map(_.cpuNs).sum / 1e9
  private def shuffleMb(js: Seq[JobRec]): Double = js.map(_.shuffleWriteBytes).sum / MB
  private def spillMb(js: Seq[JobRec]): Double = js.map(_.spillBytes).sum / MB

  /** Read bytes of spans that ran alone: no job of another span or of the
    * runner, and no other span, overlapped them. The rest of the process's
    * reads stay unattributed. */
  def soloReadBytes(target: Seq[Span], allSpans: Seq[Span], jobs: Seq[JobRec]): Long =
    target.filter { s =>
      val own = s.id.toString
      !jobs.exists(j => j.span != own && j.endMs >= 0 && j.startMs <= s.endMs &&
        j.endMs >= s.startMs) &&
      !allSpans.exists(o => o.id != s.id && o.parent != s.id && s.parent != o.id &&
        o.startMs <= s.endMs && o.endMs >= s.startMs)
    }.map(_.readBytes).sum

  private def median(xs: Seq[Double]): Double =
    if (xs.isEmpty) 0.0
    else {
      val s = xs.sorted
      if (s.size % 2 == 1) s(s.size / 2) else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
    }

  def overwrite(spans: Seq[Span], jobs: Seq[JobRec]): Map[String, Double] = {
    val ow = spans.filter(_.name == "lake.overwrite")
    Map(
      "lake.overwrite_s" -> ow.map(_.durS).sum,
      "lake.overwrite_count" -> ow.size.toDouble,
      "lake.overwrite_mb_written" -> ow.map(_.extra("written_bytes").asInstanceOf[Long]).sum / MB)
  }

  def sync(spans: Seq[Span], jobs: Seq[JobRec], c: CycleRun, workers: Int): Map[String, Double] = {
    val byName = spans.groupBy(_.name).withDefaultValue(Nil)
    val applies = byName("lake.apply")
    def pend(s: Span, k: String) = s.extra(k).asInstanceOf[Int]
    val compacts = applies.filter(s => pend(s, "pending_after") < pend(s, "pending_before") + 1)
    val appends = applies.filterNot(compacts.contains)
    val reads = byName("lake.read") ++ byName("lake.exists")
    val syncJobs = jobs.filter(j => j.group != null && j.group.startsWith("sync-"))
    val compareJobs = syncJobs.filter(_.span == null)

    // per table sync: decorated spans + the union of the runner's own job
    // intervals, against the report's total
    val perSync = c.reports.map { r =>
      val own = spans.filter(_.key == r.table)
      val cmp = unionS(compareJobs.filter(_.group == s"sync-${r.table}")
        .map(j => (j.startMs.toDouble, j.endMs.toDouble)))
      (r, own, cmp)
    }
    val compareS = perSync.map(_._3).sum
    val attributed = perSync.map { case (_, own, cmp) => own.map(_.durS).sum + cmp }.sum
    val total = c.reports.map(_.metrics.totalSec).sum
    val compacting = perSync.collect { case (r, own, _) if own.exists(compacts.contains) =>
      r.metrics.totalSec }
    val incremental = perSync.collect { case (r, own, _)
      if !own.exists(compacts.contains) && r.mode.toString == "Incremental" => r.metrics.totalSec }
    val stalls = if (incremental.isEmpty) Nil else compacting.map(_ - median(incremental))
    val syncs = c.reports.size
    val solo = Map(
      "source.read_mb" -> soloReadBytes(byName("source.load"), spans, jobs),
      "lake.read_mb" -> soloReadBytes(reads, spans, jobs),
      "lake.append_read_mb" -> soloReadBytes(appends, spans, jobs),
      "lake.compact_read_mb" -> soloReadBytes(compacts, spans, jobs))
    val written = (ss: Seq[Span]) => ss.map(_.extra("written_bytes").asInstanceOf[Long]).sum / MB

    overwrite(spans, jobs) ++ solo.map { case (k, v) => k -> v / MB } ++ Map(
      "run.pool_idle_frac" -> (1 - total / (workers * c.wallS)),
      "run.jobs_per_table_sync" -> syncJobs.size.toDouble / math.max(1, syncs),
      "run.table_syncs" -> syncs.toDouble,
      "source.load_s" -> byName("source.load").map(_.durS).sum,
      "source.load_jobs" -> jobsOf(jobs, byName("source.load")).size.toDouble,
      "lake.read_s" -> reads.map(_.durS).sum,
      "lake.read_jobs" -> jobsOf(jobs, reads).size.toDouble,
      "lake.read_calls" -> byName("lake.read").size.toDouble,
      "lake.read_pending_commits" -> (if (byName("lake.read").isEmpty) 0.0
        else byName("lake.read").map(pend(_, "pending")).sum.toDouble / byName("lake.read").size),
      "compare.s" -> compareS,
      "compare.jobs" -> compareJobs.size.toDouble,
      "compare.task_cpu_s" -> cpuS(compareJobs),
      "compare.shuffle_mb" -> shuffleMb(compareJobs),
      "lake.append_s" -> appends.map(_.durS).sum,
      "lake.append_jobs" -> jobsOf(jobs, appends).size.toDouble,
      "lake.append_count" -> appends.size.toDouble,
      "lake.append_mb_written" -> written(appends),
      "lake.compact_s" -> compacts.map(_.durS).sum,
      "lake.compact_jobs" -> jobsOf(jobs, compacts).size.toDouble,
      "lake.compact_count" -> compacts.size.toDouble,
      "lake.compact_mb_written" -> written(compacts),
      "lake.compact_stall_s" -> (if (stalls.isEmpty) 0.0 else stalls.sum / stalls.size),
      "spark.jobs" -> jobs.size.toDouble,
      "spark.tasks" -> jobs.map(_.tasks).sum.toDouble,
      "spark.task_cpu_s" -> cpuS(jobs),
      "spark.spill_mb" -> spillMb(jobs),
      "jvm.gc_s" -> (c.c1.gcS - c.c0.gcS),
      "trace.unattributed_s" -> (total - attributed),
      "trace.unattributed_frac" -> (if (total > 0) (total - attributed) / total else 0.0),
      "io.read_mb_unattributed" -> (c.c1.rchar - c.c0.rchar - solo.values.sum) / MB)
  }
}
