package graftbench

import graft.SparkEntry
import graft.ext.CacheLease
import org.apache.spark.sql.{Row, SparkSession}
import org.apache.spark.sql.types.StructType

import java.security.MessageDigest
import scala.collection.mutable.ArrayBuffer

/** One operator run: its phases' wall, counters around it, and a digest of
  * its rows. */
final case class OpRun(name: String, constructS: Double, planS: Double, execS: Double,
    releaseS: Double, c0: Counters, c1: Counters, schema: StructType, rows: Seq[Row],
    digest: String, cacheEmpty: Boolean) {
  def wallS: Double = constructS + planS + execS + releaseS
}

/** The LLM-pipeline workload (`corpus_pipeline`): one pass = each listed
  * `SparkEntry.queries` entry built, planned and collected on the generated
  * documents/embeddings, then `CacheLease.releaseAll`. The untimed warm-up
  * pass writes every result as parquet for the DuckDB twin check and fixes
  * the row digest every timed pass must reproduce. */
final class CorpusWorkload(spark: SparkSession, tracer: Tracer, dataDir: String,
    work: String, plan: Seq[Array[String]]) {
  private val ops = plan.filter(_.head == "op").map(_(1))
  val checks = new Checks

  private def timed[T](body: => T): (T, Double) = {
    val t0 = System.nanoTime()
    val r = body
    (r, (System.nanoTime() - t0) / 1e9)
  }

  /** Order-independent digest of a result: rows rendered, sorted, hashed. */
  def digest(rows: Seq[Row]): String = {
    val md = MessageDigest.getInstance("SHA-256")
    rows.map(_.toString).sorted.foreach(r => md.update((r + "\n").getBytes("UTF-8")))
    md.digest().take(8).map(b => f"$b%02x").mkString
  }

  def runOp(name: String): OpRun = {
    val c0 = Counters.now()
    val opId = tracer.newId()
    val startMs = System.currentTimeMillis()
    val sc = spark.sparkContext
    if (tracer.enabled) sc.setLocalProperty(Tracer.SpanProp, opId.toString)
    val (df, constructS) = timed(tracer.span("queries.construct", name, opId)(
      SparkEntry.queries(name)(spark, dataDir)))
    val (_, planS) = timed(tracer.span("queries.plan", name, opId)(df.queryExecution.executedPlan))
    val (rows, execS) = timed(tracer.span("queries.exec", name, opId)(df.collect().toSeq))
    val (_, releaseS) = timed(CacheLease.releaseAll(spark))
    if (tracer.enabled) sc.setLocalProperty(Tracer.SpanProp, null)
    val c1 = Counters.now()
    tracer.record(Span(opId, 0, "ext.op", name, Thread.currentThread().getId, startMs,
      (c1.wallNs - c0.wallNs) / 1e9, c1.rchar - c0.rchar, Map("rows_out" -> rows.size.toLong)))
    val cacheEmpty = CacheLease.leasedCount(spark) == 0 &&
      spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession].sharedState.cacheManager.isEmpty
    Log(f"$name: ${(c1.wallNs - c0.wallNs) / 1e9}%.2fs (construct $constructS%.2f, " +
      f"plan $planS%.2f, exec $execS%.2f)")
    OpRun(name, constructS, planS, execS, releaseS, c0, c1, df.schema, rows, digest(rows),
      cacheEmpty)
  }

  private def layers(runs: Seq[OpRun]): Map[String, Double] = {
    val MB = 1024.0 * 1024.0
    val spans = tracer.allSpans
    val jobs = tracer.allJobs
    val byName = spans.groupBy(_.name).withDefaultValue(Nil)
    def jobsOf(ss: Seq[Span]) = {
      val ids = ss.map(_.id.toString).toSet
      jobs.filter(j => j.span != null && ids.contains(j.span))
    }
    val perOp = runs.flatMap { r =>
      val mine = spans.filter(_.key == r.name)
      val js = jobsOf(mine)
      val p = s"ext.${r.name}"
      Seq(s"$p.s" -> r.wallS, s"$p.task_cpu_s" -> js.map(_.cpuNs).sum / 1e9,
        s"$p.shuffle_mb" -> js.map(_.shuffleWriteBytes).sum / MB,
        s"$p.spill_mb" -> js.map(_.spillBytes).sum / MB,
        s"$p.rows_out" -> r.rows.size.toDouble)
    }
    val phases = Seq("construct", "plan", "exec").flatMap { ph =>
      val ss = byName(s"queries.$ph")
      Seq(s"queries.${ph}_s" -> ss.map(_.durS).sum,
        s"queries.${ph}_jobs" -> jobsOf(ss).size.toDouble,
        s"queries.${ph}_read_mb" -> Layers.soloReadBytes(ss, spans, jobs) / MB)
    }.toMap
    val attributed = Seq("construct", "plan", "exec").map(ph => phases(s"queries.${ph}_s")).sum
    val wall = runs.map(_.wallS).sum
    val readTotal = runs.map(r => r.c1.rchar - r.c0.rchar).sum
    val readAttributed = Seq("construct", "plan", "exec")
      .map(ph => phases(s"queries.${ph}_read_mb")).sum
    perOp.toMap ++ phases ++ Map(
      "queries.release_s" -> runs.map(_.releaseS).sum,
      "spark.jobs" -> jobs.size.toDouble,
      "spark.tasks" -> jobs.map(_.tasks).sum.toDouble,
      "spark.task_cpu_s" -> jobs.map(_.cpuNs).sum / 1e9,
      "spark.spill_mb" -> jobs.map(_.spillBytes).sum / MB,
      "jvm.gc_s" -> runs.map(r => r.c1.gcS - r.c0.gcS).sum,
      "trace.unattributed_s" -> (wall - attributed),
      "trace.unattributed_frac" -> (if (wall > 0) (wall - attributed) / wall else 0.0),
      "io.read_mb_unattributed" -> (readTotal / MB - readAttributed))
  }

  private def opJson(r: OpRun): Map[String, Any] = r.c0.delta(r.c1) ++ Map(
    "name" -> r.name, "s" -> r.wallS, "construct_s" -> r.constructS, "plan_s" -> r.planS,
    "exec_s" -> r.execS, "release_s" -> r.releaseS, "rows" -> r.rows.size,
    "digest" -> r.digest)

  def run(seconds: Double, trace: Boolean, sessionS: Double): Map[String, Any] = {
    // untimed warm-up pass, booked into set-up; its results are the ones
    // checked against the DuckDB twins
    val warm = ops.map { name =>
      val r = runOp(name)
      checks.expect(s"warm-up $name cache released", r.cacheEmpty)
      spark.createDataFrame(java.util.Arrays.asList(r.rows: _*), r.schema)
        .coalesce(1).write.parquet(s"$work/out/$name")
      r
    }
    val reference = warm.map(r => r.name -> r.digest).toMap
    Fs.write(s"$work/out/oracle_sql.json",
      Json.render(ops.map(n => n -> SparkEntry.oracleSql(n)).toMap))

    val passes = ArrayBuffer.empty[Map[String, Any]]
    var timedS = 0.0
    while (timedS < seconds || (trace && passes.size < 4)) {
      val traced = trace && passes.size % 2 == 0
      if (traced) tracer.start()
      val runs = ops.map(runOp)
      if (traced) tracer.stop()
      runs.foreach { r =>
        checks.expect(s"pass ${passes.size + 1} ${r.name} rows", r.digest == reference(r.name))
        checks.expect(s"pass ${passes.size + 1} ${r.name} cache released", r.cacheEmpty)
      }
      timedS += runs.map(_.wallS).sum
      Log(f"pass ${passes.size + 1}: ${runs.map(_.wallS).sum}%.2fs")
      val ls = if (traced) layers(runs) else Map.empty[String, Double]
      tracer.archive(tracer.allSpans)
      tracer.clear()
      passes += Map("traced" -> traced, "wall_s" -> runs.map(_.wallS).sum,
        "ops" -> runs.map(opJson), "layers" -> ls)
    }
    Map(
      "session_s" -> sessionS,
      "setups_s" -> Seq(warm.map(_.wallS).sum),
      "warmup_ops" -> warm.map(opJson),
      "units" -> passes.toSeq,
      "peak_disk_bytes" -> Fs.bytes(work),
      "checks" -> checks.json)
  }
}
