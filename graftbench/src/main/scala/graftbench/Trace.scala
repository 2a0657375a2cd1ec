package graftbench

import graft.run.{TableApplier, TableSource, VersionPrunableSource}
import graft.sync.{Apply, LakeTable}
import org.apache.spark.scheduler._
import org.apache.spark.sql.{DataFrame, SparkSession}

import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.AtomicLong
import scala.collection.concurrent.TrieMap
import scala.jdk.CollectionConverters._

/** One timed call. `startMs` is epoch millis (comparable with Spark listener
  * event times); `durS` comes from the monotonic clock. */
final case class Span(id: Long, parent: Long, name: String, key: String,
    thread: Long, startMs: Long, durS: Double, readBytes: Long,
    extra: Map[String, Any]) {
  def endMs: Double = startMs + durS * 1000
  def toJson: Map[String, Any] = Map("id" -> id, "parent" -> parent, "name" -> name,
    "key" -> key, "start_ms" -> startMs, "dur_s" -> durS, "read_bytes" -> readBytes) ++ extra
}

/** Spark job as seen by the listener, with its tasks' totals. */
final class JobRec(val id: Int, val span: String, val group: String, val startMs: Long) {
  @volatile var endMs: Long = -1
  @volatile var tasks = 0L
  @volatile var cpuNs = 0L
  @volatile var shuffleWriteBytes = 0L
  @volatile var spillBytes = 0L
}

/** The one listener a traced run registers. Jobs are attributed through
  * their local properties: the span id a timing decorator set on the
  * submitting thread, and the runner's own `sync-<table>` job group. */
final class JobListener extends SparkListener {
  val jobs = TrieMap.empty[Int, JobRec]
  private val stageJob = TrieMap.empty[Int, JobRec]

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    val p = Option(e.properties)
    val rec = new JobRec(e.jobId,
      p.flatMap(x => Option(x.getProperty(Tracer.SpanProp))).orNull,
      p.flatMap(x => Option(x.getProperty("spark.jobGroup.id"))).orNull, e.time)
    jobs.put(e.jobId, rec)
    e.stageIds.foreach(s => stageJob.put(s, rec))
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit =
    jobs.get(e.jobId).foreach(_.endMs = e.time)

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
    for (rec <- stageJob.get(e.stageId); m <- Option(e.taskMetrics)) {
      rec.synchronized {
        rec.tasks += 1
        rec.cpuNs += m.executorCpuTime
        rec.shuffleWriteBytes += m.shuffleWriteMetrics.bytesWritten
        rec.spillBytes += m.diskBytesSpilled
      }
    }
}

/** Span recorder plus listener lifecycle. Disabled, `span` runs its body
  * and nothing else, so untraced units carry no tracing cost. */
final class Tracer(spark: SparkSession) {
  @volatile var enabled = false
  private val ids = new AtomicLong(0)
  private val markers = new AtomicLong(0)
  val spans = new ConcurrentLinkedQueue[Span]()
  val listener = new JobListener

  def start(): Unit = {
    spark.sparkContext.addSparkListener(listener)
    enabled = true
  }

  /** Stop tracing once every event of the finished work has been delivered:
    * a marker job is the last event, so its end means the bus is drained. */
  def stop(): Unit = {
    enabled = false
    val sc = spark.sparkContext
    val tag = s"marker-${markers.incrementAndGet()}"
    sc.setLocalProperty(Tracer.SpanProp, tag)
    try sc.parallelize(Seq(1), 1).count() finally sc.setLocalProperty(Tracer.SpanProp, null)
    val deadline = System.nanoTime() + 60L * 1000 * 1000 * 1000
    while (!listener.jobs.values.exists(j => j.span == tag && j.endMs >= 0) &&
        System.nanoTime() < deadline) Thread.sleep(5)
    sc.removeSparkListener(listener)
  }

  def newId(): Long = ids.incrementAndGet()

  def record(s: Span): Unit = if (enabled) spans.add(s)

  def span[T](name: String, key: String, parent: Long = 0,
      extra: () => Map[String, Any] = () => Map.empty)(body: => T): T =
    if (!enabled) body
    else {
      val sc = spark.sparkContext
      val id = newId()
      val prev = sc.getLocalProperty(Tracer.SpanProp)
      sc.setLocalProperty(Tracer.SpanProp, id.toString)
      val r0 = Proc.rchar()
      val startMs = System.currentTimeMillis()
      val t0 = System.nanoTime()
      try body
      finally {
        val dur = (System.nanoTime() - t0) / 1e9
        val read = Proc.rchar() - r0
        sc.setLocalProperty(Tracer.SpanProp, prev)
        spans.add(Span(id, parent, name, key, Thread.currentThread().getId,
          startMs, dur, read, extra()))
      }
    }

  def allSpans: Seq[Span] = spans.asScala.toSeq
  def allJobs: Seq[JobRec] = listener.jobs.values.toSeq.filterNot(j =>
    j.span != null && j.span.startsWith("marker-"))
  def clear(): Unit = { spans.clear(); listener.jobs.clear() }

  /** Spans of finished traced units, kept until the run writes them out. */
  private val archived = scala.collection.mutable.ArrayBuffer.empty[Span]
  def archive(ss: Seq[Span]): Unit = archived ++= ss
  def writeSpans(path: String): Unit =
    Fs.write(path, archived.map(s => Json.render(s.toJson) + "\n").mkString)
}

object Tracer {
  val SpanProp = "graftbench.span"
}

/** Timing decorator over the source half of the seam. */
class TracedSource(inner: TableSource, table: String, tr: Tracer) extends TableSource {
  def load(spark: SparkSession): DataFrame =
    tr.span("source.load", table)(inner.load(spark))
}

/** A wrapped prunable source stays prunable, so the runner's wide-fetch
  * routing (`wideSource`) takes the same branch it takes unwrapped. */
final class TracedPrunableSource(inner: TableSource with VersionPrunableSource,
    table: String, tr: Tracer) extends TracedSource(inner, table, tr)
    with VersionPrunableSource {
  def loadFromVersion(spark: SparkSession, fromVersion: Long): DataFrame =
    tr.span("source.load", table)(inner.loadFromVersion(spark, fromVersion))
  def prunedVersionCol: String = inner.prunedVersionCol
  def prunedKeyCol: String = inner.prunedKeyCol
}

/** Timing decorator over the applier half of the seam, for a lake target at
  * `path`: reads are tagged with the pending-commit count at call time, and
  * change-set applies that folded commits (the count reset) are compactions. */
final class TracedApplier(inner: TableApplier, table: String, path: String, tr: Tracer)
    extends TableApplier {
  def exists: Boolean = tr.span("lake.exists", table)(inner.exists)

  def current(spark: SparkSession, keyCol: String): DataFrame = {
    val pending = LakeTable.pendingCommits(path)
    tr.span("lake.read", table, extra = () => Map("pending" -> pending))(
      inner.current(spark, keyCol))
  }

  def overwrite(df: DataFrame): Unit = {
    val before = Fs.files(path)
    var written = 0L
    tr.span("lake.overwrite", table, extra = () => Map("written_bytes" -> written)) {
      inner.overwrite(df)
      written = Fs.added(before, Fs.files(path))
    }
  }

  def applyChangeSet(cs: Apply.ChangeSet, spark: SparkSession, keyCol: String): Unit = {
    val before = Fs.files(path)
    val pendingBefore = LakeTable.pendingCommits(path)
    var pendingAfter = 0
    var written = 0L
    tr.span("lake.apply", table, extra = () => Map("pending_before" -> pendingBefore,
        "pending_after" -> pendingAfter, "written_bytes" -> written)) {
      inner.applyChangeSet(cs, spark, keyCol)
      pendingAfter = LakeTable.pendingCommits(path)
      written = Fs.added(before, Fs.files(path))
    }
  }
}

object Traced {
  def source(s: TableSource, table: String, tr: Tracer): TableSource = s match {
    case vp: TableSource with VersionPrunableSource => new TracedPrunableSource(vp, table, tr)
    case other => new TracedSource(other, table, tr)
  }
}
