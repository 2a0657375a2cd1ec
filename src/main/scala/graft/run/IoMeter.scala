package graft.run

import org.apache.spark.SparkContext
import org.apache.spark.scheduler.{SparkListener, SparkListenerTaskEnd}
import java.util.concurrent.atomic.AtomicLong

/** Task-level accounting (D8 metrics, made cluster-truthful): sums
  * executor input/output/shuffle bytes, executor CPU time and spilled bytes
  * across all tasks. The bytes are the evidence for the control-pass
  * bargain — wall-clock on local NVMe flattens I/O ratios that a WAN or a
  * 1000-executor scan pays in full, but bytes read/written are
  * scale-invariant. Task CPU and spill decompose a draw's process CPU.
  */
final class IoMeter private () extends SparkListener {
  private val read = new AtomicLong
  private val written = new AtomicLong
  private val shuffled = new AtomicLong
  private val taskCpu = new AtomicLong
  private val spilled = new AtomicLong

  override def onTaskEnd(t: SparkListenerTaskEnd): Unit = {
    val m = t.taskMetrics
    if (m != null) {
      read.addAndGet(m.inputMetrics.bytesRead)
      written.addAndGet(m.outputMetrics.bytesWritten)
      shuffled.addAndGet(m.shuffleWriteMetrics.bytesWritten)
      taskCpu.addAndGet(m.executorCpuTime)
      spilled.addAndGet(m.memoryBytesSpilled + m.diskBytesSpilled)
    }
  }

  /** Executor CPU nanoseconds so far — a raw read, no settle-wait: events
    * are bus-asynchronous, so a delta is ~exact over a multi-second block
    * and advisory for a sub-second one. */
  def taskCpuNanos: Long = taskCpu.get

  /** Memory + disk spilled bytes so far (raw, as [[taskCpuNanos]]). */
  def spilledBytes: Long = spilled.get

  final case class Snapshot(readB: Long, writtenB: Long, shuffledB: Long) {
    def -(o: Snapshot): Snapshot =
      Snapshot(readB - o.readB, writtenB - o.writtenB, shuffledB - o.shuffledB)
    def readMb: Double = readB / 1e6
    def writtenMb: Double = writtenB / 1e6
    def shuffledMb: Double = shuffledB / 1e6
  }

  def snapshot(): Snapshot = {
    // listener events are delivered async (the bus-drain API is
    // private[spark]); settle-wait until counters stop moving
    var prev = (read.get, written.get, shuffled.get)
    var settled = false
    var waited = 0
    while (!settled && waited < 5000) {
      Thread.sleep(100); waited += 100
      val cur = (read.get, written.get, shuffled.get)
      settled = cur == prev
      prev = cur
    }
    Snapshot(read.get, written.get, shuffled.get)
  }

  /** Measure the I/O of one action block. */
  def measure[A](f: => A): (A, Snapshot) = {
    val before = snapshot()
    val r = f
    (r, snapshot() - before)
  }
}

object IoMeter {
  def install(sc: SparkContext): IoMeter = {
    val m = new IoMeter()
    sc.addSparkListener(m)
    m
  }

  /** Bytes a column-pruned scan of `dir` actually fetches from storage: the
    * compressed column-chunk sizes of exactly `cols` (all columns when
    * empty), summed over every row group of every file. Task-level
    * inputMetrics don't attribute vectorized parquet reads on the local
    * filesystem, and `filesSize` ignores pruning — the footer is the
    * ground truth a scan pays per column. */
  def parquetColumnBytes(dir: String, cols: Seq[String] = Nil): Long =
    parquetColumnBytesWhere(dir, cols, None)

  /** Row groups whose footer min/max boxes INTERSECT a 2-D range box —
    * (intersecting, total). The ground truth of multi-dimensional data
    * skipping: a reader with both predicates scans exactly the
    * intersecting groups. Used to measure layout quality (linear sort vs
    * Z-order) without timing noise. */
  def parquetRowGroupsBox(dir: String,
      colA: String, loA: Long, hiA: Long,
      colB: String, loB: Long, hiB: Long): (Int, Int) = {
    // recursive: a value-partitioned layout (ZOrder.layoutQuadrants written
    // with partitionBy) nests its files one directory level down; the
    // footer arithmetic itself lives with the lake layer's stats reader
    // (ParquetStats.rowGroupsBox — one definition, shared with the
    // planner's layout-decay probe)
    def walk(p: String): Seq[String] =
      graft.sync.LakeFs.list(p).flatMap { st =>
        if (st.isDirectory) walk(st.getPath.toString)
        else if (st.getPath.getName.endsWith(".parquet")) Seq(st.getPath.toString)
        else Seq.empty
      }
    graft.sync.ParquetStats.rowGroupsBox(walk(dir), colA, loA, hiA, colB, loB, hiB)
  }

  /** Like [[parquetColumnBytes]], but when `minMax` = (statsCol, threshold)
    * is given, counts ONLY row groups whose statsCol max ≥ threshold — i.e.
    * the bytes a `statsCol >= threshold` scan actually fetches after
    * row-group min/max skipping. This is how the delta-fetch cost is
    * measured honestly on a version-clustered layout: the footer stats ARE
    * the pruning the reader performs. */
  def parquetColumnBytesWhere(
      dir: String, cols: Seq[String] = Nil,
      minMax: Option[(String, Long)] = None): Long = {
    import scala.jdk.CollectionConverters._
    val conf = new org.apache.hadoop.conf.Configuration()
    val wanted = cols.map(_.toLowerCase).toSet
    // scheme-resolved listing (listStatus of a single file returns itself)
    val files = graft.sync.LakeFs.list(dir)
      .filter(st => st.isFile && st.getPath.getName.endsWith(".parquet"))
      .map(_.getPath)
    files.map { p =>
      val in = org.apache.parquet.hadoop.util.HadoopInputFile.fromPath(p, conf)
      val reader = org.apache.parquet.hadoop.ParquetFileReader.open(in)
      try {
        reader.getFooter.getBlocks.asScala
          .filter { b =>
            minMax.forall { case (statsCol, thr) =>
              b.getColumns.asScala
                .find(_.getPath.iterator().next().equalsIgnoreCase(statsCol))
                .forall { c =>
                  val st = c.getStatistics
                  st == null || !st.hasNonNullValue ||
                    (st.genericGetMax match {
                      case l: java.lang.Long => l >= thr
                      case _ => true // non-INT64 stats: assume scanned
                    })
                }
            }
          }
          .flatMap(_.getColumns.asScala)
          .filter(c => wanted.isEmpty ||
            wanted.contains(c.getPath.iterator().next().toLowerCase))
          .map(_.getTotalSize).sum
      } finally reader.close()
    }.sum
  }
}
