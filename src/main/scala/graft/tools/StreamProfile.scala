package graft.tools

import org.apache.spark.sql.streaming.StreamingQueryListener

/** Per-micro-batch decomposition of a declared STREAMING query (VERDICT
  * r15 #6): attaches a StreamingQueryListener and prints every batch's
  * `durationMs` map (addBatch / getBatch / latestOffset / queryPlanning /
  * walCommit / commitOffsets / triggerExecution) plus the state-operator
  * metrics (commit time, memory, rows), so "state-store checkpointing vs
  * per-batch planning vs data work" is measured instead of guessed — the
  * same evidence discipline the r13-r14 scenario decompositions used.
  *
  * Usage: runMain graft.tools.StreamProfile <sfDir> <q1,q2,...>
  */
object StreamProfile {
  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.1")
    val names =
      if (args.length > 1) args(1).split(",").map(_.trim).filter(_.nonEmpty).toSeq
      else Seq("q_stream_assign")
    val spark = graft.run.Sessions.local(graft.run.Sessions.cpus)

    val progresses =
      scala.collection.mutable.ArrayBuffer.empty[(String, String)]
    @volatile var current = ""
    spark.streams.addListener(new StreamingQueryListener {
      override def onQueryStarted(
          e: StreamingQueryListener.QueryStartedEvent): Unit = ()
      override def onQueryProgress(
          e: StreamingQueryListener.QueryProgressEvent): Unit =
        progresses.synchronized { progresses += ((current, e.progress.json)) }
      override def onQueryTerminated(
          e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
    })

    names.foreach { name =>
      graft.SparkEntry.queries.get(name) match {
        case None => System.err.println(s"[streamprof] unknown query: $name")
        case Some(fn) =>
          current = name
          val t0 = System.nanoTime()
          val n = fn(spark, sfDir).count()
          val wall = (System.nanoTime() - t0) / 1e9
          // listener events are delivered async — drain before reporting
          Thread.sleep(2000)
          println(f"[streamprof] $name: rows=$n wall=$wall%.2f s")
          progresses.synchronized {
            progresses.filter(_._1 == name).zipWithIndex.foreach {
              case ((_, json), i) => println(s"[streamprof] $name batch[$i] $json")
            }
          }
          graft.ext.CacheLease.releaseAll(spark)
          spark.catalog.clearCache()
      }
    }
    spark.stop()
  }
}
