package graft.tools

import org.apache.spark.sql.functions._

/** Dev tool: sequence-profile repeated identical multi-GB write+sync
  * iterations to characterize this box's writeback behavior (is the Nth
  * big write faster than the first?). Informs the bench's scenario-timing
  * discipline; not driver-run. */
object WriteSeq {
  def main(args: Array[String]): Unit = {
    val srcPath = sys.env.getOrElse("SPARK_GRAFT_WRITESEQ_SRC",
      "/tmp/graft_scn_cache_v3_6x64_sf0.1/src")
    val iters = sys.env.getOrElse("SPARK_GRAFT_WRITESEQ_ITERS", "5").toInt
    val spark = graft.run.Sessions.local(graft.run.Sessions.cpus)
    // the write sequence is measured reading its source in 128 MB splits;
    // the factory's 4 MB would time a different plan
    spark.conf.set("spark.sql.files.maxPartitionBytes", "134217728")
    val src = spark.read.parquet(srcPath)
    val out = java.nio.file.Files.createTempDirectory("graft_wseq").toString + "/out"
    def rmRec(f: java.io.File): Unit = {
      if (f.isDirectory) Option(f.listFiles).foreach(_.foreach(rmRec))
      f.delete(); ()
    }
    def osSync(): Unit = { new ProcessBuilder("sync").start().waitFor(); () }
    (1 to iters).foreach { i =>
      rmRec(new java.io.File(out))
      src.select(sum(length(col("payload"))), max(col("RecId")),
        max(col("SysRowVersion"))).collect()
      osSync()
      val t0 = System.nanoTime()
      src.write.mode("overwrite").parquet(out)
      osSync()
      println(f"WRITESEQ iter $i: ${(System.nanoTime() - t0) / 1e9}%.1f s")
    }
    rmRec(new java.io.File(out))
    spark.stop()
  }
}
