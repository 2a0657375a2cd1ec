package graft.tools

import org.apache.spark.sql.functions._
import graft.sync._

/** Scenario micro-profiler: times each piece of the bench scenarios
  * separately so regressions are attributable (dev tool, not driver-run). */
object ScnProfile {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val copies = sys.env.getOrElse("SPARK_GRAFT_SCN_COPIES", "3").toInt
    // Bench's own session: the profile splits the scenarios Bench times
    val spark = graft.run.Sessions.local(graft.run.Sessions.cpus)

    val tmp = sys.env.getOrElse("SPARK_GRAFT_PROF_DIR",
      java.nio.file.Files.createTempDirectory("graft_prof").toString)
    val bigBase = SyncFixtures.replicate(SyncFixtures.base(spark, sfDir), copies)
    val nPart = graft.run.Sessions.cpus
    def time[A](label: String)(f: => A): A = {
      val t0 = System.nanoTime(); val r = f
      println(f"PROF $label%-28s ${(System.nanoTime() - t0) / 1e9}%.3f s"); r
    }
    val mark0 = bigBase.agg(max(col("RecId"))).head().getLong(0)
    if (!new java.io.File(s"$tmp/src").exists) {
      time("write src (clustered)") {
        SyncFixtures.clusterByVersion(
            SyncFixtures.updatesOnlyFrom(bigBase), nPart, mark0)
          .write.parquet(s"$tmp/src")
      }
      time("write perf") {
        SyncFixtures.perfectFrom(bigBase).repartition(nPart).write.parquet(s"$tmp/perf")
      }
    }
    val srcT = spark.read.parquet(s"$tmp/src")
    val perfT = spark.read.parquet(s"$tmp/perf")
    def ctl(df: org.apache.spark.sql.DataFrame) = df.select("RecId", "SysRowVersion")
    val mark = bigBase.agg(max(col("RecId"))).head().getLong(0)

    (1 to 3).foreach { i =>
      time(s"probe perf/perf #$i") {
        require(Planner.probe(ctl(perfT), ctl(perfT), mark, mark).inSync)
      }
    }
    (1 to 3).foreach { i =>
      time(s"probe src/perf #$i") {
        require(Planner.probe(ctl(srcT), ctl(perfT), mark, mark).keysInSync)
      }
    }
    (1 to 3).foreach { i =>
      time(s"changedKeys count #$i") {
        println("  changed=" + ctl(srcT).filter(col("SysRowVersion") > mark).count())
      }
    }
    def osSync(): Unit = { new ProcessBuilder("sync").start().waitFor(); () }
    (1 to 3).foreach { i =>
      osSync()
      val cs = Apply.updateOnlyChangeSet(srcT, mark)
      time(s"  deletes write #$i") {
        cs.deleteKeys.write.mode("overwrite").parquet(s"$tmp/incr/deletes")
      }
      time(s"  inserts write #$i") {
        cs.inserts.write.mode("overwrite").parquet(s"$tmp/incr/inserts")
      }
    }
    (1 to 3).foreach { i =>
      osSync()
      time(s"updateOnly commit #$i") {
        val cs = Apply.updateOnlyChangeSet(srcT, mark)
        Apply.writeChangeSet(cs, s"$tmp/incr")
      }
    }
    (1 to 2).foreach { i =>
      osSync()
      time(s"full reload #$i") {
        srcT.write.mode("overwrite").parquet(s"$tmp/full")
      }
    }
    val cs = Apply.updateOnlyChangeSet(srcT, mark)
    println(cs.inserts.queryExecution.executedPlan.toString.linesIterator
      .filter(l => l.contains("FileScan") || l.contains("Join") || l.contains("Exchange"))
      .mkString("\n"))
    spark.stop()
  }
}
