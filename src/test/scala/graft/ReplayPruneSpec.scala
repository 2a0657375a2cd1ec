package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.sync.{Apply, LakeTable}

/** Scale property: a narrow projection of a LakeTable with pending commits
  * must prune payload columns THROUGH the replay window — otherwise every
  * control pass on a not-yet-compacted table would read full rows. */
class ReplayPruneSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  import spark.implicits._

  test("key+version read of a committed table prunes payload out of every scan") {
    val t = java.nio.file.Files.createTempDirectory("graft_prune").toString + "/t"
    val base = (1L to 1000L).map(i => (i, i, s"payload$i", s"wide$i"))
      .toDF("RecId", "SysRowVersion", "payload", "wide_col")
    LakeTable.overwrite(base, t)
    val src = (1L to 1000L).map(i =>
      if (i % 10 == 0) (i, i + 5000L, s"new$i", s"wide$i") else (i, i, s"payload$i", s"wide$i"))
      .toDF("RecId", "SysRowVersion", "payload", "wide_col")
    LakeTable.appendCommit(
      Apply.updateOnlyChangeSet(src, 1000L), t)

    val kv = LakeTable.read(spark, t).select("RecId", "SysRowVersion")
    val scans = kv.queryExecution.executedPlan.toString
      .linesIterator.filter(_.contains("FileScan")).mkString("\n")
    assert(scans.nonEmpty)
    assert(!scans.contains("payload") && !scans.contains("wide_col"),
      s"replay read must prune payload columns:\n$scans")
    assert(kv.filter(col("SysRowVersion") > 5000L).count() == 100)
  }
}
