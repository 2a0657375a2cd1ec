package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.model.{ChangeClass, ComparisonContext, SyncMode}
import graft.sync._

/** Shared session for Spark-backed suites (one per JVM). */
object TestSpark {
  lazy val spark: SparkSession = {
    val s = graft.run.Sessions.local(4)
    // plan-shape specs match on full PushedFilters in plan strings
    s.conf.set("spark.sql.maxMetadataStringLength", "2000")
    s.sparkContext.setLogLevel("ERROR")
    s
  }

  /** The general (tier-3) changeset with its threshold kept in-plan, as the
    * oracle-checked lake queries build it. */
  def incrementalChangeSet(source: DataFrame, control: DataFrame, target: DataFrame,
      sourceMark: Long, targetMark: Long): Apply.ChangeSet = {
    val flags = Apply.incrementalFlags(control, target, lit(sourceMark), lit(targetMark))
    Apply.changeSet(source, flags, Apply.fetchThreshold(flags, lit(sourceMark)))
  }
}

/** Classification + merge semantics on hand-built rows — the delta-comparison
  * checklist from DeltaComparison_ImplementationPlan_v2.md:1292-1334. */
class ClassifySpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  import spark.implicits._

  private val ts = java.sql.Timestamp.valueOf("2024-01-01 00:00:00")
  private val ts2 = java.sql.Timestamp.valueOf("2024-02-01 00:00:00")

  // (RecId, RECVERSION, CREATEDDATETIME, MODIFIEDDATETIME)
  private def frame(rows: Seq[(Long, Int, java.sql.Timestamp, java.sql.Timestamp)]): DataFrame =
    rows.toDF("RecId", "RECVERSION", "CREATEDDATETIME", "MODIFIEDDATETIME")

  private val fullCtx = ComparisonContext(true, true, true)

  private def classMap(df: DataFrame): Map[Long, String] =
    df.collect().map(r => r.getAs[Long]("RecId") -> r.getAs[String]("change_type")).toMap

  test("NEW / DELETED / MODIFIED / UNCHANGED partitioning") {
    val src = frame(Seq((1L, 1, ts, ts), (2L, 2, ts, ts2), (4L, 1, ts, ts)))
    val tgt = frame(Seq((1L, 1, ts, ts), (2L, 1, ts, ts), (3L, 1, ts, ts)))
    val m = classMap(Classify.classify(src, tgt, fullCtx))
    assert(m == Map(
      1L -> ChangeClass.Unchanged,
      2L -> ChangeClass.Modified, // RECVERSION 2 vs 1
      3L -> ChangeClass.Deleted,
      4L -> ChangeClass.New))
  }

  test("columnDrift counts null-safe per-column differences over matched keys only") {
    val src = frame(Seq((1L, 1, ts, ts), (2L, 2, ts, ts2), (4L, 1, ts, ts)))
    val tgt = frame(Seq((1L, 1, ts, ts), (2L, 1, ts, ts), (3L, 1, ts, ts)))
    val got = Classify.columnDrift(src, tgt, "RecId",
        Seq("RECVERSION", "MODIFIEDDATETIME"))
      .collect().map(r => r.getString(0) -> (r.getLong(1), r.getLong(2))).toMap
    // matched keys: 1 (equal) and 2 (RECVERSION 2≠1, MODIFIED ts2≠ts)
    assert(got == Map(
      "RECVERSION" -> (1L, 2L),
      "MODIFIEDDATETIME" -> (1L, 2L)))
  }

  test("NULL==NULL datetime is a match; NULL vs value is not (AxDbDataService.cs:872-886)") {
    val src = spark.createDataFrame(
      spark.sparkContext.parallelize(Seq(
        org.apache.spark.sql.Row(1L, 1, null, null),
        org.apache.spark.sql.Row(2L, 1, ts, null))),
      frame(Seq((1L, 1, ts, ts))).schema)
    val tgt = spark.createDataFrame(
      spark.sparkContext.parallelize(Seq(
        org.apache.spark.sql.Row(1L, 1, null, null),
        org.apache.spark.sql.Row(2L, 1, ts, ts))),
      frame(Seq((1L, 1, ts, ts))).schema)
    val m = classMap(Classify.classify(src, tgt, fullCtx))
    assert(m(1L) == ChangeClass.Unchanged) // NULL == NULL
    assert(m(2L) == ChangeClass.Modified)  // NULL vs ts
  }

  test("RECVERSION=1 fallback without datetime columns (AxDbDataService.cs:801-814)") {
    val src = Seq((1L, 1), (2L, 1), (3L, 5)).toDF("RecId", "RECVERSION")
    val tgt = Seq((1L, 1), (2L, 1), (3L, 5)).toDF("RecId", "RECVERSION")
    // stored max RecId = 1: key 1 → UNCHANGED, key 2 (beyond mark, both =1)
    // → MODIFIED, key 3 (equal non-1 versions) → UNCHANGED
    val ctx = ComparisonContext(true, false, false, storedMaxRecId = Some(1L))
    val m = classMap(Classify.classify(src, tgt, ctx))
    assert(m == Map(1L -> ChangeClass.Unchanged, 2L -> ChangeClass.Modified,
      3L -> ChangeClass.Unchanged))
  }

  test("S4 probe: effective context is the intersection of both schemas (AxDbDataService.cs:674-689)") {
    val ctx = ComparisonContext.fromSchemas(
      Seq("RecId", "RECVERSION", "CREATEDDATETIME", "MODIFIEDDATETIME"),
      Seq("RECID", "recversion", "MODIFIEDDATETIME"),
      storedMaxRecId = Some(7L))
    assert(ctx == ComparisonContext(hasRecVersion = true, hasCreated = false,
      hasModified = true, storedMaxRecId = Some(7L)))
    assert(ComparisonContext.fromSchemas(Seq("RecId"), Seq("RecId")).comparisonEnabled == false)
  }

  test("no comparison columns at all: every matched row MODIFIED (AxDbDataService.cs:704-710)") {
    val src = Seq((1L, 1), (2L, 1)).toDF("RecId", "RECVERSION")
    val tgt = Seq((1L, 1)).toDF("RecId", "RECVERSION")
    val ctx = ComparisonContext(hasRecVersion = false, hasCreated = false, hasModified = false)
    val m = classMap(Classify.classify(src, tgt, ctx))
    assert(m == Map(1L -> ChangeClass.Modified, 2L -> ChangeClass.New))
  }
}

class ApplySpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  import spark.implicits._

  // (RecId, SysRowVersion, payload)
  private def t(rows: Seq[(Long, Long, String)]): DataFrame =
    rows.toDF("RecId", "SysRowVersion", "payload")

  private def contents(df: DataFrame): Set[(Long, Long, String)] =
    df.select("RecId", "SysRowVersion", "payload").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getString(2))).toSet

  test("incremental merge: deletes + missing reinsert converge target to source") {
    // marks at 100; key 1 unchanged, key 2 changed in source, key 3 deleted
    // at source, key 4 new in source, key 5 locally mutated in target
    val source = t(Seq((1L, 10L, "a"), (2L, 150L, "b2"), (4L, 160L, "d"), (5L, 50L, "e")))
    val control = source.select("RecId", "SysRowVersion")
    val target = t(Seq((1L, 10L, "a"), (2L, 20L, "b"), (3L, 30L, "c"), (5L, 170L, "e-dirty")))
    val out = Apply.applyIncremental(source, control, target, 100L, 100L)
    assert(contents(out) == contents(source))
  }

  test("changeset: tombstones and inserts are minimal") {
    val source = t(Seq((1L, 10L, "a"), (2L, 150L, "b2")))
    val control = source.select("RecId", "SysRowVersion")
    val target = t(Seq((1L, 10L, "a"), (2L, 20L, "b"), (9L, 5L, "gone")))
    val cs = TestSpark.incrementalChangeSet(source, control, target, 100L, 100L)
    assert(cs.deleteKeys.as[Long].collect().toSet == Set(2L, 9L))
    assert(contents(cs.inserts) == Set((2L, 150L, "b2")))
  }

  test("standard merge via classification keeps unchanged target rows") {
    val ts = java.sql.Timestamp.valueOf("2024-01-01 00:00:00")
    val src = Seq((1L, 1, ts, "s1"), (2L, 2, ts, "s2"))
      .toDF("RecId", "RECVERSION", "MODIFIEDDATETIME", "payload")
    val tgt = Seq((1L, 1, ts, "t1"), (2L, 1, ts, "t2"))
      .toDF("RecId", "RECVERSION", "MODIFIEDDATETIME", "payload")
    val ctx = ComparisonContext(true, false, true)
    val out = Apply.applyStandard(Classify.classify(src, tgt, ctx), tgt)
    val m = out.select("RecId", "payload").as[(Long, String)].collect().toMap
    assert(m == Map(1L -> "t1", 2L -> "s2")) // unchanged keeps target row
  }

  test("windowed standard: DELETE WHERE RecId >= min(window) then insert (AxDbDataService.cs:473-483)") {
    val window = t(Seq((10L, 1L, "w10"), (11L, 1L, "w11")))
    val target = t(Seq((5L, 1L, "old5"), (10L, 1L, "old10"), (12L, 1L, "old12")))
    val out = Apply.applyWindowStandard(window, target)
    assert(contents(out) == Set((5L, 1L, "old5"), (10L, 1L, "w10"), (11L, 1L, "w11")))
  }

  test("update-only fast tier == general incremental when key sets match (tier-2 equivalence)") {
    // equal key sets, 2 of 6 rows version-bumped at source, no local edits
    val source = t((1L to 6L).map(i =>
      if (i % 3 == 0) (i, i + 1000L, s"new$i") else (i, i, s"old$i")))
    val control = source.select("RecId", "SysRowVersion")
    val target = t((1L to 6L).map(i => (i, i, s"old$i")))
    val mark = 6L
    val fast = Apply.updateOnlyChangeSet(source, mark)
    val general = TestSpark.incrementalChangeSet(source, control, target, mark, mark)
    assert(fast.deleteKeys.as[Long].collect().toSet ==
      general.deleteKeys.as[Long].collect().toSet)
    assert(contents(fast.inserts) == contents(general.inserts))
    // and applying the fast changeset converges target to source
    val applied = target
      .join(fast.deleteKeys, Seq("RecId"), "left_anti")
      .unionByName(fast.inserts.select(target.columns.map(col): _*))
    assert(contents(applied) == contents(source))
  }

  test("windowed standard: EMPTY window is a no-op, not a target wipe (ADVICE r1)") {
    val window = t(Seq.empty)
    val target = t(Seq((5L, 1L, "old5"), (10L, 1L, "old10")))
    val out = Apply.applyWindowStandard(window, target)
    assert(contents(out) == contents(target))
  }

  test("parquet round trip of a merge (lake sink)") {
    val dir = java.nio.file.Files.createTempDirectory("graft_apply").toString
    val source = t(Seq((1L, 10L, "a"), (2L, 150L, "b2")))
    Apply.writeLake(Apply.applyTruncate(source, Seq("RecId", "SysRowVersion", "payload")), dir + "/out")
    assert(contents(spark.read.parquet(dir + "/out")) == contents(source))
  }
}

class PlannerSpec extends AnyFunSuite {
  import graft.sync.Planner._

  test("cost-model thresholds (CopyOrchestrator.cs:884-914)") {
    // 5% changes → INCREMENTAL
    assert(decide(ChangeStats(1000, 1000, 50, 0)) == SyncMode.Incremental)
    // 40% changes → TRUNCATE (>= comparison)
    assert(decide(ChangeStats(1000, 1000, 400, 0)) == SyncMode.Truncate)
    // 40% excess → TRUNCATE
    assert(decide(ChangeStats(1000, 1400, 0, 0)) == SyncMode.Truncate)
  }

  test("negative excess never triggers truncate (CopyOrchestrator.cs:889-894)") {
    assert(decide(ChangeStats(1000, 400, 50, 600)) == SyncMode.Incremental)
  }

  test("perfect sync short-circuits to NOOP (CopyOrchestrator.cs:1003-1046)") {
    assert(decide(ChangeStats(1000, 1000, 0, 0)) == SyncMode.Noop)
  }

  test("empty source window → 100% change → TRUNCATE") {
    assert(decide(ChangeStats(0, 10, 0, 0)) == SyncMode.Truncate)
  }

  test("checksum probe: in-sync detected shuffle-free; any difference falls through (O5 fast path)") {
    val spark = TestSpark.spark
    import spark.implicits._
    val a = Seq((1L, 10L), (2L, 20L), (3L, 30L)).toDF("RecId", "SysRowVersion")
    val same = Seq((3L, 30L), (1L, 10L), (2L, 20L)).toDF("RecId", "SysRowVersion")
    assert(probe(a, same, sourceMark = 100L, targetMark = 100L).inSync)
    val verChanged = Seq((1L, 10L), (2L, 21L), (3L, 30L)).toDF("RecId", "SysRowVersion")
    val keyMissing = Seq((1L, 10L), (2L, 20L)).toDF("RecId", "SysRowVersion")
    // same count + same keys, version differs: pairs differ, keys match —
    // the update-only tier's signature
    val pu = probe(a, verChanged, 100L, 100L)
    assert(!pu.inSync && pu.keysInSync && pu.localMut == 0)
    // missing key: neither pair nor key checksums match
    val pm = probe(a, keyMissing, 100L, 100L)
    assert(!pm.inSync && !pm.keysInSync)
    // local mutation: target versions above the target mark are counted
    assert(probe(a, verChanged, 100L, targetMark = 20L).localMut == 2)
    val p = probe(verChanged, verChanged, sourceMark = 20L, targetMark = 100L)
    assert(!p.inSync && p.changed == 2) // changed-vs-mark trips even when sides match
    assert(p.maxVersion.contains(30L) && p.maxKey.contains(3L))
  }

  test("changeStats counts via single-pass join") {
    val spark = TestSpark.spark
    import spark.implicits._
    val control = Seq((1L, 10L), (2L, 150L), (4L, 160L))
      .toDF("RecId", "SysRowVersion")
    val targetKeys = Seq((1L, 10L), (2L, 20L), (3L, 30L)).toDF("RecId", "SysRowVersion")
    val st = ChangeStats.fromRow(
      Apply.incrementalFlags(control, targetKeys, lit(100L), lit(100L))
        .agg(ChangeStats.columns.head, ChangeStats.columns.tail: _*).head())
    assert(st == ChangeStats(sourceWindow = 3, targetCount = 3, changed = 2, missing = 1))
  }
}

class ExtractSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  import spark.implicits._

  test("top-N by key desc plans TakeOrderedAndProject (no full sort)") {
    val df = (1L to 100L).toDF("RecId")
    val top = Extract.topNByKey(df, 10)
    assert(top.as[Long].collect().toSeq == (91L to 100L).reverse)
    val plan = top.queryExecution.executedPlan.toString
    assert(plan.contains("TakeOrderedAndProject"), plan)
  }

  test("delta fetch uses >= on both bounds (over-fetch, SURVEY §7.3.4)") {
    val df = Seq((1L, 100L), (2L, 200L), (3L, 300L)).toDF("RecId", "SysRowVersion")
    val got = Extract.deltaFetch(df, threshold = 200L, minRecId = 2L, n = 10)
      .select("RecId").as[Long].collect().toSet
    assert(got == Set(2L, 3L))
  }

  test("top-N with n >= Int.MaxValue: whole table passes through, never a silent truncation") {
    val df = (1L to 100L).toDF("RecId")
    assert(Extract.topNByKey(df, Long.MaxValue).count() == 100)
    intercept[IllegalArgumentException] { Extract.topNByKey(df, 0) }
  }
}

class PlannerQuerySpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  import spark.implicits._

  test("MakeScaledData invariants: N× rows, RecId-unique and magnitude-" +
      "stable (partkey shift), copy-0 text verbatim, other copies salted") {
    import org.apache.spark.sql.functions._
    val src = "/root/testdata/sf0.001"
    val out = java.nio.file.Files.createTempDirectory("graft_scaled").toString
    graft.tools.MakeScaledData.write(spark, src, out, n = 3)
    val li0 = spark.read.parquet(s"$src/lineitem.parquet")
    val li = spark.read.parquet(s"$out/lineitem.parquet")
    assert(li.count() == 3 * li0.count())
    def recId(df: org.apache.spark.sql.DataFrame) = df.select(
      (((col("l_orderkey") * 8 + col("l_linenumber")) * 262144L
        + col("l_partkey")) * 2048L + col("l_suppkey")).as("rid"))
    // sf0.001 carries ONE duplicate 4-tuple (TESTDATA note) — the scaled
    // copy must not ADD collisions beyond 3x that known pair
    val dup0 = li0.count() - recId(li0).distinct().count()
    assert(li.count() - recId(li).distinct().count() == 3 * dup0)
    // partkey stays inside the RecId component bound; magnitude unchanged
    assert(li.agg(max("l_partkey")).head.getLong(0) < 262144L)
    assert(recId(li).agg(max(col("rid"))).head.getLong(0) ==
      recId(li0).agg(max(col("rid"))).head.getLong(0) +
        2 * graft.tools.MakeScaledData.PartStride * 2048L)
    val docs0 = spark.read.parquet(s"$src/documents.parquet")
    val docs = spark.read.parquet(s"$out/documents.parquet")
    assert(docs.count() == 3 * docs0.count())
    assert(docs.select("doc_id").distinct().count() == docs.count())
    // copy 0 verbatim: original texts are a subset; salted copies differ
    assert(docs.join(docs0.select(col("text")), Seq("text"), "left_semi")
      .count() >= docs0.count())
    assert(docs.filter(col("text").endsWith(" zc1")).count() == docs0.count())
  }
}
