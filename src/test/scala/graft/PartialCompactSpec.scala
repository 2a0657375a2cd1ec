package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.sync.{Apply, ChangeLog, LakeFs, LakeTable, ParquetStats}

/** Partial (incremental) compaction — the last O(table) cost in the lake
  * steady state removed (VERDICT r7 #1): commits fold into only the base
  * files their `_stats` key intervals touch; everything else is carried
  * into the new generation BY MANIFEST REFERENCE, byte-identical on disk.
  */
class PartialCompactSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  import spark.implicits._

  private def freshTable(): String =
    java.nio.file.Files.createTempDirectory("graft_pcompact").toString + "/t"

  private def cs(deletes: Seq[Long], inserts: Seq[(Long, String)]): Apply.ChangeSet = {
    val del = deletes.toDF("RecId")
    val ins = inserts.toDF("RecId", "payload")
    Apply.ChangeSet(del, ins, keyFlags = del)
  }

  private def state(t: String): Set[(Long, String)] =
    LakeTable.read(spark, t).select("RecId", "payload")
      .as[(Long, String)].collect().toSet

  /** (base-dir/file-name, length, mtime) of every data file of the current
    * base — identity normalized to the table-relative suffix because plain
    * dir listings come back scheme-qualified while manifest entries do not. */
  private def fileIdentities(t: String): Seq[(String, Long, Long)] = {
    val base = LakeTable.resolve(t).get._1
    LakeTable.baseDataFiles(base).map { p =>
      val st = LakeFs.list(p).head // listStatus of a file returns itself
      (p.split('/').takeRight(2).mkString("/"), st.getLen, st.getModificationTime)
    }
  }

  private def clusteredBase(t: String, n: Long, files: Int): Unit =
    LakeTable.overwriteClustered(
      (1L to n).map(i => (i, s"p$i")).toDF("RecId", "payload"), t,
      nFiles = files)

  test("localized commits compact partially: untouched base files survive " +
      "by identity, state identical to the pre-compact replay") {
    val t = freshTable()
    clusteredBase(t, 1000L, files = 8)
    // drift confined to the hot tail of the key space (the RecId-sequence
    // production shape): updates + an insert + a delete, all in [900, 1100]
    LakeTable.appendCommit(cs(Seq(950L), Seq((950L, "v2"), (1050L, "new"))), t)
    LakeTable.appendCommit(cs(Seq(990L), Seq.empty), t)
    val before = state(t)
    val idsBefore = fileIdentities(t)

    val r = LakeTable.compact(spark, t)
    assert(r.mode == "partial", s"expected partial, got $r")
    assert(r.carriedFiles > 0 && r.carriedFiles >= 6,
      s"a 2-band drift over 8 range-clustered files must carry most: $r")
    assert(LakeTable.pendingCommits(t) == 0, "compact must fold every commit")
    assert(state(t) == before, "compaction must never change the state")

    // untouched files survive at the SAME path with the same bytes/mtime —
    // carried by reference, not rewritten
    val idsAfter = fileIdentities(t).map(f => f._1 -> f).toMap
    val carriedOver = idsBefore.filter(f => idsAfter.contains(f._1))
    assert(carriedOver.size == r.carriedFiles)
    carriedOver.foreach { case (p, len, mtime) =>
      val (_, len2, mtime2) = idsAfter(p)
      assert(len == len2 && mtime == mtime2,
        s"carried file was rewritten in place: $p")
    }
    // and the current read plan actually scans them
    val planned = LakeTable.read(spark, t).inputFiles.toSet
    carriedOver.foreach { case (suffix, _, _) =>
      assert(planned.exists(_.endsWith(suffix)),
        s"carried file missing from the read plan: $suffix")
    }
  }

  test("partial chains: a second localized compaction carries files through " +
      "two generations; GC drops only unreferenced files") {
    val t = freshTable()
    clusteredBase(t, 1000L, files = 8)
    LakeTable.appendCommit(cs(Seq(10L), Seq((10L, "v2"))), t)
    val r1 = LakeTable.compact(spark, t)
    assert(r1.mode == "partial")
    val expected = state(t)
    LakeTable.appendCommit(cs(Seq(999L), Seq((999L, "v3"))), t)
    val r2 = LakeTable.compact(spark, t)
    assert(r2.mode == "partial")
    assert(state(t) == expected - ((999L, "p999")) + ((999L, "v3")))
    // every file the current manifest references must exist
    val base = LakeTable.resolve(t).get._1
    LakeTable.baseDataFiles(base).foreach(p =>
      assert(LakeFs.exists(p), s"referenced file was GC'd: $p"))
  }

  test("scattered commits fall back to a full rewrite, results unchanged") {
    val t = freshTable()
    clusteredBase(t, 1000L, files = 8)
    // genuinely scattered drift: every 13th key — every band of the v2
    // stats is populated, every file intersects
    val touched = (5L to 1000L by 13L).toSeq
    LakeTable.appendCommit(
      cs(touched, touched.map(i => (i, "v2"))), t)
    val before = state(t) // replayed pre-compact
    val r = LakeTable.compact(spark, t)
    assert(r.mode == "full" && r.reason.contains("intersects"), r.toString)
    assert(state(t) == before)
    assert(LakeTable.pendingCommits(t) == 0)

    // the fallback must PRESERVE the clustered layout (a single scattered
    // round must not doom every later compaction to O(table)): the rewritten
    // base carries disjoint ranges again, and a subsequent key-local commit
    // compacts partially
    val base = LakeTable.resolve(t).get._1
    val ranges = LakeTable.baseDataFiles(base)
      .flatMap(p => ParquetStats.fileKeyRange(p, "RecId")).sortBy(_._1)
    assert(ranges.size > 1)
    ranges.lazyZip(ranges.drop(1)).foreach { case ((_, h), (l, _)) =>
      assert(h < l, s"full fallback lost the clustered layout: $ranges")
    }
    LakeTable.appendCommit(cs(Seq(990L), Seq((990L, "v3"))), t)
    val r2 = LakeTable.compact(spark, t)
    assert(r2.mode == "partial" && r2.carriedFiles > 0,
      s"post-fallback table must still compact partially: $r2")
    // 990 is not on the 13-step grid, so its pre-image is the base row
    assert(state(t) == before - ((990L, "p990")) + ((990L, "v3")))
  }

  test("compact's full fallback and compactFull(recluster) rewrite the same " +
      "clustered table alike: same file count, same rows") {
    val a = freshTable()
    clusteredBase(a, 1000L, files = 8)
    val touched = (5L to 1000L by 13L).toSeq
    LakeTable.appendCommit(cs(touched, touched.map(i => (i, "v2"))), a)
    val b = freshTable()
    val src = java.nio.file.Paths.get(a)
    val walk = java.nio.file.Files.walk(src)
    try walk.forEach { p =>
      java.nio.file.Files.copy(p, java.nio.file.Paths.get(b).resolve(src.relativize(p)))
      ()
    } finally walk.close()
    val ra = LakeTable.compact(spark, a)
    assert(ra.mode == "full" && ra.reason.contains("intersects"), ra.toString)
    LakeTable.compactFull(spark, b, recluster = true)
    def files(t: String) = LakeTable.baseDataFiles(LakeTable.resolve(t).get._1)
    assert(files(a).size == files(b).size && files(a).size >= 8)
    assert(state(a) == state(b))
    assert(LakeTable.read(spark, a).count() == 1000L)
  }

  test("compactFull(recluster) turns a never-clustered base into one " +
      "partial compaction can prune") {
    val t = freshTable()
    // plain (unclustered) overwrite: files span overlapping ranges
    LakeTable.overwrite(
      (1L to 1000L).map(i => (i, s"p$i")).toDF("RecId", "payload")
        .repartition(4), t)
    LakeTable.appendCommit(cs(Seq(990L), Seq((990L, "v2"))), t)
    // without reclustering this key-local commit would hit every file
    assert(LakeTable.compact(spark, t).mode == "full")
    LakeTable.appendCommit(cs(Seq(991L), Seq((991L, "v2"))), t)
    assert(LakeTable.compactFull(spark, t, recluster = true, nFiles = 8)
      .foldedCommits == 1)
    val ranges = LakeTable.baseDataFiles(LakeTable.resolve(t).get._1)
      .flatMap(p => ParquetStats.fileKeyRange(p, "RecId")).sortBy(_._1)
    assert(ranges.size == 8)
    ranges.lazyZip(ranges.drop(1)).foreach { case ((_, h), (l, _)) =>
      assert(h < l, s"recluster must yield disjoint ranges: $ranges")
    }
    LakeTable.appendCommit(cs(Seq(992L), Seq((992L, "v3"))), t)
    val r = LakeTable.compact(spark, t)
    assert(r.mode == "partial" && r.carriedFiles >= 6,
      s"reclustered base must compact partially: $r")
    assert(state(t).size == 1000)
    assert(state(t).contains((991L, "v2")) && state(t).contains((992L, "v3")))
  }

  test("a commit without _stats forces the full fallback") {
    val t = freshTable()
    clusteredBase(t, 1000L, files = 8)
    val seq = LakeTable.appendCommit(cs(Seq(950L), Seq.empty), t)
    LakeFs.delete(s"$t/_log/$seq/_stats")
    val r = LakeTable.compact(spark, t)
    assert(r.mode == "full" && r.reason.contains("_stats"), r.toString)
    assert(state(t).size == 999)
  }

  test("schema-changing commits force the full fallback (one schema per base)") {
    val t = freshTable()
    clusteredBase(t, 1000L, files = 8)
    val ins = Seq((950L, "v2", 7L)).toDF("RecId", "payload", "extra")
    LakeTable.appendCommit(
      Apply.ChangeSet(ins.select("RecId"), ins, ins.select("RecId")), t)
    val r = LakeTable.compact(spark, t)
    assert(r.mode == "full" && r.reason.contains("schema"), r.toString)
    val out = LakeTable.read(spark, t)
    assert(out.columns.toSeq == Seq("RecId", "payload", "extra"))
    assert(out.filter(col("extra").isNotNull).count() == 1)
  }

  test("empty pending commits advance the pointer without touching a byte") {
    val t = freshTable()
    clusteredBase(t, 100L, files = 2)
    LakeTable.appendCommit(cs(Seq.empty, Seq.empty), t)
    val idsBefore = fileIdentities(t)
    val r = LakeTable.compact(spark, t)
    assert(r.mode == "pointer-only", r.toString)
    assert(LakeTable.pendingCommits(t) == 0)
    assert(fileIdentities(t) == idsBefore)
    assert(state(t).size == 100)
  }

  test("a carried file outlives the retention of the generation that wrote " +
      "it; a later FULL rewrite finally drops it") {
    val t = freshTable()
    clusteredBase(t, 1000L, files = 8)
    LakeTable.appendCommit(cs(Seq(10L), Seq((10L, "v2"))), t)
    assert(LakeTable.compact(spark, t).mode == "partial")
    val carried = fileIdentities(t).map(_._1)
      .filter(_.startsWith("base-0/")) // original generation files still live
      .map(suffix => s"$t/$suffix")
    assert(carried.nonEmpty)
    // two full overwrites push the manifest generation out of retention
    val snap = LakeTable.read(spark, t)
      .select("RecId", "payload").as[(Long, String)].collect().toSeq
    LakeTable.overwrite(snap.toDF("RecId", "payload"), t)
    assert(carried.forall(LakeFs.exists),
      "previous generation (and its referenced files) must survive one overwrite")
    LakeTable.overwrite(snap.toDF("RecId", "payload"), t)
    assert(carried.forall(p => !LakeFs.exists(p)),
      "files unreferenced by both kept generations must be GC'd")
    assert(state(t).size == 1000)
  }

  test("vacuum drops the retained previous generation NOW: stale base + " +
      "below-horizon commits go, current state intact, idempotent") {
    val t = freshTable()
    LakeTable.overwrite((1L to 100L).map(i => (i, s"p$i")).toDF("RecId", "payload"), t)
    LakeTable.appendCommit(cs(Seq(1L), Seq((1L, "v2"))), t)
    val snap = LakeTable.read(spark, t)
      .select("RecId", "payload").as[(Long, String)].collect().toSeq
    LakeTable.overwrite(snap.toDF("RecId", "payload"), t)
    // auto-GC keeps the previous generation (base-0 + its commit)
    assert(LakeFs.exists(s"$t/base-0"), "one generation retained by auto-GC")
    val before = state(t)
    val n = LakeTable.vacuum(t)
    assert(n > 0, "vacuum must reclaim the retained generation")
    assert(!LakeFs.exists(s"$t/base-0"))
    assert(LakeFs.list(s"$t/_log").isEmpty ||
      LakeFs.list(s"$t/_log").forall(_.getPath.getName.toIntOption.forall(_ >=
        LakeTable.resolve(t).get._2)), "below-horizon commits reclaimed")
    assert(state(t) == before, "current generation untouched")
    assert(LakeTable.vacuum(t) == 0, "second vacuum finds nothing")
  }

  test("vacuum is manifest-aware: files the current base carries BY " +
      "REFERENCE from an older generation dir survive, the rest of that " +
      "dir goes") {
    val t = freshTable()
    clusteredBase(t, 1000L, files = 8)
    LakeTable.appendCommit(cs(Seq(10L), Seq((10L, "v2"))), t)
    assert(LakeTable.compact(spark, t).mode == "partial")
    val carried = fileIdentities(t).map(_._1)
      .filter(_.startsWith("base-0/")).map(suffix => s"$t/$suffix")
    assert(carried.nonEmpty, "partial compaction must carry base-0 files")
    val before = state(t)
    LakeTable.vacuum(t)
    assert(carried.forall(LakeFs.exists),
      "manifest-referenced carried files must survive vacuum")
    assert(state(t) == before)
    // pending commits ABOVE the horizon also survive
    LakeTable.appendCommit(cs(Seq(20L), Seq((20L, "v3"))), t)
    val withCommit = state(t)
    LakeTable.vacuum(t)
    assert(state(t) == withCommit, "pending commits must survive vacuum")
  }

  test("vacuum on a flat (pre-pointer) table is a safe no-op") {
    val dir = java.nio.file.Files.createTempDirectory("graft_vflat").toString + "/t"
    (1L to 50L).map(i => (i, s"p$i")).toDF("RecId", "payload")
      .write.parquet(dir)
    val before = LakeTable.read(spark, dir)
      .select("RecId", "payload").as[(Long, String)].collect().toSet
    assert(LakeTable.vacuum(dir) == 0)
    assert(LakeTable.read(spark, dir)
      .select("RecId", "payload").as[(Long, String)].collect().toSet == before)
  }

  test("key-range reads and commit skipping still work over a manifested base") {
    val t = freshTable()
    clusteredBase(t, 1000L, files = 8)
    LakeTable.appendCommit(cs(Seq(950L), Seq((950L, "v2"))), t)
    assert(LakeTable.compact(spark, t).mode == "partial")
    LakeTable.appendCommit(cs(Seq(10L), Seq((15L, "low"))), t)
    val out = LakeTable.readKeyRange(spark, t, 900L, 1000L)
      .select("RecId", "payload").as[(Long, String)].collect().toSet
    val expected = LakeTable.read(spark, t)
      .filter(col("RecId").between(900L, 1000L))
      .select("RecId", "payload").as[(Long, String)].collect().toSet
    assert(out == expected)
    assert(out.contains((950L, "v2")) && !out.contains((950L, "p950")))
  }

  test("PROPERTY: compaction preserves state exactly across seeded random " +
      "commit histories (localized, scattered, inserts, deletes, chained)") {
    val rnd = new scala.util.Random(20260814L)
    for (trial <- 1 to 4) {
      val t = freshTable()
      val n = 200 + rnd.nextInt(600)
      clusteredBase(t, n.toLong, files = 2 + rnd.nextInt(5))
      (1 to 2 + rnd.nextInt(2)).foreach { _ =>
        // random commit: localized band or scattered; deletes of existing
        // keys, upserts of existing keys, inserts of brand-new keys
        val keys =
          if (rnd.nextBoolean()) {
            val lo = 1 + rnd.nextInt(n); val hi = math.min(n, lo + rnd.nextInt(50))
            (lo.toLong to hi.toLong)
          } else (1 to 20).map(_ => 1L + rnd.nextInt(n))
        val dels = keys.filter(_ => rnd.nextBoolean()).distinct
        val ups = keys.filterNot(dels.contains).distinct.map(k => (k, s"u$k"))
        val news = (1 to rnd.nextInt(5)).map(_ => (n + 1L + rnd.nextInt(200), "new"))
          .distinct
        LakeTable.appendCommit(
          cs(dels ++ ups.map(_._1) ++ news.map(_._1), ups ++ news), t)
      }
      val expected = state(t)
      val r = LakeTable.compact(spark, t)
      assert(LakeTable.pendingCommits(t) == 0, s"trial $trial: $r")
      assert(state(t) == expected, s"trial $trial (mode ${r.mode}) changed state")
      // a random ranged read over the compacted table equals the filter form
      val lo = 1L + rnd.nextInt(n); val hi = lo + rnd.nextInt(n)
      val ranged = LakeTable.readKeyRange(spark, t, lo, hi)
        .select("RecId", "payload").as[(Long, String)].collect().toSet
      assert(ranged == expected.filter(kv => kv._1 >= lo && kv._1 <= hi),
        s"trial $trial: ranged read diverged after ${r.mode} compaction")
      // and the table keeps working: one more commit + compact round-trips
      LakeTable.appendCommit(cs(Seq(1L), Seq((1L, "zz"))), t)
      val r2 = LakeTable.compact(spark, t)
      assert(state(t) == expected - ((1L, "p1")) - ((1L, "u1")) + ((1L, "zz")),
        s"trial $trial: chained ${r.mode}->${r2.mode} diverged")
    }
  }

  test("history lists the current generation: base row + pending commits " +
      "with stats/stamps; compaction folds the commit rows away") {
    val t = freshTable()
    clusteredBase(t, 100L, files = 2)
    LakeTable.appendCommit(cs(Seq(95L), Seq((95L, "v2"))), t, nowMs = 1234L)
    val h1 = LakeTable.history(spark, t)
      .select("kind", "seq", "events", "min_key", "max_key", "time_ms")
      .collect().map(r => (r.getString(0), r.getInt(1), r.getLong(2),
        Option(r.get(3)), Option(r.get(4)), Option(r.get(5))))
    assert(h1.length == 2)
    assert(h1.head._1 == "base" && h1.head._2 == -1)
    assert(h1.last == (("commit", 0, 2L, Some(95L), Some(95L), Some(1234L))))
    assert(LakeTable.compact(spark, t).foldedCommits == 1)
    val h2 = LakeTable.history(spark, t).collect()
    assert(h2.length == 1 && h2.head.getString(0) == "base")
    // manifest-carried files are counted as part of the base
    assert(h2.head.getInt(2) >= 2)
  }

  test("clustered base files carry tight disjoint footer key ranges") {
    val t = freshTable()
    clusteredBase(t, 1000L, files = 4)
    val base = LakeTable.resolve(t).get._1
    val ranges = LakeTable.baseDataFiles(base)
      .flatMap(p => ParquetStats.fileKeyRange(p, "RecId")).sortBy(_._1)
    assert(ranges.size == 4)
    ranges.sliding(2).foreach {
      case Seq((_, hi1), (lo2, _)) => assert(hi1 < lo2, s"overlap: $ranges")
      case _ => ()
    }
    assert(ranges.head._1 == 1L && ranges.last._2 == 1000L)
  }

  test("mixed-locality commit (hot tail + stragglers) still compacts " +
      "partially: v2 banded stats keep the files between the bands carried") {
    val t = freshTable()
    clusteredBase(t, 1000L, files = 8)
    // one commit touching the low edge AND the hot tail — a v1 envelope
    // [5, 990] would intersect every file and force the full rewrite
    LakeTable.appendCommit(
      cs(Seq(5L, 990L), Seq((5L, "v2"), (990L, "v2"), (995L, "v2"))), t)
    val before = state(t)
    val r = LakeTable.compact(spark, t)
    assert(r.mode == "partial", s"banded stats must keep this partial: $r")
    assert(r.carriedFiles >= 5,
      s"only the two edge files should rewrite, middle files carry: $r")
    assert(state(t) == before)
  }

  test("ranged read of a manifested base prunes disjoint base FILES from " +
      "the plan, not just their rows") {
    val t = freshTable()
    clusteredBase(t, 1000L, files = 8)
    LakeTable.appendCommit(cs(Seq(950L), Seq((950L, "v2"))), t)
    assert(LakeTable.compact(spark, t).mode == "partial")
    // a low-band point lookup: only the one covering base file may plan
    val read = LakeTable.readKeyRange(spark, t, 100L, 120L)
    val baseFilesPlanned = read.inputFiles.toSeq.filterNot(_.contains("/_log/"))
    // 1 covering file normally; 2 if the range straddles a sampled
    // partitioner boundary — never the whole manifest
    assert(baseFilesPlanned.size <= 2,
      s"disjoint base files must be pruned from the ranged plan:\n${baseFilesPlanned.mkString("\n")}")
    assert(read.select("RecId", "payload").as[(Long, String)].collect().toSet ==
      (100L to 120L).map(i => (i, s"p$i")).toSet)
  }

  test("a crash before the pointer swap leaves an orphan generation dir: " +
      "reads stay on the old generation, the next overwrite GCs the orphan") {
    val t = freshTable()
    clusteredBase(t, 100L, files = 2)
    LakeTable.appendCommit(cs(Seq(95L), Seq((95L, "v2"))), t)
    val expected = state(t)
    // simulate the torn partial compaction: a staged base dir with data and
    // manifest exists, but the pointer never moved (writes happen in exactly
    // this order, so this IS the worst crash window). A RETRY would reuse
    // the same seq-derived dir name safely — Spark's overwrite mode replaces
    // the dir wholesale before the fresh manifest is written.
    val orphan = s"$t/base-7"
    val aFile = LakeTable.baseDataFiles(LakeTable.resolve(t).get._1).head
    LakeFs.mkdirs(orphan)
    val orphanFile = s"$orphan/part-orphan.parquet"
    // copy one real data file so the orphan looks like a finished stage
    val bytes = {
      val st = LakeFs.list(aFile).head
      val in = LakeFs.fs(aFile).open(st.getPath)
      try { val b = new Array[Byte](st.getLen.toInt); in.readFully(0, b); b }
      finally in.close()
    }
    val out = LakeFs.fs(orphanFile).create(new org.apache.hadoop.fs.Path(orphanFile), true)
    try out.write(bytes) finally out.close()
    LakeFs.writeUtf8(s"$orphan/${LakeTable.ManifestFile}", "base-7/part-orphan.parquet")

    assert(state(t) == expected, "orphan dirs must not affect resolution")
    // next real snapshot write collects the orphan (unreferenced by both
    // kept generations), keeps the previous generation intact
    LakeTable.overwrite(LakeTable.read(spark, t), t)
    assert(!LakeFs.exists(orphan), "orphan generation must be GC'd")
    assert(state(t) == expected)
  }

  test("earliestReadableTs: stamped table = base state time; mixed history " +
      "= first stamp after the last unstamped commit; tolerant reads") {
    val t = freshTable()
    LakeTable.overwrite(
      (1L to 5L).map(i => (i, "v0")).toDF("RecId", "payload"), t,
      stateTimeMs = 100L)
    assert(LakeTable.earliestReadableTs(t).contains(100L))
    val s1 = LakeTable.appendCommit(cs(Seq(1L), Seq((10L, "v1"))), t, nowMs = 200L)
    assert(LakeTable.earliestReadableTs(t).contains(100L))

    // strip s1's stamp: mixed history — s1 unstamped, s2 stamped after it
    LakeFs.delete(s"$t/_log/$s1/_ts")
    LakeTable.appendCommit(cs(Seq(2L), Seq((20L, "v2"))), t, nowMs = 300L)
    assert(LakeTable.earliestReadableTs(t).contains(300L),
      "readable once the first stamp AFTER the unstamped commit covers it")

    def st(asOf: Long): Set[(Long, String)] =
      LakeTable.readAtTimestamp(spark, t, asOf)
        .select("RecId", "payload").as[(Long, String)].collect().toSet
    // at/after the boundary both commits certainly apply
    assert(st(300L) ==
      (3L to 5L).map((_, "v0")).toSet + ((10L, "v1")) + ((20L, "v2")))
    // between the base time and the boundary the unstamped commit is
    // unorderable — refused, with the probe named
    val e = intercept[IllegalStateException] { st(250L) }
    assert(e.getMessage.contains("earliestReadableTs"))

    // trailing unstamped commit: nothing can ever be ordered after it
    val s3 = LakeTable.appendCommit(cs(Seq(3L), Seq.empty), t, nowMs = 400L)
    LakeFs.delete(s"$t/_log/$s3/_ts")
    assert(LakeTable.earliestReadableTs(t).isEmpty)
    intercept[IllegalStateException] { st(9999L) }
  }

  test("liveInputBytes counts a manifested base's CARRIED files, not just " +
      "its generation dir — the compactFull bytes term never collapses") {
    val t = freshTable()
    clusteredBase(t, 2000L, files = 8)
    // key-local drift → partial compaction → the new base is a MANIFEST
    // whose entries mostly live in the previous generation's dir
    LakeTable.appendCommit(cs(Seq(1950L), Seq((1950L, "v2"), (2050L, "new"))), t)
    assert(LakeTable.compact(spark, t).mode == "partial")
    val base = LakeTable.resolve(t).get._1
    assert(base != t && LakeFs.exists(s"$base/${LakeTable.ManifestFile}"),
      "fixture must produce a manifested base")
    val live = LakeTable.liveInputBytes(t)
    val manifestSum = LakeTable.baseDataFiles(base).map(LakeFs.sizeBytes).sum
    assert(live == manifestSum, s"live=$live vs manifest sum=$manifestSum")
    // the pre-fix accounting (size of the generation dir alone) misses the
    // carried files — the quantity the r12 review flagged as the seed of
    // a resurfaced superlinear rewrite
    assert(live > LakeFs.sizeBytes(base),
      s"carried files must count: live=$live dir=${LakeFs.sizeBytes(base)}")
    // a pending commit's bytes join the term
    LakeTable.appendCommit(cs(Seq.empty, Seq((2060L, "x"))), t)
    assert(LakeTable.liveInputBytes(t) > live)
  }

  /** Every base and commit dir of `t` that carries a `_schema` sidecar
    * records exactly the schema a parquet read of it returns (the current
    * base and every pending commit must carry one). */
  private def assertSidecars(t: String): Unit = {
    import org.apache.spark.sql.types.DataType
    def recorded(dir: String): Seq[DataType] =
      LakeFs.readUtf8(s"$dir/${ChangeLog.SchemaFile}").split("\n").toSeq
        .filter(_.nonEmpty).map(DataType.fromJson)
    val (current, fromSeq) = LakeTable.resolve(t).get
    assert(LakeFs.exists(s"$current/${ChangeLog.SchemaFile}"), current)
    LakeFs.list(t).map(_.getPath.toString)
      .filter(p => p.split('/').last.startsWith("base-"))
      .filter(p => LakeFs.exists(s"$p/${ChangeLog.SchemaFile}"))
      .foreach { b =>
        assert(recorded(b) ==
          Seq(spark.read.parquet(LakeTable.readPaths(b): _*).schema), b)
      }
    val pending = ChangeLog.commitSeqs(s"$t/_log").filter(_ >= fromSeq)
    ChangeLog.commitSeqs(s"$t/_log").map(q => s"$t/_log/$q").foreach { c =>
      if (pending.exists(q => c.endsWith(s"/$q")))
        assert(LakeFs.exists(s"$c/${ChangeLog.SchemaFile}"), c)
      assert(recorded(c) == Seq(spark.read.parquet(s"$c/inserts").schema,
        spark.read.parquet(s"$c/deletes").schema), c)
    }
  }

  test("schema sidecars record the schema a read returns, for every base " +
      "and commit across overwrite, evolving commits, partial/full compaction " +
      "and a z-ordered overwrite") {
    import org.apache.spark.sql.types.{ArrayType, FloatType, LongType}
    val t = freshTable()
    // nested array<float> whose elements are non-null in the written frame:
    // a parquet read returns it containsNull = true, and so must the sidecar
    def rows(keys: Seq[Long], tag: String) = keys
      .map(i => (i, i, i.toInt, Seq(i.toFloat, 0.5f), s"$tag$i"))
      .toDF("RecId", "SysRowVersion", "qty", "emb", "payload")
    LakeTable.overwriteClustered(rows(1L to 400L, "p"), t, nFiles = 4)
    assertSidecars(t)
    // a commit that adds a column, then one that widens qty int → long
    val added = rows(Seq(390L, 401L), "a").withColumn("extra", lit("x"))
    LakeTable.appendCommit(Apply.ChangeSet(Seq(5L).toDF("RecId"), added,
      spark.emptyDataFrame), t)
    val widened = rows(Seq(395L), "w")
      .withColumn("qty", col("qty").cast("long")).withColumn("extra", lit("y"))
    LakeTable.appendCommit(Apply.ChangeSet(Seq.empty[Long].toDF("RecId"),
      widened, spark.emptyDataFrame), t)
    assertSidecars(t)
    // schema change → the full fallback writes the evolved schema
    assert(LakeTable.compact(spark, t).mode == "full")
    assertSidecars(t)
    val evolved = ChangeLog.baseSchema(LakeTable.resolve(t).get._1).get
    assert(evolved("qty").dataType == LongType)
    assert(evolved("emb").dataType == ArrayType(FloatType, containsNull = true))
    assert(evolved.fieldNames.toSeq ==
      Seq("RecId", "SysRowVersion", "qty", "emb", "payload", "extra"))
    // a key-local commit in the evolved schema → partial compaction
    LakeTable.appendCommit(Apply.ChangeSet(Seq(398L).toDF("RecId"),
      widened.withColumn("RecId", lit(399L)), spark.emptyDataFrame), t)
    assert(LakeTable.compact(spark, t).mode == "partial")
    assertSidecars(t)
    LakeTable.appendCommit(Apply.ChangeSet(Seq(7L).toDF("RecId"),
      widened.withColumn("RecId", lit(7L)), spark.emptyDataFrame), t)
    assert(LakeTable.compactFull(spark, t).mode == "full")
    assertSidecars(t)
    val before = LakeTable.read(spark, t).collect().toSet
    LakeTable.overwriteZOrdered(LakeTable.read(spark, t), t,
      "RecId", "SysRowVersion", nFiles = 4)
    assertSidecars(t)
    assert(LakeTable.read(spark, t).collect().toSet == before)
  }
}
