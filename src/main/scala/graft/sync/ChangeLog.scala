package graft.sync

import org.apache.spark.sql.{DataFrame, SparkSession, types}
import org.apache.spark.sql.functions._

/** Changeset log: the read/replay side of [[Apply.writeChangeSet]].
  *
  * A sync run appends one commit — `<dir>/<n>/deletes` (tombstone keys) and
  * `<dir>/<n>/inserts` (rows) — and a consumer reconstructs the table as
  *
  *   state = base ▷ del₁ ∪ ins₁ ▷ del₂ ∪ ins₂ …
  *
  * Replay folds newest-last; rather than materializing each intermediate
  * state, it resolves every key ONCE against the newest commit that touched
  * it: a union of all commits tagged with their sequence number, one window
  * (or groupBy-max) per key — O(total changes), not O(commits × table).
  * This is the lake-native equivalent of Delta's log replay, applied to the
  * reference's incremental sync output.
  */
/** What replay does when a column's type changed across generations with NO
  * lossless widening (e.g. int→string, long→int at the source). */
sealed trait TypePolicy
object TypePolicy {
  /** Default: refuse loudly, naming the column — compact at the type
    * boundary or migrate the base. Nothing is ever silently mangled. */
  case object Strict extends TypePolicy
  /** Reference-parity tolerance (the reference recomputes copyable fields
    * per run, so a source ALTER silently takes effect on the next sync,
    * CopyOrchestrator.cs:189-201): the NEWEST generation's type wins and
    * earlier values `try_cast` into it — unconvertible values become null.
    * Lossy BY DESIGN; strictly opt-in. */
  case object LatestWins extends TypePolicy
}

object ChangeLog {

  /** Sequence numbers of all commits present under `logDir`. */
  def commitSeqs(logDir: String): Seq[Int] =
    LakeFs.list(logDir).filter(_.isDirectory)
      .flatMap(_.getPath.getName.toIntOption)

  /** Append a changeset as the next numbered commit under `logDir`.
    * `minSeq` floors the numbering so sequence numbers stay monotonic after
    * a compaction advanced the table pointer (a lower-numbered commit would
    * be invisible to `replay(fromSeq)`).
    *
    * Crash-atomic: the changeset is staged into a `.tmp-<n>` directory
    * (invisible to [[replay]], which only picks integer-named dirs) and
    * RENAMED into place as the last step — a crash mid-write leaves only a
    * garbage tmp dir, never a half-commit that replay would apply. */
  def append(cs: Apply.ChangeSet, logDir: String, minSeq: Int = 0,
      nowMs: Long = System.currentTimeMillis()): Int = {
    LakeFs.warnIfNonAtomic(logDir)
    LakeFs.mkdirs(logDir)
    val next = math.max((commitSeqs(logDir) :+ (minSeq - 1)).max + 1, minSeq)
    val staging = s"$logDir/.tmp-$next"
    Apply.writeChangeSet(cs, staging)
    writeSchemas(staging, cs.inserts.schema, cs.deleteKeys.schema)
    writeStats(cs.inserts.sparkSession, staging, statsColumns(logDir))
    // commit wall-clock stamp (timestamp-based time travel rides this);
    // parameterized for deterministic tests/oracles
    LakeFs.writeUtf8(s"$staging/_ts", nowMs.toString)
    if (!LakeFs.rename(staging, s"$logDir/$next"))
      throw new IllegalStateException(s"commit rename failed: $staging -> $logDir/$next")
    next
  }

  /** Schema sidecar of a lake generation dir: one JSON schema per line. A
    * commit's holds its inserts schema, then its deletes schema; a base's
    * holds the base schema. It is written inside the staged dir, before the
    * commit's rename or the base's pointer swap, so a reader never resolves
    * a generation whose sidecar is still to come. Opening a generation with
    * it is pure planning: `spark.read.parquet(dir)` without a schema runs a
    * schema-inference Spark job on every call. */
  val SchemaFile = "_schema"

  /** `t` in the form a parquet read returns it: Spark opens file sources
    * nullable at every depth (array elements, map values, struct fields), so
    * a recorded `df.schema` must be widened the same way or the replay's
    * type reconciliation would see `array<float>` change nullability across
    * generations. */
  private def asRead(t: types.DataType): types.DataType = t match {
    case s: types.StructType =>
      types.StructType(s.fields.map(f =>
        f.copy(dataType = asRead(f.dataType), nullable = true)))
    case a: types.ArrayType => types.ArrayType(asRead(a.elementType), true)
    case m: types.MapType =>
      types.MapType(asRead(m.keyType), asRead(m.valueType), true)
    case other => other
  }

  /** Record `schemas` (the frames just written under `dir`) as its sidecar. */
  private[sync] def writeSchemas(dir: String, schemas: types.StructType*): Unit =
    LakeFs.writeUtf8(s"$dir/$SchemaFile",
      schemas.map(s => asRead(s).json).mkString("\n"))

  /** The `n` schemas of `dir`'s sidecar — None when it is missing (written
    * before sidecars existed), torn or garbled; the caller then infers. */
  private def recordedSchemas(dir: String, n: Int): Option[Seq[types.StructType]] =
    try {
      val parsed = LakeFs.readUtf8(s"$dir/$SchemaFile").linesIterator
        .filter(_.nonEmpty).map(types.DataType.fromJson).toSeq
      val structs = parsed.collect { case st: types.StructType => st }
      if (structs.size == n && parsed.size == n) Some(structs) else None
    } catch { case scala.util.control.NonFatal(_) => None }

  /** The recorded schema of base generation dir `basePath` — None for a
    * flat pre-pointer table, a base written before sidecars, or a torn one. */
  def baseSchema(basePath: String): Option[types.StructType] =
    recordedSchemas(basePath, 1).map(_.head)

  /** Open parquet `paths` with `schema` when one is recorded, else by
    * inference (one Spark job). */
  def open(spark: SparkSession, schema: Option[types.StructType],
      paths: Seq[String]): DataFrame =
    schema.fold(spark.read)(spark.read.schema).parquet(paths: _*)

  /** A commit's (inserts, deletes) frames, opened with its recorded schemas. */
  def commitFrames(spark: SparkSession, commitPath: String): (DataFrame, DataFrame) = {
    val rec = recordedSchemas(commitPath, 2)
    (open(spark, rec.map(_.head), Seq(s"$commitPath/inserts")),
      open(spark, rec.map(_(1)), Seq(s"$commitPath/deletes")))
  }

  /** Wall-clock millis a commit was appended at — None for commits written
    * before the stamp existed (resolve those by seq, not time). */
  def commitTime(commitPath: String): Option[Long] = {
    val p = s"$commitPath/_ts"
    if (!LakeFs.exists(p)) None
    else
      try LakeFs.readUtf8(p).trim.toLongOption
      catch { case scala.util.control.NonFatal(_) => None }
  }

  /** Sub-interval count of the v2 stats line: the commit's key set banded
    * into up to this many TIGHT [min,max] intervals. Why it matters: a
    * single envelope interval turns "hot-tail updates + a few stragglers"
    * into a full-width range — defeating both commit skipping and partial
    * compaction for exactly the mixed-locality commits real syncs produce;
    * 8 tight bands keep the stragglers' band narrow and the hot band
    * tighter still. */
  val StatsBands = 8

  /** Commit-level data-skipping stats: the key range every event (insert or
    * tombstone) in one commit falls into, stored as `_stats` INSIDE the
    * staged dir so it rides the same atomic rename as the data.
    *
    * Computed by scanning the freshly-STAGED parquet (O(commit), which is
    * O(change%) — never the table) rather than re-evaluating the changeset
    * DAG a second time. Line 1 mirrors the pointer file:
    * `min\tmax\tevents`; line 2 (v2, optional) holds up to [[StatsBands]]
    * tight sub-intervals `lo,hi;lo,hi;…` — equal-width bands of the
    * envelope, each shrunk to its actual key min/max. Pre-v2 commits have
    * only line 1 and degrade to the envelope interval. */
  /** Version-column convention for the per-commit version band (v3 stats
    * line): the engine's standard change-tracking column, the one the
    * delta fetch (S8) thresholds on. Recorded opportunistically — commits
    * whose inserts lack the column (or carry it non-numerically) simply
    * get no version line, and version-threshold reads keep them
    * conservatively. */
  val VersionCol = "SysRowVersion"

  /** Per-table OPT-IN list of additional band columns (v4 stats): the
    * table root's `_stats_columns` file, one column name per line, written
    * by [[LakeTable.setStatsColumns]]. Listing a column DECLARES the
    * monotone-version contract for it (reference parity: RECVERSION-shaped
    * counters threshold exactly like SysRowVersion,
    * DeltaComparison_ImplementationPlan_v2.md:203-216) — bands are then
    * recorded per commit under the same null/no-insert discipline as the
    * default column's `v:` line, and a version-threshold read on that
    * column gets commit-level skipping. Unknown/absent file = no extras. */
  def statsColumns(logDir: String): Seq[String] = {
    if (!logDir.endsWith("/_log")) return Seq.empty
    val p = logDir.stripSuffix("/_log") + "/_stats_columns"
    if (!LakeFs.exists(p)) Seq.empty
    else
      try LakeFs.readUtf8(p).linesIterator.map(_.trim).filter(_.nonEmpty).toSeq
      catch { case scala.util.control.NonFatal(_) => Seq.empty }
  }

  private def writeStats(spark: SparkSession, staging: String,
      extraCols: Seq[String] = Seq.empty): Unit = {
    val (ins, del) = commitFrames(spark, staging)
    val keyCol = del.schema.fieldNames.head
    // v3: the INSERT rows' version band rides the SAME single pass as the
    // key stats (review r11: a separate ins.agg re-scanned the staged
    // changeset — the double scan the persist below exists to avoid):
    // the keys union carries the cast version column (null for deletes)
    // plus an insert flag, and writeStatsBody folds everything into one
    // aggregate over the persisted frame. v4: configured extra band
    // columns ride the SAME union/aggregate — recorded only when the
    // inserts carry them numerically, never a second scan.
    val vField = ins.schema.fields
      .find(_.name.equalsIgnoreCase(VersionCol))
      .filter(_.dataType.isInstanceOf[types.NumericType])
    val insV = vField.map(f => col(f.name).cast("long"))
      .getOrElse(lit(null).cast("long"))
    val extras: Seq[(String, org.apache.spark.sql.Column)] = extraCols
      .filterNot(_.equalsIgnoreCase(VersionCol)) // has its own v: line
      .distinct
      .flatMap(c => ins.schema.fields
        .find(_.name.equalsIgnoreCase(c))
        .filter(_.dataType.isInstanceOf[types.NumericType])
        .map(f => c -> col(f.name).cast("long")))
    val keys = ins
      .select(col(keyCol).cast("long").as("k") +: insV.as("v") +:
        lit(1L).as("i") +:
        extras.zipWithIndex.map { case ((_, e), i) => e.as(s"x$i") }: _*)
      .union(del.select(col(keyCol).cast("long").as("k") +:
        lit(null).cast("long").as("v") +: lit(0L).as("i") +:
        extras.indices.map(i => lit(null).cast("long").as(s"x$i")): _*))
    // pinned across the envelope agg and the band groupBy below — without
    // it every commit append scans its staged changeset twice
    keys.persist()
    try {
      writeStatsBody(staging, keys, hasVersionCol = vField.isDefined,
        extraNames = extras.map(_._1))
    } finally { keys.unpersist(); () }
  }

  private def writeStatsBody(staging: String,
      keys: org.apache.spark.sql.DataFrame,
      hasVersionCol: Boolean = false,
      extraNames: Seq[String] = Seq.empty): Unit = {
    val aggCols = Seq(min(col("k")), max(col("k")), count(lit(1)),
      min(col("v")), max(col("v")), sum(col("i")), count(col("v"))) ++
      extraNames.indices.flatMap(i => Seq(
        min(col(s"x$i")), max(col(s"x$i")), count(col(s"x$i"))))
    val r = keys.agg(aggCols.head, aggCols.tail: _*).head
    // version band ("v:min,max"): deletes are key-only (no version to
    // record); a version-threshold read must always keep a commit's
    // tombstones anyway — see LakeTable.readVersionFrom for why that is
    // sound. No inserts → trivially-below-any-threshold marker. ANY
    // null-version insert → no line (stricter than the envelope rule: a
    // null version is outside the monotone contract, so the commit must
    // stay conservatively scanned).
    val nIns = if (r.isNullAt(5)) 0L else r.getLong(5)
    def bandLine(prefix: String, mnI: Int, mxI: Int, cntI: Int): Option[String] =
      if (nIns == 0L) Some(s"${prefix}0,-1")
      else if (r.getLong(cntI) == nIns && !r.isNullAt(mnI) && !r.isNullAt(mxI))
        Some(s"$prefix${r.getLong(mnI)},${r.getLong(mxI)}")
      else None
    val vLine = if (!hasVersionCol) None else bandLine("v:", 3, 4, 6)
    // v4 lines ("vc:<name>:min,max"), same discipline per configured column
    val extraLines = extraNames.zipWithIndex.flatMap { case (name, i) =>
      bandLine(s"vc:${name.toLowerCase}:", 7 + 3 * i, 8 + 3 * i, 9 + 3 * i)
    }
    def withV(body: String): String =
      (body +: (vLine.toSeq ++ extraLines)).mkString("\n")
    if (r.getLong(2) == 0L)
      // truly empty commit: always skippable
      LakeFs.writeUtf8(s"$staging/_stats", withV("0\t-1\t0"))
    else if (!r.isNullAt(0) && !r.isNullAt(1)) {
      val (mn, mx) = (r.getLong(0), r.getLong(1))
      val line1 = s"$mn\t$mx\t${r.getLong(2)}"
      val span = mx - mn // < 0 only on a Long-overflow-wide domain
      val bands =
        if (span < 0 || span < StatsBands) Nil // envelope already tight
        else {
          val step = span / StatsBands + 1
          keys.filter(col("k").isNotNull)
            .groupBy(expr(s"(k - ${mn}L) div ${step}L").as("b"))
            .agg(min(col("k")).as("lo"), max(col("k")).as("hi"))
            .collect().toSeq
            .map(row => (row.getLong(1), row.getLong(2)))
            .sortBy(_._1)
        }
      val body =
        if (bands.size > 1)
          line1 + "\n" + bands.map { case (a, b) => s"$a,$b" }.mkString(";")
        else line1
      LakeFs.writeUtf8(s"$staging/_stats", withV(body))
    }
    // else: events exist but keys are null / fail the long cast (non-numeric
    // key column) — a key-range read cannot reason about them, so write NO
    // stats: the reader treats absence as "not skippable" and the commit is
    // conservatively kept (ADVICE r4: writing (0,-1,0) here silently dropped
    // such commits from every range read)
  }

  /** (minKey, maxKey, events) of a committed changeset — None when the
    * commit predates stats or the file is torn (both degrade to
    * "not skippable", never to a wrong skip). Reads line 1 only (v2 files
    * carry the sub-interval line below it). */
  def commitStats(commitPath: String): Option[(Long, Long, Long)] = {
    val p = s"$commitPath/_stats"
    if (!LakeFs.exists(p)) None
    else
      try LakeFs.readUtf8(p).linesIterator.toSeq.headOption
        .map(_.trim.split("\t")).flatMap {
          case Array(mn, mx, n) =>
            for (a <- mn.toLongOption; b <- mx.toLongOption; c <- n.toLongOption)
              yield (a, b, c)
          case _ => None
        }
      catch { case scala.util.control.NonFatal(_) => None }
  }

  /** The commit's key coverage as TIGHT sub-intervals: the v2 band line
    * when present and parseable, else the v1 envelope; `Some(Nil)` = empty
    * commit (coverable by nothing), None = no usable stats (degrade to
    * "not skippable"/"touched", same rule as [[commitStats]]). ONE file
    * read parses both lines — this sits on the ranged-read planning path,
    * where each extra small read is an object-store round-trip per commit. */
  def commitStatsIntervals(commitPath: String): Option[Seq[(Long, Long)]] = {
    val p = s"$commitPath/_stats"
    if (!LakeFs.exists(p)) None
    else
      try {
        val lines = LakeFs.readUtf8(p).linesIterator.toSeq
        lines.headOption.map(_.trim.split("\t")).flatMap {
          case Array(mn0, mx0, n0) =>
            for (mn <- mn0.toLongOption; mx <- mx0.toLongOption;
                n <- n0.toLongOption) yield {
              if (n == 0L) Nil
              else {
                // band line = first line after the envelope that is not a
                // version line ("v:" v3, "vc:<name>:" v4) — excluded by
                // PREFIX, not by parse failure, so a future stats line
                // whose fields happen to be numeric cannot be misread as
                // key intervals (review r12)
                val banded = lines.drop(1)
                  .filterNot(l => l.startsWith("v:") || l.startsWith("vc:"))
                  .headOption.flatMap { line =>
                  try Some(line.trim.split(";").toSeq.map { iv =>
                    val Array(a, b) = iv.split(",")
                    (a.toLong, b.toLong)
                  })
                  catch { case scala.util.control.NonFatal(_) => None }
                }
                // torn/garbled band line degrades to the envelope, never to
                // a wrong skip
                banded
                  .filter(_.forall { case (a, b) => a >= mn && b <= mx && a <= b })
                  .getOrElse(Seq((mn, mx)))
              }
            }
          case _ => None
        }
      } catch { case scala.util.control.NonFatal(_) => None }
  }

  /** Can a key-range read skip this commit entirely? Only with positive
    * evidence: stats present AND (empty commit OR every covered interval
    * disjoint from the range). */
  private def skippable(commitPath: String, lo: Long, hi: Long): Boolean =
    commitStatsIntervals(commitPath).exists(
      _.forall { case (a, b) => b < lo || a > hi })

  /** The commit's INSERT version band (min, max of [[VersionCol]] over its
    * insert rows; (0, -1) for a commit with no inserts) — None when the
    * stats predate the v3 line, the column was absent/non-numeric, or the
    * file is torn. None degrades to "scan the inserts", never to a wrong
    * skip. */
  def commitVersionRange(commitPath: String): Option[(Long, Long)] =
    bandLineFor(commitPath, "v:")

  /** ONE prefix-parameterized parser behind [[commitVersionRange]] and
    * [[commitVersionRangeFor]] — the default column and configured columns
    * must never disagree on parse semantics (review r12). */
  private def bandLineFor(commitPath: String,
      prefix: String): Option[(Long, Long)] = {
    val p = s"$commitPath/_stats"
    if (!LakeFs.exists(p)) None
    else
      try LakeFs.readUtf8(p).linesIterator.find(_.startsWith(prefix))
        .flatMap(_.drop(prefix.length).split(",") match {
          case Array(a, b) =>
            for (x <- a.toLongOption; y <- b.toLongOption) yield (x, y)
          case _ => None
        })
      catch { case scala.util.control.NonFatal(_) => None }
  }

  /** [[commitVersionRange]] generalized to ANY band column: the default
    * column reads its `v:` line; a column configured via
    * [[LakeTable.setStatsColumns]] reads its `vc:<name>:` line (v4).
    * Consulted only on EXACT (case-insensitive) column match — a read
    * thresholding an unconfigured column gets None and stays conservative
    * (the r11 column-blind-skip guard, now per-column by construction). */
  def commitVersionRangeFor(commitPath: String,
      colName: String): Option[(Long, Long)] =
    if (colName.equalsIgnoreCase(VersionCol)) commitVersionRange(commitPath)
    else bandLineFor(commitPath, s"vc:${colName.toLowerCase}:")

  /** Least lossless-widening supertype of two column types, or None if the
    * pair has no lossless join (→ replay refuses under [[TypePolicy.Strict]];
    * [[TypePolicy.LatestWins]] then resolves to the newest generation's
    * type). Widening stays family-pure: integral up the
    * byte<short<int<long chain, float→double, decimal→decimal with enough
    * integer digits and scale for both sides. Cross-family (long→double,
    * int→string, …) is refused — those casts lose information or change
    * comparison semantics.
    */
  private[sync] def widen(a: types.DataType, b: types.DataType): Option[types.DataType] = {
    import types._
    val integralRank: Map[DataType, Int] =
      Map(ByteType -> 1, ShortType -> 2, IntegerType -> 3, LongType -> 4)
    (a, b) match {
      case _ if a == b => Some(a)
      case _ if integralRank.contains(a) && integralRank.contains(b) =>
        Some(if (integralRank(a) >= integralRank(b)) a else b)
      case (FloatType, DoubleType) | (DoubleType, FloatType) => Some(DoubleType)
      case (x: DecimalType, y: DecimalType) =>
        val s = math.max(x.scale, y.scale)
        val p = math.max(x.precision - x.scale, y.precision - y.scale) + s
        if (p <= DecimalType.MAX_PRECISION) Some(DecimalType(p, s)) else None
      case _ => None
    }
  }

  /** Cast `df`'s columns up to the widened replay schema (identity when
    * nothing widened). Only columns the frame carries are touched —
    * presence differences are `unionByName(allowMissingColumns)`'s job.
    * Columns in `lossy` (LatestWins conversions) use `try_cast` so an
    * unconvertible value degrades to null instead of throwing under ANSI. */
  private def alignTypes(df: DataFrame,
      widened: Map[String, types.DataType],
      lossy: Set[String] = Set.empty): DataFrame = {
    val needsCast = df.schema.fields.exists(f =>
      widened.get(f.name.toLowerCase).exists(_ != f.dataType))
    if (!needsCast) df
    else df.select(df.schema.fields.map { f =>
      widened.get(f.name.toLowerCase) match {
        case Some(t) if t != f.dataType && lossy(f.name.toLowerCase) =>
          expr(s"try_cast(`${f.name}` AS ${t.sql})").as(f.name)
        case Some(t) if t != f.dataType => col(f.name).cast(t).as(f.name)
        case _ => col(f.name)
      }
    }.toIndexedSeq: _*)
  }

  /** Reconstruct current state from a base snapshot + the commit log,
    * applying only commits with seq ≥ `fromSeq` (the table pointer's view).
    *
    * `keyRange` turns on commit-level DATA SKIPPING for selective reads:
    * events are keyed, so a commit whose `_stats` key range is disjoint
    * from the requested range cannot affect any surviving row — the commit
    * is dropped from the plan entirely (a driver-side metadata check, no
    * Spark job). The range predicate is also pushed into the base and the
    * surviving commits' parquet scans, where row-group pruning takes over.
    * At 100 TB this is what makes a point/range lookup on a logged table
    * O(touched commits), not O(history). */
  def replay(spark: SparkSession, basePath: String, logDir: String,
      keyCol: String = "RecId", fromSeq: Int = 0,
      keyRange: Option[(Long, Long)] = None,
      toSeq: Int = Int.MaxValue,
      typePolicy: TypePolicy = TypePolicy.Strict,
      versionFrom: Option[(String, Long)] = None): DataFrame = {
    // manifest resolution (LakeTable.readPaths): a partially-compacted
    // base's files live across generation dirs — the dir alone is not the
    // base. Plain dirs pass through unchanged UNLESS a prune is requested:
    // file-level skipping filters a FILE LIST, and a directory handle is
    // one opaque path — without the expansion every plain-dir base
    // silently scanned all its files however selective the read (r12: the
    // replica-chain wide fetch planned the full upstream because the
    // hardlinked base was a plain dir). The listing is the same driver-side
    // metadata call Spark's own scan planning would make.
    val paths0 = {
      val p = LakeTable.readPaths(basePath)
      if ((keyRange.isDefined || versionFrom.isDefined) && p == Seq(basePath)) {
        val files = LakeTable.baseDataFiles(basePath)
        if (files.nonEmpty) files else p
      } else p
    }
    // FILE-level base pruning for ranged reads of a manifested base: the
    // file list is already explicit, so disjoint files (footer key range vs
    // the requested range — same conservative rule as commit skipping:
    // unknown = kept) never become scan tasks at all. Parquet row-group
    // pruning would drop their ROWS anyway; this drops the task scheduling
    // + footer reads, which is what a point lookup on a 100 TB clustered
    // base actually waits on. One file is always kept: a manifested base's
    // files share one schema, and an all-pruned read still needs it.
    val paths1 = keyRange match {
      case Some((lo, hi)) if paths0.size > 1 =>
        val kept = paths0.filter(p =>
          ParquetStats.fileKeyRange(p, keyCol)
            .forall { case (mn, mx) => mx >= lo && mn <= hi })
        if (kept.nonEmpty) kept else paths0.take(1)
      case _ => paths0
    }
    // version-threshold twin of the key-range file pruning: a base file
    // whose version footer max is below the threshold holds no qualifying
    // rows (the base never shadows anything — dropping its files is exact,
    // no monotonicity needed). Pays off on version-clustered bases, where
    // footer version ranges are tight per file.
    val paths = versionFrom match {
      case Some((vc, vlo)) if paths1.size > 1 =>
        val kept = paths1.filter(p =>
          ParquetStats.fileKeyRange(p, vc).forall { case (_, mx) => mx >= vlo })
        if (kept.nonEmpty) kept else paths1.take(1)
      case _ => paths1
    }
    replayPaths(spark, paths, logDir, keyCol,
      fromSeq, keyRange, toSeq, typePolicy, versionFrom, baseSchema(basePath))
  }

  /** [[replay]] over an EXPLICIT base file list — the entry partial
    * compaction uses to fold commits into just the touched files.
    * `recordedBase` is the base generation's [[baseSchema]] (None = infer). */
  def replayPaths(spark: SparkSession, basePaths: Seq[String], logDir: String,
      keyCol: String = "RecId", fromSeq: Int = 0,
      keyRange: Option[(Long, Long)] = None,
      toSeq: Int = Int.MaxValue,
      typePolicy: TypePolicy = TypePolicy.Strict,
      versionFrom: Option[(String, Long)] = None,
      recordedBase: Option[types.StructType] = None): DataFrame = {
    val prune: DataFrame => DataFrame = keyRange match {
      case Some((lo, hi)) => df => df.filter(col(keyCol).between(lo, hi))
      case None => identity
    }
    // `versionFrom` (see LakeTable.readVersionFrom for the contract): the
    // output filter `versionCol >= vlo` applied at the END — on the base
    // side Catalyst pushes it through the anti-join into the scan (row-group
    // pruning); commit inserts additionally get it pushed EARLY below,
    // which is where the monotonicity precondition enters.
    val vFilter: DataFrame => DataFrame = versionFrom match {
      case Some((vc, vlo)) => df =>
        df.schema.fieldNames.find(_.equalsIgnoreCase(vc)) match {
          case Some(actual) => df.filter(col(actual) >= lit(vlo))
          case None => throw new IllegalArgumentException(
            s"version-threshold read: no generation carries column '$vc'")
        }
      case None => identity
    }
    val base = prune(open(spark, recordedBase, basePaths))
    // ALL commits in the pointer's range participate in the SCHEMA (widening
    // + column set); their schemas come from the `_schema` sidecars, so this
    // pass plans no Spark job (a pre-sidecar commit pays two inference jobs).
    // keyRange data skipping prunes only the ROW scans below; otherwise a
    // skipped commit that introduced a column/widening would make
    // readKeyRange's schema differ from read(...).filter(...) (ADVICE r4).
    val allCommits = LakeFs.list(logDir)
      .filter(_.isDirectory)
      .flatMap(st => st.getPath.getName.toIntOption.map(_ -> st.getPath.toString))
      .filter(c => c._1 >= fromSeq && c._1 <= toSeq)
      .sortBy(_._1)
    if (allCommits.isEmpty) return vFilter(base)
    val frames = allCommits.map { case (seq, path) =>
      seq -> commitFrames(spark, path) }.toMap
    val commits = allCommits.filter { case (_, path) =>
      keyRange.forall { case (lo, hi) => !skippable(path, lo, hi) } }

    // one row per (key, commit-seq) event: seq 0 = base rows, inserts carry
    // payload, deletes carry a tombstone flag. Schema evolution (P1 parity:
    // the reference recomputes copyable fields every run, so a commit written
    // after a source column add/drop legitimately differs from the base):
    // unionByName(allowMissingColumns) widens the replayed schema to every
    // column any generation carried, null-filling rows that predate a column
    // — the same end state a re-inserted row has on a server target after
    // the field left the copyable intersection. Tombstones are key-only and
    // null-fill everything else. A same-named column whose TYPE changed
    // across generations is cast up to the least lossless-widening
    // supertype ([[widen]]: integral chain, float→double, decimal growth —
    // the source-side ALTERs that occur in practice); a non-widenable
    // change still fails loudly rather than guessing.
    val commitSchemas = allCommits.map { case (seq, _) =>
      val (ins, del) = frames(seq)
      (ins.schema, del.select(keyCol).schema)
    }
    // fields tagged with their generation (base = -1) so LatestWins can
    // resolve a non-widenable change to the NEWEST type in commit order
    val taggedFields: Seq[(Int, types.StructField)] =
      base.schema.fields.toSeq.map((-1, _)) ++
        allCommits.zip(commitSchemas).flatMap { case ((seq, _), (ins, del)) =>
          (ins.fields.toSeq ++ del.fields.toSeq).map((seq, _))
        }
    val lossyCols = scala.collection.mutable.Set.empty[String]
    val widened: Map[String, types.DataType] =
      taggedFields.groupBy(_._2.name.toLowerCase)
        .map { case (name, tagged) =>
          name -> tagged.sortBy(_._1).map(_._2.dataType).reduce { (x, y) =>
            widen(x, y).getOrElse(typePolicy match {
              case TypePolicy.LatestWins =>
                // y is the newer generation's type (seq-sorted reduce)
                lossyCols += name; y
              case TypePolicy.Strict =>
                throw new IllegalStateException(
                  s"replay: column '${tagged.head._2.name}' changed type " +
                    s"with no lossless widening ($x vs $y); compact the " +
                    "table at the type boundary, migrate the base, or opt " +
                    "into TypePolicy.LatestWins")
            })
          }
        }
    val lossy = lossyCols.toSet
    // Deterministic output column order, independent of data skipping: base
    // columns first, then commit-introduced columns by first appearance.
    // Columns carried only by SKIPPED commits are null-filled so the result
    // schema matches the documented read(...).filter(...) equivalence.
    val orderedCols: Seq[String] = {
      val seen = scala.collection.mutable.LinkedHashMap.empty[String, String]
      (base.schema.fieldNames ++ commitSchemas.flatMap(_._1.fieldNames))
        .foreach(n => seen.getOrElseUpdate(n.toLowerCase, n))
      seen.values.toSeq
    }
    def conform(df: DataFrame): DataFrame = {
      val have = df.schema.fieldNames.map(_.toLowerCase).toSet
      if (df.schema.fieldNames.toSeq == orderedCols) df
      else df.select(orderedCols.map { n =>
        if (have(n.toLowerCase)) col(n)
        else lit(null).cast(widened(n.toLowerCase)).as(n)
      }: _*)
    }
    val insFrames = commits.map { case (seq, path) =>
      val (insAll, delAll) = frames(seq)
      // version skipping (monotonic-version contract, see
      // LakeTable.readVersionFrom): a commit whose insert-version band tops
      // out below the threshold contributes no output rows, and the rows it
      // would have SHADOWED are below the threshold too — so its insert
      // SCAN is dropped (limit 0 → Catalyst's empty relation, no tasks, no
      // files). Its tombstones are always kept: they are key-only and must
      // keep killing base rows whose version may be anything. Commits
      // without a usable version band are scanned — absence is never a
      // skip. Kept commits get the threshold pushed into their insert scan
      // when they carry the column (row-group pruning inside mixed
      // commits, same contract).
      val ins = versionFrom match {
        case Some((vc, vlo)) =>
          // per-column band lookup (v4): the default column's v: line or a
          // configured column's vc:<name>: line — never another column's
          // band (review r11: a column-blind skip pruned against the wrong
          // column's band; the per-name lookup makes exact match
          // structural). Unconfigured columns get None -> conservatively
          // scanned, with the pushed filter below still pruning row groups
          if (commitVersionRangeFor(path, vc).exists(_._2 < vlo))
            insAll.limit(0)
          else insAll.schema.fieldNames.find(_.equalsIgnoreCase(vc)) match {
            // null versions stay: they are outside the monotone contract
            // (writeStats refuses a v-line on any null-version insert) but
            // still SHADOW earlier rows of their key — dropping one
            // pre-window would resurrect a stale above-threshold row that
            // then passes the final vFilter (review r12). The null row
            // itself is removed only by vFilter, exactly as in the
            // documented read().filter(versionCol >= from) equivalence.
            case Some(actual) =>
              insAll.filter(col(actual) >= lit(vlo) || col(actual).isNull)
            case None => insAll
          }
        case None => insAll
      }
      (seq, prune(ins), prune(delAll).select(keyCol))
    }
    if (insFrames.isEmpty)
      return vFilter(conform(alignTypes(base, widened, lossy)))
    // The base NEVER enters a shuffle: only commit events (≈ change% of the
    // table) are windowed per key, and base rows whose key appears in any
    // event are dropped with an anti-join whose build side is just the
    // event KEYS — AQE turns that into a broadcast hash anti for the common
    // small-delta case. The alternative (window over base ∪ commits) would
    // hash-partition every payload byte of a 100 TB base on every read;
    // this plan's full-width shuffle is bounded by total change volume.
    // (Assumes the base is key-unique — true by construction: every base
    // is either a source snapshot or a previous replay's output.)
    val events = insFrames.map { case (seq, insRaw, delRaw) =>
      alignTypes(insRaw, widened, lossy)
        .withColumn("_seq", lit(seq + 1L)).withColumn("_del", lit(false))
        .unionByName(
          alignTypes(delRaw, widened, lossy)
            .withColumn("_seq", lit(seq + 1L)).withColumn("_del", lit(true)),
          allowMissingColumns = true)
    }.reduce(_.unionByName(_, allowMissingColumns = true))

    // newest event per key wins; survivors are non-tombstones.
    // (an insert and a delete of the same key in ONE commit = the reference's
    // delete-then-insert order ⇒ insert wins: tombstones sort before inserts
    // at equal seq)
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(keyCol)
      .orderBy(col("_seq").desc, col("_del").asc)
    val winners = events
      .withColumn("_rn", row_number().over(w))
      .filter(col("_rn") === 1 && !col("_del"))
      .drop("_seq", "_del", "_rn")
    // The doomed-base-rows anti-join is ROUTED, not left to the broadcast
    // threshold: the event-key set is O(changes) and at a 5% drift on a
    // big table it outgrows autoBroadcast — Catalyst then sort-merges,
    // shuffling and sorting EVERY payload byte of the base, the exact
    // "base never enters a shuffle" violation this comment promises away
    // (measured: the r11 sf0.1→sf1 point put a 1.41 scaling exponent on
    // the full-compaction path purely from this plan flip). The upper
    // bound for the routing decision is free — the kept commits' `_stats`
    // event counts — so small deltas broadcast with no extra job; bigger
    // ones split the base on a broadcast Bloom filter of the event keys
    // (definite non-members pass map-side; only the ~changed slice pays
    // the exact anti-join); only a genuinely huge key side shuffles.
    val eventKeyUb: Option[Long] = insFrames
      .foldLeft(Option(0L)) { case (acc, (seq, _, _)) =>
        acc.flatMap(a => commits.collectFirst { case (`seq`, p) => p }
          .flatMap(commitStats).map(a + _._3))
      }
    val (keptBase, _) = graft.ext.BloomPrune.autoAntiJoinRouted(
      alignTypes(base, widened, lossy), events.select(keyCol),
      keyCol, keyCol, knownMaxKeys = eventKeyUb)
    vFilter(conform(keptBase.unionByName(winners, allowMissingColumns = true)))
  }
}
