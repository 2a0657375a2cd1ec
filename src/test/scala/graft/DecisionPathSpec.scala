package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.scalacheck.{Gen, Prop, Test}
import org.scalacheck.util.Pretty
import org.scalatest.funsuite.AnyFunSuite
import graft.model.SyncMode
import graft.run.SyncRunner
import graft.state.SyncStateStore
import graft.sync.{Apply, LakeTable, Planner}

/** The sync decision path exists once: over random control/target frames
  * and marks, the oracle-checked [[Planner.decideAsQuery]] row, the runner
  * and the probe's NOOP short-circuit all agree with [[Planner.decide]]
  * over the shared [[Planner.ChangeStats]] aggregate. */
class DecisionPathSpec extends AnyFunSuite {
  import DecisionPathSpec.Case
  private lazy val spark = TestSpark.spark
  import spark.implicits._

  private val Mark = 1000L

  private val genCase: Gen[Case] = for {
    n <- Gen.choose(0, 40)
    inControl <- Gen.oneOf(0.0, 0.5, 0.9, 1.0)
    // half the cases share the control's key set: the runner's tier 2
    sameKeys <- Gen.oneOf(true, false)
    inTarget <- Gen.oneOf(0.0, 0.5, 0.9, 1.0)
    changed <- Gen.oneOf(0.0, 0.0, 0.05, 0.3, 1.0)
    localMut <- Gen.oneOf(0.0, 0.0, 0.1)
    targetOnly <- Gen.oneOf(0, 0, 3, 30)
    // marks at or below the base versions count those rows as changed /
    // locally mutated too; edited versions always sit above every mark
    srcMark <- Gen.oneOf(Mark, Mark, 20L, 0L)
    tgtMark <- Gen.oneOf(Mark, Mark, 20L, 0L)
    seed <- Gen.long
  } yield {
    val rnd = new scala.util.Random(seed)
    def pick(p: Double) = (1L to n.toLong).filter(_ => rnd.nextDouble() < p)
    val controlKeys = pick(inControl)
    Case(
      control = controlKeys.map(k =>
        k -> (if (rnd.nextDouble() < changed) Mark + k else k)),
      target = (if (sameKeys) controlKeys else pick(inTarget)).map(k =>
        k -> (if (rnd.nextDouble() < localMut) 2 * Mark + k else k)) ++
        (1L to targetOnly.toLong).map(i => (100L + i) -> i),
      srcMark, tgtMark)
  }

  private def keyed(n: Long) = (1L to n).map(k => k -> k)
  private val edgeCases = Seq(
    "empty control" -> Case(Nil, keyed(20), Mark, Mark),
    "empty target" -> Case(keyed(20), Nil, Mark, Mark),
    "both empty" -> Case(Nil, Nil, Mark, Mark),
    "all rows changed" -> Case(keyed(20).map { case (k, _) => k -> (Mark + k) },
      keyed(20), Mark, Mark),
    "excess >= 40%" -> Case(keyed(20), keyed(28), Mark, Mark),
    "excess < 0" -> Case(keyed(20), keyed(15), Mark, Mark))

  private def frame(rows: Seq[(Long, Long)]): DataFrame =
    rows.toDF("RecId", "SysRowVersion")

  private def rows(df: DataFrame): Set[(Long, Long)] =
    df.select("RecId", "SysRowVersion").as[(Long, Long)].collect().toSet

  private val runs = new java.util.concurrent.atomic.AtomicInteger()

  /** Every path's mode for one case; asserts their agreement. */
  private def check(c: Case): SyncMode = {
    val control = frame(c.control)
    val target = frame(c.target)
    val stats = Planner.ChangeStats.fromRow(
      Apply.incrementalFlags(control, target, lit(c.srcMark), lit(c.tgtMark))
        .agg(Planner.ChangeStats.columns.head, Planner.ChangeStats.columns.tail: _*)
        .head())
    val mode = Planner.decide(stats)

    val q = Planner.decideAsQuery(control, target,
      Seq(Tuple1(c.srcMark)).toDF("stored_mark")).head()
    assert(Planner.ChangeStats(q.getAs[Long]("source_window"), q.getAs[Long]("target_count"),
      q.getAs[Long]("changed"), q.getAs[Long]("missing")) == stats, c.toString)
    assert(q.getAs[String]("mode") == mode.toString.toUpperCase, c.toString)
    assert(q.getAs[Double]("change_pct") == stats.changePercent)
    assert(q.getAs[Double]("excess_pct") == stats.excessPercent)

    if (Planner.probe(control, target, c.srcMark, c.tgtMark).inSync)
      assert(mode == SyncMode.Noop, s"probe in sync, decide says $mode: $c")

    // the runner over the same pair: source = control + payload, target a
    // lake table, marks stored as if a previous sync had left them
    val dir = java.nio.file.Files.createTempDirectory(
      s"graft_decide${runs.incrementAndGet()}").toString
    control.withColumn("payload", concat(lit("p"), col("RecId")))
      .write.parquet(s"$dir/src")
    LakeTable.overwrite(target.withColumn("payload", lit("old")), s"$dir/tgt")
    val store = new SyncStateStore(s"$dir/state.json")
    store.putVersions("T", c.srcMark, c.tgtMark, None)
    val runner = new SyncRunner(spark, store, parallelWorkers = 1)
    val r = runner.runAll(Seq(runner.TablePlan("T", s"$dir/src", s"$dir/tgt"))).head
    assert(r.ok, r.toString)
    assert(r.mode == mode, s"runner chose ${r.mode}, decide $mode: $c")
    // a delta or full apply converges the target to the source window
    if (mode != SyncMode.Noop)
      assert(rows(LakeTable.read(spark, s"$dir/tgt")) == c.control.toSet, c.toString)
    mode
  }

  test("edge cases: every path agrees with decide") {
    val modes = edgeCases.map { case (label, c) =>
      withClue(s"$label: ") { label -> check(c) }
    }.toMap
    assert(modes("empty control") == SyncMode.Truncate)
    assert(modes("empty target") == SyncMode.Incremental)
    assert(modes("both empty") == SyncMode.Noop)
    assert(modes("all rows changed") == SyncMode.Truncate)
    assert(modes("excess >= 40%") == SyncMode.Truncate)
    assert(modes("excess < 0") == SyncMode.Incremental)
  }

  test("random frames and marks: every path agrees with decide") {
    val seen = scala.collection.mutable.Set[SyncMode]()
    val res = Test.check(
      Test.Parameters.default.withMinSuccessfulTests(24).withInitialSeed(20261020L)
        .withWorkers(1),
      Prop.forAll(genCase) { c => seen += check(c); true })
    assert(res.passed, Pretty.pretty(res))
    assert(seen == Set(SyncMode.Noop, SyncMode.Incremental, SyncMode.Truncate),
      s"the generator should reach every mode: $seen")
  }
}

object DecisionPathSpec {
  /** Keys 1..n at base version = the key; a changed control row carries
    * 1000 + key, a locally edited target row 2000 + key. */
  final case class Case(
      control: Seq[(Long, Long)], target: Seq[(Long, Long)],
      srcMark: Long, tgtMark: Long)
}
