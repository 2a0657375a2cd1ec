package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.sync.{Extract, SyncFixtures}

/** Physical-plan assertions: the properties that decide 100 TB viability —
  * column pruning and predicate pushdown must reach the parquet scan, top-N
  * must not global-sort. `.explain` checked mechanically, per the build
  * guidance ("a scan that reads all columns for a 2-column projection is
  * wrong").
  */
class PlanQualitySpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  import spark.implicits._

  private lazy val tableDir: String = {
    val dir = java.nio.file.Files.createTempDirectory("graft_plan").toString
    (1L to 10000L).map(i => (i, i, s"pay$i", i * 2.5, s"extra$i"))
      .toDF("RecId", "SysRowVersion", "payload", "amount", "wide_col")
      .write.parquet(s"$dir/t")
    s"$dir/t"
  }

  private def scanLine(df: org.apache.spark.sql.DataFrame): String = {
    val plan = df.queryExecution.executedPlan.toString
    plan.linesIterator.filter(_.contains("FileScan")).mkString("\n")
  }

  test("control fetch prunes the scan to key+version (16 bytes/row at the source)") {
    val scan = scanLine(
      spark.read.parquet(tableDir).select("RecId", "SysRowVersion"))
    assert(scan.contains("ReadSchema"))
    assert(scan.contains("RecId") && scan.contains("SysRowVersion"))
    assert(!scan.contains("payload") && !scan.contains("wide_col"),
      s"scan must not read payload columns:\n$scan")
  }

  test("delta-fetch predicates are pushed to the parquet scan (S8)") {
    val df = Extract.deltaFetch(spark.read.parquet(tableDir),
      threshold = 5000L, minRecId = 100L, n = 1000000)
    val scan = scanLine(df)
    assert(scan.contains("PushedFilters") &&
      scan.contains("GreaterThanOrEqual(SysRowVersion,5000)") &&
      scan.contains("GreaterThanOrEqual(RecId,100)"),
      s"expected both >= filters pushed:\n$scan")
  }

  test("fixture derivation still prunes to the columns the query needs") {
    // control over the derived fixture: only the 4 key-arithmetic columns
    // (+ none of the payload) may reach the lineitem scan
    val control = SyncFixtures.control(SyncFixtures.source(spark, "/root/testdata/sf0.001"))
    val scan = scanLine(control)
    assert(!scan.contains("l_extendedprice") && !scan.contains("l_returnflag"),
      s"fixture control scan reads too much:\n$scan")
  }

  test("top-N by key avoids a global sort (TakeOrderedAndProject)") {
    val plan = Extract.topNByKey(spark.read.parquet(tableDir), 100)
      .queryExecution.executedPlan.toString
    assert(plan.contains("TakeOrderedAndProject"), plan)
    assert(!plan.contains("Exchange rangepartitioning"),
      s"global sort exchange in top-N plan:\n$plan")
  }

  test("classify join stays whole-stage-codegen'd around the join") {
    val src = SyncFixtures.source(spark, "/root/testdata/sf0.001")
      .select("RecId", "RECVERSION", "CREATEDDATETIME", "MODIFIEDDATETIME")
    val tgt = SyncFixtures.target(spark, "/root/testdata/sf0.001")
      .select("RecId", "RECVERSION", "CREATEDDATETIME", "MODIFIEDDATETIME")
    val classified = graft.sync.Classify.classify(src, tgt,
      graft.model.ComparisonContext(true, true, true))
    classified.collect() // materialize so AQE finalizes the physical stages
    val plan = classified.queryExecution.executedPlan.toString
    // `*(n)` is the whole-stage-codegen marker in the simple plan string;
    // the classification projection and the join must sit inside one
    assert(plan.contains("*(") && plan.linesIterator.exists(l =>
      l.contains("SortMergeJoin") && l.contains("*(")), plan)
  }

  test("bucketed layout: repeated sync joins shuffle NOTHING on the bucketed sides") {
    import graft.sync.Bucketing
    // the in-memory catalog forgets tables between JVMs but the warehouse
    // dirs persist — clear both before writing
    Seq("graft_ctrl_b", "graft_tgt_b").foreach { t =>
      spark.sql(s"DROP TABLE IF EXISTS $t")
      def rm(f: java.io.File): Unit = {
        if (f.isDirectory) Option(f.listFiles).foreach(_.foreach(rm)); f.delete()
      }
      rm(new java.io.File(s"spark-warehouse/$t"))
    }
    val ctrl = (1L to 20000L).map(i => (i, i)).toDF("RecId", "SysRowVersion")
    val tgt = (1L to 20000L).map(i => (i, i)).toDF("RecId", "SysRowVersion")
    Bucketing.writeBucketed(ctrl, "graft_ctrl_b", 4)
    Bucketing.writeBucketed(tgt, "graft_tgt_b", 4)
    val c = Bucketing.readBucketed(spark, "graft_ctrl_b")
    val t = Bucketing.readBucketed(spark, "graft_tgt_b")
    // disable broadcast so the join strategy itself is under test
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try {
      val joined = t.join(c, Seq("RecId"), "left_semi")
      joined.collect()
      assert(Bucketing.isShuffleFree(joined),
        joined.queryExecution.executedPlan.toString)
      // sanity: the same join on unbucketed frames DOES shuffle
      val plain = tgt.join(ctrl, Seq("RecId"), "left_semi")
      plain.collect()
      assert(!Bucketing.isShuffleFree(plain))
    } finally spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "10485760")
  }

  test("KMV sketch plans ONE partial-aggregated groupBy: no Window, no sort, no second distinct pass") {
    val docs = (1L to 50L).map(i => (i % 3, s"tok${i % 7} tok${i % 11} tok$i"))
      .toDF("source", "text")
      .select(col("source"), explode(split(col("text"), " ")).as("tok"))
    val plan = graft.ext.KmvSketch.distinctEstimate(docs, "source", "tok", k = 8)
      .queryExecution.executedPlan.toString
    assert(!plan.contains("Window"), s"KMV must not rank all hashes:\n$plan")
    assert(!plan.contains("SortMergeJoin") && !plan.contains("BroadcastHashJoin"),
      s"KMV must not join an exact-distinct pass:\n$plan")
    assert(plan.contains("kmvsketchagg") || plan.toLowerCase.contains("kmv"),
      s"expected the sketch aggregate in the plan:\n$plan")
  }

  test("per-row minhash band rows: no aggregate, no exchange — pure " +
      "scan→project→explode (the property flagNearDupStream relies on to " +
      "put flatMapGroupsWithState directly on these rows)") {
    val docs = (1L to 30L).map(i => (i, s"tok${i % 5} tok${i % 7} tok${i % 3} tok$i"))
      .toDF("doc_id", "text")
    val plan = graft.ext.Dedup.minhashBandRowsPerDoc(docs, "doc_id", "text", n = 3)
      .queryExecution.executedPlan.toString
    assert(!plan.contains("Exchange"), s"band rows must not shuffle:\n$plan")
    assert(!plan.toLowerCase.contains("aggregate"),
      s"band rows must not aggregate:\n$plan")
    assert(plan.contains("Generate"), s"expected the band explode:\n$plan")
  }

  test("tier-2 changeset: literal version predicate pushed to the scan, ZERO joins") {
    val cs = graft.sync.Apply.updateOnlyChangeSet(
      spark.read.parquet(tableDir), sourceMark = 5000L)
    val plan = cs.inserts.queryExecution.executedPlan.toString
    assert(plan.contains("PushedFilters") && plan.contains("GreaterThan(SysRowVersion,5000)"),
      s"fetch predicate must reach the scan:\n$plan")
    assert(!plan.contains("Join"), s"tier-2 must not join:\n$plan")
  }

  test("tier-3 changeset: a literal threshold reaches PushedFilters") {
    val kv = spark.read.parquet(tableDir).select("RecId", "SysRowVersion")
    val flags = graft.sync.Apply.incrementalFlags(kv, kv, lit(5000L), lit(5000L))
    val plan = graft.sync.Apply.changeSet(spark.read.parquet(tableDir), flags, lit(4000L))
      .inserts.queryExecution.executedPlan.toString
    assert(plan.contains("GreaterThanOrEqual(SysRowVersion,4000)"),
      s"the S8 fetch predicate must reach the scan:\n$plan")
  }

  test("sync probe is one job with no data-keyed exchange (shuffle-free NOOP)") {
    // materialize via the public API and inspect the aggregate's plan shape
    val kv = spark.read.parquet(tableDir).select("RecId", "SysRowVersion")
    val probed = kv.select(col("RecId"), col("SysRowVersion"), lit(0).as("_side"))
      .unionByName(kv.select(col("RecId"), col("SysRowVersion"), lit(1).as("_side")))
      .agg(sum(when(col("_side") === 0, 1L).otherwise(0L)))
    val plan = probed.queryExecution.executedPlan.toString
    assert(!plan.contains("hashpartitioning"),
      s"probe must not shuffle on data columns:\n$plan")
    assert(!plan.contains("Join"), plan)
  }

  test("changelog replay never shuffles the base: broadcast anti on event " +
      "keys, ONE window over commits only") {
    val dir = java.nio.file.Files.createTempDirectory("graft_replayplan").toString + "/t"
    (1L to 10000L).map(i => (i, i, s"pay$i"))
      .toDF("RecId", "SysRowVersion", "payload")
      .write.parquet(s"$dir/base-0")
    graft.sync.LakeFs.writeUtf8(s"$dir/_current", "base-0\t0")
    val cs = graft.sync.Apply.ChangeSet(
      deleteKeys = Seq(9999L, 10000L).toDF("RecId"),
      inserts = Seq((1L, 100L, "v2_1"), (10001L, 101L, "new"))
        .toDF("RecId", "SysRowVersion", "payload"),
      keyFlags = spark.emptyDataFrame)
    graft.sync.LakeTable.appendCommit(cs, dir)

    val df = graft.sync.LakeTable.read(spark, dir)
    assert(df.count() == 9999) // 10000 - 2 deleted + 1 new (key 1 updated)
    val plan = df.queryExecution.executedPlan.toString
    // the base reaches the output through a BROADCAST anti-join (its rows
    // never hash-partition); at 100 TB a shuffled base would be the whole
    // cost of every read
    assert(plan.contains("BroadcastHashJoin") && plan.contains("LeftAnti"),
      s"base must anti-join against broadcast event keys:\n$plan")
    assert(!plan.contains("SortMergeJoin"),
      s"base must not sort-merge (full shuffle):\n$plan")
    assert("windowspecdefinition".r.findAllMatchIn(plan).size == 1,
      s"exactly one window, over commit events only:\n$plan")
  }

  test("PQ ADC top-k: corpus codes probe a broadcast LUT — no cartesian, " +
      "no per-pair dim-wide dot product") {
    val prep = graft.ext.Similarity.prepare(
      spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet"),
      "vec_id", "embedding")
    val df = graft.ext.PQ.adcTopK(prep, m = 4, ksub = 8, iters = 1, k = 3,
      sampleMod = 40)
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.contains("BroadcastHashJoin"),
      "ADC join must probe the broadcast lookup table:\n" + plan.take(2000))
    assert(!plan.contains("CartesianProduct"),
      "no all-pairs join anywhere in the ADC plan")
    // the join feeding the aggregate carries codes, not embeddings: no
    // array_dot_long below the ADC sum (only the LUT/codebook build uses it)
    assert(df.count() > 0)
  }

  test("IVF-ADC: probe list and LUT broadcast; the corpus shuffles only on " +
      "its own id — no cartesian, never corpus-squared") {
    val prep = graft.ext.Similarity.prepare(
      spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet"),
      "vec_id", "embedding")
    val df = graft.ext.PQ.ivfAdcTopK(prep, kCoarse = 4, nProbe = 2, m = 4,
      ksub = 8, iters = 1, k = 3, sampleMod = 40)
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.contains("BroadcastHashJoin"),
      "probe/LUT joins must broadcast:\n" + plan.take(2000))
    assert(!plan.contains("CartesianProduct"),
      "no all-pairs join anywhere in the IVF-ADC plan")
    val n = df.count()
    assert(n > 0)
    // pruning can only shrink a query's candidate pool, never grow the
    // result set past the unpruned ADC's (both cap at |Q|·k)
    val full = graft.ext.PQ.adcTopK(prep, m = 4, ksub = 8, iters = 1, k = 3,
      sampleMod = 40)
    assert(n <= full.count(),
      "IVF output cannot exceed the unpruned ADC output")
  }

  test("decontamination broadcasts the benchmark shingles — the corpus " +
      "side probes in-memory, never shuffles against the held-out set") {
    val d = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    val df = graft.ext.CorpusAnalysis.contamination(
      d.filter(col("doc_id") % 97 =!= 0), d.filter(col("doc_id") % 97 === 0),
      "doc_id", "text", n = 3)
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.contains("BroadcastHashJoin"),
      "benchmark shingle join must be broadcast:\n" + plan.take(2000))
    assert(!plan.contains("CartesianProduct"),
      "no all-pairs anywhere in the decontamination plan")
  }

  test("bm25 top-N plans as TakeOrderedAndProject — distributed partial " +
      "top-k, never a global sort materialization; stats broadcast") {
    val d = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    val df = graft.ext.CorpusAnalysis.bm25TopDocs(d, "doc_id", "text",
      Seq("customer", "window"), topN = 5)
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.contains("TakeOrderedAndProject"),
      "top-N must be a partial top-k, not Sort+Limit over a global sort:\n" +
        plan.take(2000))
    assert(plan.contains("BroadcastNestedLoopJoin") ||
        plan.contains("BroadcastHashJoin"),
      "corpus stats / df must broadcast:\n" + plan.take(2000))
    assert(df.count() > 0)
  }

  test("chunking is shuffle-free: per-row explode, no Exchange anywhere") {
    val d = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    val df = graft.ext.Chunking.chunkTokens(d, "doc_id", "text",
      chunkTokens = 32, overlap = 8)
    val plan = df.queryExecution.executedPlan.toString
    assert(!plan.contains("Exchange"),
      "chunking must stay map-side (a document's chunks derive from its " +
        "own token array):\n" + plan.take(2000))
  }

  test("bucketed join feeding a bucket-key aggregate: zero exchanges end " +
      "to end — the shuffle was paid once at write time") {
    val tmp = java.nio.file.Files.createTempDirectory("graft_bucket_spec").toString
    val li = spark.read.parquet("/root/testdata/sf0.001/lineitem.parquet")
      .select(col("l_orderkey"), col("l_linenumber"))
    val o = spark.read.parquet("/root/testdata/sf0.001/orders.parquet")
      .select(col("o_orderkey"), col("o_custkey"))
    graft.sync.Bucketing.writeBucketed(li, "b_li_spec", 4,
      keyCol = "l_orderkey", path = Some(s"$tmp/li"))
    graft.sync.Bucketing.writeBucketed(o, "b_o_spec", 4,
      keyCol = "o_orderkey", path = Some(s"$tmp/o"))
    // force the non-broadcast path: the claim is about the SHUFFLE join
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try {
      val bl = graft.sync.Bucketing.readBucketed(spark, "b_li_spec")
      val bo = graft.sync.Bucketing.readBucketed(spark, "b_o_spec")
      val df = bl.join(bo, bl("l_orderkey") === bo("o_orderkey"))
        .groupBy(col("l_orderkey"), col("o_custkey"))
        .agg(count(lit(1)).as("n"))
      assert(df.count() > 0)
      val plan = df.queryExecution.executedPlan.toString
      assert(plan.contains("SortMergeJoin"),
        "non-broadcast equi-join expected:\n" + plan.take(2000))
      assert(!plan.contains("Exchange"),
        "bucketed join + bucket-key aggregate must not shuffle:\n" + plan.take(3000))
    } finally spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "10485760")
  }

  test("hive-partitioned layout prunes directories at PLAN time: the scan " +
      "reads only the filtered partition's files") {
    val tmp = java.nio.file.Files.createTempDirectory("graft_part_spec").toString
    val ev = graft.queries.EventsSource.load(spark, "/root/testdata/sf0.001")
      .withColumn("event_date", to_date(col("ts")))
    graft.sync.PartitionedLayout.write(ev, tmp, "event_date")
    val df = graft.sync.PartitionedLayout.read(spark, tmp)
      .filter(col("event_date") === lit(java.sql.Date.valueOf("2024-01-15")))
    // collect() on THIS Dataset so the metrics below belong to the same
    // query execution (count() would run a separate plan instance)
    assert(df.collect().nonEmpty)
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.contains("PartitionFilters") && plan.contains("event_date"),
      s"partition filter missing from scan:\n${plan.take(2000)}")
    // the decisive evidence: of the 30 day-directories (one file each, via
    // the pre-repartition), the executed scan touched exactly ONE file —
    // 29 directories never entered the scan. (df.inputFiles reflects the
    // UNPRUNED relation, so the scan node's own metric is the probe.)
    val scan = df.queryExecution.executedPlan.collectFirst {
      case f: org.apache.spark.sql.execution.FileSourceScanExec => f
    }.getOrElse(fail("no FileSourceScanExec in plan"))
    assert(scan.metrics("numFiles").value == 1L,
      s"expected 1 file scanned, got ${scan.metrics("numFiles").value}")
  }

  test("minhash verify stage is candidate-restricted: both shingle sides " +
      "semi-join the candidate ids BEFORE the shingle self-join (VERDICT r5 #1)") {
    import org.apache.spark.sql.catalyst.plans.logical.Join
    import org.apache.spark.sql.catalyst.plans.{Inner, LeftSemi}
    val docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    val df = graft.ext.Dedup.minhashLshPairs(docs, "doc_id", "text")
    val plan = df.queryExecution.optimizedPlan
    // exactly one inner equi-join keyed on the shingle column: the verify
    // self-join (the band join keys on (band, bsig))
    val shingleJoins = plan.collect {
      case j @ Join(_, _, Inner, Some(cond), _)
          if cond.references.exists(_.name == "shingle") => j
    }
    assert(shingleJoins.size == 1,
      s"expected exactly one shingle-keyed inner join, got ${shingleJoins.size}:\n$plan")
    val verify = shingleJoins.head
    // each input subtree must contain a LeftSemi join (the candidate-id
    // restriction) — without it the join materializes every co-shingle
    // pair in the corpus, the exact blowup the banding exists to avoid
    Seq("left" -> verify.left, "right" -> verify.right).foreach { case (side, child) =>
      val semis = child.collect { case s @ Join(_, _, LeftSemi, _, _) => s }
      assert(semis.nonEmpty,
        s"$side input of the verify join is NOT candidate-restricted:\n$child")
    }
  }

  test("quantile gate and token budget pay exactly ONE exchange: both " +
      "windows share the group partitioning") {
    val docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    def nExchanges(df: org.apache.spark.sql.DataFrame): Int =
      df.queryExecution.executedPlan.toString
        .linesIterator.count(_.contains("Exchange hashpartitioning"))
    val gate = graft.ext.Sampling.keepTopQuantilePerGroup(docs, col("source"),
      Seq(col("doc_id").asc), keepPermille = 300)
    assert(nExchanges(gate) == 1,
      s"quantile gate must shuffle once:\n${gate.queryExecution.executedPlan}")
    val budget = graft.ext.Sampling.tokenBudgetPerGroup(docs, col("source"),
      Seq(col("doc_id").asc), size(split(col("text"), " ")), budget = 500L)
    assert(nExchanges(budget) == 1,
      s"token budget must shuffle once:\n${budget.queryExecution.executedPlan}")
  }

  test("prefix-filter join: candidates join on prefix shingles only; the " +
      "verify stage is per-pair array_intersect — NO second shingle join") {
    import org.apache.spark.sql.catalyst.plans.logical.Join
    import org.apache.spark.sql.catalyst.plans.Inner
    val docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    val df = graft.ext.Dedup.prefixFilterJaccardPairs(docs, "doc_id", "text")
    // the operator pins its candidate frame; drop the cache entry BEFORE
    // forcing the plan, or the candidate subtree shows as an opaque
    // InMemoryRelation and the structural assertions can't see inside it
    spark.catalog.clearCache()
    val plan = df.queryExecution.optimizedPlan
    val shingleJoins = plan.collect {
      case j @ Join(_, _, Inner, Some(cond), _)
          if cond.references.exists(_.name == "shingle") => j
    }
    // every shingle-keyed join is the prefix×prefix candidate join (the
    // uncached candidate subtree expands once per reference, so it can
    // appear several times); BOTH inputs must carry the rank-vs-⌈t·n⌉
    // prefix Filter — a raw corpus-wide shingle self-join has none. The
    // verify never re-shuffles the shingle relation — it intersects the
    // per-doc hash arrays pulled by id-keyed joins.
    import org.apache.spark.sql.catalyst.plans.logical.Filter
    assert(shingleJoins.nonEmpty, s"no shingle-keyed candidate join found:\n$plan")
    shingleJoins.foreach { j =>
      Seq("left" -> j.left, "right" -> j.right).foreach { case (side, child) =>
        val prefixFilters = child.collect {
          case f: Filter if f.condition.toString.contains("div 1000") => f
        }
        assert(prefixFilters.nonEmpty,
          s"$side input of a shingle join is NOT prefix-restricted:\n$child")
      }
    }
    assert(df.queryExecution.executedPlan.toString.contains("array_intersect"),
      "per-pair verify must use array_intersect")
    // r15: the verify arrays are a PROJECTION of the pre-explode shingle
    // array relation (hs comes straight off the scan), candidate-restricted
    // by a LeftSemi on the candidate ids — the former collect_set-groupBy
    // re-aggregated the exploded relation into the very array the scan had
    // already built, paying one more corpus-wide exchange
    import org.apache.spark.sql.catalyst.plans.LeftSemi
    import org.apache.spark.sql.catalyst.plans.logical.Aggregate
    val arrAggs = plan.collect {
      case a: Aggregate if a.aggregateExpressions.exists(
          _.toString.contains("collect_set")) => a
    }
    assert(arrAggs.isEmpty,
      s"verify arrays must be a projection of the array-form shingle " +
        s"relation, not a collect_set re-aggregation:\n$plan")
    val semiJoins = plan.collect { case j @ Join(_, _, LeftSemi, _, _) => j }
    assert(semiJoins.nonEmpty,
      s"verify-array scan must be candidate-restricted (LeftSemi on " +
        s"candidate ids):\n$plan")
    spark.catalog.clearCache() // prefix join pins its candidate frame
  }

  test("global ordinal avoids the single-partition window: range exchange " +
      "+ pid-local rank + broadcast offsets, never Exchange SinglePartition") {
    val docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
      .select(col("doc_id"), size(split(col("text"), " ")).cast("long").as("w"))
    val df = graft.ext.Sharding.balancedShards(docs, "w", "doc_id", numShards = 4)
    val plan = df.queryExecution.executedPlan.toString
    assert(!plan.contains("Exchange SinglePartition"),
      s"global ordinal collapsed to one partition:\n$plan")
    assert(plan.contains("BroadcastHashJoin") || plan.contains("BroadcastExchange"),
      s"partition offsets must come in as a broadcast:\n$plan")
    spark.catalog.clearCache() // globalOrdinal pins its ranged frame
  }

  test("quantile sketch: exact-rank audit joins the (groups×quantiles)-row " +
      "estimate frame as a BROADCAST; no cartesian, no single-partition window") {
    val docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    val df = graft.ext.Quantiles.quantileEstimate(
      docs, "source", "doc_id", "n_chars")
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.contains("BroadcastHashJoin") || plan.contains("BroadcastExchange"),
      s"estimate frame must broadcast into the audit scan:\n$plan")
    assert(!plan.contains("CartesianProduct"), s"cartesian in quantile plan:\n$plan")
    assert(!plan.contains("Exchange SinglePartition"),
      s"quantile plan collapsed to one partition:\n$plan")
  }

  test("weighted sample: priority window partitions by the GROUP — never " +
      "a single-partition sort") {
    val docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    val df = graft.ext.Sampling.weightedSamplePerGroup(docs, col("source"),
      col("doc_id").cast("string"), col("n_chars"), n = 10)
    val plan = df.queryExecution.executedPlan.toString
    assert(!plan.contains("Exchange SinglePartition"),
      s"weighted sample collapsed to one partition:\n$plan")
    assert(plan.contains("Window"), s"expected the priority window:\n$plan")
  }

  test("winnow-candidate prefilter plans a map-side-combinable groupBy + " +
      "semi-join, NO Window (VERDICT r8 #2: the count-window sorted every " +
      "fingerprint row)") {
    val docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    val cand = graft.ext.Dedup.winnowRouted(docs, "doc_id", "text",
      n = 8, minDocs = 2, k = 4, w = 4, maxCandidateFraction = 1.0).get
    val plan = cand.queryExecution.executedPlan.toString
    assert(!plan.contains("Window"),
      s"candidate selection must not rank fingerprints via a window:\n$plan")
    assert(plan.contains("LeftSemi"),
      s"expected the shared-fingerprint semi-join:\n$plan")
    assert(plan.contains("partial_count") || plan.contains("partial"),
      s"expected a partial (map-side) count aggregate:\n$plan")
  }

  test("per-group top-k aggregates with bounded state: ONE partial-reduced " +
      "groupBy, NO Window, NO per-group sort") {
    val li = spark.read.parquet("/root/testdata/sf0.001/lineitem.parquet")
    val df = graft.ext.TopK.perGroup(li, "l_suppkey",
      floor(col("l_extendedprice") * 100 + 0.5),
      col("l_orderkey") * 10 + col("l_linenumber"), k = 3)
    val plan = df.queryExecution.executedPlan.toString
    assert(!plan.contains("Window"),
      s"top-k aggregate must not plan a window:\n$plan")
    assert(plan.contains("ObjectHashAggregate") || plan.contains("SortAggregate"),
      s"expected the typed-imperative aggregate:\n$plan")
  }

  test("incremental linkage: best-entity choice is a partial-combinable " +
      "max(struct) aggregate, NO Window; the registry is pruned by a " +
      "semi-join before the scoring join") {
    import graft.ext.Linkage
    val registry = (1L to 100L).map(i => (i, s"name$i", (i % 10).toInt))
      .toDF("eid", "name", "blk")
    val batch = (1L to 20L).map(i => (i + 1000L, s"name$i", (i % 10).toInt))
      .toDF("rid", "name", "blk")
    val out = Linkage.assignEntities(batch, registry, "rid", "eid",
      "blk", "blk", Seq(Linkage.FieldRule("name", "name", 4000L, -2000L)),
      minScoreMillis = 1000L, newEntityBase = 90000L)
    val plan = out.queryExecution.executedPlan.toString
    assert(!plan.contains("Window"),
      s"argmax must be an aggregate, not a rank window:\n$plan")
    assert(plan.contains("LeftSemi"),
      s"expected the touched-blocks registry prune:\n$plan")
    assert(plan.contains("partial_max"),
      s"expected a partial (map-side) max aggregate:\n$plan")
  }

  test("CMS point estimation probes the registers as a BROADCAST (the " +
      "sketch is depth×width rows regardless of corpus size)") {
    val docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    val toks = docs.select(explode(split(col("text"), " ")).as("tok"))
    val est = graft.ext.Cms.estimate(
      graft.ext.Cms.registers(toks, "tok"), toks.limit(5), "tok")
    val plan = est.queryExecution.executedPlan.toString
    assert(plan.contains("BroadcastHashJoin"),
      s"register probe must be a broadcast join:\n$plan")
  }

  test("native array expressions participate in codegen (no Scala UDF nodes)") {
    val prep = graft.ext.Similarity.prepare(
      spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet"),
      "vec_id", "embedding")
    val plan = prep.queryExecution.executedPlan.toString
    assert(!plan.contains("BatchEvalPython") && !plan.toLowerCase.contains("scalaudf"),
      s"UDF node found in plan:\n$plan")
  }

  test("perceptron round is ONE map-side-combinable aggregate: partial " +
      "sums below the single 1-row exchange, no Window, no join") {
    val feats = (1L to 100L).map(i => (if (i % 2 == 0) 1L else -1L, 1L, i))
      .toDF("y", "x0", "x1")
    val df = graft.ext.Perceptron.roundAgg(feats, "y", Seq("x0", "x1"),
      Seq(3L, -2L))
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.contains("partial_sum"),
      s"expected map-side partial sums:\n$plan")
    assert(!plan.contains("Window") && !plan.contains("Join"),
      s"a perceptron round must be a pure aggregate:\n$plan")
  }

  test("segment-removal reassembly is aggregate-ordered, never a Window; " +
      "the fused pipeline has no cartesian/nested-loop join") {
    val d = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    val df = graft.ext.CorpusAnalysis.removeBoilerplateSegments(
      d, "doc_id", "text", segTokens = 8, minDocs = 2)
    val plan = df.queryExecution.executedPlan.toString
    assert(!plan.contains("Window"),
      s"in-group order must come from array_sort in the agg, not a " +
        s"window sort:\n$plan")
    assert(!plan.contains("CartesianProduct") &&
        !plan.contains("BroadcastNestedLoopJoin"),
      s"verdict join must be equi-keyed on the segment:\n$plan")
  }

  test("hard-negative mining keeps the brute-force top-k's partial " +
      "window group limit (only ~k rows per query survive the exchange)") {
    val prep = graft.ext.Similarity.prepare(
      spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet"),
      "vec_id", "embedding")
    val df = graft.ext.Similarity.hardNegativesTopK(prep,
      prep.filter(col("vec_id") % 40 === 0), k = 5)
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.contains("WindowGroupLimit"),
      s"expected InferWindowGroupLimit's partial top-k:\n$plan")
  }

  test("entity clustering never degenerates to an all-pairs join: the " +
      "self-linkage is equi-keyed on the block") {
    import graft.ext.Linkage
    val recs = (1L to 50L).map(i => (i, s"name$i", (i % 7).toInt, "s", 1.0))
      .toDF("id", "name", "blk", "seg", "bal")
    val df = Linkage.clusterEntities(recs, "id", "blk",
      Seq(Linkage.FieldRule("name", "name", 4000L, -2000L, maxEdit = 1)),
      minScoreMillis = 1000L)
    val plan = df.queryExecution.executedPlan.toString
    assert(!plan.contains("CartesianProduct") &&
        !plan.contains("BroadcastNestedLoopJoin"),
      s"block self-join must be an equi-join:\n$plan")
  }

  test("maintained bm25 stats: finalState enters ONLY through the " +
      "dirty-term semi-join prune; clean side is a left-anti; no cartesian") {
    import graft.sync.{Apply, LakeTable, Maintain}
    val docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
      .select("doc_id", "text")
    val t = java.nio.file.Files.createTempDirectory("graft_pq_bm25")
      .toString + "/t"
    LakeTable.overwrite(docs, t)
    val up = docs.filter(col("doc_id") % 5 === 1)
    LakeTable.appendCommit(
      Apply.ChangeSet(up.select("doc_id"), up, up.select("doc_id")), t)
    val fromSeq = LakeTable.resolve(t).get._2
    val out = Maintain.bm25Stats(docs,
      LakeTable.changes(spark, t, fromSeq, keyCol = "doc_id"),
      LakeTable.read(spark, t, keyCol = "doc_id"), "doc_id", "text")
    val plan = out.queryExecution.executedPlan.toString
    assert(!plan.contains("CartesianProduct") &&
        !plan.contains("BroadcastNestedLoopJoin"),
      s"bm25 maintenance must stay term/key-equi-joined:\n$plan")
    assert(plan.contains("LeftSemi"),
      s"expected the dirty-term final-state prune:\n$plan")
  }

  test("version-threshold lake read pushes the threshold into the " +
      "surviving parquet scans (row-group pruning evidence)") {
    import graft.sync.{Apply, LakeTable}
    val t = java.nio.file.Files.createTempDirectory("graft_pq_vskip")
      .toString + "/t"
    LakeTable.overwrite((1L to 200L).map(i => (i, i, s"p$i"))
      .toDF("RecId", "SysRowVersion", "payload"), t)
    val hi = (60L to 70L).map(i => (i, 1000L + i, "vC"))
      .toDF("RecId", "SysRowVersion", "payload")
    LakeTable.appendCommit(
      Apply.ChangeSet(hi.select("RecId"), hi, hi.select("RecId")), t)
    val plan = LakeTable.readVersionFrom(spark, t, 1000L)
      .queryExecution.executedPlan.toString
    assert(plan.contains("GreaterThanOrEqual(SysRowVersion,1000)"),
      s"threshold must reach PushedFilters of the scans:\n$plan")
  }

  test("maintained IVF postings: index leaves via broadcast anti, rescoring " +
      "is feed-sized against a broadcast codebook — the index never shuffles") {
    import graft.sync.{Apply, LakeTable, Maintain}
    val t = java.nio.file.Files.createTempDirectory("graft_pq_ivf")
      .toString + "/t"
    val ini = (1L to 500L).map(i =>
        (i, Array((i % 7).toFloat, (i % 3).toFloat)))
      .toDF("vec_id", "embedding")
    LakeTable.overwrite(ini, t)
    val fromSeq = LakeTable.resolve(t).get._2
    val up = Seq((3L, Array(9.0f, 0.0f))).toDF("vec_id", "embedding")
    LakeTable.appendCommit(
      Apply.ChangeSet(up.select("vec_id"), up, up.select("vec_id")), t)
    val cs = Seq(0 -> Seq(1048576L, 0L), 1 -> Seq(0L, 1048576L))
    val posts = graft.ext.KMeans.assignUnder(
      graft.ext.Similarity.prepare(ini, "vec_id", "embedding"), cs)
    val df = Maintain.ivfPostings(posts,
      LakeTable.changes(spark, t, fromSeq, keyCol = "vec_id"),
      cs, "vec_id", "embedding")
    val plan = df.queryExecution.executedPlan.toString
    // the maintained index exits through a BROADCAST anti on the feed's
    // key set — at 100 TB a shuffled or sort-merged index would cost the
    // whole table per batch
    assert(plan.contains("LeftAnti") && !plan.contains("SortMergeJoin"),
      s"index must broadcast-anti the feed keys, never sort-merge:\n$plan")
    assert(!plan.contains("CartesianProduct"),
      s"centroid scoring must be a broadcast k-row join, not a cartesian:\n$plan")
  }
}
