package graft.tools

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.sync._

/** Regenerates PLANS.md: formatted physical plans of the load-bearing
  * operators, with the properties each plan is supposed to exhibit. Run
  * after changing any core operator: `sbt "runMain graft.tools.DumpPlans"`.
  */
object DumpPlans {
  def main(args: Array[String]): Unit = {
    // 4 workers regardless of SPARK_GRAFT_CPUS: shuffle partition counts
    // print in the plans
    val spark = graft.run.Sessions.local(4)
    // PLANS.md elides metadata strings (PushedFilters, file lists) at 200
    // characters
    spark.conf.set("spark.sql.maxMetadataStringLength", "200")
    spark.sparkContext.setLogLevel("ERROR")
    val d = "/root/testdata/sf0.001"
    val sb = new StringBuilder
    sb.append("# PLANS — physical plans of the load-bearing operators\n\n")
    sb.append("Generated by `graft.tools.DumpPlans` (sf0.001 inputs; plan shapes,\n")
    sb.append("not timings). What to look for is noted per plan; the same\n")
    sb.append("properties are pinned mechanically in PlanQualitySpec.\n")

    def dump(title: String, notes: String, df: DataFrame): Unit = {
      sb.append(s"\n## $title\n\n$notes\n\n```\n")
      sb.append(df.queryExecution.explainString(
          org.apache.spark.sql.execution.SimpleMode)
        // a bloom bitset literal prints as KBs of hex — elide for readability
        .replaceAll("0x[0-9A-Fa-f]{64,}", "0x<bloom-bits>"))
      sb.append("\n```\n")
    }

    dump("S7 control fetch (the 16-bytes/row pass)",
      "ReadSchema must contain only the key-arithmetic columns — no payload.",
      SyncFixtures.control(SyncFixtures.source(spark, d)))

    dump("S8 delta fetch",
      "Both `>=` predicates appear in PushedFilters; TakeOrderedAndProject, no global sort.",
      Extract.deltaFetch(SyncFixtures.source(spark, d), 1L, 0L, 1000))

    dump("J1 classification join",
      "ONE full-outer SortMergeJoin on the key; classification is a projection " +
        "(no second pass); whole-stage codegen spans join+project.",
      Classify.classify(
        SyncFixtures.source(spark, d).select("RecId", "RECVERSION", "CREATEDDATETIME", "MODIFIEDDATETIME"),
        SyncFixtures.target(spark, d).select("RecId", "RECVERSION", "CREATEDDATETIME", "MODIFIEDDATETIME"),
        graft.model.ComparisonContext(true, true, true)))

    dump("M2 incremental changeset — delete keys",
      "The whole key algebra (J2/J3/J4 + local purge) hangs off ONE full-outer " +
        "join; flags are projections, not extra joins.",
      {
        val flags = Apply.incrementalFlags(
          SyncFixtures.control(SyncFixtures.source(spark, d)),
          SyncFixtures.target(spark, d), lit(1L), lit(1L))
        Apply.changeSet(SyncFixtures.source(spark, d), flags, lit(1L)).deleteKeys
      })

    dump("Planner cost model (one pass)",
      "Single full-outer key join + one aggregate produces every count the " +
        "mode decision needs.",
      Planner.decideAsQuery(
        SyncFixtures.control(SyncFixtures.perfect(spark, d)),
        SyncFixtures.perfect(spark, d).select("RecId", "SysRowVersion"),
        spark.range(1).select(lit(0L).as("stored_mark"))))

    dump("Quantized cosine pair join (similarity hot path)",
      "array_dot_long / quantize_array are native codegen expressions — no " +
        "ScalaUDF / BatchEvalPython nodes anywhere.",
      graft.ext.Similarity.nearDupPairs(
        graft.ext.Similarity.prepare(
          spark.read.parquet(s"$d/embeddings.parquet"), "vec_id", "embedding"), 0.4))

    dump("Sync probe (NOOP / tier routing, ONE job)",
      "No join, no Exchange keyed on data: two scan branches unioned into " +
        "one aggregate — the whole perfect-sync decision costs two 16 B/row " +
        "map passes.",
      {
        val c = SyncFixtures.control(SyncFixtures.perfect(spark, d))
        c.select(col("RecId"), col("SysRowVersion"), lit(0).as("_side"))
          .unionByName(c.select(col("RecId"), col("SysRowVersion"), lit(1).as("_side")))
          .agg(sum(when(col("_side") === 0, 1L).otherwise(0L)).as("cn"),
            max(when(col("_side") === 0, col("SysRowVersion"))).as("mv"))
      })

    dump("Update-only changeset inserts (tier 2)",
      "ZERO joins: the fetch is one literal version predicate (PushedFilters " +
        "— row-group pruning on a clustered layout) and tombstones are its " +
        "key projection.",
      graft.sync.Apply.updateOnlyChangeSet(SyncFixtures.source(spark, d), 0L).inserts)

    dump("Changelog replay (shuffle-free base, O(total changes))",
      "Commit events alone go through the newest-wins window; the base " +
        "reaches the output via a broadcast LeftAnti on just the event " +
        "keys — the base never hash-partitions, so a 100 TB read costs " +
        "one scan + a bounded-size shuffle of the commits " +
        "(PlanQualitySpec pins BroadcastHashJoin/no-SortMergeJoin/one " +
        "window; ReplayPruneSpec pins pruning).",
      {
        val t = java.nio.file.Files.createTempDirectory("graft_plans_lake")
          .toString + "/t"
        val base = SyncFixtures.perfect(spark, d)
        graft.sync.LakeTable.overwrite(base, t)
        graft.sync.LakeTable.appendCommit(
          Apply.updateOnlyChangeSet(SyncFixtures.source(spark, d), 0L), t)
        graft.sync.LakeTable.read(spark, t)
      })

    dump("Partial compaction rewrite (touched files only)",
      "The replay that partial compaction writes: its FileScan lists ONLY " +
        "the touched base files (carried files never enter the plan — they " +
        "move by manifest reference, zero bytes), commits window alone, and " +
        "the touched base reaches the output via the same broadcast " +
        "LeftAnti on event keys as the full replay.",
      {
        val t = java.nio.file.Files.createTempDirectory("graft_plans_pcompact")
          .toString + "/t"
        graft.sync.LakeTable.overwriteClustered(
          SyncFixtures.perfect(spark, d), t, nFiles = 4)
        // hot tail = top ~quarter of the key domain (data-derived so the
        // dump works at any scale factor)
        val hotLo = SyncFixtures.perfect(spark, d)
          .agg(max(col("RecId"))).head().getLong(0) * 3 / 4
        val band = SyncFixtures.source(spark, d).filter(col("RecId") >= hotLo)
        graft.sync.LakeTable.appendCommit(
          Apply.ChangeSet(band.select("RecId"), band, band.select("RecId")), t)
        val base = graft.sync.LakeTable.resolve(t).get._1
        val files = graft.sync.LakeTable.baseDataFiles(base)
        val touched = files.filter(f =>
          graft.sync.ParquetStats.fileKeyRange(f, "RecId")
            .forall(_._2 >= hotLo))
        require(touched.nonEmpty && touched.size < files.size,
          s"partial-compact dump needs a proper touched/untouched split: " +
            s"${touched.size}/${files.size}")
        graft.sync.ChangeLog.replayPaths(spark, touched, s"$t/_log", "RecId", 0)
      })

    dump("LSH band join (ANN scale path)",
      "Candidates come from an equi-join on (band, bsig) — a bucketed " +
        "shuffle key, never a cartesian; the exact-cosine verify is a " +
        "projection + filter AFTER the band join.",
      graft.ext.Similarity.lshNearDupPairs(
        graft.ext.Similarity.prepare(
          spark.read.parquet(s"$d/embeddings.parquet"), "vec_id", "embedding"), 0.3))

    dump("KMV distinct sketch (bounded-buffer aggregate)",
      "One partial-aggregated groupBy carrying the kmv_sketch buffer — no " +
        "Window, no sort, no exact-distinct join (VERDICT r1 #5 fixed).",
      graft.ext.KmvSketch.distinctEstimate(
        spark.read.parquet(s"$d/documents.parquet")
          .select(col("source"), explode(split(col("text"), " ")).as("tok")),
        "source", "tok", 64))

    dump("MinHash-LSH verify stage (candidate-restricted shingle join)",
      "Both inputs of the shingle self-join are LeftSemi-restricted to the " +
        "band-nominated candidate ids and hot-shingle-capped BEFORE the " +
        "join (VERDICT r5 #1) — the verify stage scales with candidates, " +
        "never the corpus co-shingle product; the band shuffle is reused " +
        "across the three candidate references (PlanQualitySpec pins the " +
        "LeftSemi placement).",
      graft.ext.Dedup.minhashLshPairs(
        spark.read.parquet(s"$d/documents.parquet"), "doc_id", "text"))

    dump("SCD-2 history (touched-key window, untouched bypass)",
      "Untouched keys anti-join the broadcast feed-key set and emit their " +
        "open row at scan speed; only touched keys' events enter the " +
        "per-key timeline window — O(changes) windowed work on an " +
        "O(table) dimension build.",
      {
        val t = java.nio.file.Files.createTempDirectory("graft_plans_scd2")
          .toString + "/t"
        val base = SyncFixtures.perfect(spark, d)
          .select("RecId", "RECVERSION")
        graft.sync.LakeTable.overwrite(base, t)
        val changed = SyncFixtures.source(spark, d)
          .filter(col("RecId") % 20 === 3).select("RecId", "RECVERSION")
        graft.sync.LakeTable.appendCommit(
          Apply.ChangeSet(changed.select("RecId"), changed,
            changed.select("RecId")), t)
        val fromSeq = graft.sync.LakeTable.resolve(t).get._2
        graft.sync.Maintain.history(base,
          graft.sync.LakeTable.changes(spark, t, fromSeq),
          "RecId", Seq("RECVERSION"))
      })

    dump("HLL distinct sketch (byte-register aggregate)",
      "One partial-aggregated groupBy carrying the m-byte hll_sketch " +
        "buffer next to the exact-distinct expand (the error column); the " +
        "estimator is a 256-element array fold on the m-sized output — " +
        "no Window, no join.",
      graft.ext.Hll.distinctEstimate(
        spark.read.parquet(s"$d/documents.parquet")
          .select(col("source"), explode(split(col("text"), " ")).as("tok")),
        "source", "tok"))

    dump("Bloom-pruned semi-join (shuffle-avoidance for big key sets)",
      "bloom_might_contain sits in a Filter ON THE SCAN SIDE, below the " +
        "exchange feeding the exact semi-join — only ~selectivity·(1+fpp) " +
        "of the fact side is ever shuffled; the exact join removes false " +
        "positives (BloomSpec pins placement + equality).",
      graft.ext.BloomPrune.semiJoin(
        spark.read.parquet(s"$d/lineitem.parquet"),
        spark.read.parquet(s"$d/orders.parquet")
          .filter(col("o_orderpriority") === "1-URGENT"),
        "l_orderkey", "o_orderkey", expectedKeys = 32768))

    dump("Misra–Gries heavy hitters (bounded-state frequency sketch)",
      "ObjectHashAggregate carries the freq_sketch buffer with map-side " +
        "partials (O(capacity) per group); the ranking window runs over " +
        "the ≤capacity sketch output, never over raw occurrences.",
      graft.ext.HeavyHitters.topTerms(
        spark.read.parquet(s"$d/documents.parquet").select(col("lang"),
          explode(graft.ext.HeavyHitters.ngramsExpr("text", 2)).as("term")),
        "lang", "term", capacity = 1024, topN = 10))

    dump("TF-IDF top terms (corpus model joined back)",
      "doc_freq aggregates OVER the tf aggregate, so Catalyst reuses the " +
        "(doc, term) exchange (ReusedExchange / single tf subtree); the " +
        "top-N window partitions by doc_id — its sort is bounded by the " +
        "per-doc vocabulary, never the corpus.",
      graft.ext.CorpusAnalysis.tfidfTopTerms(
        spark.read.parquet(s"$d/documents.parquet"), "doc_id", "text", 5))

    dump("Benchmark decontamination (broadcast held-out n-grams)",
      "The benchmark shingle set is BROADCAST — the corpus side probes an " +
        "in-memory map at scan speed and only post-filter hit counts " +
        "shuffle. No exchange of the corpus against the held-out set.",
      graft.ext.CorpusAnalysis.contamination(
        spark.read.parquet(s"$d/documents.parquet").filter(col("doc_id") % 97 =!= 0),
        spark.read.parquet(s"$d/documents.parquet").filter(col("doc_id") % 97 === 0),
        "doc_id", "text", n = 3))

    dump("SQ8 asymmetric top-k (compressed inner product)",
      "Corpus vectors move as decoded-from-code arrays under inlined " +
        "literal stats (map-side expression — no stats join); the sampled " +
        "query side is broadcast; array_dot_long keeps the scoring " +
        "integer-exact and codegen'd.",
      graft.ext.SQ8.sq8TopK(
        graft.ext.Similarity.prepare(
          spark.read.parquet(s"$d/embeddings.parquet"), "vec_id", "embedding"),
        k = 3, sampleMod = 40))

    dump("PQ ADC top-k (compressed ANN)",
      "Per-pair work is a BroadcastHashJoin of the exploded corpus codes " +
        "(3 small ints/row) against the m·ksub query lookup table, then one " +
        "sum aggregate and a per-query top-k window — no dim-wide dot " +
        "product per pair, no CartesianProduct anywhere (the codebook " +
        "crossJoins are broadcast nested loops over k rows).",
      graft.ext.PQ.adcTopK(
        graft.ext.Similarity.prepare(
          spark.read.parquet(s"$d/embeddings.parquet"), "vec_id", "embedding"),
        m = 8, ksub = 16, iters = 1, k = 5, sampleMod = 40))

    dump("Key-range read with commit-level data skipping",
      "Disjoint commits are absent from the plan entirely (metadata-level " +
        "skip via per-commit _stats — LakeSkipSpec pins the full-skip " +
        "case); for SURVIVING commits, as here, the BETWEEN predicate " +
        "shows in PushedFilters of the base and every commit scan.",
      {
        val t = java.nio.file.Files.createTempDirectory("graft_plans_skip")
          .toString + "/t"
        graft.sync.LakeTable.overwrite(SyncFixtures.perfect(spark, d), t)
        graft.sync.LakeTable.appendCommit(
          Apply.updateOnlyChangeSet(SyncFixtures.source(spark, d), 0L), t)
        graft.sync.LakeTable.readKeyRange(spark, t, 0L, 2000000000000L)
      })

    dump("Prefix-filter exact similarity join (AllPairs family)",
      "Exactly ONE shingle-keyed SortMergeJoin/ShuffledHashJoin — the " +
        "prefix×prefix candidate join; the verify stage is id-keyed joins " +
        "+ array_intersect (no second shingle shuffle). Prefix selection " +
        "shows as the rank-vs-(nsh div) Filter above the two windows.",
      graft.ext.Dedup.prefixFilterJaccardPairs(
        spark.read.parquet(s"$d/documents.parquet"), "doc_id", "text"))

    dump("Global ordinal / balanced shards (two-phase rank)",
      "NO Exchange SinglePartition anywhere: a range exchange on the " +
        "order key, a pid-local Window, and the offsets arriving via " +
        "BroadcastHashJoin — the scale-safe form of a global row_number.",
      graft.ext.Sharding.balancedShards(
        spark.read.parquet(s"$d/documents.parquet")
          .select(col("doc_id"), size(split(col("text"), " ")).cast("long").as("w")),
        "w", "doc_id", numShards = 4))

    dump("Degree-ordered triangle counting",
      "The wedge join keys on the LOW endpoint u (after the orientation " +
        "projection) and the closing edge arrives as a LeftSemi on (v, w) " +
        "— wedge work is bounded by sum(outdeg^2), outdeg O(sqrt(E)).",
      graft.ext.Graph.triangleCounts(
        graft.ext.Dedup.ngramJaccardPairs(
          spark.read.parquet(s"$d/documents.parquet"), "doc_id", "text",
          n = 3, threshold = 0.5)
          .select(col("id_a").as("a"), col("id_b").as("b"))))

    dump("Mergeable quantile sketch (estimate + exact-rank audit)",
      "ONE ObjectHashAggregate pass builds the per-group sketches " +
        "(map-side partials of the bounded buffer); the audit joins the " +
        "(groups × quantiles)-row estimate frame back as a " +
        "BroadcastHashJoin — no cartesian, no single-partition window.",
      graft.ext.Quantiles.quantileEstimate(
        spark.read.parquet(s"$d/documents.parquet"),
        "source", "doc_id", "n_chars"))

    dump("ExactSubstr winnow-candidate prefilter (forced route)",
      "The fingerprint scan is the native one-pass winnow_fps expression " +
        "(WinnowFps: rolling k-gram hash + deque sliding min inside " +
        "whole-stage codegen — no md5, no per-window slice allocation); " +
        "shared fingerprints come from a PARTIAL-aggregated groupBy + " +
        "LeftSemi, NOT a count-window (VERDICT r8 #2 — no Window/Sort " +
        "node over the fingerprint rows).",
      graft.ext.Dedup.winnowRouted(
        spark.read.parquet(s"$d/documents.parquet"), "doc_id", "text",
        n = 8, minDocs = 2, k = 4, w = 4, maxCandidateFraction = 1.0).get)

    dump("Bounded per-group top-k aggregate",
      "NO Window, NO sort: one partial-reduced ObjectHashAggregate " +
        "carrying the O(k) buffer, then a Generate (posexplode) for rank " +
        "rows. Compare the window form, which Spark >=3.5 rewrites with " +
        "WindowGroupLimit to byte-parity but still sorts every partition " +
        "on both sides of the exchange.",
      graft.ext.TopK.perGroup(
        spark.read.parquet(s"$d/lineitem.parquet"), "l_suppkey",
        floor(col("l_extendedprice") * 100 + 0.5),
        col("l_orderkey") * 10 + col("l_linenumber"), k = 3))

    dump("Per-row MinHash band rows (the streaming-capable signature path)",
      "PURE per-row work: FileScan → Project (shingle array → h32 per " +
        "element → 16 array_min's → band structs) → Generate (explode). " +
        "NO aggregate and NO Exchange — the property that lets " +
        "flagNearDupStream put flatMapGroupsWithState directly on these " +
        "rows (a streaming groupBy before a stateful operator is rejected " +
        "by the planner). Values are spec-pinned equal to the aggregate " +
        "signature path (min is duplicate-insensitive).",
      graft.ext.Dedup.minhashBandRowsPerDoc(
        spark.read.parquet(s"$d/documents.parquet"), "doc_id", "text", n = 3))

    dump("Incremental entity assignment (growing-registry ER, batch form)",
      "The registry is pruned by a LeftSemi broadcast on the batch's " +
        "distinct block keys BEFORE the scoring join (untouched blocks " +
        "never reach the wide join — with a block-partitioned registry " +
        "this prune happens at the scan); the best-entity choice is a " +
        "partial-combinable max(struct(score, -entity)) HashAggregate — " +
        "no rank window anywhere; the only wide exchange keys on the " +
        "blocking value.",
      {
        val base = spark.read.parquet(s"$d/customer.parquet")
          .select("c_custkey", "c_name", "c_acctbal", "c_mktsegment")
        val registry = base.withColumn("blk", substring(col("c_name"), -3, 3))
        val batch = base.select(
            (col("c_custkey") + 1000000L).as("record_id"),
            col("c_name"), col("c_acctbal"), col("c_mktsegment"))
          .withColumn("blk", substring(col("c_name"), -3, 3))
        graft.ext.Linkage.assignEntities(batch, registry,
          "record_id", "c_custkey", "blk", "blk",
          Seq(
            graft.ext.Linkage.FieldRule("c_name", "c_name", 4000L, -2000L, maxEdit = 1),
            graft.ext.Linkage.FieldRule("c_acctbal", "c_acctbal", 3000L, -1500L),
            graft.ext.Linkage.FieldRule("c_mktsegment", "c_mktsegment", 1000L, -500L)),
          minScoreMillis = 5000L, newEntityBase = 9000000L)
      })

    dump("Batch-perceptron training round",
      "ONE map-side-combinable aggregate: partial_sum functions below a " +
        "single 1-row exchange, weights folded in as literals — no join, " +
        "no window, no parameter server. k training rounds = k of exactly " +
        "this plan over the checkpointed feature frame.",
      {
        val tk = split(col("text"), " ")
        val feats = spark.read.parquet(s"$d/documents.parquet").select(
          when(col("lang") === "en", 1L).otherwise(-1L).as("y"),
          lit(1L).as("x0"), size(tk).cast("long").as("x1"),
          size(array_distinct(tk)).cast("long").as("x2"))
        graft.ext.Perceptron.roundAgg(feats, "y", Seq("x0", "x1", "x2"),
          Seq(1L, -2L, 3L))
      })

    dump("Segment-level boilerplate removal (CCNet line dedup)",
      "Segmentation is projection+explode (non-overlapping windows, " +
        "~1/segTokens of the sliding-shingle volume); the frequency pass " +
        "is one partial-aggregated distinct count keyed on the segment; " +
        "reassembly orders INSIDE the doc-keyed aggregate via array_sort " +
        "— no Window node anywhere; the final left join restores " +
        "zero-token docs.",
      graft.ext.CorpusAnalysis.removeBoilerplateSegments(
        spark.read.parquet(s"$d/documents.parquet"), "doc_id", "text",
        segTokens = 8, minDocs = 2))

    dump("Entity clustering (self-linkage + transitive closure)",
      "The self-join is equi-keyed on the block (never cartesian), " +
        "id_a < id_b halves it; the closure input is the LINK set only. " +
        "starComponents' converged rounds are driver-iterated with " +
        "localCheckpoint lineage cuts, so this one-shot plan shows the " +
        "final assembly: component map joined back to all records, " +
        "singleton fallback as a coalesce projection, one count per " +
        "cluster.",
      {
        val recs = spark.read.parquet(s"$d/customer.parquet")
          .select(col("c_custkey").cast("long").as("id"),
            col("c_name").as("name"), col("c_acctbal").as("bal"),
            col("c_mktsegment").as("seg"))
          .withColumn("blk", substring(col("name"), -3, 3))
        graft.ext.Linkage.clusterEntities(recs, "id", "blk",
          Seq(graft.ext.Linkage.FieldRule("name", "name", 4000L, -2000L,
            maxEdit = 1)), minScoreMillis = 4000L)
      })

    dump("BPE merge round (pair counts over the word-type table)",
      "The trainer's per-round job: word types (vocabulary-bounded, NOT " +
        "the corpus) explode to adjacent pairs, one partial-aggregated " +
        "groupBy sums weighted counts, TakeOrderedAndProject picks the " +
        "total-order argmax — a 1-row collect per round.",
      {
        val words = graft.ext.Bpe.wordCounts(
            spark.read.parquet(s"$d/documents.parquet"), col("text"))
          .select(graft.ext.Bpe.wrap(col("word")).as("w"), col("wcount"))
        graft.ext.Bpe.pairCounts(words)
          .orderBy(col("cnt").desc, col("l").asc, col("r").asc).limit(1)
      })

    dump("Version-threshold lake read (S8 delta fetch on a lake table)",
      "Below-band commits contribute tombstones only — their insert scans " +
        "collapse to empty relations (LakeSkipSpec pins absence from " +
        "inputFiles); the threshold predicate shows in PushedFilters of " +
        "the base scan and every surviving insert scan. The monotone-" +
        "version contract is documented at readVersionFrom.",
      {
        val t = java.nio.file.Files.createTempDirectory("graft_plans_vskip")
          .toString + "/t"
        val tgt = SyncFixtures.target(spark, d)
          .select("RecId", "SysRowVersion", "RECVERSION", "l_returnflag")
        graft.sync.LakeTable.overwrite(tgt, t)
        val low = tgt.filter(col("RecId") % 23 === 7 && col("RecId") % 131 =!= 5)
        graft.sync.LakeTable.appendCommit(
          Apply.ChangeSet(low.select("RecId"), low, low.select("RecId")), t)
        val hi = SyncFixtures.source(spark, d)
          .select("RecId", "SysRowVersion", "RECVERSION", "l_returnflag")
          .filter(col("RecId") % 20 === 3 && col("RecId") % 131 =!= 5)
        graft.sync.LakeTable.appendCommit(
          Apply.ChangeSet(hi.select("RecId"), hi, hi.select("RecId")), t)
        graft.sync.LakeTable.readVersionFrom(spark, t, 10000000000000000L)
      })

    dump("Maintained BM25 index stats (O(changes) df + max_tf)",
      "df is pure increments over three term aggregates (full-outer " +
        "merges, no finalState input anywhere on that side); max_tf's " +
        "dirty-term recompute enters through a BROADCAST semi-join prune " +
        "of the final state — the only place finalState appears. No " +
        "cartesian products; term-keyed shuffles only.",
      {
        val t = java.nio.file.Files.createTempDirectory("graft_plans_bm25")
          .toString + "/t"
        val docs = spark.read.parquet(s"$d/documents.parquet")
          .select("doc_id", "text")
        graft.sync.LakeTable.overwrite(docs, t)
        val up = docs.filter(col("doc_id") % 5 === 1)
        graft.sync.LakeTable.appendCommit(
          Apply.ChangeSet(up.select("doc_id"), up, up.select("doc_id")), t)
        val fromSeq = graft.sync.LakeTable.resolve(t).get._2
        graft.sync.Maintain.bm25Stats(docs,
          graft.sync.LakeTable.changes(spark, t, fromSeq, keyCol = "doc_id"),
          graft.sync.LakeTable.read(spark, t, keyCol = "doc_id"),
          "doc_id", "text")
      })

    dump("Maintained IVF postings (O(changes) ANN-index maintenance)",
      "The maintained index exits through a BROADCAST anti on the feed's " +
        "key set (never shuffled, never sort-merged); rescoring is the " +
        "surviving upserts against a broadcast k-row codebook " +
        "(BroadcastNestedLoopJoin over k centroids — feed-sized, the " +
        "designed shape). PlanQualitySpec pins the anti/no-SMJ/no-" +
        "cartesian properties mechanically.",
      {
        val t = java.nio.file.Files.createTempDirectory("graft_plans_ivf")
          .toString + "/t"
        val embs = spark.read.parquet(s"$d/embeddings.parquet")
          .select("vec_id", "embedding")
        graft.sync.LakeTable.overwrite(embs, t)
        val up = embs.filter(col("vec_id") % 5 === 1)
        graft.sync.LakeTable.appendCommit(
          Apply.ChangeSet(up.select("vec_id"), up, up.select("vec_id")), t)
        val fromSeq = graft.sync.LakeTable.resolve(t).get._2
        val cs = Seq(0 -> Seq.fill(64)(0L), 1 -> Seq.fill(64)(1048576L))
        graft.sync.Maintain.ivfPostings(
          graft.ext.KMeans.assignUnder(
            graft.ext.Similarity.prepare(embs, "vec_id", "embedding"), cs),
          graft.sync.LakeTable.changes(spark, t, fromSeq, keyCol = "vec_id"),
          cs, "vec_id", "embedding")
      })

    dump("Maintained MinHash band index (O(changes) near-dup index)",
      "Same derivedRows shape: broadcast anti exit for touched keys; the " +
        "re-derivation side is per-row array expressions over the " +
        "surviving upserts only (no aggregation, no corpus input).",
      {
        val t = java.nio.file.Files.createTempDirectory("graft_plans_mh")
          .toString + "/t"
        val docs = spark.read.parquet(s"$d/documents.parquet")
          .select("doc_id", "text")
        graft.sync.LakeTable.overwrite(docs, t)
        val up = docs.filter(col("doc_id") % 5 === 1)
        graft.sync.LakeTable.appendCommit(
          Apply.ChangeSet(up.select("doc_id"), up, up.select("doc_id")), t)
        val fromSeq = graft.sync.LakeTable.resolve(t).get._2
        graft.sync.Maintain.minhashBandIndex(
          graft.ext.Dedup.minhashBandRowsPerDoc(docs, "doc_id", "text"),
          graft.sync.LakeTable.changes(spark, t, fromSeq, keyCol = "doc_id"),
          "doc_id", "text")
      })

    java.nio.file.Files.writeString(java.nio.file.Paths.get("PLANS.md"), sb.toString)
    println("PLANS.md written")
    spark.stop()
  }
}
