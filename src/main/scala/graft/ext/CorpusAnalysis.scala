package graft.ext

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Corpus-level statistics for LLM-data curation: TF-IDF term weighting,
  * cross-document boilerplate detection, benchmark decontamination, and a
  * corpus-trained Markov fluency score.
  *
  * These are the passes a training-data pipeline runs AFTER per-document
  * stats ([[TextAnalysis]]) and BEFORE dedup resolution — they all need a
  * corpus-wide model (document frequencies, shared-unit counts, transition
  * counts) joined back to the documents.
  *
  * Scale design (100 TB): every model here is built with one hash
  * aggregation keyed on content (term / shingle / bigram) — map-side
  * partials, even partitioning — and joined back keyed the same way. No
  * all-pairs joins. Two windows: the per-document top-N rank, bounded by
  * the per-doc vocabulary, and [[boilerplateScore]]'s per-shingle document
  * frequency (`Window.partitionBy("shingle")`), whose partition size is
  * that shingle's document frequency — bounded by the corpus size, and
  * large exactly for the boilerplate it measures. The benchmark side of decontamination is broadcast by construction (held-out
  * sets are small); the other model tables shuffle-join on their key, the
  * shape that survives arbitrary vocabulary growth.
  *
  * Determinism: integer counts, at most one IEEE multiply+divide in fixed
  * order, floor-quantized outputs — the DuckDB twins agree bit-for-bit.
  */
object CorpusAnalysis {

  /** TF-IDF-style term weighting: for each document, its `topN` terms by
    * rarity-weighted frequency. The score is `tf · 10⁶ / doc_freq` — the
    * same ordering as tf·idf for a fixed corpus size, but pure
    * integer-derived arithmetic (one multiply, one divide — no `log`,
    * whose libm rounding differs across engines).
    *
    * Plan shape: tf = one (doc, term) hash agg; doc_freq = one (term) agg
    * over tf (Catalyst reuses tf's exchange); join keyed on term; the
    * top-N window partitions by document, so its sort is bounded by the
    * per-doc distinct-term count, never the corpus. */
  def tfidfTopTerms(df: DataFrame, idCol: String, textCol: String,
      topN: Int = 5): DataFrame = {
    val toks = df.select(col(idCol).as("doc_id"),
      explode(TextAnalysis.tokens(col(textCol))).as("term"))
    val tf = toks.groupBy("doc_id", "term").agg(count(lit(1)).as("tf"))
    val docFreq = tf.groupBy("term").agg(count(lit(1)).as("doc_freq"))
    val scored = tf.join(docFreq, Seq("term"))
      .withColumn("score", col("tf") * lit(1000000.0) / col("doc_freq"))
    val w = Window.partitionBy("doc_id")
      .orderBy(col("score").desc, col("term").asc)
    scored.withColumn("rank", row_number().over(w))
      .filter(col("rank") <= topN)
      .select("doc_id", "rank", "term", "tf", "doc_freq", "score")
  }

  /** Cross-document boilerplate score: the fraction of a document's
    * distinct word `n`-grams that appear in at least `minDocs` documents —
    * the headers/footers/templates signal a curation pipeline uses to drop
    * or rewrite boilerplate-heavy pages. Documents shorter than `n` tokens
    * have no units and are absent from the output (callers treat absence
    * as score-unknown, not zero).
    *
    * Output: (doc_id, n_units, n_boiler, boiler_millis) with
    * boiler_millis = ⌊1000 · n_boiler / n_units⌋. */
  def boilerplateScore(df: DataFrame, idCol: String, textCol: String,
      n: Int = 5, minDocs: Long = 2): DataFrame = {
    val units = Dedup.shingles(df, idCol, textCol, n)
    // per-shingle document frequency as count-over-window, not
    // groupBy(shingle) + join-back: the join-back re-evaluated `units`
    // (a second full shingling pass over every doc's text) and paid the
    // aggregate's exchange ON TOP of the join's — the window computes the
    // same count (units rows are distinct per (sid, shingle), so a row
    // count IS the doc count) in one exchange+sort of the single `units`
    // evaluation (guide §2.4; same r2 measurement as ngramJaccardPairs'
    // hot-shingle cap — shingle keys are mostly unique, so map-side
    // partials buy nothing and the window's sort beats the second shuffle).
    // Skew: all rows of one shingle land in one WindowExec partition (AQE
    // splits skewed joins, not windows), and boilerplate shingles are hot by
    // definition. WindowExec spills per-partition, so a mega-hot shingle
    // degrades to disk, not OOM.
    val w = Window.partitionBy("shingle")
    units.withColumn("unit_docs", count(lit(1)).over(w))
      .groupBy(col("sid").as("doc_id"))
      .agg(
        count(lit(1)).as("n_units"),
        sum(when(col("unit_docs") >= minDocs, 1L).otherwise(0L)).as("n_boiler"))
      .withColumn("boiler_millis",
        floor(lit(1000.0) * col("n_boiler") / col("n_units")).cast("long"))
      .select("doc_id", "n_units", "n_boiler", "boiler_millis")
  }

  /** Non-overlapping `segTokens`-token segmentation of every document:
    * (doc_id, seg_no, seg) rows — ONE copy of the rule (empty-token
    * filtering, ceil-division segment count, 1-based slice, empty-array
    * guard) shared by [[removeBoilerplateSegments]] and the streaming
    * [[graft.streaming.StreamingSync.dedupSegmentsStream]], and mirrored
    * by their DuckDB oracles. Pure projection + explode — streamable. */
  def segmentRows(df: DataFrame, idCol: String, textCol: String,
      segTokens: Int): DataFrame = {
    require(segTokens >= 1, "segTokens must be >= 1")
    val toks = filter(split(col(textCol), " "), w => length(w) > 0)
    val segsExpr = when(size(toks) > 0,
      transform(sequence(lit(0), ceil(size(toks) / lit(segTokens.toDouble)).cast("int") - 1),
        j => array_join(slice(toks, j * segTokens + 1, lit(segTokens)), " ")))
      .otherwise(array().cast("array<string>"))
    df.select(col(idCol).cast("long").as("doc_id"),
      posexplode(segsExpr).as(Seq("seg_no", "seg")))
  }

  /** Segment-level boilerplate REMOVAL — the surgical twin of
    * [[boilerplateScore]] (which only scores): split every document into
    * consecutive non-overlapping `segTokens`-token segments (the last one
    * may be shorter), drop each segment that occurs in at least `minDocs`
    * distinct documents, and reassemble the survivors in order. This is
    * the CCNet/RefinedWeb "line-level dedup" pass adapted to token
    * segments (the corpus has no newlines): headers, footers, cookie
    * banners and template text repeat ACROSS documents while body text
    * does not, so cross-document frequency at segment granularity excises
    * exactly them without dropping whole pages.
    *
    * Output: one row per input document — (doc_id, n_segments, n_removed,
    * cleaned_text); a fully-boilerplate document survives with
    * cleaned_text = '' (dropping rows is [[graft.ext.Dedup]]'s job, and a
    * pipeline wants the removal AUDITED, not silent).
    *
    * Plan shape at 100 TB: segmentation is a pure projection + explode
    * (~1/segTokens of the shingle volume — non-overlapping windows, unlike
    * [[boilerplateScore]]'s sliding n-grams); the frequency pass is one
    * map-side-combinable distinct-count agg keyed on the segment; the
    * verdict join is segment-keyed (AQE broadcasts it when the frequent
    * set is small); reassembly is one doc-keyed agg whose in-group sort
    * is bounded by a document's own segment count. Nothing driver-side. */
  def removeBoilerplateSegments(df: DataFrame, idCol: String,
      textCol: String, segTokens: Int = 8, minDocs: Long = 2): DataFrame = {
    val segs = segmentRows(df, idCol, textCol, segTokens)
    val frequent = segs.groupBy("seg")
      .agg(countDistinct(col("doc_id")).as("n_docs"))
      .filter(col("n_docs") >= minDocs)
      .select(col("seg"), lit(true).as("_is_bp"))
    val marked = segs.join(frequent, Seq("seg"), "left")
      .select(col("doc_id"), col("seg_no"), col("seg"),
        coalesce(col("_is_bp"), lit(false)).as("is_bp"))
    val perDoc = marked.groupBy("doc_id").agg(
      count(lit(1)).as("n_segments"),
      sum(when(col("is_bp"), 1L).otherwise(0L)).as("n_removed"),
      array_join(transform(
        array_sort(collect_list(when(!col("is_bp"),
          struct(col("seg_no"), col("seg"))))),
        x => x.getField("seg")), " ").as("cleaned_text"))
    // zero-token documents produce no segments: keep them (0, 0, '')
    df.select(col(idCol).as("doc_id")).join(perDoc, Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(col("n_segments"), lit(0L)).as("n_segments"),
        coalesce(col("n_removed"), lit(0L)).as("n_removed"),
        coalesce(col("cleaned_text"), lit("")).as("cleaned_text"))
  }

  /** BM25-style lexical retrieval: top-`topN` documents for a small set
    * of query terms — the retrieval pass a curation pipeline runs to pull
    * topical slices out of a corpus (and the classic pre-neural ranking
    * function, Robertson & Walker's Okapi BM25). The tf saturation and
    * length normalization are exact BM25 (k1 = 1.2, b = 0.75); the idf
    * factor uses BM25's rational argument `(N − df + 0.5)/(df + 0.5)`
    * WITHOUT the log (libm rounding is not portable across engines — the
    * same trade [[tfidfTopTerms]] and [[markovScore]] make). Relative to
    * true BM25 this over-weights rare terms in multi-term sums; per-term
    * orderings are identical. Swapping `ln` in is a one-line production
    * change.
    *
    * Determinism: each (doc, term) contribution is a fixed-order chain of
    * IEEE double ops floor-quantized to integer micros BEFORE the
    * per-document sum, so the sum is exact integer arithmetic — no
    * float-aggregation order dependence (the oracle rule).
    *
    * Plan shape at 100 TB: the term filter prunes the exploded scan to
    * query-term rows only; tf is one (doc, term) hash agg; df and the
    * corpus stats are metadata-sized and broadcast; the only shuffle of
    * document-cardinality data is the doc-keyed length join; the final
    * top-N is orderBy+limit — Catalyst plans TakeOrderedAndProject
    * (per-partition partial top-N, no global sort materialization). */
  def bm25TopDocs(df: DataFrame, idCol: String, textCol: String,
      queryTerms: Seq[String], topN: Int = 10): DataFrame = {
    require(queryTerms.nonEmpty, "bm25TopDocs needs at least one query term")
    val stats = df.agg(
      count(lit(1)).as("n_docs"),
      sum(TextAnalysis.nonEmptyTokenCount(col(textCol)).cast("long")).as("tot_len"))
    val tf = queryTermTfLen(df, idCol, textCol, queryTerms)
    val dfreq = tf.groupBy("term").agg(count(lit(1)).as("df"))
    bm25Score(tf, dfreq, stats, topN)
  }

  /** [[bm25TopDocs]] SERVED FROM MAINTAINED STATISTICS — the consumer of
    * [[graft.sync.Maintain.bm25Stats]] / `bm25CorpusStats`: identical
    * scoring arithmetic, but df and the corpus stats arrive as INPUTS
    * (metadata-sized, broadcast) instead of being re-derived by extra
    * corpus-wide aggregates on every query. At 100 TB this is the
    * difference between "each retrieval query pays one term-pruned scan"
    * and "each query re-aggregates the corpus to learn df it already
    * maintains". Per-doc lengths are still computed from `df` (they ride
    * the same scan the tf aggregation already pays; a production deploy
    * can precompute a (doc_id, len) column instead).
    *
    * `termStats` = (term, df, …) rows — extra columns (max_tf) ignored;
    * `corpusStats` = ONE (n_docs, tot_len) row. Result ≡ [[bm25TopDocs]]
    * whenever the stats equal a direct rebuild over `df` — exactly what
    * the maintained stats guarantee (q_cdf_maintain_bm25). Tokenization
    * contract: single-space split with EMPTY TOKENS DROPPED on every
    * length path — the same rule the maintained stats use — so the
    * equivalence holds even on denormalized text (doubled/leading/
    * trailing whitespace; r11 advice, spec-pinned). */
  def bm25TopDocsFromStats(df: DataFrame, termStats: DataFrame,
      corpusStats: DataFrame, idCol: String, textCol: String,
      queryTerms: Seq[String], topN: Int = 10): DataFrame = {
    require(queryTerms.nonEmpty, "bm25TopDocsFromStats needs a query term")
    val tf = queryTermTfLen(df, idCol, textCol, queryTerms)
    val dfreq = termStats.filter(col("term").isin(queryTerms: _*))
      .select(col("term"), col("df"))
    bm25Score(tf, dfreq,
      corpusStats.select(col("n_docs"), col("tot_len")), topN)
  }

  /** Query-term-pruned (doc_id, len, term, tf) rows — the only
    * corpus-sized work a BM25 query pays; shared by both serving paths.
    * ONE projection pass: per query term, tf = occurrences counted by an
    * array filter over the tokenized row, the per-doc length rides the
    * same row, and only matching (doc, term) rows survive the generate.
    * The former shape exploded EVERY token of every document into rows
    * and re-aggregated them through a (doc, term)-keyed exchange, then
    * re-scanned the corpus a second time for the lengths and paid a
    * doc-keyed join to attach them (guide §2.3-2.4) — for a handful of
    * query terms that moved the whole token multiset through a shuffle
    * to recover counts a per-row expression already knows. */
  private def queryTermTfLen(df: DataFrame, idCol: String, textCol: String,
      queryTerms: Seq[String]): DataFrame = {
    // duplicate-insensitive semantics (ADVICE r15): one struct per DISTINCT
    // term — the pre-r15 explode+isin+groupBy shape collapsed duplicated
    // query terms, and without this a repeated term would double both its
    // score contribution and its df in bm25TopDocs.
    // Per-row cost is O(|terms| · |tokens|) — one array_filter pass per
    // distinct query term. MEASURED crossover vs the r14 token-multiset
    // explode + (doc,term) exchange (graft.tools.Bm25Pair, sf0.1 + 10x doc
    // twin, min-of-4 noop draws): this shape wins at retrieval-sized lists
    // (CPU 1.9-2.8x at 3 terms), breaks even at ~6, and LOSES by 12 (0.54x
    // at the 10x twin) — the old shape's shuffle is |terms|-independent
    // while the filter passes scale linearly. A caller with long query
    // lists (>~6 terms) should route through an explode-shaped stage.
    val terms = queryTerms.distinct
    val toks = TextAnalysis.tokens(col(textCol))
    val tfCols = terms.map { t =>
      struct(lit(t).as("term"),
        size(filter(toks, x => x === lit(t))).cast("long").as("tf"))
    }
    df.select(col(idCol).as("doc_id"),
        TextAnalysis.nonEmptyTokenCount(col(textCol)).as("len"),
        explode(array(tfCols: _*)).as("_tt"))
      .select(col("doc_id"), col("len"),
        col("_tt.term").as("term"), col("_tt.tf").as("tf"))
      .filter(col("tf") > 0)
  }

  /** Shared BM25 scoring tail: per-(doc,term) contribution quantized to
    * integer micros BEFORE the per-doc sum (the oracle rule), then the
    * deterministic top-N. `dfreq` and `stats` are broadcast — they are
    * metadata-sized on both serving paths; `tf` carries the per-doc
    * length, so the only exchange of document-cardinality data is the
    * final per-doc sum. */
  private def bm25Score(tf: DataFrame, dfreq: DataFrame,
      stats: DataFrame, topN: Int): DataFrame = {
    val contrib = tf.join(broadcast(dfreq), Seq("term"))
      .crossJoin(broadcast(stats))
      .withColumn("contrib_micro", expr(
        """CAST(floor(1000000.0 * (
          |  ((CAST(n_docs - df AS DOUBLE) + 0.5) / (CAST(df AS DOUBLE) + 0.5)) *
          |  ((CAST(tf AS DOUBLE) * 2.2) /
          |   (CAST(tf AS DOUBLE) + 1.2 * (0.25 + 0.75 *
          |     (CAST(len AS DOUBLE) /
          |      (CAST(tot_len AS DOUBLE) / CAST(n_docs AS DOUBLE)))))))) AS BIGINT)"""
          .stripMargin))
    val scored = contrib.groupBy("doc_id")
      .agg(sum("contrib_micro").as("score_micro"))
      .orderBy(col("score_micro").desc, col("doc_id").asc).limit(topN)
    val w = org.apache.spark.sql.expressions.Window
      .orderBy(col("score_micro").desc, col("doc_id").asc)
    scored.withColumn("rank", row_number().over(w))
      .select("doc_id", "rank", "score_micro")
  }

  /** Benchmark decontamination: flag corpus documents sharing any word
    * `n`-gram with a held-out benchmark set — the standard train/test
    * contamination gate (an n-gram hit means the benchmark text leaks into
    * training data). Every corpus document gets a row: (doc_id, n_hits,
    * contaminated), n_hits = distinct shared n-grams.
    *
    * The benchmark side is DISTINCT shingles of a small held-out set, so
    * it is explicitly broadcast — the corpus scan filters against an
    * in-memory hash map, no shuffle of the 100 TB side. */
  def contamination(corpus: DataFrame, bench: DataFrame, idCol: String,
      textCol: String, n: Int = 3): DataFrame = {
    val benchSh = Dedup.shingles(bench, idCol, textCol, n)
      .select("shingle").distinct()
    val hits = Dedup.shingles(corpus, idCol, textCol, n)
      .join(broadcast(benchSh), Seq("shingle"))
      .groupBy(col("sid").as("doc_id"))
      .agg(count(lit(1)).as("n_hits"))
    corpus.select(col(idCol).as("doc_id"))
      .join(hits, Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(col("n_hits"), lit(0L)).as("n_hits"),
        (coalesce(col("n_hits"), lit(0L)) > 0).as("contaminated"))
  }

  /** Positional token bigrams (with multiplicity): one row per adjacent
    * token pair. Documents shorter than 2 tokens contribute nothing. */
  private def bigrams(df: DataFrame, idCol: String, textCol: String): DataFrame =
    df.select(col(idCol).as("doc_id"),
        explode(HeavyHitters.ngramsExpr(textCol, 2)).as("bg"))
      .withColumn("w1", substring_index(col("bg"), " ", 1))
      .withColumn("w2", substring_index(col("bg"), " ", -1))
      .drop("bg")

  /** Corpus-trained Markov fluency score — the in-engine stand-in for the
    * KenLM-style perplexity filters of the CCNet lineage: train bigram
    * transition counts over the corpus (MLE: p(w₂|w₁) = c(w₁w₂)/c(w₁·)),
    * then score each document by its transitions' probabilities,
    * floor-quantized to micros (no `log`: libm rounding is not portable
    * across engines, the micro quantization is).
    *
    * Output per document (≥2 tokens): n_trans, min_p_micro (the most
    * surprising transition — a strong gibberish detector), avg_p_micro.
    *
    * Plan shape: the model is two hash aggs over the exploded bigrams
    * (c(w₁w₂) and prefix count c(w₁·), Catalyst reuses the explode);
    * scoring joins documents' bigrams to the model keyed on the pair.
    * Model size is corpus-vocabulary-bounded, not corpus-bounded. */
  def markovScore(df: DataFrame, idCol: String, textCol: String): DataFrame = {
    val bg = bigrams(df, idCol, textCol)
    val c12 = bg.groupBy("w1", "w2").agg(count(lit(1)).as("c12"))
    val c1 = bg.groupBy("w1").agg(count(lit(1)).as("c1"))
    val model = c12.join(c1, Seq("w1"))
      .withColumn("p_micro",
        floor(col("c12") * lit(1000000.0) / col("c1")).cast("long"))
      .select("w1", "w2", "p_micro")
    bg.join(model, Seq("w1", "w2"))
      .groupBy("doc_id")
      .agg(
        count(lit(1)).as("n_trans"),
        min(col("p_micro")).as("min_p_micro"),
        floor(sum(col("p_micro")) * lit(1.0) / count(lit(1))).cast("long")
          .as("avg_p_micro"))
  }
}
