package graft.ext

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Byte-pair-encoding tokenizer TRAINING and encoding as corpus-scale
  * relational plans — the tokenizer-fitting stage of an LLM data pipeline
  * (Sennrich, Haddow & Birch 2016; GPT-2's trainer follows the same
  * word-type recipe).
  *
  * Scale shape: training touches the corpus exactly ONCE — the single
  * corpus-wide pass builds the WORD-TYPE table (distinct words weighted by
  * occurrence count), whose size is bounded by vocabulary (~10M types at
  * web scale) rather than corpus tokens (trillions). Every merge round is
  * then one map-side-combinable pair aggregation over the types plus a
  * 1-row argmax collect; the driver holds only the k learned merge rules.
  * Encoding is a pure scan-speed projection — the merges become a static
  * chain of codegen'd `replace` calls inside one `transform` lambda, no
  * shuffle, no UDF.
  *
  * Determinism: the per-round argmax orders (count DESC, left ASC,
  * right ASC) — a TOTAL order over candidate pairs, so count ties replay
  * identically in any engine (the q_bpe_* oracles re-derive the merges in
  * DuckDB and must land on the same table).
  *
  * Representation: a word's symbol sequence is ONE string with every
  * symbol wrapped in '|' ("abc" → "|a||b||c|"). Merging pair (a,b) is then
  * `replace(w, "|a||b|", "|ab|")` — left-to-right non-overlapping in both
  * Spark and DuckDB — and the DOUBLE delimiter keeps adjacent occurrences
  * mergeable: "|a||b||a||b|" → "|ab||ab|", where a single-delimiter form
  * ("a|b|a|b") would consume the shared '|' on the first match and miss
  * the second pair. Left-to-right also gives the classic greedy overlap
  * rule: "aaa" merges to ("aa","a"), never ("a","aa"). Words containing
  * '|' are excluded up front (the delimiter must never occur inside a
  * symbol); a production tokenizer byte-escapes instead — same contract,
  * different alphabet.
  */
object Bpe {

  /** One learned merge rule: at `rank`, the adjacent pair (left, right)
    * had the highest weighted count `pairCount` and fused into a single
    * symbol `left+right`. */
  final case class Merge(rank: Int, left: String, right: String,
    pairCount: Long)

  /** The one corpus pass: word-type table (word, wcount), whitespace
    * tokenization, empty and delimiter-bearing words dropped (see the
    * object doc for why '|' is reserved). */
  def wordCounts(df: DataFrame, textCol: Column): DataFrame =
    df.select(explode(split(textCol, " ")).as("word"))
      .filter(length(col("word")) > 0 && !col("word").contains("|"))
      .groupBy("word").agg(count(lit(1)).as("wcount"))

  /** Initial symbolization: every character wrapped in '|'. DOTALL
    * (`(?s)`) so a line terminator inside a word (the space-only split
    * leaves '\n'/'\r' embedded) wraps like any other character — without
    * it the char stays bare and the symbol string is malformed, exactly
    * the delimiter-adjacency the '|' exclusion guards against. DuckDB's
    * RE2 honors the same flag, so both engines stay aligned. */
  def wrap(word: Column): Column = regexp_replace(word, "(?s)(.)", "|$1|")

  /** Symbol array of a wrapped word: strip the outer '|', split on the
    * inner '||' boundaries. */
  private def syms(w: Column): Column =
    split(w.substr(lit(2), length(w) - 2), "\\|\\|")

  private def mergedSearch(m: Merge) = s"|${m.left}||${m.right}|"
  private def mergedReplace(m: Merge) = s"|${m.left}${m.right}|"

  /** One merge round's pair aggregation over a wrapped word-type frame
    * (columns `w`, `wcount`) — the plan-inspectable seam [[trainMerges]]
    * loops over (and DumpPlans renders): positional adjacent pairs,
    * weighted by word count, one map-side-combinable groupBy. */
  def pairCounts(words: DataFrame): DataFrame =
    words
      .select(col("wcount"), syms(col("w")).as("a"))
      .filter(size(col("a")) >= 2)
      .select(col("wcount"), explode(expr(
        "transform(sequence(1, size(a) - 1), " +
          "i -> struct(element_at(a, i) AS l, element_at(a, i + 1) AS r))"))
        .as("p"))
      .groupBy(col("p.l").as("l"), col("p.r").as("r"))
      .agg(sum("wcount").as("cnt"))

  /** Train up to `nMerges` BPE merges over `textCol`. Each round: count
    * adjacent symbol pairs across word types (weighted by word count),
    * fuse the argmax pair everywhere, repeat. Stops early only when no
    * adjacent pair remains (every word fully fused). Returns the learned
    * merge table in rank order — k driver-side rows, never data. */
  def trainMerges(df: DataFrame, textCol: Column, nMerges: Int): Seq[Merge] = {
    require(nMerges >= 1, "nMerges must be >= 1")
    // word types are a small frame (vocabulary-bounded): cut the corpus
    // lineage once so the k rounds re-plan only the type table
    var words = CacheLease.localCheckpoint(wordCounts(df, textCol)
      .select(wrap(col("word")).as("w"), col("wcount")))
    val out = scala.collection.mutable.ArrayBuffer[Merge]()
    var r = 1
    var done = false
    while (r <= nMerges && !done) {
      val best = pairCounts(words)
        .orderBy(col("cnt").desc, col("l").asc, col("r").asc)
        .limit(1).collect()
      if (best.isEmpty) done = true
      else {
        val m = Merge(r, best(0).getString(0), best(0).getString(1),
          best(0).getLong(2))
        out += m
        words = words.select(
          call_function("replace", col("w"),
            lit(mergedSearch(m)), lit(mergedReplace(m))).as("w"),
          col("wcount"))
        // the per-round replace is one narrow projection; checkpoint
        // occasionally so a deep vocabulary training stays plan-cheap
        if (r % 16 == 0) words = CacheLease.localCheckpoint(words)
        r += 1
      }
    }
    out.toSeq
  }

  /** Encoded (wrapped) form of one word column under `merges`, applied in
    * rank order — a static chain of `replace` calls, codegen'd. */
  def encodeWord(word: Column, merges: Seq[Merge]): Column =
    merges.foldLeft(wrap(word)) { (c, m) =>
      call_function("replace", c, lit(mergedSearch(m)), lit(mergedReplace(m)))
    }

  /** BPE token count of `textCol` under `merges` — the REAL token-budget
    * unit once a tokenizer is fitted (whitespace counts undercount rare
    * words, which BPE splits). Per word: boundaries = ('||' occurrences)
    * = (len - len(without '||')) / 2, tokens = boundaries + 1; summed over
    * the row's words. Pure projection — no shuffle, no UDF. */
  def bpeTokenCount(textCol: Column, merges: Seq[Merge]): Column = {
    val words = filter(split(textCol, " "),
      w => length(w) > 0 && !w.contains("|"))
    val counts = transform(words, { w0 =>
      val enc = encodeWord(w0, merges)
      val stripped = call_function("replace", enc, lit("||"), lit(""))
      (shiftright(length(enc) - length(stripped), 1) + 1).cast("long")
    })
    coalesce(aggregate(counts, lit(0L), (acc, x) => acc + x), lit(0L))
  }
}
