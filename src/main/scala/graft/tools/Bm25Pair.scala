package graft.tools

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Isolated old-vs-new pair for the BM25 tf/len stage (VERDICT r15 #8):
  * times, with the noop sink, the r14 shape (explode EVERY token →
  * isin filter → (doc,term) groupBy exchange + a second corpus pass for
  * per-doc lengths joined on doc_id) against the r15/r16 shape (ONE
  * projection: per-term array_filter counts + length riding the row) —
  * at sf scale and at a 10x doc twin, and at 3 vs 12 query terms, to
  * place the O(|terms|·|tokens|)-per-row trade's crossover empirically.
  *
  * Usage: runMain graft.tools.Bm25Pair <sfDir> [draws]
  */
object Bm25Pair {
  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.1")
    val draws = if (args.length > 1) args(1).toInt else 3
    val spark = graft.run.Sessions.local(graft.run.Sessions.cpus)
    val osCpu = java.lang.management.ManagementFactory.getOperatingSystemMXBean
      .asInstanceOf[com.sun.management.OperatingSystemMXBean]

    def toks(c: org.apache.spark.sql.Column) =
      filter(split(c, " "), t => length(t) > 0)

    // the r14 shape: token-multiset explode -> isin -> (doc,term) exchange,
    // lengths from a SECOND corpus pass joined by doc_id
    def oldShape(df: DataFrame, terms: Seq[String]): DataFrame = {
      val tf = df.select(col("doc_id"), explode(toks(col("text"))).as("term"))
        .filter(col("term").isin(terms: _*))
        .groupBy("doc_id", "term").agg(count(lit(1)).as("tf"))
      val lens = df.select(col("doc_id"), size(toks(col("text"))).as("len"))
      tf.join(lens, Seq("doc_id"))
    }

    // the r15/r16 shape: one projection, term counts by array_filter
    def newShape(df: DataFrame, terms: Seq[String]): DataFrame = {
      val t = toks(col("text"))
      val tfCols = terms.distinct.map { q =>
        struct(lit(q).as("term"), size(filter(t, x => x === lit(q))).cast("long").as("tf"))
      }
      df.select(col("doc_id"), size(t).as("len"), explode(array(tfCols: _*)).as("_tt"))
        .select(col("doc_id"), col("len"), col("_tt.term").as("term"), col("_tt.tf").as("tf"))
        .filter(col("tf") > 0)
    }

    def timed(df: => DataFrame): (Double, Double) = {
      val best = (1 to draws).map { _ =>
        val c0 = osCpu.getProcessCpuTime
        val t0 = System.nanoTime()
        df.write.format("noop").mode("overwrite").save()
        ((System.nanoTime() - t0) / 1e9, (osCpu.getProcessCpuTime - c0) / 1e9)
      }
      (best.map(_._1).min, best.map(_._2).min)
    }

    val docs1 = spark.read.parquet(s"$sfDir/documents.parquet")
      .select("doc_id", "text")
    val docs10 = (0 until 10).map(i =>
        docs1.select((col("doc_id") + lit(i * 100000000L)).as("doc_id"), col("text")))
      .reduce(_ unionByName _)
    val terms3 = Seq("the", "quick", "zephyr")
    val terms6 = Seq("the", "quick", "zephyr", "orange", "river", "stone")
    val terms12 = Seq("the", "quick", "zephyr", "orange", "river", "stone",
      "cloud", "seven", "green", "metal", "paper", "light")

    for ((label, d) <- Seq(("sf", docs1), ("sf_x10", docs10));
         (tl, ts) <- Seq(("t3", terms3), ("t6", terms6), ("t12", terms12))) {
      d.count() // warm the scan
      val (ow, oc) = timed(oldShape(d, ts))
      val (nw, nc) = timed(newShape(d, ts))
      println(f"[bm25pair] $label $tl old wall=$ow%.3f cpu=$oc%.3f | " +
        f"new wall=$nw%.3f cpu=$nc%.3f | speedup wall=${ow / nw}%.2f cpu=${oc / nc}%.2f")
    }
    spark.stop()
  }
}
