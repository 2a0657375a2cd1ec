package graft.tools

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Scale-up fixture generator (VERDICT r10 #2): writes an N×-scaled twin
  * of a driver testdata dir so the headline scenarios and flagship
  * dedup/ANN queries can be measured a DECADE of scale apart — the
  * sf0.1 → "sf1" scaling exponents that turn the 100×-plan-shape argument
  * into a falsifiable number.
  *
  * Scaling rules (all row-multiplying, none magnitude-changing):
  *  - lineitem: N copies with l_partkey shifted by copy·PartStride. This
  *    multiplies ROWS ×N while keeping every RecId =
  *    ((okey·8+ln)·262144+pkey)·2048+skey inside its original magnitude
  *    (max partkey' = 9·21000+20000 < 262144), so the SyncFixtures
  *    version arithmetic (Bump = 1e16 offsets) and the replicate() cap
  *    both keep working at the scaled size — an l_orderkey shift instead
  *    would push RecId past 1e16 and silently break the fixture's
  *    changed-row semantics.
  *  - documents: N copies under shifted doc_ids, text salted with a
  *    per-copy token — the bench's sparse-replication regime, so dedup
  *    work scales with CORPUS SIZE, not quadratically with verbatim-copy
  *    duplicate density (the dense regime is a different, separately
  *    measured claim).
  *  - embeddings: N copies under shifted ids, vectors verbatim (ANN cost
  *    is corpus-size-driven; duplicate points only tighten recall ties).
  *  - everything else: copied verbatim (only read by warmup/oracle paths).
  *
  * Usage: runMain graft.tools.MakeScaledData <srcSfDir> <outDir> [N=10]
  */
object MakeScaledData {
  val PartStride = 21000L // > sf0.1 max l_partkey (20000), 9·stride+20000 < 262144

  def main(args: Array[String]): Unit = {
    val src = args(0)
    val out = args(1)
    val n = if (args.length > 2) args(2).toInt else 10
    val spark = graft.run.Sessions.local(graft.run.Sessions.cpus)
    // the committed scaled twins were generated under 32 shuffle
    // partitions; keep it so a regenerated twin has the same file layout
    spark.conf.set("spark.sql.shuffle.partitions", "32")
    write(spark, src, out, n)
    spark.stop()
  }

  /** The scaling body, callable from specs (the invariants it must keep —
    * RecId uniqueness/magnitude, partkey bound, salted copies — are
    * pinned in EngineSpec.scala's PlannerQuerySpec). */
  def write(spark: SparkSession, src: String, out: String, n: Int): Unit = {
    require(n >= 1 && n <= 12, "N must be in [1, 12] (partkey stride bound)")

    def copies(df: DataFrame): DataFrame =
      df.withColumn("_c", explode(sequence(lit(0L), lit(n - 1L))))

    val li = spark.read.parquet(s"$src/lineitem.parquet")
    copies(li)
      .withColumn("l_partkey", col("l_partkey") + col("_c") * lit(PartStride))
      .drop("_c")
      .repartition(32)
      .write.mode("overwrite").parquet(s"$out/lineitem.parquet")

    val docs = spark.read.parquet(s"$src/documents.parquet")
    val maxDoc = docs.agg(max(col("doc_id"))).head.getLong(0) + 1L
    copies(docs)
      .withColumn("doc_id", col("doc_id") + col("_c") * lit(maxDoc))
      // per-copy salt token: copy 0 stays verbatim so the original corpus
      // is a subset; other copies' texts are near-miss variants
      .withColumn("text",
        when(col("_c") === 0L, col("text"))
          .otherwise(concat(col("text"), lit(" zc"), col("_c"))))
      .drop("_c")
      .repartition(8)
      .write.mode("overwrite").parquet(s"$out/documents.parquet")

    val emb = spark.read.parquet(s"$src/embeddings.parquet")
    val embId = emb.schema.fieldNames.head // id column leads the schema
    val maxEmb = emb.agg(max(col(embId))).head.getLong(0) + 1L
    copies(emb)
      .withColumn(embId, col(embId) + col("_c") * lit(maxEmb))
      .drop("_c")
      .repartition(8)
      .write.mode("overwrite").parquet(s"$out/embeddings.parquet")

    Seq("region", "nation", "customer", "supplier", "part", "orders", "events")
      .foreach { t =>
        spark.read.parquet(s"$src/$t.parquet")
          .write.mode("overwrite").parquet(s"$out/$t.parquet")
      }
    System.err.println(s"[make-scaled] wrote ${n}x of $src to $out")
  }
}
