package graft.ext

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Scalable EXACT global ordering — the operation behind deterministic
  * sequence-pack order, balanced output shards, and stable example ids,
  * done without the classic anti-pattern: `row_number().over(Window
  * .orderBy(...))` with no partition key collapses the whole dataset into
  * ONE task (Spark even warns), which at 100 TB is not slow but
  * impossible.
  *
  * The scale path is the textbook two-phase rank: range-repartition on the
  * order key (Spark's sampled RangePartitioner — the same machinery behind
  * a distributed ORDER BY), count each partition (one tiny driver-side
  * array, k = numPartitions, the same footprint as a k-means centroid
  * set), broadcast the running offsets back, and add the partition-local
  * row_number. Total cost: the range exchange + one pid-keyed window —
  * both shuffles partition evenly by construction (range boundaries come
  * from a sample of the actual key distribution).
  *
  * The ranged frame is PERSISTED for the two passes (count + final): range
  * boundaries are sampled per materialization, so without the pin the
  * offsets could describe a different partitioning than the one the final
  * plan sees. Caller must pass a TOTAL order (tie columns included) for a
  * deterministic result — the same contract as any rank.
  */
object Sharding {

  /** Add a 1-based `ordinal` column: the row's exact global rank under
    * `orderCols`. Output columns: input columns + ordinal. */
  def globalOrdinal(df: DataFrame, orderCols: Seq[Column],
                    numPartitions: Int = 0): DataFrame = {
    // loud guard, not silent corruption: the working columns are dropped at
    // the end and `ordinal` is the output — an input frame already carrying
    // any of these names would be overwritten (ADVICE r6)
    Seq("_pid", "_off", "ordinal").foreach { c =>
      require(!df.columns.contains(c),
        s"globalOrdinal reserves column name '$c'; rename it in the input")
    }
    val parts = if (numPartitions > 0) numPartitions
                else df.sparkSession.sessionState.conf.numShufflePartitions
    val ranged = df.repartitionByRange(parts, orderCols: _*)
      .withColumn("_pid", spark_partition_id())
    CacheLease.acquire(ranged)
    // numPartitions rows to the driver — the broadcast-offset pass
    val counts = ranged.groupBy("_pid").agg(count(lit(1)).as("_c"))
      .collect().map(r => r.getInt(0) -> r.getLong(1)).sortBy(_._1)
    val offsets = counts.map(_._1)
      .zip(counts.map(_._2).scanLeft(0L)(_ + _).dropRight(1))
    val spark = df.sparkSession
    import spark.implicits._
    val offDf = offsets.toSeq.toDF("_pid", "_off")
    ranged
      .join(broadcast(offDf), Seq("_pid"))
      .withColumn("ordinal",
        col("_off") + row_number().over(
          Window.partitionBy("_pid").orderBy(orderCols: _*)))
      .drop("_pid", "_off")
  }

  /** Weight-balanced output shards: order by `weightCol` DESC (ties by
    * `idCol` ASC — a total order) and deal rows round-robin — the classic
    * longest-processing-time greedy, which bounds any shard's total weight
    * at (max single weight) above the mean. The answer to "write N output
    * files of near-equal token mass", where a hash split would leave the
    * file sizes to chance.
    *
    * @return input rows + (ordinal, shard), shard in [0, numShards). */
  def balancedShards(df: DataFrame, weightCol: String, idCol: String,
                     numShards: Int): DataFrame = {
    require(numShards > 0, s"numShards must be positive: $numShards")
    require(!df.columns.contains("shard"),
      "balancedShards reserves column name 'shard'; rename it in the input")
    globalOrdinal(df, Seq(col(weightCol).desc, col(idCol).asc))
      .withColumn("shard", ((col("ordinal") - 1) % numShards).cast("int"))
  }
}
