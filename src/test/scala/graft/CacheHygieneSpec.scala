package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.ext._

/** Cache-lifecycle hygiene (VERDICT r6 #3): the ANN/semdedup operator
  * family persists shared frames for its own multi-action lifetimes; those
  * persists are LEASED, and a sweep that materializes results then calls
  * CacheLease.releaseAll must end with no orphaned cache entries — while a
  * CALLER-owned cache must survive the release untouched. */
class CacheHygieneSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  import spark.implicits._

  private def cacheEmpty: Boolean = spark.sharedState.cacheManager.isEmpty

  private def freshVectors() = {
    val rows = (0L until 40L).map { i =>
      (i, (0 until 8).map(d => math.sin(i * 131 + d * 17).toFloat), (i % 4).toInt)
    }
    rows.toDF("vec_id", "embedding", "label")
  }

  test("ANN/semdedup sweep + releaseAll leaves no orphaned cache entries") {
    spark.catalog.clearCache()
    CacheLease.releaseAll(spark)
    assert(cacheEmpty)

    // the query family that leases caches internally: kmeans assignment,
    // semantic dedup, cross-corpus semantic dedup, prefix-filter join
    val prep = Similarity.prepare(freshVectors(), "vec_id", "embedding")
    KMeans.assign(prep, k = 3, iters = 2, dim = 8).count()
    Similarity.semanticDedup(prep, k = 3, iters = 2, threshold = 0.95, dim = 8).count()
    Similarity.crossCorpusSemanticDedup(
      Similarity.prepare(freshVectors().filter(col("vec_id") >= 30), "vec_id", "embedding"),
      Similarity.prepare(freshVectors().filter(col("vec_id") < 30), "vec_id", "embedding"),
      k = 2, iters = 1, threshold = 0.95, dim = 8).count()
    Dedup.prefixFilterJaccardPairs(
      Seq((1L, "a b c d e f"), (2L, "a b c d e g"), (3L, "x y z w v u"))
        .toDF("doc_id", "text"), "doc_id", "text").count()

    assert(CacheLease.leasedCount(spark) > 0,
      "the sweep should have leased at least one cache entry")
    CacheLease.releaseAll(spark)
    assert(CacheLease.leasedCount(spark) == 0)
    assert(cacheEmpty, "releaseAll must reclaim every library-leased entry")
  }

  test("connected components: releaseAll frees the checkpointed rounds and " +
      "the vertex frame") {
    spark.catalog.clearCache()
    CacheLease.releaseAll(spark)
    val sc = spark.sparkContext
    val before = sc.getPersistentRDDs.keySet
    val edges = Seq((1L, 2L), (2L, 3L), (4L, 5L), (7L, 8L), (8L, 9L))
      .toDF("x", "y")
    val bounded = Components.labelPropagate(edges, "x", "y", iters = 3)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val star = Components.starComponents(edges, "x", "y")
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(bounded == star && star(3L) == 1L && star(9L) == 7L)
    assert(sc.getPersistentRDDs.keySet.diff(before).nonEmpty,
      "the components rounds should have left checkpoint RDDs behind")
    CacheLease.releaseAll(spark)
    assert(cacheEmpty, "starComponents' vertex frame must be released")
    val left = sc.getPersistentRDDs.keySet.diff(before)
    assert(left.isEmpty, s"checkpoint RDDs survived releaseAll: $left")
  }

  test("pagerank, BPE and perceptron: releaseAll frees their checkpoints") {
    spark.catalog.clearCache()
    CacheLease.releaseAll(spark)
    val sc = spark.sparkContext
    val before = sc.getPersistentRDDs.keySet
    // deep: 10 rounds > checkpointEvery 4 ⇒ inputs + every 4th round cut
    val ring = (0L until 12L).map(i => (i, (i + 1) % 12)).toDF("src", "dst")
    val pr = Graph.pagerankMicros(ring, iters = 10, checkpointEvery = 4)
      .as[(Long, Long)].collect()
    assert(pr.length == 12 && pr.forall(_._2 == 1000000L))
    // 17 merges ⇒ the type table plus one periodic re-checkpoint
    val merges = Bpe.trainMerges(
      Seq((1L, "abcdefghijklmnopqrstuvwxyz"), (2L, "abcdefghijklmnopqrstuvwxyz"))
        .toDF("doc_id", "text"), col("text"), nMerges = 17)
    assert(merges.size == 17)
    val rounds = Perceptron.train(
      Seq((1L, 1L, 2L), (-1L, 1L, -3L)).toDF("y", "x0", "x1"), "y",
      Seq("x0", "x1"), rounds = 2)
    assert(rounds.last.nMistakes == 0L)
    assert(sc.getPersistentRDDs.keySet.diff(before).nonEmpty,
      "the three operators should have left checkpoint RDDs behind")
    CacheLease.releaseAll(spark)
    val left = sc.getPersistentRDDs.keySet.diff(before)
    assert(left.isEmpty, s"checkpoint RDDs survived releaseAll: $left")
  }

  test("releaseAll leaves caller-owned caches untouched") {
    spark.catalog.clearCache()
    val mine = freshVectors().persist() // caller-owned: NOT a lease
    mine.count()
    val prep = Similarity.prepare(mine, "vec_id", "embedding")
    Similarity.semanticDedup(prep, k = 2, iters = 1, threshold = 0.95, dim = 8).count()
    CacheLease.releaseAll(spark)
    assert(mine.storageLevel.useMemory,
      "caller-persisted frame must survive the library's release")
    assert(!cacheEmpty)
    mine.unpersist(blocking = true)
    spark.catalog.clearCache()
  }

  test("acquire is ownership-aware: an already-cached plan is not re-leased") {
    spark.catalog.clearCache()
    CacheLease.releaseAll(spark)
    val df = freshVectors()
    df.persist(); df.count()
    assert(!CacheLease.acquire(df))
    assert(CacheLease.leasedCount(spark) == 0)
    df.unpersist(blocking = true)
    assert(CacheLease.acquire(df))
    assert(CacheLease.leasedCount(spark) == 1)
    CacheLease.releaseAll(spark)
    assert(cacheEmpty)
  }
}
