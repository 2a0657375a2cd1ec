package graft.tools

import org.apache.spark.sql.functions._

/** Scale-pair evidence for the prefix-filter dedup join (VERDICT r12 #2):
  * prints one JSON line with the candidate-pipeline counts at a given sf
  * dir — distinct plain prefix-join pairs (the pre-r13 candidate set),
  * candidates surviving the PPJoin length+positional filters, and the
  * operator's qualifying OUTPUT pairs. Run at two scales, the three
  * counts decompose a CPU scaling exponent into candidate growth vs
  * output growth vs per-candidate work: an exact join's cost floor is
  * its output, so when the scaled corpus's qualifying pairs themselves
  * grow superlinearly (near-dup families densify — MakeScaledData's
  * salted copies stay within Jaccard 0.5 of each other), the honest
  * comparison is CPU against THESE counts, not against row count.
  *
  * With `--heavysalt N` the corpus is replaced by an N-x TRUE-sparse
  * scale-up before measuring: per-COPY-INDEX salt tokens inserted every
  * 4th token (same positions in every doc of one copy index). Copies of
  * the same doc then share only the salt-free shingle minority (Jaccard
  * ~0.25 << 0.5 — families do NOT qualify), while same-index copies of
  * originally-similar docs keep their original similarity — so the
  * qualifying output grows LINEARLY in N. That is the dedup design point
  * (a mostly-unique corpus), where the ALGORITHM's scaling exponent is
  * measurable separately from the corpus's pair-density growth; the mode
  * also times the operator (wall + process/user/sys CPU) for exactly
  * that exponent.
  *
  * Usage: runMain graft.tools.PrefixScale <sfDir> [thresholdPermille=500]
  *        [--heavysalt N]
  */
object PrefixScale {
  def main(args: Array[String]): Unit = {
    val sfDir = args(0)
    val t = if (args.length > 1 && !args(1).startsWith("--")) args(1).toInt else 500
    val heavySalt: Int =
      args.indexOf("--heavysalt") match {
        case -1 => 0
        case i =>
          require(i + 1 < args.length && args(i + 1).forall(_.isDigit),
            "usage: PrefixScale <sfDir> [thresholdPermille] [--heavysalt N]")
          args(i + 1).toInt
      }
    val spark = graft.run.Sessions.local(graft.run.Sessions.cpus)
    val base = spark.read.parquet(s"$sfDir/documents.parquet")
      .select("doc_id", "text")
    val docs =
      if (heavySalt <= 1) base
      else {
        val maxDoc = base.agg(max(col("doc_id"))).head.getLong(0) + 1L
        // materialize so corpus derivation is charged to neither timing
        val salted = base
          .withColumn("_c", explode(sequence(lit(0L), lit(heavySalt - 1L))))
          .select((col("doc_id") + col("_c") * maxDoc).as("doc_id"),
            expr("concat_ws(' ', flatten(transform(split(text, ' '), " +
              "(tok, i) -> IF((i + 1) % 4 = 0, " +
              "array(tok, concat('zq', CAST(_c AS STRING))), array(tok)))))")
              .as("text"))
        salted.persist()
        salted.count()
        salted
      }
    val osCpu = java.lang.management.ManagementFactory.getOperatingSystemMXBean
      .asInstanceOf[com.sun.management.OperatingSystemMXBean]
    def userSys(): (Double, Double) = graft.run.ProcStat.userSys()
    val sh = graft.ext.Dedup.shingles(docs, "doc_id", "text", 3)
    val pref = graft.ext.Dedup.prefixShingles(sh, t).persist()
    val plainPairs = pref.select(col("sid").as("a"), col("shingle"))
      .join(pref.select(col("sid").as("b"), col("shingle")), Seq("shingle"))
      .filter(col("a") < col("b")).select("a", "b").distinct().count()
    val ppjoin = graft.ext.Dedup.prefixCandidates(pref, t).count()
    // timed END-TO-END operator run (fresh plan, not reusing the cached
    // prefix relation — but the SALTED CORPUS stays cached: clearCache()
    // here would evict it and charge N-x corpus derivation to the timed
    // window, contaminating the exponent this tool exists to measure,
    // r13 review)
    pref.unpersist(blocking = true)
    val (u0, s0) = userSys()
    val c0 = osCpu.getProcessCpuTime
    val w0 = System.nanoTime()
    val qualifying = graft.ext.Dedup.prefixFilterJaccardPairs(
      docs, "doc_id", "text", n = 3, thresholdPermille = t).count()
    val wallS = (System.nanoTime() - w0) / 1e9
    val cpuS = (osCpu.getProcessCpuTime - c0) / 1e9
    val (u1, s1) = userSys()
    val nDocs = docs.count()
    println(s"""{"metric":"prefix_scale","sf":"$sfDir","threshold_permille":$t,""" +
      s""""heavysalt_copies":$heavySalt,""" +
      s""""n_docs":$nDocs,"prefix_join_pairs":$plainPairs,""" +
      s""""ppjoin_candidates":$ppjoin,"qualifying_pairs":$qualifying,""" +
      f""""op_wall_s":$wallS%.2f,"op_cpu_s":$cpuS%.2f,""" +
      f""""op_user_cpu_s":${u1 - u0}%.2f,"op_sys_cpu_s":${s1 - s0}%.2f}""")
    spark.stop()
  }
}
