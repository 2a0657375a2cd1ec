package graft.tools

import org.apache.spark.sql.functions.{col, count, lit}

/** Row-count (and route-mix) probe for any [[graft.SparkEntry]] query on an
  * arbitrary testdata dir — the scale-pair companion to Bench's timing rows.
  * A wall/cpu scaling exponent is only readable against the query's OUTPUT
  * growth (an exact pair-join's cost floor is its output; near-dup families
  * densify superlinearly in corpus size), and this prints that denominator:
  * `<name> rows=<n>` plus, when the result carries a `route` column (the
  * routed prefix join), the per-route row mix so the scale pair records
  * WHICH tier the probe picked at each corpus size.
  *
  * Usage: runMain graft.tools.CountQuery <sfDir> <query>[,<query>...]
  */
object CountQuery {
  def main(args: Array[String]): Unit = {
    val sfDir = args(0)
    val names = args(1).split(",").map(_.trim).filter(_.nonEmpty)
    val spark = graft.run.Sessions.local(graft.run.Sessions.cpus)
    for (name <- names) {
      val q = graft.SparkEntry.queries.getOrElse(name,
        sys.error(s"unknown query: $name"))
      val df = q(spark, sfDir)
      val routeMix =
        if (df.columns.contains("route"))
          df.groupBy(col("route")).agg(count(lit(1)).as("c"))
            .collect().sortBy(_.getString(0))
            .map(r => s"${r.getString(0)}:${r.getLong(1)}")
            .mkString(" routes={", ",", "}")
        else ""
      println(s"[count-query] $name rows=${df.count()}$routeMix")
    }
    spark.stop()
  }
}
