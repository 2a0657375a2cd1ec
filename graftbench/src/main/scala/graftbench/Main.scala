package graftbench

import org.apache.spark.sql.SparkSession

/** Entry point of one benchmark process:
  * `Main --workload W --seed N --seconds S --trace 0|1 --data DIR --work DIR
  *  --plan FILE --out FILE`. Builds a `local[cores]` session, runs the
  * workload, and writes the raw measurements as JSON to `--out`; the
  * launcher turns them into metrics. */
object Main {
  def main(argv: Array[String]): Unit = {
    val args = argv.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val workload = args("workload")
    val plan = PlanFile.read(args("plan"))
    val cores = PlanFile.params(plan)("cores").toInt
    val t0 = System.nanoTime()
    val spark = SparkSession.builder()
      .master(s"local[$cores]")
      .appName(s"graftbench-$workload")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.local.dir", s"${args("work")}/spark-local")
      .config("spark.sql.warehouse.dir", s"${args("work")}/warehouse")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    val sessionS = (System.nanoTime() - t0) / 1e9
    Log(f"session started in $sessionS%.2fs")
    val tracer = new Tracer(spark)
    val seconds = args("seconds").toDouble
    val trace = args("trace") == "1"
    try {
      val result = workload match {
        case "sync_steady" =>
          new SyncWorkload(spark, tracer, args("data"), args("work"), plan, args("seed").toLong)
            .run(seconds, trace, sessionS)
        case "corpus_pipeline" =>
          new CorpusWorkload(spark, tracer, args("data"), args("work"), plan)
            .run(seconds, trace, sessionS)
      }
      Fs.write(args("out"), Json.render(result + ("peak_rss_mb" -> Proc.peakRssMb())))
      if (trace) tracer.writeSpans(s"${args("work")}/spans.jsonl")
    } finally {
      spark.stop()
      Log("stopped")
    }
  }
}
