package graft.run

import org.apache.spark.sql.SparkSession

/** The one way this project builds a SparkSession. Verify (the oracle
  * dump), Bench (the timings), the tools and the test suite all run this
  * conf, so the plans the oracle grades are the plans the bench times. A
  * caller whose output depends on one SQL conf sets it on the returned
  * session and says why.
  */
object Sessions {

  /** Worker threads for [[local]]: `SPARK_GRAFT_CPUS`, default 4. */
  def cpus: Int = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4").toInt

  /** A local session with `cpus` worker threads and as many shuffle
    * partitions (log level WARN). */
  def local(cpus: Int): SparkSession = {
    val spark = SparkSession.builder()
      // local[N, 4]: allow task retries — a write-throttled disk can stall
      // a multi-GB read past parquet's 300 s fetch limit, and the
      // local-mode default of maxFailures=1 turns one IO stall into a dead
      // SparkContext (observed). Retries only bound failure detection; they
      // never run on the timed path of a healthy draw.
      .master(s"local[$cpus,4]")
      .config("spark.network.timeout", "600s")
      .config("spark.sql.shuffle.partitions", cpus.toString)
      // the sf0.1 testdata parquet files are ~20MB — the default 128MB
      // maxPartitionBytes gives ONE scan task and serializes every
      // downstream stage
      .config("spark.sql.files.maxPartitionBytes", "4m")
      .config("spark.sql.adaptive.enabled", "true")
      // events.parquet's timestamp unit varies between testdata
      // generations; nanos only load as longs (see
      // graft.queries.EventsSource.load)
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }
}
