package graft

import org.apache.spark.sql.SparkSession

/** The one SparkSession factory: every main (RunEtl, Verify, Bench,
  * Explain, ScaleProbe, ScaleUp) and the test suite build their session
  * here, from [[Settings.sparkTuning]], so the engine runs under one conf
  * whichever entry point starts it.
  *
  * Shuffle partitions = cpus, and nothing more. A data-scaled
  * `spark.sql.adaptive.coalescePartitions.initialPartitionNum` (8× cpus)
  * was measured as pure overhead: no gain at sf10 (292.8 → 354.8 s on the
  * string-keyed exact join) and a 1.4–3× regression at sf0.1 on
  * iterative/persisted queries (events_rfm 3.7 → 9.3 s, orders_pareto
  * 2.2 → 6.6 s) — persisted and checkpointed frames keep the inflated
  * partition count, and AQE's post-shuffle coalescing cannot reach them. */
object Sessions {

  def create(appName: String, env: Map[String, String]): SparkSession = {
    val tuning = Settings.sparkTuning(env)
    val builder = SparkSession.builder()
      .appName(appName)
      .master(tuning.master)
      .config("spark.sql.shuffle.partitions", tuning.cpus.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      // events carry INT64-nanos timestamps: read them as longs, which
      // EventStream.normalizeTs converts
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.sql.extensions", "graft.expressions.GraftExtensions")
      // reliable checkpoints (written when a checkpoint dir is set — see
      // Frames.truncate) are only garbage-collected with this on; the
      // default (false) accretes one rdd-<id> dir per iteration round
      .config("spark.cleaner.referenceTracking.cleanCheckpoints", "true")
    tuning.executorMemory.foreach(builder.config("spark.executor.memory", _))
    tuning.driverMemory.foreach(builder.config("spark.driver.memory", _))
    val spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }
}
