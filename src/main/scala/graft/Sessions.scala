package graft

import org.apache.spark.sql.SparkSession

/** The one session factory: every `SparkSession` in the engine, its
  * tools and its tests is built here, so Bench, the profilers and the
  * suites all plan queries under the same configuration.
  *
  * Shuffle partitions equal the core count; the session time zone is
  * UTC so timestamp semantics don't depend on where the driver runs.
  * Everything else (AQE, partition coalescing, skew-join splitting)
  * is left at Spark's defaults. The engine's extensions are installed
  * once, at build time, through [[graft.plans.GraftExtensions]]; on a
  * cluster the same thing ships as
  * `spark.sql.extensions=graft.plans.GraftExtensions`.
  */
object Sessions {
  def local(
      cores: Int = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32").toInt,
      appName: String = "graft"): SparkSession = {
    val spark = SparkSession.builder()
      .master(s"local[$cores]")
      .withExtensions(new graft.plans.GraftExtensions)
      .appName(appName)
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }

  /** Resolve a testdata table path under a scale-factor directory. */
  def tablePath(sfDir: String, name: String): String =
    s"$sfDir/$name.parquet"
}
