package graft

import org.apache.spark.sql.SparkSession

/**
 * The one local-mode session of the dev mains (`Bench`, `Verify`, the
 * tools) and the test suites. `getOrCreate`, so a second call in the same
 * JVM returns the running session. `IngestMain` keeps its own builder: its
 * master comes from spark-submit.
 *
 * `spark.sql.codegen.cache.maxEntries` is static and defaults to 100; one
 * battery sweep generates far more classes than that, and Bench's
 * sweep-major passes would recompile the whole battery every sweep.
 */
object LocalSession {

  /** Cores to run on: `SPARK_GRAFT_CPUS` when set, else the processors the
    * JVM sees — a run is stamped with the cores it really had. */
  def resolveCpus(env: Map[String, String]): Int =
    env.get("SPARK_GRAFT_CPUS").map(_.trim.toInt)
      .getOrElse(Runtime.getRuntime.availableProcessors())

  lazy val cpus: Int = resolveCpus(sys.env)

  def apply(cpus: Int, appName: String): SparkSession = {
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .appName(appName)
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.codegen.cache.maxEntries", "4096")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }
}
