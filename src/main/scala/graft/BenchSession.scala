package graft

import org.apache.spark.sql.SparkSession

/** The one session shape every benchmark and probe main runs on, so
  * their readings are comparable: `local[SPARK_GRAFT_CPUS]` (default
  * 32) with as many shuffle partitions, AQE on, UTC, nanos-as-long
  * parquet timestamps, no UI, ERROR logging.
  *
  * `SPARK_GRAFT_MASTER` overrides the master (e.g.
  * `local-cluster[4,8,6144]` for the scaling studies). Multi-JVM
  * executors take the repo classes from `SPARK_GRAFT_EXEC_CP`, else
  * from `target/scala-2.13/classes` under the working directory.
  * `extra` adds a main's own settings.
  */
object BenchSession {

  def cpus: String = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")

  def master: String = sys.env.getOrElse("SPARK_GRAFT_MASTER", s"local[$cpus]")

  def apply(appName: String, extra: (String, String)*): SparkSession = {
    val builder = SparkSession.builder()
      .master(master)
      .appName(appName)
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.ui.enabled", "false")
    sys.env.get("SPARK_GRAFT_EXEC_CP")
      .orElse(Option.when(master.startsWith("local-cluster"))(
        new java.io.File("target/scala-2.13/classes").getAbsolutePath))
      .foreach(builder.config("spark.executor.extraClassPath", _))
    extra.foreach { case (k, v) => builder.config(k, v) }
    val spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    spark
  }
}
