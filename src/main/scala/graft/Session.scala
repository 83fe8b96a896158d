package graft

import org.apache.spark.sql.SparkSession

/** The one place a graft SparkSession is built. Entry points, dev tools,
  * examples and tests all start here, so the settings every session needs
  * cannot be forgotten by a new `main`. */
object Session {
  /** What every session needs: a UTC session time zone (the oracle SQL and
    * the time dimension are UTC) and [[Tables.excludedOptimizerRules]].
    * Master, shuffle partitions and UI stay Spark's defaults: on a
    * cluster they are the operator's settings. */
  def builder(app: String): SparkSession.Builder =
    SparkSession.builder()
      .appName(app)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.optimizer.excludedRules", Tables.excludedOptimizerRules)

  /** A local dev/test session on `cpus` cores: one shuffle partition per
    * core, no UI, WARN logging. */
  def local(app: String, cpus: Int = envCpus): SparkSession = local(builder(app), cpus)

  /** [[local]] over a [[builder]] the caller extended first (session
    * extensions, extra confs). */
  def local(b: SparkSession.Builder, cpus: Int): SparkSession = {
    val spark = b
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }

  /** The dev tools' core count: `SPARK_GRAFT_CPUS`, default 4. */
  def envCpus: Int = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4").toInt
}
