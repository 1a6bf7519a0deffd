package graft

import org.apache.spark.sql.SparkSession

import graft.plans.GraftExtensions

/** The one way this engine builds a SparkSession: every main and the
  * test suite go through `local`, so a session's core count, shuffle
  * width, time zone and log level are one decision, not one per main.
  * `local` installs NO `GraftExtensions` — the gates are planned and
  * timed by stock Spark rules; the one gate that needs the injected
  * rewrites asks for `extended`.
  */
object Session {

  /** `SPARK_GRAFT_CPUS` when set, else the host's processor count —
    * never an oversubscribed fixed width.
    */
  private def defaultCores: Int =
    sys.env.get("SPARK_GRAFT_CPUS").map(_.toInt)
      .getOrElse(Runtime.getRuntime.availableProcessors)

  def local(cores: Int = defaultCores): SparkSession = {
    val spark = SparkSession.builder()
      .master(s"local[$cores]")
      .appName("graft")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }

  /** A second session on `base`'s SparkContext with `GraftExtensions`
    * installed. `base` stays the active and default session, so no
    * other caller ever plans through the injected rules by accident.
    */
  def extended(base: SparkSession): SparkSession = {
    SparkSession.clearActiveSession()
    SparkSession.clearDefaultSession()
    try SparkSession.builder().withExtensions(GraftExtensions.apply).getOrCreate()
    finally {
      SparkSession.setActiveSession(base)
      SparkSession.setDefaultSession(base)
    }
  }
}
