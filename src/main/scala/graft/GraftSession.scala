package graft

import org.apache.spark.sql.SparkSession

/** The session every CLI main starts from: master `SPARK_MASTER`
  * (default `local[<cpus>]`), `<cpus>` shuffle partitions, UTC session
  * time, parquet nanosecond timestamps read as longs (the original
  * `events` dtype, see [[graft.Queries]]) and no UI. `<cpus>` is
  * `SPARK_GRAFT_CPUS`, else this machine's core count. Each main adds
  * its own settings on top: FAIR scheduling, [[JobRunner.configureCatalog]],
  * the codegen cache size.
  */
object GraftSession {

  def builder(): SparkSession.Builder = {
    val n = sys.env.getOrElse("SPARK_GRAFT_CPUS",
      Runtime.getRuntime.availableProcessors.toString)
    SparkSession.builder()
      .master(sys.env.getOrElse("SPARK_MASTER", s"local[$n]"))
      .config("spark.sql.shuffle.partitions", n)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.ui.enabled", "false")
  }
}
