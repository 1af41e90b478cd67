package perfbench

import org.apache.spark.sql.SparkSession
import java.nio.file.Path

/** The session every benchmark JVM runs on: local[cores] with the
  * settings the program's own CLI verbs use, scratch space kept inside
  * the benchmark's work directory.
  */
object Session {
  def create(cores: Int, localDir: Path, fair: Boolean = false): SparkSession = {
    val b = SparkSession.builder()
      .master(s"local[$cores]")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", localDir.toString)
      .config("spark.sql.warehouse.dir", localDir.resolve("warehouse").toString)
      // Spark's status store keeps recent jobs, stages and queries in the
      // heap; a small fixed retention keeps that out of retained_heap_mb,
      // which is meant to show what the program itself holds on to
      .config("spark.ui.retainedJobs", "20")
      .config("spark.ui.retainedStages", "20")
      .config("spark.ui.retainedTasks", "1000")
      .config("spark.sql.ui.retainedExecutions", "20")
    // concurrent batch jobs share executors fairly, as the RunJobs verb does
    if (fair) b.config("spark.scheduler.mode", "FAIR")
    val spark = b.getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    spark
  }
}
