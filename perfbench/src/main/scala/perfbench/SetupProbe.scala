package perfbench

import java.nio.file.Paths

/** Set-up alone: a fresh JVM until its SparkSession has run one trivial
  * action. The caller times it from process start to the READY line.
  *
  * usage: SetupProbe <cores> <local-dir>
  */
object SetupProbe {
  def main(args: Array[String]): Unit = {
    val spark = Session.create(args(0).toInt, Paths.get(args(1)))
    spark.range(1).count()
    println("READY")
    System.out.flush()
    spark.stop()
  }
}
