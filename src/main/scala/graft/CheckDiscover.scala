package graft

import graft.config._
import graft.plugins.{ConnectionTestResult, DiscoveryResult}
import org.apache.spark.sql.SparkSession
import java.nio.file.{Files, Paths}

/** `check` / `discover` CLI verbs (SURVEY.md §2.1 discovery surface;
  * reference cli.py:1243-1599 check, :1602-1846 discover).
  */
object CheckDiscover {

  private def resolve(jobDir: String, p: String): String = {
    val path = Paths.get(p)
    if (path.isAbsolute) p else Paths.get(jobDir, p).toString
  }

  /** Connection test per source type: file sources verify every listed
    * path exists; JDBC attempts a real connection; plugins delegate to
    * the reader (plugins.py:17-50).
    */
  def checkSource(src: SourceConfig, jobDir: String): ConnectionTestResult = {
    Yaml.str(src.raw, "custom_reader").foreach { cls =>
      return graft.plugins.PluginLoader.loadReader(cls).checkConnection(src.raw)
    }
    src.connectorType match {
      case "csv" | "parquet" | "jsonl" | "markdown_kv" =>
        val paths = src.files.flatMap(f => Yaml.str(f, "path")).map(resolve(jobDir, _))
        if (paths.isEmpty)
          ConnectionTestResult(success = false, "no files configured")
        else {
          val missing = paths.filterNot(p => Files.exists(Paths.get(p)))
          if (missing.isEmpty)
            ConnectionTestResult(success = true, s"${paths.size} path(s) reachable")
          else
            ConnectionTestResult(success = false, s"missing: ${missing.mkString(", ")}")
        }
      case "postgres" | "mysql" =>
        val url = Yaml.str(Yaml.map(src.raw, "connection"), "jdbc_url")
        url match {
          case None => ConnectionTestResult(success = false, "no connection.jdbc_url")
          case Some(u) =>
            try {
              val c = java.sql.DriverManager.getConnection(u)
              try ConnectionTestResult(success = true, "connected")
              finally c.close()
            } catch {
              case e: Exception =>
                ConnectionTestResult(success = false, s"connection failed: ${e.getMessage}")
            }
        }
      case other =>
        ConnectionTestResult(success = false, s"check not supported for '$other'")
    }
  }

  /** Object/schema discovery: file sources report their columns (CSV via
    * a header-only scan; parquet from the footer).
    */
  def discoverSource(spark: SparkSession, src: SourceConfig,
      jobDir: String): DiscoveryResult = {
    Yaml.str(src.raw, "custom_reader").foreach { cls =>
      return graft.plugins.PluginLoader.loadReader(cls).discover(src.raw)
    }
    val paths = src.files.flatMap(f => Yaml.str(f, "path")).map(resolve(jobDir, _))
    src.connectorType match {
      case "csv" if paths.nonEmpty =>
        val df = spark.read.option("header", "true").csv(paths.head)
        DiscoveryResult(df.columns.toSeq, Map("source" -> paths.head))
      case "parquet" if paths.nonEmpty =>
        val df = spark.read.parquet(paths.head)
        DiscoveryResult(df.schema.fields.map(f => s"${f.name}:${f.dataType.simpleString}").toSeq,
          Map("source" -> paths.head))
      case "jsonl" if paths.nonEmpty =>
        // Bounded inference probe: discovery is interactive, so inferring
        // from ONE file is acceptable here (the job-run scan never infers).
        val df = spark.read.option("multiLine", "false").json(paths.head)
        DiscoveryResult(df.columns.toSeq, Map("source" -> paths.head))
      case other => DiscoveryResult(Seq.empty, Map("unsupported" -> other))
    }
  }

  def loadSource(jobYamlPath: String): (SourceConfig, String) = {
    val jobDir = Option(Paths.get(jobYamlPath).getParent).map(_.toString).getOrElse(".")
    val job = JobConfig.fromYaml(jobYamlPath)
    val recipe = ConnectorRecipe.fromYaml(resolve(jobDir,
      job.sourceConnectorPath.getOrElse(
        throw new IllegalArgumentException("Source connector path not provided"))))
    (job.resolveSource(recipe), jobDir)
  }
}

/** `runMain graft.CheckJob <job.yaml>` — exit 0 on success, 2 on failure
  * (cli.py check contract).
  */
object CheckJob {
  def main(args: Array[String]): Unit = {
    try {
      val (src, jobDir) = CheckDiscover.loadSource(args(0))
      val r = CheckDiscover.checkSource(src, jobDir)
      System.err.println(s"[graft check] success=${r.success} ${r.message}")
      sys.exit(if (r.success) 0 else 2)
    } catch {
      case e: Throwable =>
        System.err.println(s"[graft check] FAILED: ${e.getMessage}")
        sys.exit(2)
    }
  }
}

/** `runMain graft.DiscoverJob <job.yaml>` — prints one object per line. */
object DiscoverJob {
  def main(args: Array[String]): Unit = {
    val spark = GraftSession.builder().getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    try {
      val (src, jobDir) = CheckDiscover.loadSource(args(0))
      val d = CheckDiscover.discoverSource(spark, src, jobDir)
      d.objects.foreach(println)
      spark.stop()
      sys.exit(0)
    } catch {
      case e: Throwable =>
        System.err.println(s"[graft discover] FAILED: ${e.getMessage}")
        spark.stop()
        sys.exit(2)
    }
  }
}
