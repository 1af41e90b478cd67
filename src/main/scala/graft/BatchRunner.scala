package graft

import graft.config.{ConnectorRecipe, JobConfig, Yaml}
import graft.secrets.{Redactor, SecretManagers}
import org.apache.spark.sql.SparkSession
import java.nio.file.{Files, Path, Paths}
import scala.jdk.CollectionConverters._
import scala.util.matching.Regex

/** §3.2 batch runner + startup sequence — the reference's primary
  * production entry point (`dativo run --job-dir`, cli.py:121-323):
  *
  *   1. recursively load every .yaml and .yml under the job dir, skipping
  *      files that fail to parse (config.py:887-945 — fatal only when
  *      NOTHING loads);
  *   2. infer the tenant from the jobs (all must agree) or validate the
  *      provided --tenant-id against every job (cli.py:162-181);
  *   3. load tenant secrets (warn-only on failure, cli.py:203-215);
  *   4. validate env vars referenced by each job (warn-only, cli.py:221-229);
  *   5. validate infrastructure (warn-only at startup, cli.py:236-243);
  *   6. initialize state directories (warn-only, cli.py:250-257);
  *   7. validate job configs against the registry (error-logged,
  *      continue with other jobs, cli.py:264-272);
  * then execute the loaded jobs SEQUENTIALLY and exit 0 only if every
  * job exited 0, else 2 (cli.py:316-323).
  *
  * Spark note: sequential-by-design matches the reference; each job is
  * still one fully-parallel Spark action internally. All log output runs
  * through the secret [[Redactor]].
  */
object BatchRunner {

  final case class LoadedJob(path: Path, config: JobConfig)
  final case class LoadReport(jobs: Seq[LoadedJob], errors: Seq[String])

  final case class StartupContext(
      tenantId: String,
      jobs: Seq[LoadedJob],
      secrets: Map[String, Any],
      redactor: Redactor,
      warnings: Seq[String])

  /** Tenant-level rollup across the batch — the aggregate line the
    * reference's orchestrated mode logs per tenant after a run.
    */
  final case class TenantSummary(
      tenantId: String,
      jobsRun: Int,
      jobsSucceeded: Int,
      totalRecords: Long,
      totalValidRecords: Long,
      totalBytesWritten: Long,
      wallClockSeconds: Double) {
    def logLine: String =
      s"tenant=$tenantId jobs=$jobsRun succeeded=$jobsSucceeded " +
        s"records=$totalRecords valid=$totalValidRecords " +
        s"bytes=$totalBytesWritten " + f"wall=$wallClockSeconds%.2fs"
  }

  final case class BatchReport(
      exitCode: Int,
      results: Seq[(Path, Int)],
      startup: StartupContext,
      summary: TenantSummary)

  /** Recursive job-directory load (config.py:887-945): parse failures are
    * collected, not fatal, unless zero jobs load.
    */
  def loadJobsFromDirectory(jobDir: Path): LoadReport = {
    if (!Files.exists(jobDir))
      throw new IllegalArgumentException(s"Job directory not found: $jobDir")
    if (!Files.isDirectory(jobDir))
      throw new IllegalArgumentException(s"Path is not a directory: $jobDir")
    val files = scala.util.Using.resource(Files.walk(jobDir))(
      _.iterator.asScala
        .filter(p => Files.isRegularFile(p) &&
          (p.toString.endsWith(".yaml") || p.toString.endsWith(".yml")))
        .toSeq.sortBy(_.toString))
    val (jobs, errors) = files.foldLeft((Vector.empty[LoadedJob], Vector.empty[String])) {
      case ((js, es), f) =>
        try (js :+ LoadedJob(f, JobConfig.fromYaml(f.toString)), es)
        catch { case e: Exception => (js, es :+ s"$f: ${e.getMessage}") }
    }
    if (jobs.isEmpty)
      throw new IllegalArgumentException(
        s"Failed to load any jobs from $jobDir." +
          (if (errors.nonEmpty) " Errors:\n" + errors.mkString("\n") else " No YAML files found."))
    LoadReport(jobs, errors)
  }

  /** Tenant inference/override (cli.py:162-181): without --tenant-id all
    * jobs must share one tenant; with it, every job must match.
    */
  def resolveTenant(jobs: Seq[LoadedJob], tenantId: Option[String]): String =
    tenantId match {
      case None =>
        val tenants = jobs.map(_.config.tenantId).distinct
        if (tenants.size > 1)
          throw new IllegalArgumentException(
            s"Jobs have conflicting tenant_ids: ${tenants.sorted.mkString(", ")}. " +
              "All jobs in a directory must belong to the same tenant, or " +
              "specify --tenant-id to override.")
        tenants.head
      case Some(t) =>
        val mismatched = jobs.filter(_.config.tenantId != t)
        if (mismatched.nonEmpty)
          throw new IllegalArgumentException(
            s"Tenant ID mismatch: ${mismatched.size} job(s) have tenant_id " +
              s"different from '$t'. Conflicting tenant_ids: " +
              mismatched.map(_.config.tenantId).distinct.sorted.mkString(", "))
        t
    }

  private val envRefPattern: Regex = "\\$\\{([^}:]+)\\}|\\$([A-Z_][A-Z0-9_]*)".r

  /** Env-var validation (config.py:825-885): collect `${VAR}`/`$VAR`
    * references in the source/target connection templates and the asset
    * path that are not set. Our Yaml loader expands `${VAR}` eagerly at
    * load, so any surviving reference IS an unset variable; `$VAR` bare
    * form is scanned too.
    */
  def missingEnvVars(job: LoadedJob, env: Map[String, String] = sys.env): Set[String] = {
    val jobDir = Option(job.path.getParent).getOrElse(Paths.get("."))
    def templateOf(recipePath: Option[String]): String =
      recipePath.map { rp =>
        val p = if (Paths.get(rp).isAbsolute) rp else jobDir.resolve(rp).toString
        try String.valueOf(
          ConnectorRecipe.fromYaml(p).connectionTemplate)
        catch { case _: Exception => "" } // unresolvable recipe ⇒ partial validation
      }.getOrElse("")
    val haystack = templateOf(job.config.sourceConnectorPath) +
      templateOf(job.config.targetConnectorPath) +
      job.config.assetPath.getOrElse("")
    envRefPattern.findAllMatchIn(haystack).map { m =>
      Option(m.group(1)).getOrElse(m.group(2))
    }.filterNot(env.contains).toSet
  }

  /** Infrastructure validation (infrastructure.py:132-229), delegated to
    * [[graft.infra.Infrastructure]]: env presence + connectivity probes
    * are errors, port probes are warnings. The startup sequence treats
    * both as warn-only (cli.py:236-243). `probe` is injectable so tests
    * (and zero-egress deployments) can avoid live HTTP.
    */
  def infrastructureErrors(
      job: LoadedJob,
      env: Map[String, String] = sys.env,
      probe: graft.infra.HttpProbe = graft.infra.JavaHttpProbe): Seq[String] = {
    val jobDir = Option(job.path.getParent).getOrElse(Paths.get("."))
    val tgt = try {
      job.config.targetConnectorPath.map { rp =>
        val p = if (Paths.get(rp).isAbsolute) rp else jobDir.resolve(rp).toString
        job.config.resolveTarget(ConnectorRecipe.fromYaml(p))
      }
    } catch { case e: Exception =>
      return Seq(s"Failed to load target configuration: ${e.getMessage}")
    }
    tgt.toSeq.flatMap { t =>
      graft.infra.Infrastructure.validateTarget(
        t.connectorType, hasCatalog = t.catalog.nonEmpty, env = env, probe = probe,
        portCheck = (_, _) => ()) // port probes stay out of startup warnings
        .errors
    }
  }

  /** State-dir init (cli.py:25-42): mkdir -p the state_path parent of
    * every incremental source; fail if unwritable.
    */
  def initializeStateDirectory(job: LoadedJob): Unit = {
    val jobDir = Option(job.path.getParent).map(_.toString).getOrElse(".")
    for {
      rp <- job.config.sourceConnectorPath
      p = if (Paths.get(rp).isAbsolute) rp else Paths.get(jobDir, rp).toString
      src = job.config.resolveSource(ConnectorRecipe.fromYaml(p))
      inc <- src.incremental
      statePath <- Yaml.str(inc, "state_path")
    } {
      val parent = Paths.get(statePath).toAbsolutePath.getParent
      Files.createDirectories(parent)
      if (!Files.isWritable(parent))
        throw new SecurityException(s"State directory is not writable: $parent")
    }
  }

  /** Steps 1-7 of the reference startup sequence. Returns the loaded
    * jobs + tenant + secrets; warn-only steps accumulate into
    * `warnings` (and are logged through the redactor).
    */
  def startupSequence(
      jobDir: Path,
      secretsDir: Path = Paths.get("/secrets"),
      tenantId: Option[String] = None,
      mode: String = "self_hosted",
      secretManager: String = "env",
      secretManagerConfig: Map[String, Any] = Map.empty,
      registry: graft.config.Registry = graft.config.Registry.default,
      env: Map[String, String] = sys.env,
      log: String => Unit = m => System.err.println(s"[graft] $m")): StartupContext = {

    val loaded = loadJobsFromDirectory(jobDir) // fatal if nothing loads
    val tenant = resolveTenant(loaded.jobs, tenantId)
    var warnings = loaded.errors.map(e => s"job skipped: $e")

    // 3. secrets (warn-only — cli.py:203-215)
    var secretsWarning: Option[String] = None
    val secrets =
      try SecretManagers.loadSecrets(tenant, secretsDir,
        Some(secretManager), secretManagerConfig, env)
      catch {
        case e: Exception =>
          secretsWarning = Some(s"Secrets loading failed (may be optional): ${e.getMessage}")
          Map.empty[String, Any]
      }
    val redactor = Redactor.forSecrets(secrets)
    def warn(msg: String): Unit = { warnings :+= msg; log(redactor.redact(msg)) }
    // emit the secrets failure like every other warn-only step
    // (cli.py:203-215 logs it via logger.warning); it carries no secret
    // values since loading failed.
    secretsWarning.foreach(warn)

    log(redactor.redact(s"Tenant ID '$tenant' " +
      (if (tenantId.isEmpty) "inferred from job configurations" else "from command line") +
      s"; ${loaded.jobs.size} job(s) loaded" +
      (if (loaded.errors.nonEmpty) s", ${loaded.errors.size} skipped" else "")))
    loaded.errors.foreach(e => log(redactor.redact(s"skipped: $e")))

    // 4. env vars (warn-only — cli.py:221-229)
    loaded.jobs.foreach { j =>
      val missing = missingEnvVars(j, env)
      if (missing.nonEmpty)
        warn(s"Missing required environment variables for ${j.path.getFileName}: " +
          missing.toSeq.sorted.mkString(", "))
    }

    // 5. infrastructure (warn-only at startup — cli.py:236-243)
    loaded.jobs.foreach { j =>
      infrastructureErrors(j, env).foreach(e =>
        warn(s"Infrastructure validation warning for ${j.path.getFileName}: $e"))
    }

    // 6. state directories (warn-only — cli.py:250-257)
    loaded.jobs.foreach { j =>
      try initializeStateDirectory(j)
      catch { case e: Exception =>
        warn(s"State directory initialization warning for ${j.path.getFileName}: ${e.getMessage}")
      }
    }

    // 7. registry validation (error-logged, continue — cli.py:264-272)
    loaded.jobs.foreach { j =>
      try {
        val dir = Option(j.path.getParent).map(_.toString).getOrElse(".")
        def recipe(rp: String) = ConnectorRecipe.fromYaml(
          if (Paths.get(rp).isAbsolute) rp else Paths.get(dir, rp).toString)
        for {
          sp <- j.config.sourceConnectorPath
          tp <- j.config.targetConnectorPath
        } registry.validateJob(
          j.config.resolveSource(recipe(sp)), j.config.resolveTarget(recipe(tp)), mode)
      } catch { case e: Exception =>
        warn(s"Job validation failed for ${j.path.getFileName}: ${e.getMessage}")
      }
    }

    StartupContext(tenant, loaded.jobs, secrets, redactor, warnings)
  }

  /** Startup + execution; 0 iff every job exits 0, else 2
    * (cli.py:305-323). Job failures (exceptions) count as exit 2 and do
    * not stop the remaining jobs.
    *
    * `concurrency` is the reference's `orchestrator.concurrency_per_tenant`
    * (config.py:1100-1105) — which the reference itself acknowledges as
    * unenforced (orchestrated.py:344-354). Enforced here: a batch
    * directory is one tenant (resolveTenant), so the bound IS per-tenant.
    * Default 1 keeps the reference's sequential contract. With N > 1,
    * jobs run on a fixed pool of N driver threads, each tagged with a
    * Spark fair-scheduler pool so concurrent jobs share executors fairly
    * instead of head-of-line blocking (set `spark.scheduler.mode=FAIR`
    * on the session — the RunJobs CLI does when --concurrency > 1; under
    * FIFO the tags are harmless no-ops). Results keep job order either
    * way. Jobs that write to the SAME table still append safely (the
    * commit path is append-mode), but cursor-state files are per-job, so
    * only unrelated jobs should share a batch at N > 1 — same caveat the
    * reference documents for its planned concurrency.
    *
    * `runJobOverride` injects the per-job executor for tests (virtual
    * jobs, latch-based overlap proofs) — production uses [[JobRunner]].
    */
  def runAll(spark: SparkSession,
      jobDir: Path,
      secretsDir: Path = Paths.get("/secrets"),
      tenantId: Option[String] = None,
      mode: String = "self_hosted",
      secretManager: String = "env",
      secretManagerConfig: Map[String, Any] = Map.empty,
      env: Map[String, String] = sys.env,
      concurrency: Int = 1,
      runJobOverride: Option[(SparkSession, Path, String => Unit) => Int] = None,
      log: String => Unit = m => System.err.println(s"[graft] $m")): BatchReport = {
    require(concurrency >= 1, s"concurrency must be >= 1: $concurrency")
    val startNanos = System.nanoTime() // wall-clock for the tenant rollup
    val ctx = startupSequence(jobDir, secretsDir, tenantId, mode,
      secretManager, secretManagerConfig, env = env, log = log)
    // log is caller-supplied and now potentially hit from N threads
    val logSync: String => Unit = m => log.synchronized(log(m))
    val exec: LoadedJob => (Int, Option[JobRunner.JobReport]) = { j =>
      val jobLog: String => Unit = m => logSync(ctx.redactor.redact(m))
      runJobOverride match {
        case Some(f) =>
          try (f(spark, j.path, jobLog), None)
          catch { case e: Exception =>
            jobLog(s"${j.path.getFileName} FAILED: ${e.getMessage}")
            (graft.core.ExitCodes.Failure, None)
          }
        case None =>
          try {
            val report = JobRunner.run(spark, j.path.toString, mode, log = jobLog)
            jobLog(
              s"${j.path.getFileName}: records=${report.records} " +
                s"valid=${report.validRecords} rps=${f"${report.recordsPerSecond}%.1f"} " +
                s"exit=${report.exitCode}")
            (report.exitCode, Some(report))
          } catch {
            case e: Exception =>
              jobLog(s"${j.path.getFileName} FAILED: ${e.getMessage}")
              (graft.core.ExitCodes.Failure, None)
          }
      }
    }
    val outcomes: Seq[(Path, Int, Option[JobRunner.JobReport])] =
      if (concurrency == 1 || ctx.jobs.size <= 1)
        ctx.jobs.map { j => val (c, r) = exec(j); (j.path, c, r) }
      else {
        val pool = java.util.concurrent.Executors.newFixedThreadPool(concurrency)
        try {
          val futures = ctx.jobs.map { j =>
            pool.submit(new java.util.concurrent.Callable[
                (Path, Int, Option[JobRunner.JobReport])] {
              def call(): (Path, Int, Option[JobRunner.JobReport]) = {
                // local properties are thread-local: tag this job's Spark
                // actions with a fair pool named after the job
                spark.sparkContext.setLocalProperty(
                  "spark.scheduler.pool", s"graft-${j.path.getFileName}")
                try { val (c, r) = exec(j); (j.path, c, r) }
                finally spark.sparkContext.setLocalProperty("spark.scheduler.pool", null)
              }
            })
          }
          futures.map(_.get()) // preserves job order; exec never throws
        } finally pool.shutdown()
      }
    val results = outcomes.map { case (p, c, _) => p -> c }
    val exit = if (results.forall(_._2 == 0)) 0 else graft.core.ExitCodes.Failure
    val reports = outcomes.flatMap(_._3)
    val summary = TenantSummary(
      tenantId = ctx.tenantId,
      jobsRun = outcomes.size,
      jobsSucceeded = outcomes.count(_._2 == 0),
      totalRecords = reports.map(_.records).sum,
      totalValidRecords = reports.map(_.validRecords).sum,
      totalBytesWritten = reports.map(_.bytesWritten).sum,
      wallClockSeconds = (System.nanoTime() - startNanos) / 1e9)
    logSync(summary.logLine)
    BatchReport(exit, results, ctx, summary)
  }
}

/** CLI verb: `runMain graft.RunJobs <job-dir> [--tenant-id T]
  * [--secrets-dir D] [--secret-manager env|filesystem|...]
  * [--secret-manager-config <json-or-path>] [--mode self_hosted|cloud]
  * [--concurrency N]` — exit 0 only if all jobs succeed (cli.py:316-323).
  * `--concurrency` enforces the reference's `concurrency_per_tenant`
  * knob; N > 1 switches the session to FAIR scheduling.
  */
object RunJobs {

  /** `--secret-manager-config` accepts a YAML/JSON file path or inline
    * JSON (cli.py:80-118).
    */
  def parseManagerConfig(arg: Option[String]): Map[String, Any] = arg match {
    case None => Map.empty
    case Some(a) =>
      val p = Paths.get(a)
      if (Files.exists(p)) Yaml.loadFile(a)
      else Yaml.loadString(a) // inline JSON (YAML superset)
  }

  def main(args: Array[String]): Unit = {
    require(args.nonEmpty, "usage: RunJobs <job-dir> [options]")
    val jobDir = Paths.get(args(0))
    def opt(flag: String): Option[String] =
      args.sliding(2).collectFirst { case Array(`flag`, v) => v }
    val concurrency = opt("--concurrency").map(_.toInt).getOrElse(1)
    val builder = GraftSession.builder()
    // concurrent jobs share executors fairly instead of FIFO head-of-line
    if (concurrency > 1) builder.config("spark.scheduler.mode", "FAIR")
    JobRunner.configureCatalog(builder)
    val spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    try {
      val report = BatchRunner.runAll(spark, jobDir,
        secretsDir = opt("--secrets-dir").map(Paths.get(_)).getOrElse(Paths.get("/secrets")),
        tenantId = opt("--tenant-id"),
        mode = opt("--mode").getOrElse("self_hosted"),
        secretManager = opt("--secret-manager").getOrElse("env"),
        secretManagerConfig = parseManagerConfig(opt("--secret-manager-config")),
        concurrency = concurrency)
      report.results.foreach { case (p, c) =>
        System.err.println(s"[graft] ${p.getFileName} -> exit $c")
      }
      System.err.println(s"[graft] ${report.summary.logLine}")
      spark.stop()
      sys.exit(report.exitCode)
    } catch {
      case e: Throwable => // startup failure ⇒ exit 2 (cli.py:305-312)
        System.err.println(s"[graft] ERROR: Startup sequence failed: ${e.getMessage}")
        spark.stop()
        sys.exit(graft.core.ExitCodes.Failure)
    }
  }
}
