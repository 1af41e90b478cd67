package perfbench

import graft.JobRunner
import graft.config.{AssetLoader, ConnectorRecipe, JobConfig, Registry, Yaml}
import graft.core.{CacheScope, Validation, ValidationMode}
import graft.sinks.{ParquetOnly, ParquetSink, PartitionTransforms}
import graft.sources.{CsvSource, JsonlOptions, JsonlSource}
import org.apache.spark.sql.{DataFrame, Observation, SparkSession}
import org.apache.spark.sql.functions.col
import java.nio.file.{Files, Paths}

/** Per-layer numbers for the traced run: the program's own phase spans
  * and the listener's Spark counters for each traced ingest, plus probes
  * that time each layer's public calls on the same generated inputs.
  */
object Probes {
  import Harness._

  private def timed[T](body: => T): (Double, T) = {
    val t0 = System.nanoTime()
    val r = body
    (seconds(t0), r)
  }

  private def noop(df: DataFrame): Unit =
    df.write.format("noop").mode("overwrite").save()

  /** Median wall seconds of `reps` runs of `body`, after one warm-up
    * (the traced run keeps to one timed run per probe to stay short).
    */
  private def repeat(reps: Int)(body: Int => Unit): Double = {
    body(0)
    median((1 to reps).map(i => timed(body(i))._1))
  }

  /** `slotWaits`: for each traced job, the seconds from the call into the
    * runner until the job started (in a batch: from `runAll`'s start,
    * so startup and waiting for a concurrency slot both count).
    */
  def layers(ctx: Ctx, t: Trace, job: JobSpec, traced: Seq[(TSpan, Trace.Jvm)],
      slotWaits: Seq[Double]): Obj = {
    val spark = ctx.spark
    t.settle()
    val expected = ctx.jobs.map(j =>
      j.name -> j.node.get("expect").get("records").asLong).toMap

    // ---- spans and Spark counters of the traced ingests
    val perJob = traced.map { case (root, jvm) =>
      val nested = t.within(root)
      val sj = t.sparkJobs(root)
      val busy = Trace.unionNanos(sj.map(j => (j.start, math.min(j.end, root.end)))) / 1e9
      val tot = t.stageTotals(sj)
      def phase(n: String) = nested.filter(_.name == n).map(_.seconds).sum
      val jobSpan = nested.find(_.name.startsWith("job."))
      // batch spans carry the job's name; a single-job workload has one job
      val records = expected.getOrElse(root.name.stripPrefix("bench.job."),
        expected(job.name)).toDouble
      Map(
        "runner.driver_s" -> (root.seconds - busy),
        "runner.self_ms" -> jobSpan.map(s => Trace.selfNanos(s, nested) / 1e6).getOrElse(0.0),
        "runner.spark_jobs" -> sj.size.toDouble,
        "spark.stages" -> t.stageCount(sj).toDouble,
        "spark.tasks" -> tot.tasks.toDouble,
        "spark.exec_run_s" -> tot.runMs / 1e3,
        "spark.exec_cpu_s" -> tot.cpuNs / 1e9,
        "spark.cpu_us_per_record" -> tot.cpuNs / 1e3 / records,
        "spark.shuffle_write_mb" -> tot.shuffleWriteBytes / 1e6,
        "spark.spill_mb" -> tot.spillBytes / 1e6,
        "jvm.gc_s" -> jvm.gcMs / 1e3,
        "jvm.jit_s" -> jvm.jitMs / 1e3,
        "jvm.janino_compiles" -> jvm.janino.toDouble,
        "core.plan_ms" -> phase("phase.validate") * 1e3,
        "phase.curate_s" -> phase("phase.curate"),
        "phase.state_ms" -> phase("phase.state") * 1e3)
    }
    val spanMetrics = perJob.headOption.map(_.keys).getOrElse(Nil)
      .map(k => k -> median(perJob.map(_(k)))).toMap
    // Spark jobs per ingest by the innermost span that submitted them
    val bySpan = traced.flatMap { case (root, _) =>
      val nested = t.within(root)
      t.sparkJobs(root).map(j => t.owner(j, nested).map(_.name).getOrElse("-"))
    }.groupBy(identity).map { case (k, v) => k -> v.size.toDouble / traced.size }

    // ---- probes on the probe job's inputs
    val dir = ctx.work.resolve("probe")
    val yaml = writeJob(job, dir, dir.resolve("out"), dir.resolve("state.json"))
    def res(p: String) = if (Paths.get(p).isAbsolute) p else dir.resolve(p).toString
    def load() = {
      val jc = JobConfig.fromYaml(yaml.toString)
      val src = jc.resolveSource(ConnectorRecipe.fromYaml(res(jc.sourceConnectorPath.get)))
      val tgt = jc.resolveTarget(ConnectorRecipe.fromYaml(res(jc.targetConnectorPath.get)))
      Registry.default.validateJob(src, tgt, "self_hosted")
      (jc, src, tgt, AssetLoader.fromYaml(res(jc.assetPath.get)))
    }
    val configMs = median((1 to 25).map(_ => timed(load())._1 * 1e3))
    val (jc, src, tgt, contract) = load()
    val mode = ValidationMode.parse(jc.validationMode)
    val paths = src.files.flatMap(f => Yaml.str(f, "path")).map(res)
    val jsonl = src.connectorType == "jsonl"
    val corruptCol = if (jsonl) Some(JsonlOptions().corruptCol) else None
    def raw(): DataFrame =
      if (jsonl) JsonlSource.read(spark, paths, contract) else CsvSource.read(spark, paths, contract)
    def validate(): (DataFrame, Observation) = {
      val obs = Observation(s"probe_${System.nanoTime}")
      (Validation.validate(raw(), contract, mode, obs, corruptCol).data, obs)
    }
    val curated = Yaml.map(jc.raw, "curation").nonEmpty
    val inputMb = job.inputs.map(p => Files.size(ctx.work.resolve(p))).sum / 1e6

    // sources: the scan alone, into the noop sink
    val scanS = t.span("probe.sources") { repeat(1)(_ => noop(raw())) }
    val rows = raw().count()
    val corrupt = corruptCol.map(c => raw().filter(col(c).isNotNull).count()).getOrElse(0L)

    // core: validate + coerce on the same raw frame, minus the scan
    var invalid = 0L
    val validateTotal = t.span("probe.core") {
      repeat(1) { _ =>
        val (v, obs) = validate()
        noop(v)
        invalid = obs.get.collect { case (k, n: java.lang.Long) if k != "records" => n.longValue }.sum
      }
    }

    // operators: the curation block on the validated frame
    val (curateTotal, keepRatio, shuffleMb) =
      if (!curated) (validateTotal, 1.0, 0.0)
      else {
        val shuffles = scala.collection.mutable.ArrayBuffer.empty[Double]
        val total = repeat(1) { _ =>
          // some curation steps run eager guard actions while planning,
          // so the span covers planning and the write
          t.span("probe.curate") {
            CacheScope.scoped(noop(JobRunner.applyCuration(validate()._1, jc.raw)))
          }
          t.settle()
          val s = t.allSpans.filter(_.name == "probe.curate").last
          shuffles += t.stageTotals(t.sparkJobs(s)).shuffleWriteBytes / 1e6
        }
        val keep = CacheScope.scoped {
          val v = Validation.transform(raw(), contract, mode, corruptCol)
          JobRunner.applyCuration(v, jc.raw).count().toDouble / v.count()
        }
        (total, keep, median(shuffles.toSeq))
      }

    // sinks: the sizing sample as the job runs it, on the unmaterialized plan
    val partitions = if (tgt.partitioning.nonEmpty) tgt.partitioning else Seq("ingest_date")
    var maxRecords = 0L
    val sizingS = t.span("probe.sinks.sizing") {
      repeat(1) { i =>
        val (mat, cols) = PartitionTransforms.materialize(
          Validation.transform(raw(), contract, mode, corruptCol), partitions)
        maxRecords = ParquetSink.estimateMaxRecordsPerFile(
          ParquetSink.preparePartitions(mat, cols), dir.resolve(s"sizing_$i").toString,
          tgt.parquetTargetSizeMb)
      }
    }
    // the commit of the job's output frame, materialized first so only
    // encoding, writing and committing are timed
    var files = 0L
    var bytes = 0L
    val writeS = CacheScope.scoped {
      val out = CacheScope.persist(JobRunner.applyCuration(
        Validation.transform(raw(), contract, mode, corruptCol), jc.raw))
      out.count()
      t.span("probe.sinks.commit") {
        repeat(1) { i =>
          val r = ParquetOnly.commit(out, dir.resolve(s"sink_$i").toString, contract,
            partitions, Map.empty, tgt.parquetTargetSizeMb, Some(maxRecords))
          files = r.filesWritten
          bytes = r.bytesWritten
        }
      }
    }

    // state: the store calls a file_modified_time job makes
    val store = new graft.state.StateStore(dir.resolve("probe_state.json").toString, spark)
    var skipped = 0
    val stateProbeMs = repeat(10) { _ =>
      store.updateFileStates(paths)
      skipped = store.filterUnmodified(paths)._2.size
    } * 1e3
    deleteTree(dir)

    val layer = Map(
      "config.load_ms" -> configMs,
      "sources.scan_s" -> scanS,
      "sources.rows" -> rows.toDouble,
      "sources.mb_per_s" -> inputMb / scanS,
      "sources.corrupt_rows" -> corrupt.toDouble,
      "core.validate_s" -> (validateTotal - scanS),
      "core.invalid_rows" -> invalid.toDouble,
      "core.plan_ms" -> spanMetrics.getOrElse("core.plan_ms", 0.0),
      "operators.curate_s" -> (curateTotal - validateTotal + spanMetrics.getOrElse("phase.curate_s", 0.0)),
      "operators.keep_ratio" -> keepRatio,
      "operators.shuffle_mb" -> shuffleMb,
      "sinks.sizing_s" -> sizingS,
      "sinks.write_s" -> writeS,
      "sinks.mean_file_mb" -> (if (files > 0) bytes / 1e6 / files else 0.0),
      "sinks.output_mb" -> bytes / 1e6,
      "state.ms" -> (spanMetrics.getOrElse("phase.state_ms", 0.0) + stateProbeMs),
      "state.skip_ratio" -> skipped.toDouble / paths.size,
      "runner.slot_wait_s" -> median(slotWaits))
    layer ++ (spanMetrics -- Seq("phase.curate_s", "phase.state_ms", "core.plan_ms")) ++
      Map("spark_jobs_by_span" -> bySpan)
  }

  /** The job the layer probes run on: the first with invalid rows, so
    * `core.invalid_rows` is checked against a non-zero count where the
    * workload has one.
    */
  def probeJob(ctx: Ctx): JobSpec =
    ctx.jobs.find(_.node.get("expect").get("errors").size > 0).getOrElse(ctx.jobs.head)

  /** One warm job at local[cores] against the same job at local[1] in
    * the same (JIT-warm) JVM: how much of the job's time the cores
    * actually shorten. Leaves the local[1] session in `ctx.spark`.
    */
  def parallelSpeedup(ctx: Ctx): Double = {
    val job = ctx.jobs.head
    def warmJob(tag: String): Double = {
      val dir = ctx.work.resolve(s"speedup_$tag")
      val yaml = writeJob(job, dir, dir.resolve("out"), dir.resolve("state.json"))
      val (s, _) = timed(JobRunner.run(ctx.spark, yaml.toString))
      deleteTree(dir)
      s
    }
    val many = warmJob("n")
    ctx.spark.stop()
    SparkSession.clearActiveSession()
    SparkSession.clearDefaultSession()
    ctx.spark = Session.create(1, ctx.work.resolve("spark-local"))
    warmJob("1") / many
  }
}
