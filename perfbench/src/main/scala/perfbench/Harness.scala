package perfbench

import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}
import com.fasterxml.jackson.module.scala.DefaultScalaModule
import graft.{BatchRunner, JobRunner}
import org.apache.spark.sql.SparkSession
import java.nio.file.{Files, Path, Paths}
import java.nio.file.attribute.FileTime
import scala.collection.mutable
import scala.jdk.CollectionConverters._

/** Runs one workload's ingest jobs through the program's public entry
  * points (`JobRunner.run`, `BatchRunner.runAll`) and writes what it
  * observed to `<work>/result.json`: one record per job execution (wall
  * time, exit code, counts), one read-back per committed output, and —
  * in the traced run — the per-layer numbers. Judging the observations
  * against the generator's manifest is left to the caller.
  *
  * usage: Harness <work-dir> <seconds> <trace 0|1> <cores>
  */
object Harness {
  type Obj = Map[String, Any]

  val mapper: ObjectMapper = new ObjectMapper().registerModule(DefaultScalaModule)

  /** A job as the manifest describes it. */
  final case class JobSpec(name: String, template: String, inputs: Seq[String],
      output: String, touched: Boolean, node: JsonNode)

  final class Ctx(val work: Path, val seconds: Double, val traced: Boolean,
      val cores: Int, val manifest: JsonNode) {
    var spark: SparkSession = _
    var trace: Option[Trace] = None
    val ops = mutable.ArrayBuffer.empty[Obj]
    val outputs = mutable.ArrayBuffer.empty[Obj]
    val jobs: Seq[JobSpec] = manifest.get("jobs").elements().asScala.toSeq.map { j =>
      JobSpec(j.get("name").asText, j.get("template").asText,
        j.get("inputs").elements().asScala.map(_.asText).toSeq,
        j.get("output").asText, Option(j.get("touched")).exists(_.asBoolean), j)
    }
    def workload: String = manifest.get("workload").asText
  }

  def main(args: Array[String]): Unit = {
    // Spark's non-daemon threads would keep a failed JVM alive: end it here
    val code = try { measure(args); 0 } catch {
      case e: Throwable => e.printStackTrace(); 1
    }
    // everything the session wrote lives in the work dir, which the caller
    // deletes: end the JVM now rather than wait for Spark's shutdown
    Runtime.getRuntime.halt(code)
  }

  def measure(args: Array[String]): Unit = {
    val work = Paths.get(args(0)).toAbsolutePath
    val ctx = new Ctx(work, args(1).toDouble, args(2) == "1", args(3).toInt,
      mapper.readTree(work.resolve("manifest.json").toFile))
    val batch = ctx.workload == "tenant_batch"
    ctx.spark = Session.create(ctx.cores, work.resolve("spark-local"), fair = batch)
    ctx.spark.range(1).count()
    println("READY")
    System.out.flush()
    if (ctx.traced) ctx.trace = Some(new Trace(ctx.spark))
    val t0 = System.nanoTime()
    val layers = if (batch) Batch.run(ctx) else Single.run(ctx)
    val loopSeconds = (System.nanoTime() - t0) / 1e9
    graft.core.CacheScope.releaseAll()
    val heapMb = retainedHeapMb()
    ctx.trace.foreach(_.stop())
    val speedup =
      if (ctx.traced) Map("spark.parallel_speedup" -> Probes.parallelSpeedup(ctx)) else Map()
    val result = Map(
      "ops" -> ctx.ops.toSeq, "outputs" -> ctx.outputs.toSeq,
      "probe_job" -> (if (ctx.traced) Probes.probeJob(ctx).name else null),
      "loop_s" -> loopSeconds, "retained_heap_mb" -> heapMb,
      "layers" -> (layers ++ speedup))
    Files.writeString(work.resolve("result.json"), mapper.writeValueAsString(result))
  }

  /** Heap in use after a full collection, in MB: the least of three
    * collections a little apart, so references Spark's cleaner threads
    * are still dropping do not count.
    */
  def retainedHeapMb(): Double = (1 to 3).map { _ =>
    System.gc()
    Thread.sleep(200)
    java.lang.management.ManagementFactory.getMemoryMXBean
      .getHeapMemoryUsage.getUsed / 1e6
  }.min

  /** Write `job`'s YAML into `dir` with its output and state paths filled. */
  def writeJob(job: JobSpec, dir: Path, out: Path, state: Path): Path = {
    Files.createDirectories(dir)
    val yaml = dir.resolve(s"${job.name}.yaml")
    Files.writeString(yaml, job.template
      .replace("{OUT}", out.toString).replace("{STATE}", state.toString))
    yaml
  }

  def report(r: JobRunner.JobReport): Obj = Map(
    "exit" -> r.exitCode, "records" -> r.records, "valid" -> r.validRecords,
    "errors" -> r.errors)

  /** Read back a committed output: row count, the manifest's checksum
    * expressions, data files and bytes, and the persisted cursor.
    */
  def readBack(ctx: Ctx, job: JobSpec, out: Path, state: Path, tag: Obj): Unit = {
    val exprs = job.node.get("expect").get("checksums").fieldNames().asScala.toSeq
    val dir = out.resolve(job.output)
    val files = if (Files.isDirectory(dir))
      scala.util.Using.resource(Files.walk(dir))(_.iterator.asScala.toVector)
        .filter(p => p.getFileName.toString.endsWith(".parquet")) else Vector.empty
    val (rows, sums) =
      if (files.isEmpty) (0L, exprs.map(_ -> 0L))
      else {
        val row = ctx.spark.read.parquet(dir.toString)
          .selectExpr(("count(*)" +: exprs): _*).head()
        def num(i: Int): Long = row.get(i) match {
          case null => 0L
          case n: java.lang.Number => n.longValue
        }
        (num(0), exprs.zipWithIndex.map { case (e, i) => e -> num(i + 1) })
      }
    val cursor = Option(job.node.get("expect").get("cursor")).filterNot(_.isNull).flatMap { c =>
      new graft.state.StateStore(state.toString, ctx.spark)
        .cursorLastValue(c.get("object").asText, c.get("field").asText)
    }
    ctx.outputs += tag ++ Map("job" -> job.name, "rows" -> rows,
      "checksums" -> sums.toMap, "cursor" -> cursor.orNull,
      "files" -> files.size, "bytes" -> files.map(Files.size(_)).sum)
  }

  def deleteTree(p: Path): Unit = if (Files.exists(p))
    scala.util.Using.resource(Files.walk(p))(_.iterator.asScala.toVector)
      .reverse.foreach(Files.delete)

  def seconds(t0: Long): Double = (System.nanoTime() - t0) / 1e9

  def median(xs: Seq[Double]): Double = {
    val s = xs.sorted
    if (s.isEmpty) Double.NaN
    else if (s.size % 2 == 1) s(s.size / 2) else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
  }
}

/** spine_csv and curate_docs: one job, run again and again with fresh
  * output and state. Each iteration is an ingest followed by a re-run
  * whose state says nothing changed (the no-op job). After the cold job,
  * one warm-up iteration runs (and is checked) but is left out of the
  * timings: the JIT is still compiling the hot paths then, and whether
  * it finishes inside that iteration varies from run to run.
  */
object Single {
  import Harness._

  val Measured = 4 // timed iterations at least, after the warm-up

  def run(ctx: Ctx): Obj = {
    val job = ctx.jobs.head
    val traced = mutable.ArrayBuffer.empty[(TSpan, Trace.Jvm)]
    val waits = mutable.ArrayBuffer.empty[Double]
    def iteration(k: Int, withTrace: Boolean): Unit = {
      val dir = ctx.work.resolve(s"it_$k")
      val out = dir.resolve("out")
      val state = dir.resolve("state.json")
      val yaml = writeJob(job, dir, out, state).toString
      val trace = ctx.trace.filter(_ => withTrace)
      def exec(kind: String): Unit = {
        val j0 = Trace.jvm()
        val t0 = System.nanoTime()
        val r = trace match {
          case Some(t) => t.span(s"bench.$kind") {
            JobRunner.run(ctx.spark, yaml, tracer = t.tracer)
          }
          case None => JobRunner.run(ctx.spark, yaml)
        }
        val wall = seconds(t0)
        trace.foreach { t =>
          val spans = t.allSpans
          val root = spans.filter(_.name == s"bench.$kind").last
          spans.find(s => s.name.startsWith("job.") && s.start >= root.start)
            .foreach(s => waits += (s.start - root.start) / 1e9)
          if (kind == "ingest") traced += (root -> (Trace.jvm() - j0))
        }
        ctx.ops += report(r) ++ Map("job" -> job.name, "kind" -> kind, "iter" -> k,
          "wall_s" -> wall, "traced" -> trace.nonEmpty, "warmup" -> (k == 1))
      }
      exec("ingest")
      exec("noop")
      readBack(ctx, job, out, state, Map("iter" -> k, "ingests" -> 1))
      deleteTree(dir)
    }
    iteration(0, withTrace = false) // the cold job
    iteration(1, withTrace = false) // the warm-up
    // the traced run interleaves untraced and traced iterations as
    // U T T U U T T U ..., so both halves see the same warm-up on average
    val t0 = System.nanoTime()
    var k = 2
    while (k < 2 + (if (ctx.traced) 4 else Measured) || seconds(t0) < ctx.seconds) {
      iteration(k, withTrace = ctx.traced && (k % 4 == 3 || k % 4 == 0))
      k += 1
    }
    ctx.trace.map(t => Probes.layers(ctx, t, Probes.probeJob(ctx), traced.toSeq, waits.toSeq))
      .getOrElse(Map.empty)
  }
}

/** tenant_batch: rounds of `BatchRunner.runAll` over a directory of small
  * jobs. Pass 1 ingests every job; pass 2 finds every input unchanged;
  * then a few inputs are touched and pass 3 ingests only those.
  */
object Batch {
  import Harness._

  private val LineRe = """^(\S+)\.yaml: records=(\d+) valid=(\d+) .*exit=(\d+)""".r

  def run(ctx: Ctx): Obj = {
    val concurrency = ctx.manifest.get("concurrency").asInt
    // the cold job: what a cron RunJob user pays, in a fresh JVM
    val first = ctx.jobs.head
    val coldDir = ctx.work.resolve("cold")
    val coldYaml = writeJob(first, coldDir, coldDir.resolve("out"), coldDir.resolve("state.json"))
    val c0 = System.nanoTime()
    val cold = JobRunner.run(ctx.spark, coldYaml.toString)
    ctx.ops += report(cold) ++ Map("job" -> first.name, "kind" -> "ingest", "iter" -> 0,
      "pass" -> 0, "wall_s" -> seconds(c0), "traced" -> false)
    readBack(ctx, first, coldDir.resolve("out"), coldDir.resolve("state.json"),
      Map("iter" -> 0, "ingests" -> 1))
    deleteTree(coldDir)

    val traced = mutable.ArrayBuffer.empty[(TSpan, Trace.Jvm)]
    val slotWaits = mutable.ArrayBuffer.empty[Double]
    def round(k: Int, withTrace: Boolean): Unit = {
      // job YAMLs sit one level below the work dir (their paths start
      // with ../); outputs and state live beside, not inside, the job dir
      val jobsDir = ctx.work.resolve(s"round_$k")
      val dir = ctx.work.resolve(s"round_${k}_data")
      def out(j: JobSpec) = dir.resolve("out").resolve(j.name)
      def state(j: JobSpec) = dir.resolve("state").resolve(s"${j.name}.json")
      ctx.jobs.foreach(j => writeJob(j, jobsDir, out(j), state(j)))
      val trace = ctx.trace.filter(_ => withTrace)
      def pass(p: Int): Unit = {
        val logs = new java.util.concurrent.ConcurrentLinkedQueue[(String, Long, String)]()
        val entered = new java.util.concurrent.ConcurrentHashMap[String, Long]()
        val override_ = trace.map { t =>
          (sp: SparkSession, path: Path, log: String => Unit) => {
            // exactly the call runAll makes, inside a benchmark span
            val name = path.getFileName.toString.stripSuffix(".yaml")
            entered.put(name, System.nanoTime())
            val j0 = Trace.jvm()
            val r = t.span(s"bench.job.$name") {
              JobRunner.run(sp, path.toString, "self_hosted", log = log, tracer = t.tracer)
            }
            if (r.records > 0) traced.synchronized {
              traced += (t.allSpans.filter(_.name == s"bench.job.$name").last -> (Trace.jvm() - j0))
            }
            log(s"${path.getFileName}: records=${r.records} valid=${r.validRecords} " +
              f"rps=${r.recordsPerSecond}%.1f exit=${r.exitCode}")
            r.exitCode
          }
        }
        val t0 = System.nanoTime()
        val rep = BatchRunner.runAll(ctx.spark, jobsDir,
          secretsDir = ctx.work.resolve("secrets"), concurrency = concurrency,
          runJobOverride = override_,
          log = { m =>
            logs.add((Thread.currentThread().getName, System.nanoTime(), m))
            System.err.println(s"[graft] $m")
          })
        val wall = seconds(t0)
        slotWaits ++= entered.values.asScala.map(e => (e - t0) / 1e9)
        // a job's wall time is the gap between its completion line and the
        // previous one on the same worker thread; a thread's first job has
        // no such gap and gives no sample
        val done = logs.asScala.toSeq.collect {
          case (th, t, LineRe(name, rec, valid, exit)) => (th, t, name, rec.toLong, valid.toLong, exit.toInt)
        }
        val walls = done.groupBy(_._1).values.flatMap { xs =>
          val s = xs.sortBy(_._2)
          s.zip(None +: s.map(x => Some(x._2))).map { case (x, prev) =>
            x._3 -> prev.map(pt => (x._2 - pt) / 1e9) }
        }.toMap
        val byName = done.map(d => d._3 -> d).toMap
        val exits = rep.results.map { case (path, code) =>
          path.getFileName.toString.stripSuffix(".yaml") -> code }.toMap
        ctx.jobs.foreach { j =>
          val ingest = p == 1 || (p == 3 && j.touched)
          val d = byName.get(j.name)
          ctx.ops += Map("job" -> j.name, "kind" -> (if (ingest) "ingest" else "noop"),
            "iter" -> k, "pass" -> p, "exit" -> exits.getOrElse(j.name, -1),
            "records" -> d.map(_._4).getOrElse(-1L), "valid" -> d.map(_._5).getOrElse(-1L),
            "wall_s" -> walls.get(j.name).flatten.getOrElse(null), "traced" -> trace.nonEmpty)
        }
        ctx.ops += Map("job" -> "*", "kind" -> "batch", "iter" -> k, "pass" -> p,
          "exit" -> rep.exitCode, "jobs" -> rep.results.size, "wall_s" -> wall,
          "traced" -> trace.nonEmpty)
      }
      pass(1)
      pass(2)
      ctx.jobs.filter(_.touched).flatMap(_.inputs).foreach { rel =>
        val f = ctx.work.resolve(rel)
        val now = math.max(System.currentTimeMillis(), Files.getLastModifiedTime(f).toMillis)
        Files.setLastModifiedTime(f, FileTime.fromMillis(now + 10000L))
      }
      pass(3)
      ctx.jobs.foreach(j => readBack(ctx, j, out(j), state(j),
        Map("iter" -> k, "ingests" -> (if (j.touched) 2 else 1))))
      deleteTree(dir)
      deleteTree(jobsDir)
    }
    val t0 = System.nanoTime()
    var k = 1
    while (k <= (if (ctx.traced) 2 else 1) || seconds(t0) < ctx.seconds) {
      round(k, withTrace = ctx.traced && k % 2 == 0)
      k += 1
    }
    ctx.trace.map(t => Probes.layers(ctx, t, Probes.probeJob(ctx), traced.toSeq, slotWaits.toSeq))
      .getOrElse(Map.empty)
  }
}
