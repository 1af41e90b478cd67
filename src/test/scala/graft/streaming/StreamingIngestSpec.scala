package graft.streaming

import graft.SparkSpec
import graft.core.{ContractField, DataContract, ValidationMode}
import org.apache.spark.sql.functions._
import java.nio.file.Files

class StreamingIngestSpec extends SparkSpec {

  private val contract = DataContract(name = "s", fields = Seq(
    ContractField("id", "integer", required = true),
    ContractField("name", "string")))

  test("AvailableNow stream: validate + partitioned write, exactly-once files") {
    val in = Files.createTempDirectory("stream-in-")
    val out = Files.createTempDirectory("stream-out-").toString + "/data"
    val ckpt = Files.createTempDirectory("stream-ckpt-").toString
    Files.writeString(in.resolve("a.csv"), "id,name\n1,alice\n,broken\n2,bob\n")

    val raw = StreamingIngest.readCsvStream(spark, in.toString, contract)
    raw.isStreaming shouldBe true
    val q = StreamingIngest.ingest(raw, contract, ValidationMode.Strict, out, ckpt)
    q.awaitTermination(60000)

    val back = spark.read.parquet(out)
    back.count() shouldBe 2 // broken row dropped by strict transform
    back.columns should contain("ingest_date")

    // second batch: only the NEW file is processed (checkpoint = I2 skip)
    Files.writeString(in.resolve("b.csv"), "id,name\n3,carol\n")
    val q2 = StreamingIngest.ingest(
      StreamingIngest.readCsvStream(spark, in.toString, contract),
      contract, ValidationMode.Strict, out, ckpt)
    q2.awaitTermination(60000)
    spark.read.parquet(out).count() shouldBe 3 // 2 + 1, a.csv not re-ingested
  }

  test("JSONL stream: shared parse with batch source, corrupt lines surfaced, checkpointed") {
    val in = Files.createTempDirectory("stream-jsonl-in-")
    val out = Files.createTempDirectory("stream-jsonl-out-").toString + "/data"
    val ckpt = Files.createTempDirectory("stream-jsonl-ckpt-").toString
    Files.writeString(in.resolve("a.jsonl"),
      """{"id": 1, "name": "alice"}
        |{broken line
        |{"id": 2, "name": "bob"}
        |""".stripMargin)

    val raw = StreamingIngest.readJsonlStream(spark, in.toString, contract)
    raw.isStreaming shouldBe true
    // the corrupt column is RETURNED to the caller, never silently
    // dropped inside the reader
    raw.columns should contain("_corrupt_record")
    val q = StreamingIngest.ingest(raw, contract, ValidationMode.Strict, out,
      ckpt, corruptCol = Some("_corrupt_record"))
    q.awaitTermination(60000)
    val back = spark.read.parquet(out)
    back.count() shouldBe 2 // corrupt line dropped by STRICT VALIDATION
    back.columns should not contain "_corrupt_record"
    // stream result rows ≡ batch source rows for the same file
    back.select("id").collect().map(_.getLong(0)).sorted shouldBe
      graft.sources.JsonlSource
        .readClean(spark, Seq(in.toString), contract)
        .select("id").collect().map(_.getString(0).toLong).sorted

    // new file only on the second run (checkpoint skip)
    Files.writeString(in.resolve("b.jsonl"), """{"id": 3, "name": "carol"}""" + "\n")
    val q2 = StreamingIngest.ingest(
      StreamingIngest.readJsonlStream(spark, in.toString, contract),
      contract, ValidationMode.Strict, out, ckpt,
      corruptCol = Some("_corrupt_record"))
    q2.awaitTermination(60000)
    spark.read.parquet(out).count() shouldBe 3
  }

  test("JSONL stream: corrupt column is picked up by DEFAULT when present") {
    // Contract with NO required fields — the case where a forgotten
    // corruptCol used to land a corrupt line as a silent all-null row
    // (nothing else invalidated it). ingest must default to the JSONL
    // corrupt column whenever the input carries it.
    val lax = DataContract(name = "lax", fields = Seq(
      ContractField("id", "integer"), ContractField("name", "string")))
    val in = Files.createTempDirectory("stream-jsonl-cc-")
    val out = Files.createTempDirectory("stream-jsonl-cc-out-").toString + "/data"
    val ckpt = Files.createTempDirectory("stream-jsonl-cc-ckpt-").toString
    Files.writeString(in.resolve("a.jsonl"),
      """{"id": 1, "name": "alice"}
        |{utterly broken
        |{"id": 2, "name": "bob"}
        |""".stripMargin)
    val q = StreamingIngest.ingest(
      StreamingIngest.readJsonlStream(spark, in.toString, lax),
      lax, ValidationMode.Strict, out, ckpt) // corruptCol NOT passed
    q.awaitTermination(60000)
    val back = spark.read.parquet(out)
    back.count() shouldBe 2 // corrupt line counted as an error, not landed
    back.columns should not contain "_corrupt_record"
    back.filter(back("id").isNull).count() shouldBe 0
    // COUNTED, not just dropped: the T4 observe() rides the streaming
    // scan and the corrupt_record metric surfaces on query progress
    val observed = q.recentProgress.flatMap(p =>
      Option(p.observedMetrics.get("ingest")))
    observed should not be empty
    observed.map(_.getAs[Long]("corrupt_record:_corrupt_record")).sum shouldBe 1L
    observed.map(_.getAs[Long]("records")).sum shouldBe 3L
  }

  test("streaming dedup keeps first arrival per fingerprint across batches") {
    val in = Files.createTempDirectory("stream-dd-")
    val ckpt = Files.createTempDirectory("stream-dd-ckpt-").toString
    Files.writeString(in.resolve("a.csv"),
      "ts,doc\n2024-01-01 00:00:01,hello world\n" +
        "2024-01-01 00:00:02,HELLO   World\n" + // normalized dup → dropped
        "2024-01-01 00:00:03,fresh doc\n")
    val out = Files.createTempDirectory("stream-dd-out-").toString + "/data"
    def run(): Unit = {
      val raw = spark.readStream
        .schema("ts timestamp, doc string")
        .option("header", "true").csv(in.toString)
      val q = StreamingIngest.dedupStream(raw, "doc", "ts", "1 hour")
        .writeStream.format("parquet")
        .option("path", out)
        .option("checkpointLocation", ckpt)
        .outputMode("append")
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow()).start()
      q.awaitTermination(60000)
    }
    run()
    spark.read.parquet(out).collect()
      .map(_.getString(1)).sorted shouldBe Array("fresh doc", "hello world")
    // a later file re-sending a seen doc within the watermark: still
    // dropped, because the fingerprint state survives the restart via the
    // checkpoint
    Files.writeString(in.resolve("b.csv"),
      "ts,doc\n2024-01-01 00:00:10,hello  WORLD\n2024-01-01 00:00:11,brand new\n")
    run()
    spark.read.parquet(out).collect()
      .map(_.getString(1)).sorted shouldBe
      Array("brand new", "fresh doc", "hello world")
  }

  test("streaming incremental dedup drops corpus-known text via the static store") {
    import spark.implicits._
    val in = Files.createTempDirectory("stream-inc-")
    val ckpt = Files.createTempDirectory("stream-inc-ckpt-").toString
    val store = Files.createTempDirectory("stream-inc-store-").toString + "/fp"
    // existing corpus: "hello world" is already committed
    val fingerprints =
      graft.operators.Dedup.fingerprintStore(graft.core.KeyStore.Flat(store))
    fingerprints.append(Seq("hello world").toDF("text")
      .select(graft.operators.Dedup.fingerprint($"text").as("fp")))
    Files.writeString(in.resolve("a.csv"),
      "ts,doc\n2024-01-01 00:00:01,HELLO  world\n" + // corpus dup → dropped
        "2024-01-01 00:00:02,fresh doc\n" +
        "2024-01-01 00:00:03,Fresh DOC\n") // in-stream dup → dropped
    val out = Files.createTempDirectory("stream-inc-out-").toString + "/data"
    val raw = spark.readStream
      .schema("ts timestamp, doc string")
      .option("header", "true").csv(in.toString)
    val deduped = StreamingIngest.dedupStreamIncremental(
      raw, "doc", "ts", "1 hour",
      fingerprints.read(spark))
    val q = deduped.writeStream.format("parquet")
      .option("path", out)
      .option("checkpointLocation", ckpt)
      .outputMode("append")
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow()).start()
    q.awaitTermination(60000)
    spark.read.parquet(out).collect()
      .map(_.getString(1)) shouldBe Array("fresh doc")
  }

  test("hopping-window stream matches the batch aggregation after restart") {
    import spark.implicits._
    val in = Files.createTempDirectory("stream-hop-")
    val ckpt = Files.createTempDirectory("stream-hop-ckpt-").toString
    val out = Files.createTempDirectory("stream-hop-out-").toString + "/data"
    // each event lands in exactly two 10-minute windows hopping every 5
    Files.writeString(in.resolve("a.csv"),
      "ts,event_type\n2024-01-01 00:02:00,click\n" +
        "2024-01-01 00:07:00,click\n2024-01-01 00:07:30,view\n" +
        "2024-01-01 00:12:00,click\n")
    def run(): Unit = {
      val raw = spark.readStream
        .schema("ts timestamp, event_type string")
        .option("header", "true").csv(in.toString)
      val q = StreamingIngest.hoppingEventCounts(raw, "ts", "event_type")
        .writeStream.format("parquet")
        .option("path", out).option("checkpointLocation", ckpt)
        .outputMode("append")
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow()).start()
      q.awaitTermination(60000)
    }
    run()
    // restart with a far-later sentinel: the checkpointed window state
    // survives, the watermark passes every file-a window, and append
    // mode flushes them all (the sentinel's own windows stay open)
    Files.writeString(in.resolve("b.csv"),
      "ts,event_type\n2024-01-01 01:00:00,sentinel\n")
    run()
    val streamed = spark.read.parquet(out)
      .select($"window_start".cast("string"), $"event_type", $"n_events")
      .as[(String, String, Long)].collect().toSet
    // batch twin over the same file-a events: identical window() call
    val batch = Seq(
      ("2024-01-01 00:02:00", "click"), ("2024-01-01 00:07:00", "click"),
      ("2024-01-01 00:07:30", "view"), ("2024-01-01 00:12:00", "click"))
      .toDF("ts", "event_type").withColumn("ts", $"ts".cast("timestamp"))
      .groupBy(window($"ts", "10 minutes", "5 minutes"), $"event_type")
      .agg(count(lit(1)).as("n_events"))
      .select($"window.start".cast("string"), $"event_type", $"n_events")
      .as[(String, String, Long)].collect().toSet
    batch should not be empty
    streamed shouldBe batch
  }

  test("streaming near-dup dedup matches the batch path across restart") {
    import spark.implicits._
    val in = Files.createTempDirectory("stream-nd-")
    val ckpt = Files.createTempDirectory("stream-nd-ckpt-").toString
    val base = Files.createTempDirectory("stream-nd-store-").toString
    val (store, corpus, out) =
      (s"$base/bands", s"$base/corpus", s"$base/out")
    def run(): Unit = {
      val raw = spark.readStream
        .schema("doc_id long, text string")
        .option("header", "true").csv(in.toString)
      StreamingIngest.nearDedupStreamIncremental(raw, "doc_id", "text",
        store, corpus, out, ckpt).awaitTermination(120000)
    }
    // micro-batch 1: bootstrap (no store/corpus yet) + in-batch cluster
    Files.writeString(in.resolve("a.csv"),
      "doc_id,text\n" +
        "1,the quick brown fox jumps over the lazy dog by the river\n" +
        "2,the quick brown fox jumps over the lazy dog by the river\n" +
        "3,an altogether different sentence about compilers and parsers\n")
    run()
    // micro-batch 2 lands AFTER a restart: the checkpoint skips a.csv;
    // doc 10 is a near-dup of STORED doc 1 (cross-batch, caught only via
    // the band-key store), doc 11 is fresh
    Files.writeString(in.resolve("b.csv"),
      "doc_id,text\n" +
        "10,THE QUICK brown fox jumps over the lazy dog by the river\n" +
        "11,a genuinely new document about sailing across the open bay\n")
    run()
    val streamed = spark.read.parquet(out)
      .select("doc_id").as[Long].collect().sorted
    // batch twin: the SAME operator applied file-by-file with manual
    // store maintenance — the foreachBatch loop must be exactly this
    val day1 = Seq(
      (1L, "the quick brown fox jumps over the lazy dog by the river"),
      (2L, "the quick brown fox jumps over the lazy dog by the river"),
      (3L, "an altogether different sentence about compilers and parsers")
    ).toDF("doc_id", "text")
    val s1 = graft.operators.Dedup.dropNearDuplicates(day1, "doc_id", "text")
    val day2 = Seq(
      (10L, "THE QUICK brown fox jumps over the lazy dog by the river"),
      (11L, "a genuinely new document about sailing across the open bay")
    ).toDF("doc_id", "text")
    val s2 = graft.operators.Dedup.dropNearDuplicatesIncremental(
      day2, "doc_id", "text",
      graft.operators.Dedup.minhashBandKeys(s1, "doc_id", "text"), s1)
    val batchTwin = (s1.select("doc_id").as[Long].collect() ++
      s2.select("doc_id").as[Long].collect()).sorted
    streamed shouldBe batchTwin
    streamed shouldBe Array(1L, 3L, 11L)
    // and the maintained store now covers every survivor (3 docs × 16
    // bands), ready for micro-batch 3
    spark.read.parquet(store).count() shouldBe 3 * 16
  }

  test("streaming tfidf dedup matches the batch path across restart") {
    import spark.implicits._
    val in = Files.createTempDirectory("stream-tf-")
    val ckpt = Files.createTempDirectory("stream-tf-ckpt-").toString
    val base = Files.createTempDirectory("stream-tf-store-").toString
    val (store, out) = (s"$base/tfidf", s"$base/out")
    // the fit is frozen BEFORE the stream starts (missing store = error)
    val seed = Seq(
      (1L, "alpha beta gamma delta epsilon zeta"),
      (2L, "one two three four five six")).toDF("doc_id", "text")
    graft.operators.Tfidf.saveStore(seed, "doc_id", "text", store,
      maxTokenDf = 10)
    def run(): Unit = {
      val raw = spark.readStream
        .schema("doc_id long, text string")
        .option("header", "true").csv(in.toString)
      StreamingIngest.tfidfDedupStreamIncremental(raw, "doc_id", "text",
        store, out, ckpt, maxTokenDf = 10).awaitTermination(120000)
    }
    // micro-batch 1: doc 10 hits the seeded corpus; 11/12 are an
    // in-batch cluster; 13 is fresh
    Files.writeString(in.resolve("a.csv"),
      "doc_id,text\n" +
        "10,alpha beta gamma delta epsilon zeta\n" +
        "11,completely fresh sentence written today\n" +
        "12,completely fresh sentence written today\n" +
        "13,utterly unrelated standalone paragraph\n")
    run()
    // micro-batch 2 after restart: doc 20 duplicates SURVIVOR 11 —
    // caught only via the appended store vectors
    Files.writeString(in.resolve("b.csv"),
      "doc_id,text\n" +
        "20,completely fresh sentence written today\n" +
        "21,another brand new unique document\n")
    run()
    spark.read.parquet(out).select("doc_id").as[Long]
      .collect().sorted shouldBe Array(11L, 13L, 21L)
  }

  test("streaming incremental embedding dedup: cross-batch store hit across restart") {
    import spark.implicits._
    val in = Files.createTempDirectory("stream-emb-")
    val ckpt = Files.createTempDirectory("stream-emb-ckpt-").toString
    val base = Files.createTempDirectory("stream-emb-store-").toString
    val store = s"$base/buckets"
    val out = s"$base/out"
    def vec(seed: Int) =
      Array.tabulate(8)(j => math.sin(seed * 0.37 + j * 1.13).toFloat)
    def run(): Unit = {
      val raw = spark.readStream
        .schema("vec_id long, v array<float>")
        .parquet(in.toString)
      StreamingIngest.embeddingDedupStreamIncremental(raw, "vec_id", "v",
        store, out, ckpt, threshold = 0.95, planes = 4, tables = 4,
        dim = 8).awaitTermination(120000)
    }
    // micro-batch 1: 3 duplicates 1 (in-batch cluster → min-id survives);
    // 5 is far from both
    Seq((1L, vec(1)), (5L, vec(5)), (3L, vec(1))).toDF("vec_id", "v")
      .coalesce(1).write.mode("append").parquet(in.toString)
    run()
    spark.read.parquet(out).select("vec_id").as[Long]
      .collect().sorted shouldBe Array(1L, 5L)
    // micro-batch 2 after restart: 10 duplicates SURVIVOR 1 — caught
    // only via the appended bucket store + accumulated output corpus;
    // 11 is fresh
    Seq((10L, vec(1)), (11L, vec(9))).toDF("vec_id", "v")
      .coalesce(1).write.mode("append").parquet(in.toString)
    run()
    spark.read.parquet(out).select("vec_id").as[Long]
      .collect().sorted shouldBe Array(1L, 5L, 11L)
    // the persisted store holds exactly the survivors' keys: tables per id
    graft.operators.Similarity.embeddingBucketStore(
      graft.core.KeyStore.Flat(store), planes = 4, tables = 4, dim = 8)
      .read(spark)
      .select("id").distinct().as[Long].collect().sorted shouldBe
      Array(1L, 5L, 11L)
  }

  test("streaming two-stage index maintenance: stores ≡ one-shot build; replay appends nothing") {
    import spark.implicits._
    val in = Files.createTempDirectory("stream-idx-")
    val ckpt = Files.createTempDirectory("stream-idx-ckpt-").toString
    val base = Files.createTempDirectory("stream-idx-store-").toString
    val (sqStore, rawStore) = (s"$base/sq", s"$base/raw")
    def vec(seed: Int) =
      Array.tabulate(8)(j => math.sin(seed * 0.37 + j * 1.13).toFloat)
    val all = (0 until 40).map(i => (i.toLong, vec(i)))
    val ref = all.toDF("vec_id", "v")
    val cents = graft.operators.Similarity.seedCentroids(
      ref, "vec_id", "v", 4)
    val (mins, maxs) = graft.operators.Similarity.trainSqParams(
      ref, "v", 8)
    def run(): Unit = {
      val raw = spark.readStream
        .schema("vec_id long, v array<float>")
        .parquet(in.toString)
      StreamingIngest.twoStageIndexStream(raw, "vec_id", "v",
        sqStore, rawStore, ckpt, cents, mins, maxs)
        .awaitTermination(120000)
    }
    all.take(25).toDF("vec_id", "v")
      .coalesce(1).write.mode("append").parquet(in.toString)
    run()
    // second micro-batch after a restart: the index keeps growing
    all.drop(25).toDF("vec_id", "v")
      .coalesce(1).write.mode("append").parquet(in.toString)
    run()
    val queries = ref.filter($"vec_id" < 3)
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.select("query_id", "neighbor_id", "rank", "dist")
        .as[(Long, Long, Long, Double)].collect().sortBy(t => (t._1, t._3))
    val streamed = rows(
      graft.operators.Similarity.ivfSqRerankTopKFromStores(spark,
        sqStore, rawStore, queries, "vec_id", "v", k = 3,
        centroids = cents, nprobe = 2, mins = mins, maxs = maxs,
        factor = 3))
    // probing the stream-maintained pair ≡ probing a one-shot build
    // over everything ingested so far
    val oneShotSq = Files.createTempDirectory("idx-oneshot-sq-")
      .toString + "/idx"
    val oneShotRaw = Files.createTempDirectory("idx-oneshot-raw-")
      .toString + "/idx"
    graft.operators.Similarity.writeIvfSqCodes(ref, "vec_id", "v",
      cents, oneShotSq, mins, maxs)
    graft.operators.Similarity.writeIvfAssignments(ref, "vec_id", "v",
      cents, oneShotRaw)
    streamed shouldBe rows(
      graft.operators.Similarity.ivfSqRerankTopKFromStores(spark,
        oneShotSq, oneShotRaw, queries, "vec_id", "v", k = 3,
        centroids = cents, nprobe = 2, mins = mins, maxs = maxs,
        factor = 3))
    // a restart with the same checkpoint and no new input appends
    // NOTHING (the checkpoint already committed both batches) — the
    // duplicate-rank failure mode cannot arise from a clean restart
    run()
    spark.read.parquet(rawStore).count() shouldBe 40L
    // and a replayed LATEST batch (its checkpoint commit removed, the
    // crash-after-append window) skips via the per-store markers: the
    // marker for the latest batch survives pruning by construction
    val sqMarkers = new java.io.File(s"$sqStore/_markers").list().toSeq
    sqMarkers should contain("batch_1")
  }

  test("streaming near-dup dedup with a bucketed band-key table") {
    import spark.implicits._
    val table = "sispec_nd_bucketed"
    spark.sql(s"DROP TABLE IF EXISTS $table")
    val in = Files.createTempDirectory("stream-ndb-")
    val ckpt = Files.createTempDirectory("stream-ndb-ckpt-").toString
    val base = Files.createTempDirectory("stream-ndb-store-").toString
    Files.writeString(in.resolve("a.csv"),
      "doc_id,text\n" +
        "1,the quick brown fox jumps over the lazy dog by the river\n" +
        "3,an altogether different sentence about compilers and parsers\n")
    def run(): Unit = {
      val raw = spark.readStream
        .schema("doc_id long, text string")
        .option("header", "true").csv(in.toString)
      StreamingIngest.nearDedupStreamIncremental(raw, "doc_id", "text",
        table, s"$base/corpus", s"$base/out", ckpt,
        bucketedStore = true).awaitTermination(120000)
    }
    run()
    Files.writeString(in.resolve("b.csv"),
      "doc_id,text\n" +
        "10,THE QUICK brown fox jumps over the lazy dog by the river\n" +
        "11,a genuinely new document about sailing across the open bay\n")
    run()
    spark.read.parquet(s"$base/out").select("doc_id").as[Long]
      .collect().sorted shouldBe Array(1L, 3L, 11L)
    // the maintained store is the bucketed TABLE, appended per batch
    spark.table(table).count() shouldBe 3 * 16
    spark.sql(s"DROP TABLE $table")
  }

  test("streaming BM25 indexer: segments match a batch-built monolith") {
    import spark.implicits._
    val in = Files.createTempDirectory("stream-idx-")
    val ckpt = Files.createTempDirectory("stream-idx-ckpt-").toString
    val store = Files.createTempDirectory("stream-idx-store-").toString + "/idx"
    def docsCsv(rows: Seq[(Long, String)]): String =
      "doc_id,text\n" + rows.map { case (i, t) => s"$i,$t" }.mkString("\n")
    def run(): Unit = {
      val raw = spark.readStream.schema("doc_id long, text string")
        .option("header", "true").csv(in.toString)
      graft.streaming.StreamingIngest
        .indexStreamSegments(raw, "doc_id", "text", store, ckpt, buckets = 8)
        .awaitTermination(60000)
    }
    val batch1 = (0L until 30L).map(i => (i, s"tok$i common${i % 3} shared"))
    Files.writeString(in.resolve("a.csv"), docsCsv(batch1))
    run()
    val batch2 = (30L until 60L).map(i => (i, s"tok$i common${i % 3} shared"))
    Files.writeString(in.resolve("b.csv"), docsCsv(batch2))
    run()
    // restart with no new data: markers + checkpoint → no third segment
    run()
    val segs = spark.read.parquet(s"$store/_meta").collect()
    segs.length shouldBe 2
    segs.map(_.getAs[Long]("n_docs")).sum shouldBe 60L
    val all = (batch1 ++ batch2).toDF("doc_id", "text")
    val queries = all.filter($"doc_id" === 5)
    val direct = graft.operators.Search
      .bm25TopK(all, queries, "doc_id", "text", k = 5)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
      .sortBy(_._3)
    graft.operators.Search
      .bm25TopKSegmented(spark, store, queries, "doc_id", "text", k = 5)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
      .sortBy(_._3) shouldBe direct
    graft.core.CacheScope.releaseAll()
  }

  test("streaming curation gates micro-batches like the batch job driver") {
    import spark.implicits._
    val in = Files.createTempDirectory("stream-cur-")
    val ckpt = Files.createTempDirectory("stream-cur-ckpt-").toString
    val out = Files.createTempDirectory("stream-cur-out-").toString + "/out"
    val store = Files.createTempDirectory("stream-cur-model-").toString +
      "/model"
    graft.operators.QualityModel.saveModel(
      graft.operators.QualityModel.fromMap(spark,
        Map("data" -> 1.2, "click" -> -2.0), bias = -0.2), store)
    val curation = Map[String, Any](
      "id_field" -> "doc_id", "text_field" -> "text",
      "dedupe" -> "exact",
      "quality_filter" -> "model", "model_store" -> store)
    def docsCsv(rows: Seq[(Long, String)]): String =
      "doc_id,text\n" + rows.map { case (i, t) => s"$i,$t" }.mkString("\n")
    def run(): Unit = {
      val raw = spark.readStream.schema("doc_id long, text string")
        .option("header", "true").csv(in.toString)
      graft.streaming.StreamingIngest
        .curateStream(raw, curation, out, ckpt)
        .awaitTermination(60000)
    }
    // batch 1: a good doc, its exact duplicate (higher id drops), spam
    Files.writeString(in.resolve("a.csv"),
      docsCsv(Seq((1L, "data data data"), (2L, "data data data"),
        (3L, "click click"))))
    run()
    // batch 2: a good doc (OOV tokens weigh 0: logit 1.2/3 − 0.2 > 0)
    // and spam below the default threshold
    Files.writeString(in.resolve("b.csv"),
      docsCsv(Seq((10L, "more data here"), (11L, "click click click"))))
    run()
    // restart with no new data: markers + checkpoint → nothing re-lands
    run()
    spark.read.parquet(out).select("doc_id").as[Long].collect().sorted
      .shouldBe(Array(1L, 10L))
    graft.core.CacheScope.releaseAll()
  }

  test("watermarked windowed event counts over a stream") {
    val in = Files.createTempDirectory("stream-ev-")
    Files.writeString(in.resolve("e.csv"),
      "ts,user,value\n2024-01-01 00:00:10,u1,1.0\n2024-01-01 00:00:50,u1,2.0\n" +
        "2024-01-01 00:01:10,u2,5.0\n")
    val raw = spark.readStream
      .schema("ts timestamp, user string, value double")
      .option("header", "true").csv(in.toString)
    val counts = StreamingIngest.windowedEventCounts(
      raw, "ts", "user", "1 minute", "10 seconds")
    val q = counts.writeStream.format("memory").queryName("wincounts")
      .outputMode("append")
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow()).start()
    q.awaitTermination(60000)
    // append mode only emits windows the watermark has closed; the final
    // window stays open, so u1's first window is the one emitted
    val rows = spark.sql("SELECT * FROM wincounts").collect()
    rows.map(r => (r.getString(1), r.getLong(2))) should contain(("u1", 2L))
  }
}
