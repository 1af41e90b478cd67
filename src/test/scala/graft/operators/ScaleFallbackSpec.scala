package graft.operators

import graft.SparkSpec
import org.apache.spark.sql.DataFrame

/** The 100 TB fallback plans, EXERCISED — not just compiled. Every
  * guard in the dedup family has a dup-catastrophic tail (distributed
  * pointer-jumping connected components, unhinted verify joins, the
  * loser shuffle-anti-join) that small-data runs never take because the
  * driver/broadcast fast paths always win. Forcing the thresholds to 0
  * via the THREAD-scoped `Dedup.withGuardThresholds` routes the SAME
  * public calls down the scale plans on sf-test data (without the JVM-
  * global sys.props side channel that could leak into concurrently
  * running suites); the results must be bit-identical to the fast
  * paths, and the wall time is recorded (the `dedup_minhash_forced`
  * bench entry prices it per round).
  */
class ScaleFallbackSpec extends SparkSpec {
  import spark.implicits._

  private def withForcedFallbacks[T](body: => T): T =
    Dedup.withGuardThresholds(0L, 0L)(body)

  private def docs: DataFrame =
    spark.read.parquet("/root/testdata/sf0.01/documents.parquet")
      .select("doc_id", "text")

  test("forced distributed CC labels bit-identically to driver union-find") {
    // a dup-catastrophic pair graph: chains (long diameter — the worst
    // case for label propagation), a star, and singleton edges
    val chain = (0L until 400L).sliding(2).map(w => (w(0), w(1))).toSeq
    val star = (1000L until 1100L).map(i => (999L, i))
    val pairs = (chain ++ star ++ Seq((5000L, 5001L)))
      .toDF("id_a", "id_b")
    val fast = Dedup.connectedComponents(pairs)
      .as[(Long, Long)].collect().sorted
    val forced = withForcedFallbacks {
      Dedup.connectedComponents(pairs).as[(Long, Long)].collect().sorted
    }
    forced shouldBe fast
    fast.count(_._2 == 0L) shouldBe 400 // one chain component rooted at 0
  }

  test("forced fallback near-dup removal matches the fast path on sf0.01") {
    val t0 = System.nanoTime()
    val fast = Dedup.dropNearDuplicates(docs, "doc_id", "text")
      .select("doc_id").as[Long].collect().sorted
    val tFast = (System.nanoTime() - t0) / 1e9
    val t1 = System.nanoTime()
    val forced = withForcedFallbacks {
      Dedup.dropNearDuplicates(docs, "doc_id", "text")
        .select("doc_id").as[Long].collect().sorted
    }
    val tForced = (System.nanoTime() - t1) / 1e9
    info(f"fast path $tFast%.1fs, forced fallback path $tForced%.1fs")
    forced shouldBe fast
    fast.length should be < 500 // some near-dups actually dropped
  }

  test("forced fallback incremental minhash matches the fast path") {
    val store = java.nio.file.Files
      .createTempDirectory("fallback-store-").toString + "/bands"
    val corpus = docs.filter($"doc_id" < 100)
    Dedup.bandKeyStore(graft.core.KeyStore.Flat(store))
      .append(Dedup.minhashBandKeys(corpus, "doc_id", "text"))
    val batch = docs.filter($"doc_id" >= 100 && $"doc_id" < 300)
    def run(): Array[Long] = Dedup.dropNearDuplicatesIncremental(
      batch, "doc_id", "text",
      spark.read.parquet(store), corpus)
      .select("doc_id").as[Long].collect().sorted
    val fast = run()
    val forced = withForcedFallbacks(run())
    forced shouldBe fast
  }

  test("forced fallback incremental tfidf matches the fast path") {
    val store = java.nio.file.Files
      .createTempDirectory("fallback-tfidf-").toString + "/tfidf"
    Tfidf.saveStore(docs.filter($"doc_id" < 100), "doc_id", "text", store)
    val batch = docs.filter($"doc_id" >= 100 && $"doc_id" < 300)
    def run(): Array[Long] = Tfidf.dropNearCorpusTfidf(
      batch, "doc_id", "text", store)
      .select("doc_id").as[Long].collect().sorted
    val fast = run()
    val forced = withForcedFallbacks(run())
    forced shouldBe fast
  }

  test("forced fallback keep-best removal matches the fast path") {
    def run(): Array[Long] = Dedup.dropNearDuplicatesKeepBest(
      docs.withColumn("len", org.apache.spark.sql.functions.length($"text")),
      "doc_id", "text", "len")
      .select("doc_id").as[Long].collect().sorted
    val fast = run()
    val forced = withForcedFallbacks(run())
    forced shouldBe fast
  }
}
