package graft.tools

import org.apache.spark.sql.functions._

/** Dev tool: split `search_bm25_store_topk`'s cost into build vs probe
  * at a given corpus dir — `Test/runMain graft.tools.ProfileBm25 <dir>
  * [factor]`.
  *
  * The optional `factor` scales the corpus by VERBATIM duplication
  * (ids offset, text unchanged) with the query set FIXED at the 1×
  * seeds — the production df model: a stopword's df grows ∝ N, which
  * is exactly the regime the `maxDf` ceiling targets. (ScaleCorpus
  * deliberately splits vocabulary per replica so token operators see
  * N× vocab, which keeps every df constant — correct for index-build
  * curves, but it makes any N-relative ceiling inert at factor > 1,
  * so the knob's probe value must be measured under THIS model.)
  */
object ProfileBm25 {
  def main(args: Array[String]): Unit = {
    val dir = args(0)
    val factor = if (args.length > 1) args(1).toInt else 1
    val spark = graft.GraftSession.builder()
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    val base = spark.read.parquet(s"$dir/documents.parquet")
      .select("doc_id", "text")
    val maxDoc = base.agg(max("doc_id")).head().getLong(0) + 1
    val docs =
      if (factor <= 1) base
      else base.crossJoin(broadcast(
          spark.range(factor).select(col("id").as("repl"))))
        .select((col("doc_id") + col("repl") * maxDoc).as("doc_id"),
          col("text"))
    docs.count() // warm
    def timed[A](label: String)(f: => A): A = {
      val t0 = System.nanoTime()
      val r = f
      System.err.println(f"[profile] $label: ${(System.nanoTime() - t0) / 1e9}%.2f s")
      r
    }
    (1 to 2).foreach { rep =>
      spark.catalog.clearCache()
      val store = java.nio.file.Files
        .createTempDirectory("profile_bm25_").toString
      timed(s"build rep$rep") {
        graft.operators.Search.writePostingsStore(
          docs, "doc_id", "text", store, buckets = 8)
      }
      // queries FIXED at the 1× seed set regardless of factor
      val q = docs.filter(col("doc_id") % 100 === 7 &&
        col("doc_id") < maxDoc)
      timed(s"probe rep$rep") {
        graft.operators.Search.bm25TopKFromStore(
          spark, store, q, "doc_id", "text", k = 10)
          .write.format("noop").mode("overwrite").save()
      }
      // the df-ceiling probe (⌊N/2⌋, the search_bm25_store_maxdf
      // configuration) against the SAME store: what the knob buys on
      // the probe alone, with the (linear, amortized-in-production)
      // build cost out of the frame
      // same "has a token" predicate as Queries.bm25NDocs (rlike \S,
      // NOT trim != '' — Spark trim strips only 0x20), so this probe
      // prices exactly the search_bm25_store_maxdf ceiling
      val nd = docs.filter(col("text").isNotNull &&
        col("text").rlike("\\S")).count()
      timed(s"probe_maxdf rep$rep") {
        graft.operators.Search.bm25TopKFromStore(
          spark, store, q, "doc_id", "text", k = 10, maxDf = nd / 2)
          .write.format("noop").mode("overwrite").save()
      }
      val nTerms = timed(s"queryterms rep$rep") {
        q.select(explode(split(lower(trim(col("text"))), "\\s+")))
          .distinct().count()
      }
      System.err.println(s"[profile] distinct query terms: $nTerms")
    }
    spark.stop()
  }
}
