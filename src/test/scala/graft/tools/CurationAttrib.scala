package graft.tools

import org.apache.spark.sql.DataFrame

/** Dev tool: attribute `curation_pipeline`'s cost per STAGE at a given
  * corpus dir — `Test/runMain graft.tools.CurationAttrib <dir>`.
  *
  * Times cumulative PREFIXES of the bench entry's curation chain
  * (extract+normalize → +dedupe near → +quality gopher,entropy →
  * +sample → +pack), each to a noop sink from a cold cache, so
  * consecutive differences price each stage; then one attributed run
  * ([[graft.JobRunner.withCurationAttribution]]) prints the per-stage
  * row volumes. Run at 1× and at a ScaleCorpus factor to see which
  * stage's cost (not just volume) carries the composed scale curve.
  */
object CurationAttrib {
  def main(args: Array[String]): Unit = {
    val dir = args(0)
    val spark = graft.GraftSession.builder()
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    val docs = spark.read.parquet(s"$dir/documents.parquet")
      .select("doc_id", "text", "lang", "source", "n_chars")
    val base = Map("id_field" -> "doc_id", "text_field" -> "text",
      "extract" -> "html", "normalize" -> "nfc")
    val prefixes: Seq[(String, Map[String, Any])] = Seq(
      "extract+normalize" -> base,
      "+dedupe_near" -> (base + ("dedupe" -> "near")),
      "+quality" -> (base + ("dedupe" -> "near",
        "quality_filter" -> Seq("gopher", "entropy"))),
      "+sample" -> (base + ("dedupe" -> "near",
        "quality_filter" -> Seq("gopher", "entropy"),
        "sample" -> "bernoulli", "sample_fraction" -> "0.8")))
    def time(body: => DataFrame): Double = {
      spark.catalog.clearCache()
      System.gc()
      val t0 = System.nanoTime()
      body.write.format("noop").mode("overwrite").save()
      (System.nanoTime() - t0) / 1e9
    }
    var prev = 0.0
    prefixes.foreach { case (name, c) =>
      val s = (1 to 2).map(_ =>
        time(graft.JobRunner.applyCuration(docs, Map("curation" -> c)))).min
      System.err.println(
        f"[curation-attrib] $name%-20s cum=$s%7.2f s  stage=${s - prev}%7.2f s")
      prev = s
      graft.core.CacheScope.releaseAll()
    }
    val sPack = (1 to 2).map(_ => time {
      graft.operators.Chunking.packSequences(
        graft.JobRunner.applyCuration(docs,
          Map("curation" -> prefixes.last._2))
          .select("doc_id", "text", "source"),
        "doc_id", "text", "source", seqLen = 64)
    }).min
    System.err.println(
      f"[curation-attrib] +pack                cum=$sPack%7.2f s  stage=${sPack - prev}%7.2f s")
    graft.core.CacheScope.releaseAll()
    // attributed volumes for the full chain
    val metrics = new scala.collection.concurrent.TrieMap[String, Long]()
    spark.listenerManager.register(
      new org.apache.spark.sql.util.QueryExecutionListener {
        override def onSuccess(f: String,
            qe: org.apache.spark.sql.execution.QueryExecution,
            d: Long): Unit =
          qe.observedMetrics.foreach { case (k, row) =>
            metrics.updateWith(k)(o => Some(math.max(o.getOrElse(0L),
              row.getLong(0))))
          }
        override def onFailure(f: String,
            qe: org.apache.spark.sql.execution.QueryExecution,
            e: Exception): Unit = ()
      })
    graft.JobRunner.withCurationAttribution {
      graft.JobRunner.applyCuration(docs,
        Map("curation" -> prefixes.last._2))
        .write.format("noop").mode("overwrite").save()
    }
    Thread.sleep(2000)
    metrics.toSeq.sortBy(_._1).foreach { case (k, v) =>
      System.err.println(s"[curation-attrib] $k = $v")
    }
    graft.core.CacheScope.releaseAll()
    spark.stop()
  }
}
