package graft.tools

import org.apache.spark.sql.functions._

/** Dev tool: run the `ann_neardup_incremental` bench construction at a
  * given corpus dir with [[graft.operators.Similarity.withPlanAttribution]]
  * on, and print the per-stage observed counts —
  * `Test/runMain graft.tools.NearDupAttrib <dir>`.
  */
object NearDupAttrib {
  def main(args: Array[String]): Unit = {
    val dir = args(0)
    val spark = graft.GraftSession.builder()
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
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
    val e = spark.read.parquet(s"$dir/embeddings.parquet")
      .select("vec_id", "embedding")
    val corpus = e.filter(col("vec_id") < 250)
    val store = graft.operators.Similarity.embeddingBucketKeys(
      corpus, "vec_id", "embedding", planes = 4, tables = 8)
    val batch = e.filter(col("vec_id") >= 250)
      .union(e.filter(col("vec_id") < 25)
        .select((col("vec_id") + 10000).as("vec_id"), col("embedding")))
      .union(e.filter(col("vec_id") < 15)
        .select((col("vec_id") + 30000).as("vec_id"),
          transform(col("embedding"), x => -x).as("embedding")))
    val t0 = System.nanoTime()
    val n = graft.operators.Similarity.withPlanAttribution {
      graft.operators.Similarity.dropNearCorpusEmbeddings(
        batch, "vec_id", "embedding", store, corpus,
        threshold = 0.4, planes = 4, tables = 8).count()
    }
    Thread.sleep(2000) // listener delivery
    System.err.println(f"[attrib] survivors=$n wall=${(System.nanoTime() - t0) / 1e9}%.2f s")
    metrics.toSeq.sortBy(_._1).foreach { case (k, v) =>
      System.err.println(s"[attrib] $k = $v")
    }
    spark.stop()
  }
}
