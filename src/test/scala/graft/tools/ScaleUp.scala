package graft.tools

/** Dev alias kept for the historical invocation surface
  * (`Test/runMain graft.tools.ScaleUp <inDir> <outDir> <factor>`) —
  * the synthesis itself moved to main scope ([[ScaleCorpus]]) so the
  * mechanized scale probe (`GRAFT_BENCH_SCALE=1 graft.Bench`) can fork
  * it without the test classpath. See ScaleCorpus for the scaling
  * model and the factor ≤ embedding-dim rotation bound.
  */
object ScaleUp {
  def main(args: Array[String]): Unit = {
    require(args.length == 3, "usage: ScaleUp <inDir> <outDir> <factor>")
    val spark = graft.GraftSession.builder()
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    try ScaleCorpus.synthesize(spark, args(0), args(1), args(2).toInt)
    finally spark.stop()
  }
}
