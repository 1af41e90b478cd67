package graft.core

import graft.SparkSpec
import graft.operators.Dedup
import java.nio.file.Files

class StoreCompactionSpec extends SparkSpec {
  import spark.implicits._

  private def appendFingerprints(batch: org.apache.spark.sql.DataFrame,
      path: String): Unit =
    Dedup.fingerprintStore(KeyStore.Flat(path))
      .append(batch.select(Dedup.fingerprint(col("text")).as("fp")))

  private def bandKeys(path: String) = Dedup.bandKeyStore(KeyStore.Flat(path))

  test("flat store compaction: fewer files, identical rows, sidecars preserved") {
    val p = Files.createTempDirectory("compact-").toString + "/fps"
    // ten daily appends → many small files
    for (day <- 1 to 10) {
      val batch = (1 to 20)
        .map(i => (day * 100L + i, s"doc $day $i text"))
        .toDF("id", "text")
      appendFingerprints(batch, p)
    }
    val rowsBefore = spark.read.parquet(p).collect().map(_.getString(0)).sorted
    val metaBefore = StoreMeta.read(spark, p)
    metaBefore should not be empty
    val (before, after) = StoreCompaction.compactFlatStore(spark, p)
    before should be > after
    after shouldBe 1 // tiny store → one target-sized file
    // row multiset unchanged
    spark.read.parquet(p).collect().map(_.getString(0)).sorted shouldBe rowsBefore
    // sidecar survived the swap, still refuses a mismatched convention
    StoreMeta.read(spark, p) shouldBe metaBefore
    Dedup.fingerprintStore(KeyStore.Flat(p)).read(spark).count() shouldBe
      rowsBefore.length.toLong
  }

  test("compaction of a missing store refuses; empty store is a no-op") {
    an[IllegalArgumentException] should be thrownBy
      StoreCompaction.compactFlatStore(spark, "/tmp/does-not-exist-" +
        System.nanoTime())
    val p = Files.createTempDirectory("compact-empty-").toString
    StoreCompaction.compactFlatStore(spark, p) shouldBe ((0, 0))
  }

  test("crash mid-swap degrades to duplication, never an empty store") {
    // The swap renames compacted files IN before deleting the old ones.
    // Simulate the worst crash point — new files landed, old not yet
    // deleted — and verify the store still reads (duplicate rows are
    // tolerated by membership semantics) and the next compaction
    // converges back to the exact pre-crash multiset.
    val base = Files.createTempDirectory("compact-crash-").toString
    val p = base + "/fps"
    (1 to 30).map(i => (i.toLong, s"doc $i text")).grouped(10)
      .foreach(b => appendFingerprints(b.toDF("id", "text"), p))
    val rows = spark.read.parquet(p).collect().map(_.getString(0)).sorted
    // stage the crash state: copy every data file alongside itself with
    // a fresh unique name (exactly what renamed-in compacted files look
    // like before the old set is deleted)
    val root = new org.apache.hadoop.fs.Path(p)
    val fs = root.getFileSystem(spark.sessionState.newHadoopConf())
    DataFiles.list(fs, root).foreach { st =>
      org.apache.hadoop.fs.FileUtil.copy(fs, st.getPath, fs,
        new org.apache.hadoop.fs.Path(root,
          "part-crash-" + st.getPath.getName.stripPrefix("part-")),
        false, spark.sessionState.newHadoopConf())
    }
    // the crashed store READS — membership intact, rows duplicated
    val crashed = spark.read.parquet(p).collect().map(_.getString(0)).sorted
    crashed.distinct.sorted shouldBe rows.distinct.sorted
    crashed.length shouldBe rows.length * 2
    // recovery: compaction runs to completion and keeps the multiset
    // (duplication from the crash persists — membership semantics —
    // but nothing is lost and the file count collapses)
    val (_, after) = StoreCompaction.compactFlatStore(spark, p)
    after shouldBe 1
    spark.read.parquet(p).collect().map(_.getString(0)).sorted shouldBe crashed
  }

  test("band-key store round-trips probe-identically through compaction") {
    val docs = Seq(
      (1L, "alpha beta gamma delta epsilon zeta eta theta"),
      (2L, "totally different words live here right now friends")
    ).toDF("id", "text")
    val p = Files.createTempDirectory("compact-bk-").toString + "/bands"
    bandKeys(p).append(Dedup.minhashBandKeys(docs, "id", "text"))
    bandKeys(p).append(Dedup.minhashBandKeys(
      docs.select((col("id") + 10).as("id"), col("text")), "id", "text"))
    val probeBefore = bandKeys(p).read(spark).collect().toSet
    StoreCompaction.compactFlatStore(spark, p)
    bandKeys(p).read(spark).collect().toSet shouldBe probeBefore
  }

  private def col(n: String) = org.apache.spark.sql.functions.col(n)
}
