package graft.core

import graft.SparkSpec
import graft.operators.{Dedup, Similarity, Tfidf}
import java.nio.file.Files

/** Self-describing incremental stores: every store family records its
  * fit parameters in a `_meta_params` sidecar at write and REFUSES a
  * mismatched probe/append — the silent-wrongness class where a
  * differently-parameterized probe joins cleanly and mis-scores every
  * candidate (the BM25 index's existing bucket-count refusal,
  * generalized to the dedup/similarity stores).
  */
class StoreMetaSpec extends SparkSpec {
  import spark.implicits._

  private def tmp(prefix: String): String =
    Files.createTempDirectory(prefix).toString + "/store"

  private def docs = Seq(
    (1L, "alpha beta gamma delta"),
    (2L, "epsilon zeta eta theta")
  ).toDF("doc_id", "text")

  private def vecs = Seq(
    (1L, Array(1.0f, 0.0f, 0.0f)),
    (2L, Array(0.0f, 1.0f, 0.0f))
  ).toDF("vec_id", "v")

  test("band-key store: mismatched LSH params refuse on read and append") {
    val p = KeyStore.Flat(tmp("meta-bk-"))
    def bands(shingleN: Int, bands: Int) =
      Dedup.bandKeyStore(p, shingleN = shingleN, bands = bands, rowsPerBand = 4)
    bands(3, 16).append(Dedup.minhashBandKeys(docs, "doc_id", "text",
      shingleN = 3, bands = 16, rowsPerBand = 4))
    // matching read is fine
    bands(3, 16).read(spark).count() should be > 0L
    // mismatched probe refuses with the param names in the message
    val e = the[IllegalArgumentException] thrownBy bands(3, 8).read(spark)
    e.getMessage should include("bands")
    // mismatched APPEND refuses too — mixed-parameter rows are unusable
    an[IllegalArgumentException] should be thrownBy
      bands(5, 16).append(Dedup.minhashBandKeys(docs, "doc_id", "text",
        shingleN = 5, bands = 16, rowsPerBand = 4))
  }

  test("simhash store: mismatched bits/hasher refuse") {
    val p = KeyStore.Flat(tmp("meta-sh-"))
    Dedup.simhashStore(p, bits = 64)
      .append(Dedup.simhashTable(docs, "doc_id", "text", bits = 64))
    Dedup.simhashStore(p, bits = 64).read(spark).count() should be > 0L
    val e = the[IllegalArgumentException] thrownBy
      Dedup.simhashStore(p, bits = 32).read(spark)
    e.getMessage should include("bits")
    an[IllegalArgumentException] should be thrownBy
      Dedup.simhashStore(p, bits = 64, hasher = Dedup.SimhashHasher.Md5_60)
        .read(spark)
  }

  test("embedding-bucket store: mismatched hyperplane params refuse") {
    val p = KeyStore.Flat(tmp("meta-eb-"))
    Similarity.embeddingBucketStore(p, planes = 4, tables = 4, dim = 3)
      .append(Similarity.embeddingBucketKeys(vecs, "vec_id", "v",
        planes = 4, tables = 4, dim = 3))
    Similarity.embeddingBucketStore(p, planes = 4, tables = 4, dim = 3)
      .read(spark).count() should be > 0L
    val e = the[IllegalArgumentException] thrownBy
      Similarity.embeddingBucketStore(p, planes = 8, tables = 4, dim = 3)
        .read(spark)
    e.getMessage should include("planes")
  }

  test("tfidf store: mismatched buckets refuse on probe and append") {
    val p = tmp("meta-tf-")
    Tfidf.saveStore(docs, "doc_id", "text", p, buckets = 64, maxTokenDf = 50)
    // matching probe works
    Tfidf.dropNearCorpusTfidf(docs, "doc_id", "text", p,
      buckets = 64, maxTokenDf = 50).count() should be >= 0L
    val e = the[IllegalArgumentException] thrownBy
      Tfidf.dropNearCorpusTfidf(docs, "doc_id", "text", p,
        buckets = 128, maxTokenDf = 50)
    e.getMessage should include("buckets")
    an[IllegalArgumentException] should be thrownBy
      Tfidf.appendToStore(docs, "doc_id", "text", p,
        buckets = 64, maxTokenDf = 30)
    // a full re-save REPLACES the fit and its sidecar
    Tfidf.saveStore(docs, "doc_id", "text", p, buckets = 32, maxTokenDf = 50)
    Tfidf.dropNearCorpusTfidf(docs, "doc_id", "text", p,
      buckets = 32, maxTokenDf = 50).count() should be >= 0L
  }

  test("fingerprint store: a different normalization convention refuses") {
    val p = tmp("meta-fp-")
    val store = Dedup.fingerprintStore(KeyStore.Flat(p))
    store.append(docs.select(Dedup.fingerprint($"text").as("fp")))
    store.read(spark).count() shouldBe 2L
    // a store written under an older/different convention id
    StoreMeta.overwrite(spark, p, "fingerprint",
      Map("norm" -> "case-preserving:md5"))
    val e = the[IllegalArgumentException] thrownBy store.read(spark)
    e.getMessage should include("norm")
  }

  test("ivf / ivfpq index stores: probing with different centroids or codebook refuses") {
    val vecs64 = (1L to 20L).map { i =>
      (i, Array.tabulate(64)(j => ((i * 31 + j) % 7).toFloat))
    }.toDF("vec_id", "v")
    val cents = Similarity.seedCentroids(vecs64, "vec_id", "v", numLists = 4)
    val otherCents = cents.map(_.map(_ + 1.0)) // a different fit
    val p = tmp("meta-ivf-")
    Similarity.writeIvfAssignments(vecs64, "vec_id", "v", cents, p)
    Similarity.ivfTopKFromStore(spark, p, vecs64.limit(2), "vec_id", "v",
      k = 3, cents, nprobe = 2).count() should be > 0L
    val e = the[IllegalArgumentException] thrownBy
      Similarity.ivfTopKFromStore(spark, p, vecs64.limit(2), "vec_id", "v",
        k = 3, otherCents, nprobe = 2)
    e.getMessage should include("centroids_md5")

    val cb = Similarity.seedPqCodebooks(vecs64, "vec_id", "v",
      m = 4, k = 4, dsub = 16)
    val p2 = tmp("meta-ivfpq-")
    Similarity.writeIvfPqAssignments(vecs64, "vec_id", "v", cents, cb, p2,
      m = 4, numCodes = 4, dsub = 16)
    Similarity.ivfPqTopKFromStore(spark, p2, vecs64.limit(2), "vec_id", "v",
      k = 3, cents, nprobe = 2, cb, m = 4, numCodes = 4, dsub = 16)
      .count() should be > 0L
    val cb2 = cb.map(_ + 0.5)
    val e2 = the[IllegalArgumentException] thrownBy
      Similarity.ivfPqTopKFromStore(spark, p2, vecs64.limit(2), "vec_id", "v",
        k = 3, cents, nprobe = 2, cb2, m = 4, numCodes = 4, dsub = 16)
    e2.getMessage should include("codebook_md5")
  }

  test("bootstrap: missing stores still read as empty, sidecar-less stores tolerated") {
    val missing = KeyStore.Flat(tmp("meta-miss-"))
    Dedup.bandKeyStore(missing).read(spark).count() shouldBe 0L
    Dedup.simhashStore(missing).read(spark).count() shouldBe 0L
    Dedup.fingerprintStore(missing).read(spark).count() shouldBe 0L
    Similarity.embeddingBucketStore(missing).read(spark).count() shouldBe 0L
    // pre-sidecar store (data, no _meta_params): reads fine
    val legacy = tmp("meta-legacy-")
    Seq(1L -> 2L).toDF("id", "bk").write.parquet(legacy)
    Dedup.bandKeyStore(KeyStore.Flat(legacy)).read(spark).count() shouldBe 1L
  }

  test("bucketed band-key table: TBLPROPERTIES sidecar refuses a mismatched probe") {
    val t = "meta_bucketed_bk"
    spark.sql(s"DROP TABLE IF EXISTS $t")
    def bands(n: Int, rowsPerBand: Int) = Dedup.bandKeyStore(
      KeyStore.Bucketed(t, buckets = 4), shingleN = 3, bands = n,
      rowsPerBand = rowsPerBand)
    def keys(n: Int, rowsPerBand: Int) = Dedup.minhashBandKeys(docs, "doc_id",
      "text", shingleN = 3, bands = n, rowsPerBand = rowsPerBand)
    bands(16, 4).append(keys(16, 4))
    bands(16, 4).read(spark).count() should be > 0L
    val e = the[IllegalArgumentException] thrownBy bands(8, 4).read(spark)
    e.getMessage should include("bands")
    // append with the same params keeps working; different params refuse
    bands(16, 4).append(keys(16, 4))
    an[IllegalArgumentException] should be thrownBy
      bands(32, 2).append(keys(32, 2))
    spark.sql(s"DROP TABLE IF EXISTS $t")
  }
}
