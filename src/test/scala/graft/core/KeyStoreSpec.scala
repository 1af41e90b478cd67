package graft.core

import graft.SparkSpec
import graft.operators.{Dedup, Similarity}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.TableIdentifier
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType

/** The append-only key store protocol, once per family × layout: the
  * first-run bootstrap, the params gate, append/read, the stale-warehouse
  * guard, and golden pins of the on-disk formats. The golden values were
  * captured from the per-family helpers this protocol replaced, so a
  * store written before it reads back unchanged and vice versa.
  */
class KeyStoreSpec extends SparkSpec {
  import spark.implicits._

  private def docs = Seq(
    (1L, "alpha beta gamma delta epsilon"),
    (2L, "zeta eta theta iota kappa")
  ).toDF("doc_id", "text")

  private def vecs = Seq(
    (1L, Array(1.0f, 0.0f, 0.0f)),
    (2L, Array(0.0f, 1.0f, 0.0f))
  ).toDF("vec_id", "v")

  /** One family: its store at a location, the same store under different
    * fit params, the batch its keys come from, how keys are derived, and
    * the golden formats (recorded params, empty-set schema, parquet
    * schema of a written data file).
    */
  private case class Family(
      name: String,
      store: KeyStore.Location => KeyStore,
      mismatched: KeyStore.Location => KeyStore,
      input: () => DataFrame,
      keys: DataFrame => DataFrame,
      params: Map[String, String],
      emptyDdl: String,
      parquetSchema: String)

  private val fingerprints = Family("fingerprint",
    Dedup.fingerprintStore(_),
    at => Dedup.fingerprintStore(at).copy(params = Map("norm" -> "case-preserving:md5")),
    () => docs, _.select(Dedup.fingerprint(col("text")).as("fp")),
    Map("family" -> "fingerprint", "norm" -> "lower:ws-collapse:trim:md5"),
    "fp STRING",
    """message spark_schema {
      |  optional binary fp (STRING);
      |}""".stripMargin)

  private val bandKeys = Family("minhash_band_keys",
    Dedup.bandKeyStore(_),
    Dedup.bandKeyStore(_, bands = 8),
    () => docs, Dedup.minhashBandKeys(_, "doc_id", "text"),
    Map("family" -> "minhash_band_keys", "shingleN" -> "3", "bands" -> "16",
      "rowsPerBand" -> "4"),
    "id BIGINT, bk BIGINT",
    """message spark_schema {
      |  required int64 id;
      |  required int64 bk;
      |}""".stripMargin)

  private val simhashes = Family("simhash",
    Dedup.simhashStore(_),
    Dedup.simhashStore(_, bits = 32),
    () => docs, Dedup.simhashTable(_, "doc_id", "text"),
    Map("family" -> "simhash", "bits" -> "64", "hasher" -> "Xx"),
    "id BIGINT, sh BIGINT",
    """message spark_schema {
      |  required int64 id;
      |  optional int64 sh;
      |}""".stripMargin)

  private val simhashChunks = Family("simhash_chunks",
    Dedup.simhashChunkStore(_),
    Dedup.simhashChunkStore(_, hasher = Dedup.SimhashHasher.Md5_60),
    () => docs, Dedup.simhashChunks(_, "doc_id", "text"),
    Map("family" -> "simhash_chunks", "bits" -> "64", "hasher" -> "Xx"),
    "sh BIGINT, ck STRING",
    """message spark_schema {
      |  optional int64 sh;
      |  required binary ck (STRING);
      |}""".stripMargin)

  private val embeddingBuckets = Family("embedding_buckets",
    Similarity.embeddingBucketStore(_, planes = 4, tables = 4, dim = 3),
    Similarity.embeddingBucketStore(_, planes = 8, tables = 4, dim = 3),
    () => vecs, Similarity.embeddingBucketKeys(_, "vec_id", "v", 4, 4, 3),
    Map("family" -> "embedding_buckets", "planes" -> "4", "tables" -> "4",
      "dim" -> "3"),
    "id BIGINT, bk STRING",
    """message spark_schema {
      |  required int64 id;
      |  required binary bk (STRING);
      |}""".stripMargin)

  /** The family × layout pairs the dedup operators and jobs use. */
  private val flat = Seq(fingerprints, bandKeys, simhashes, embeddingBuckets)
  private val bucketed = Seq(fingerprints, bandKeys, simhashChunks, embeddingBuckets)

  private val seq = new java.util.concurrent.atomic.AtomicInteger()

  private def flatAt(): KeyStore.Flat = KeyStore.Flat(
    java.nio.file.Files.createTempDirectory("keystore-").toString + "/store")

  private def tableAt(f: Family): KeyStore.Bucketed = {
    val t = s"kss_${f.name}_${seq.incrementAndGet()}"
    spark.sql(s"DROP TABLE IF EXISTS $t")
    KeyStore.Bucketed(t)
  }

  private def cases: Seq[(String, Family, () => KeyStore.Location)] =
    flat.map(f => (s"flat ${f.name}", f, () => flatAt())) ++
      bucketed.map(f => (s"bucketed ${f.name}", f, () => tableAt(f)))

  private def tableLocation(table: String): String =
    spark.sessionState.catalog.getTableMetadata(TableIdentifier(table))
      .location.toString

  private def parquetSchemaUnder(dir: String): String = {
    val root = new org.apache.hadoop.fs.Path(dir)
    val conf = spark.sessionState.newHadoopConf()
    val file = DataFiles.list(root.getFileSystem(conf), root).head.getPath
    val reader = org.apache.parquet.hadoop.ParquetFileReader.open(
      org.apache.parquet.hadoop.util.HadoopInputFile.fromPath(file, conf))
    try reader.getFooter.getFileMetaData.getSchema.toString.trim
    finally reader.close()
  }

  private def rows(df: DataFrame) = df.collect().toSeq.map(_.toSeq).toSet

  test("every family x layout: a missing store reads as its empty typed set") {
    for ((label, f, at) <- cases) withClue(label) {
      val out = f.store(at()).read(spark)
      out.count() shouldBe 0L
      out.schema shouldBe StructType.fromDDL(f.emptyDdl)
    }
  }

  test("every family x layout: append then read round-trips the rows") {
    for ((label, f, at) <- cases) withClue(label) {
      val store = f.store(at())
      val keys = f.keys(f.input())
      store.append(keys)
      rows(store.read(spark)) shouldBe rows(keys)
      store.append(keys)
      store.read(spark).count() shouldBe 2 * keys.count()
    }
  }

  test("every family x layout: mismatched params refuse on read and append") {
    for ((label, f, at) <- cases) withClue(label) {
      val loc = at()
      f.store(loc).append(f.keys(f.input()))
      val other = f.mismatched(loc)
      (the[IllegalArgumentException] thrownBy other.read(spark))
        .getMessage should include("different parameters")
      (the[IllegalArgumentException] thrownBy
        other.append(f.keys(f.input()))).getMessage should include("different parameters")
    }
  }

  test("golden formats: recorded params and parquet schema are unchanged") {
    for ((label, f, at) <- cases) withClue(label) {
      val store = f.store(at())
      store.append(f.keys(f.input()))
      store.location match {
        case KeyStore.Flat(path) =>
          StoreMeta.read(spark, path) shouldBe Some(f.params)
          parquetSchemaUnder(path) shouldBe f.parquetSchema
        case KeyStore.Bucketed(table, _) =>
          val props = spark.sql(s"SHOW TBLPROPERTIES $table").collect()
            .map(r => r.getString(0) -> r.getString(1)).toMap
            .filter(_._1.startsWith("graft.store."))
          props shouldBe f.params.map { case (k, v) => s"graft.store.$k" -> v }
          val meta = spark.sessionState.catalog.getTableMetadata(TableIdentifier(table))
          meta.bucketSpec.map(_.toString) shouldBe Some(
            s"256 buckets, bucket columns: [${store.key}], sort columns: [${store.key}]")
          parquetSchemaUnder(tableLocation(table)) shouldBe f.parquetSchema
      }
    }
  }

  test("stale-warehouse guard: missing table over an existing location fails") {
    // the cross-process hazard: a previous RunJob wrote the table, this
    // session's in-memory catalog can't see it — bootstrapping would
    // silently disable incremental dedup and commit duplicates
    val table = "kss_stale_guard"
    spark.sql(s"DROP TABLE IF EXISTS $table")
    val loc = java.nio.file.Paths.get(new java.net.URI(
      spark.sessionState.catalog.defaultTablePath(TableIdentifier(table)).toString))
    java.nio.file.Files.createDirectories(loc)
    try bucketed.foreach { f =>
      val e = the[IllegalStateException] thrownBy
        f.store(KeyStore.Bucketed(table)).read(spark)
      e.getMessage should include("warehouse location")
      e.getMessage should include("GRAFT_CATALOG=hive")
      e.getMessage should include("stale location")
    } finally java.nio.file.Files.deleteIfExists(loc)
    // location gone → genuine first run → bootstrap works again
    fingerprints.store(KeyStore.Bucketed(table)).read(spark).count() shouldBe 0
  }

  test("bootstrap: a table in a nonexistent database reads as the empty set") {
    // no database → no warehouse dir to collide with → the documented
    // day-1 empty-store bootstrap, not a NoSuchDatabaseException crash
    bucketed.foreach { f =>
      f.store(KeyStore.Bucketed("no_such_db_kss.store")).read(spark).count() shouldBe 0
    }
  }

  test("flat bootstrap: only a missing path is empty; a corrupt store fails") {
    val tmp = java.nio.file.Files.createTempDirectory("fpstore").toString
    fingerprints.store(KeyStore.Flat(s"$tmp/never_written")).read(spark)
      .count() shouldBe 0L
    // a corrupt store must FAIL, not silently disable incremental dedup
    val bad = java.nio.file.Paths.get(tmp, "corrupt.parquet")
    java.nio.file.Files.write(bad, "this is not parquet".getBytes)
    an[Exception] should be thrownBy
      fingerprints.store(KeyStore.Flat(bad.toString)).read(spark).count()
  }

  test("a failed first append leaves a flat store that reads empty and recovers") {
    for (f <- flat) withClue(f.name) {
      val store = f.store(flatAt())
      val KeyStore.Flat(path) = store.location
      // every key column computed from a value that raises at run time:
      // the data write throws after the store directory was claimed
      val broken = f.input().select(f.input().columns.map(c =>
        raise_error(lit("injected write failure"))
          .cast(f.input().schema(c).dataType).as(c)): _*)
      an[Exception] should be thrownBy store.append(f.keys(broken))
      StoreMeta.read(spark, path) shouldBe None
      store.read(spark).count() shouldBe 0L
      store.append(f.keys(f.input()))
      rows(store.read(spark)) shouldBe rows(f.keys(f.input()))
    }
  }

  test("a flat store holding only sidecars reads as the empty set") {
    // the state a failed first append left before params were recorded
    // last: `_meta_params` (and its checksum) with no data file
    for (f <- flat) withClue(f.name) {
      val store = f.store(flatAt())
      val KeyStore.Flat(path) = store.location
      StoreMeta.overwrite(spark, path, store.family, store.params)
      store.read(spark).count() shouldBe 0L
      store.append(f.keys(f.input()))
      store.read(spark).count() shouldBe f.keys(f.input()).count()
    }
  }

  test("dataFileCount counts a flat store's data files; bucketed counts 0") {
    val flatStore = fingerprints.store(flatAt())
    flatStore.dataFileCount(spark) shouldBe 0
    val keys = fingerprints.keys(docs).coalesce(1)
    flatStore.append(keys)
    flatStore.append(keys)
    flatStore.dataFileCount(spark) shouldBe 2
    val table = fingerprints.store(tableAt(fingerprints))
    table.append(keys)
    table.dataFileCount(spark) shouldBe 0
  }

  test("append refuses rows that are not in the store's columns") {
    val e = the[IllegalArgumentException] thrownBy
      fingerprints.store(flatAt()).append(docs)
    e.getMessage should include("(fp)")
  }
}
