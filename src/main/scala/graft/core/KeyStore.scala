package graft.core

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{AnalysisException, DataFrame, Row, SparkSession}
import org.apache.spark.sql.types.StructType

/** An append-only key store of the incremental dedup operators: the
  * narrow per-document keys (fingerprints, MinHash band keys, simhashes,
  * simhash chunks, embedding buckets) that today's batch dedups against
  * without rereading the corpus, grown post-commit by the rows that
  * landed. Each family is one value next to its operator (e.g.
  * [[graft.operators.Dedup.bandKeyStore]]); this class owns what every
  * family shares.
  *
  *  - `family` + `params`: the fit the keys were computed under, recorded
  *    in the `_meta_params` sidecar (flat) or `graft.store.*`
  *    TBLPROPERTIES (bucketed) by [[StoreMeta]]. A present store whose
  *    params differ from the caller's is refused on read and on append:
  *    keys hashed under another fit join cleanly and match nothing.
  *  - `schema`: the row layout, and the type of the empty first-run set.
  *  - `key`: the join column, which a bucketed store is bucketed and
  *    sorted on so the per-batch join reads it with no Exchange.
  *  - `location`: a flat parquet path or a bucketed table.
  *
  * Bootstrap: a missing store reads as the empty set, so the first run
  * dedups only within its batch. Only absence is bootstrap; an
  * unreadable or corrupt store fails the job, because reading it as
  * empty would commit duplicates against the corpus.
  */
final case class KeyStore(
    family: String,
    params: Map[String, Any],
    schema: StructType,
    key: String,
    location: KeyStore.Location) {

  import KeyStore._

  def read(spark: SparkSession): DataFrame = location match {
    case Flat(path) =>
      StoreMeta.requireIfPresent(spark, path, family, params)
      readOrEmpty(spark, path, schema)
    case Bucketed(table, _) =>
      if (spark.catalog.tableExists(table)) {
        StoreMeta.requireIfPresentTable(spark, table, family, params)
        spark.table(table)
      } else {
        staleWarehouseGuard(spark, table)
        empty(spark, schema)
      }
  }

  /** Append `rows` (already in this store's columns). Both layouts run
    * the same order: refuse a params mismatch, write the rows, then
    * record the params. Recording last means a write that fails leaves
    * no sidecar claiming a store that holds no data.
    */
  def append(rows: DataFrame): Unit = {
    require(rows.columns.toSeq == schema.fieldNames.toSeq,
      s"$family store rows must be (${schema.fieldNames.mkString(", ")}), " +
        s"got (${rows.columns.mkString(", ")})")
    val spark = rows.sparkSession
    location match {
      case Flat(path) =>
        StoreMeta.requireIfPresent(spark, path, family, params)
        rows.write.mode("append").parquet(path)
        StoreMeta.writeOrRequire(spark, path, family, params)
      case Bucketed(table, buckets) =>
        StoreMeta.requireIfPresentTable(spark, table, family, params)
        rows.write.mode("append").format("parquet")
          .bucketBy(buckets, key).sortBy(key).saveAsTable(table)
        StoreMeta.writeOrRequireTable(spark, table, family, params)
    }
  }

  /** Data files of a flat store, the count `curation.compact_store_every`
    * reads (0 when the store is missing). Always 0 for a bucketed table:
    * its appends stay bucket-aligned and [[StoreCompaction]] never
    * rewrites it.
    */
  def dataFileCount(spark: SparkSession): Int = location match {
    case Flat(path) =>
      val root = new Path(path)
      DataFiles.list(root.getFileSystem(spark.sessionState.newHadoopConf()), root).size
    case _: Bucketed => 0
  }
}

object KeyStore {

  sealed trait Location
  /** Parquet files appended under one directory. */
  final case class Flat(path: String) extends Location
  /** A catalog table bucketed and sorted on the store's key column. */
  final case class Bucketed(table: String, buckets: Int = 256) extends Location

  private def empty(spark: SparkSession, schema: StructType): DataFrame =
    spark.createDataFrame(java.util.Collections.emptyList[Row](), schema)

  /** The parquet dataset at `path`, or an empty frame of `schema` when
    * nothing has landed there: the path is missing, or it holds only
    * `_`/`.` sidecars (a first append whose data write failed). Any
    * other failure propagates. Used by every flat store and by the
    * corpus-document table the incremental near-dup verify reads.
    */
  def readOrEmpty(spark: SparkSession, path: String, schema: StructType): DataFrame =
    try spark.read.parquet(path)
    catch {
      case e: AnalysisException
          if e.getCondition == "PATH_NOT_FOUND" ||
            Option(e.getMessage).exists(_.contains("Path does not exist")) =>
        empty(spark, schema)
      case e: AnalysisException
          if e.getCondition == "UNABLE_TO_INFER_SCHEMA" && onlySidecars(spark, path) =>
        empty(spark, schema)
    }

  private def onlySidecars(spark: SparkSession, path: String): Boolean = {
    val root = new Path(path)
    val fs = root.getFileSystem(spark.sessionState.newHadoopConf())
    fs.getFileStatus(root).isDirectory &&
      fs.listStatus(root).forall(st => !DataFiles.isData(st.getPath.getName))
  }

  /** Guard the "missing table = first run" bootstrap against the one
    * case where it silently commits duplicates: the table is not in THIS
    * session's catalog but its warehouse directory exists on disk, i.e.
    * a previous PROCESS wrote it and this session runs on the default
    * in-memory catalog, which dies with its session. Oneshot CLI cycles
    * need a persistent metastore (`GRAFT_CATALOG=hive`) or a long-lived
    * session (Orchestrator / BatchRunner).
    */
  private def staleWarehouseGuard(spark: SparkSession, table: String): Unit = {
    // Hadoop FS, not java.nio: the warehouse can be s3a:// (no NIO
    // provider) or a local path with characters a java.net.URI rejects.
    // defaultTablePath resolves the table's DATABASE first; a
    // db-qualified store table whose database doesn't exist yet is a
    // genuine first run (no database → no warehouse dir to collide
    // with), so that lookup failure falls through to the bootstrap.
    val tablePath =
      try spark.sessionState.catalog.defaultTablePath(
        spark.sessionState.sqlParser.parseTableIdentifier(table))
      catch {
        case _: org.apache.spark.sql.catalyst.analysis.NoSuchDatabaseException =>
          return
      }
    val loc = new Path(tablePath)
    val fs = loc.getFileSystem(spark.sessionState.newHadoopConf())
    if (fs.exists(loc))
      throw new IllegalStateException(
        s"Bucketed store table '$table' is not in this session's catalog " +
          s"but its warehouse location '$loc' exists on disk. A previous " +
          "process likely wrote it and this session's in-memory catalog " +
          "cannot see it; bootstrapping would silently disable incremental " +
          "dedup and commit duplicates. Run with a persistent metastore " +
          "(GRAFT_CATALOG=hive on the CLI), reuse a long-lived session, " +
          "or remove the stale location.")
  }
}
