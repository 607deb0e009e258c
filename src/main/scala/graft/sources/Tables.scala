package graft.sources

import org.apache.hadoop.fs.{FileStatus, Path}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{LongType, StructType, TimestampNTZType, TimestampType}

/** Source layer for the star-schema testdata (and any parquet lake with
  * the same shape). Every table is read through [[read]]: plain
  * `spark.read.parquet` on the first read of a file set, and
  * `spark.read.schema(schemaOf(…)).parquet` after it, so Catalyst keeps
  * pushdown and pruning exactly as before and only the schema-inference
  * job goes. The one normalization this layer owns is the
  * nanosecond-timestamp fix-up for `events`.
  */
object Tables {
  val All: Seq[String] = Seq("region", "nation", "customer", "supplier",
    "part", "orders", "lineitem", "events", "documents", "embeddings")

  def load(spark: SparkSession, dir: String, name: String): DataFrame = {
    val df = read(spark, s"$dir/$name.parquet")
    normalizeTimestamps(if (name == "events") normalizeEventTs(df) else df)
  }

  /** The identity of a file set: each data file's path relative to the
    * table path, length and modification time. A table rewritten in
    * place gets a new identity, so nothing keyed on it is served stale.
    */
  type FileSet = Seq[(String, Long, Long)]

  /** A table's data files, sorted by path, each with its path below
    * `path` (its name when `path` is one file): every file under `path`
    * (recursively) whose name Spark's reader would not skip (`_`- or
    * `.`-prefixed, e.g. `_SUCCESS` or a `.crc`). Listed through the
    * Hadoop `FileSystem`, so `hdfs://` and `s3a://` tables work as local
    * ones do. The listing returns qualified paths, so the root is
    * qualified before they are cut below it: a relative `path` gives
    * the same relative names as an absolute one. Empty when nothing
    * exists at `path` (a glob, or a missing table).
    */
  def dataFiles(spark: SparkSession, path: String): Seq[(String, FileStatus)] = {
    val p = new Path(path)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val st = try Some(fs.getFileStatus(p))
      catch { case _: java.io.FileNotFoundException => None }
    st match {
      case None => Seq.empty
      case Some(f) if f.isFile => Seq(f.getPath.getName -> f)
      case Some(d) =>
        val root = fs.makeQualified(d.getPath).toUri.getPath.stripSuffix("/") + "/"
        val it = fs.listFiles(p, true)
        val out = Seq.newBuilder[(String, FileStatus)]
        while (it.hasNext) {
          val f = it.next()
          val fp = fs.makeQualified(f.getPath).toUri.getPath
          require(fp.startsWith(root), s"listed file $fp is not below $root")
          val rel = fp.stripPrefix(root)
          if (!rel.split('/').exists(n => n.startsWith(".") ||
              n.startsWith("_") && !n.contains("="))) out += rel -> f
        }
        out.result().sortBy(_._1)
    }
  }

  def fileSet(files: Seq[(String, FileStatus)]): FileSet =
    files.map { case (rel, f) => (rel, f.getLen, f.getModificationTime) }

  /** Process-lifetime schema cache of [[schemaOf]]. The key is the path,
    * its [[FileSet]] and the session's explicitly set parquet confs. */
  private val schemas = scala.collection.concurrent.TrieMap[
    (String, FileSet, Seq[(String, String)]), StructType]()

  /** The cached schema of `path` with file set `files`, or — on a miss —
    * the DataFrame whose inference just filled the cache, so a miss
    * infers once rather than once for the schema and again for the read.
    * An empty file set is never cached: Spark reads it and raises its
    * own error (or expands the glob) as a bare read would.
    */
  private def resolve(spark: SparkSession, path: String,
                      files: FileSet): Either[StructType, DataFrame] = {
    val confs = spark.conf.getAll.toSeq.filter { case (k, _) =>
      k.startsWith("spark.sql.parquet.") || k.startsWith("spark.sql.legacy.parquet.")
    }.sorted
    val key = (path, files, confs)
    schemas.get(key) match {
      case Some(schema) => Left(schema)
      case None =>
        val df = spark.read.parquet(path)
        if (files.nonEmpty) schemas.putIfAbsent(key, df.schema)
        Right(df)
    }
  }

  /** Spark's own inferred schema of the parquet at `path`, inferred once
    * per process for each file set and parquet conf set (the
    * `spark.sql.parquet.*` and `spark.sql.legacy.parquet.*` confs the
    * session sets explicitly; `nanosAsLong` or `binaryAsString` change
    * what inference returns). Inference is a Spark job over the
    * footers; its answer only changes when a file does. Each call lists
    * the file set once for the key, besides Spark's own listing of any
    * read; pass `files` when the caller has listed them already.
    */
  def schemaOf(spark: SparkSession, path: String): StructType =
    schemaOf(spark, path, fileSet(dataFiles(spark, path)))

  def schemaOf(spark: SparkSession, path: String, files: FileSet): StructType =
    resolve(spark, path, files).fold(identity, _.schema)

  /** The parquet at `path`, un-normalized, read with [[schemaOf]]. */
  def read(spark: SparkSession, path: String): DataFrame =
    read(spark, path, fileSet(dataFiles(spark, path)))

  def read(spark: SparkSession, path: String, files: FileSet): DataFrame =
    resolve(spark, path, files).fold(spark.read.schema(_).parquet(path), identity)

  /** ns→µs ingest shim (reference README.md:40's nanosecond-support
    * TODO): accept nanosecond-grain event time as int64 ns-since-epoch
    * and land it on Spark's native µs TimestampType at the source
    * boundary. THE TRUNCATION CONTRACT, pinned by SourcesSpec:
    *   - sub-microsecond precision is DROPPED via `div 1000` — exact
    *     int64 integral division (`div`, not `/`: ns magnitudes exceed
    *     2^53, a double round-trip would corrupt low microseconds);
    *   - `div` truncates TOWARD ZERO, so post-epoch instants truncate
    *     earlier (1500 ns → 1 µs) and pre-epoch instants truncate
    *     later (−1500 ns → −1 µs) — both toward the epoch; ns already
    *     on a µs boundary are exact either side of the epoch.
    * Downstream event-time logic (windows, watermarks, as-of joins)
    * sees at most 999 ns of one-sided skew; ties created by the drop
    * break on the secondary sort key (event_id) like every other tie.
    */
  def fromNanos(df: DataFrame, c: String): DataFrame =
    df.withColumn(c, timestamp_micros(expr(s"`$c` div 1000")))

  /** events.parquet historically carried TIMESTAMP(NANOS), which Spark's
    * reader rejects; with spark.sql.legacy.parquet.nanosAsLong the column
    * arrives as Long ns — rebuild via the [[fromNanos]] contract.
    */
  def normalizeEventTs(df: DataFrame): DataFrame =
    df.schema.find(_.name == "ts").map(_.dataType) match {
      case Some(LongType) => fromNanos(df, "ts")
      case Some(TimestampNTZType) =>
        df.withColumn("ts", col("ts").cast(TimestampType))
      case _ => df
    }

  /** Parquet written with `isAdjustedToUTC=false` (e.g. pandas/pyarrow
    * naive timestamps) reads back as TIMESTAMP_NTZ in Spark 4, which
    * `unix_micros`, `withWatermark`, and the duration kernels all reject.
    * The session TZ is pinned to UTC everywhere in this library, so
    * casting NTZ → TimestampType is value-exact (same micros since
    * epoch). Applied to EVERY timestamp column of every table so a
    * testdata regeneration flipping the flag is a no-op.
    */
  def normalizeTimestamps(df: DataFrame): DataFrame = {
    val ntz = df.schema.fields.collect {
      case f if f.dataType == TimestampNTZType => f.name
    }
    ntz.foldLeft(df)(coerceNtz)
  }

  /** Coerce ONE column NTZ → TimestampType if (and only if) it is NTZ
    * — the single shared implementation behind [[normalizeTimestamps]]
    * and the streaming event-time coercion (EventStream.eventTime).
    */
  def coerceNtz(df: DataFrame, c: String): DataFrame =
    df.schema.find(_.name == c).map(_.dataType) match {
      case Some(TimestampNTZType) =>
        df.withColumn(c, col(c).cast(TimestampType))
      case _ => df
    }

  /** Register all tables as temp views for SQL users. */
  def registerViews(spark: SparkSession, dir: String): Unit =
    All.foreach(n => load(spark, dir, n).createOrReplaceTempView(n))

  /** Write a table bucketed+sorted by join keys. Two tables bucketed
    * the same way join WITHOUT a shuffle (see SourcesSpec) — at 100 TB
    * this is the difference between a co-located merge join and
    * re-shuffling the fact table on every query.
    *
    * `saveAsTable(overwrite)` only replaces tables the CURRENT catalog
    * knows about; a managed-table directory left by a previous JVM
    * (fresh in-memory catalog, same warehouse) fails the write with
    * LOCATION_ALREADY_EXISTS — so drop both the entry and the stale
    * directory first.
    */
  def writeBucketed(df: DataFrame, table: String, keys: Seq[String],
                    buckets: Int): Unit = {
    val spark = df.sparkSession
    spark.sql(s"DROP TABLE IF EXISTS `$table`")
    val loc = new org.apache.hadoop.fs.Path(
      spark.conf.get("spark.sql.warehouse.dir"), table.toLowerCase)
    loc.getFileSystem(spark.sparkContext.hadoopConfiguration)
      .delete(loc, true)
    df.write.mode("overwrite")
      .bucketBy(buckets, keys.head, keys.tail: _*)
      .sortBy(keys.head, keys.tail: _*)
      .format("parquet")
      .saveAsTable(table)
  }

  /** Hive-style partitioned parquet sink. Reads filtered on the
    * partition columns prune whole directories (PartitionFilters in the
    * scan — see SourcesSpec): at 100 TB a date/asset-partitioned lake
    * turns time-range queries into scans of only the touched days.
    */
  def writePartitioned(df: DataFrame, path: String,
                       partitionCols: Seq[String]): Unit =
    df.write.mode("overwrite")
      .partitionBy(partitionCols: _*)
      .parquet(path)
}
