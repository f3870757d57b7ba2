package graft.sources

import org.apache.hadoop.fs.{FileStatus, Path}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType

/** Loaders for the test star schema.
  *
  * Mirrors the reference's ingest step (crowdsorsa-etl-2023.R:28-32 reads
  * a zipped shapefile into a data frame); here every table is a parquet
  * scan so Catalyst can push filters and prune columns all the way into
  * the file reader — at 100 TB the scan is the dominant cost and
  * pushdown/pruning is what keeps it proportional to the query, not the
  * dataset.
  *
  * Every open goes through [[Tables.open]], which infers a table's schema
  * once and reopens it under that schema with zero Spark jobs.
  */
final case class Tables(spark: SparkSession, dir: String) {
  private def t(name: String): DataFrame = Tables.open(spark, s"$dir/$name.parquet")

  def region: DataFrame     = t("region")
  def nation: DataFrame     = t("nation")
  def customer: DataFrame   = t("customer")
  def supplier: DataFrame   = t("supplier")
  def part: DataFrame       = t("part")
  def orders: DataFrame     = t("orders")
  def lineitem: DataFrame   = t("lineitem")
  /** events.ts arrives in one of two physical layouts depending on the
    * generator: TIMESTAMP(NANOS), which Spark reads as a long (see
    * GraftSession nanosAsLong) and must be truncated ns→µs with integer
    * division (ns epoch values exceed 2^53, so double math would
    * silently lose precision — matches DuckDB's own ns→µs truncation),
    * or native TIMESTAMP(MICROS), which reads as TIMESTAMP_NTZ and only
    * needs the cast to the engine's session-TZ timestamp (identity on
    * the wall clock — GraftSession pins UTC). Branching on the read
    * dtype keeps both layouts oracle-comparable. A TIMESTAMP(NANOS)
    * layout needs a session built through `GraftSession.tune`, which
    * sets `spark.sql.legacy.parquet.nanosAsLong`; this loader never
    * changes its caller's session conf. */
  def events: DataFrame = {
    val raw = t("events")
    raw.schema("ts").dataType match {
      case org.apache.spark.sql.types.LongType =>
        raw.withColumn("ts", timestamp_micros(expr("ts DIV 1000")))
      case _ =>
        raw.withColumn("ts", col("ts").cast("timestamp"))
    }
  }
  def documents: DataFrame  = t("documents")
  def embeddings: DataFrame = t("embeddings")

  /** One table by name; `events` gets its timestamp normalization. */
  def table(name: String): DataFrame = if (name == "events") events else t(name)

  /** All tables by name (for SQL-view registration). */
  def all: Map[String, DataFrame] = Tables.Names.map(n => n -> table(n)).toMap
}

/** The schema memo behind every [[Tables]] open.
  *
  * A bare `spark.read.parquet(path)` infers the schema by running a Spark
  * job over the files' footers on every open, so a query over five tables
  * would run five jobs before its own plan, and a registry pass would run
  * them again for every key. [[open]] pays that job once per table state and
  * reopens with `spark.read.schema(inferred)`, which only lists the
  * files. It is the same rule as `SnapshotStore.tableSchemaOpt`'s schema
  * sidecar (a footer sweep at every plan IS the planning cost), applied
  * to tables that carry no log.
  *
  * The memo is keyed so that a stale schema is impossible: on the
  * qualified path, on its leaf files as (relative name, length,
  * modification time) — so a rewrite in place, a `TableWriter.compact`
  * directory swap or an added file misses — and on every session conf
  * schema inference reads ([[InferenceConfs]] prefixes, `nanosAsLong`
  * among them).
  * Building the key is one driver-side listing and no job. The memo
  * holds only schemas, never a session, and keeps the [[MaxSchemas]]
  * most recently used. */
object Tables {
  val Names: Seq[String] = Seq("region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings")

  val MaxSchemas = 64
  /** Conf prefixes parquet schema inference reads. */
  val InferenceConfs: Seq[String] = Seq("spark.sql.parquet.", "spark.sql.legacy.parquet.",
    "spark.sql.files.", "spark.sql.caseSensitive")

  private type Key = (String, Seq[(String, Long, Long)], Map[String, String])
  private val schemas = new java.util.LinkedHashMap[Key, StructType](16, 0.75f, true) {
    override def removeEldestEntry(e: java.util.Map.Entry[Key, StructType]): Boolean =
      size > MaxSchemas
  }

  /** The parquet table at `path`, its schema inferred at most once per
    * (path, files, inference confs). */
  def open(spark: SparkSession, path: String): DataFrame = keyOf(spark, path) match {
    case None => spark.read.parquet(path) // no such path: Spark's own error
    case Some(key) => schemas.synchronized(Option(schemas.get(key))) match {
      case Some(schema) => spark.read.schema(schema).parquet(path)
      case None =>
        val df = spark.read.parquet(path)
        schemas.synchronized(schemas.put(key, df.schema))
        df
    }
  }

  /** Entries held now (at most [[MaxSchemas]]). */
  private[graft] def memoSize: Int = schemas.synchronized(schemas.size)

  private def keyOf(spark: SparkSession, path: String): Option[Key] = {
    val p = new Path(path)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val root = fs.makeQualified(p).toString
    def leaves(s: FileStatus): Seq[(String, Long, Long)] =
      if (s.isDirectory) fs.listStatus(s.getPath).toSeq.flatMap(leaves)
      else Seq((s.getPath.toString.stripPrefix(root), s.getLen, s.getModificationTime))
    val status = try Some(fs.getFileStatus(p)) catch { case _: java.io.FileNotFoundException => None }
    status.map { s =>
      val confs = spark.conf.getAll.filter { case (k, _) => InferenceConfs.exists(k.startsWith) }
      (root, leaves(s).sortBy(_._1), confs)
    }
  }
}
