package graft.perfbench

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.IntegerType

/** Seeded input generator.
  *
  * Every column is a pure function of (seed, table, column, row id), hashed
  * with `xxhash64`, so the same seed gives identical tables whatever the
  * partitioning, and a different seed gives different ones. The shapes
  * follow the star schema graft's queries are written against (TPC-H-like
  * dimensions, an `events` stream, `documents` and `embeddings`): the same
  * column names, physical types, key ranges and value distributions, at
  * `scale` rows per unit of scale factor (scale 0.1 is sf0.1: 600k
  * lineitem rows).
  *
  * Tables are written as one parquet file with one row group each, the
  * layout graft's sf directories use. Timestamps are TIMESTAMP_NTZ
  * (parquet TIMESTAMP(MICROS), not UTC-adjusted), the layout
  * `Tables.events` reads as native micros.
  */
object Gen {

  val Vocab: Seq[String] = Seq("a", "agg", "batch", "big", "column",
    "customer", "data", "dup", "fast", "filter", "group", "hash", "join",
    "key", "line", "merge", "order", "part", "query", "row", "scan", "slow",
    "small", "sort", "spark", "stream", "table", "the", "value", "vector",
    "window")
  val EventTypes: Seq[String] = Seq("purchase", "click", "view", "signup", "error")

  /** 64-bit hash of (seed, salt, cols): the generator's only entropy. */
  def h(seed: Long, salt: String, cols: Column*): Column =
    xxhash64((lit(seed) +: lit(salt) +: cols): _*)

  /** Uniform integer in [0, n). */
  def pick(seed: Long, salt: String, n: Long, cols: Column*): Column =
    pmod(h(seed, salt, cols: _*), lit(n))

  /** Uniform double in [0, 1). */
  def unit(seed: Long, salt: String, cols: Column*): Column =
    pmod(h(seed, salt, cols: _*), lit(1L << 40)).cast("double") / (1L << 40).toDouble

  private def oneOf(values: Seq[String], idx: Column): Column =
    element_at(typedlit(values), idx.cast("int") + 1)

  /** Uniform money amount in [lo, hi) at cent precision. */
  private def cents(seed: Long, salt: String, lo: Double, hi: Double,
                    id: Column): Column =
    round(lit(lo) + unit(seed, salt, id) * (hi - lo), 2)

  /** Midnight of a uniform day in [from, from + days). */
  private def day(seed: Long, salt: String, from: String, days: Int,
                  id: Column): Column =
    date_add(lit(java.sql.Date.valueOf(from)), pick(seed, salt, days, id).cast("int"))
      .cast("timestamp_ntz")

  private def ids(spark: SparkSession, n: Long, from: Long = 0L,
                  parts: Int = 0): DataFrame =
    (if (parts > 0) spark.range(from, from + n, 1, parts)
     else spark.range(from, from + n)).toDF("id")

  def region(spark: SparkSession): DataFrame =
    ids(spark, 5).select(col("id").cast(IntegerType).as("r_regionkey"),
      oneOf(Seq("AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"), col("id"))
        .as("r_name"))

  def nation(spark: SparkSession): DataFrame =
    ids(spark, 25).select(col("id").cast(IntegerType).as("n_nationkey"),
      concat(lit("NATION_"), col("id").cast("string")).as("n_name"),
      (col("id") % 5).cast(IntegerType).as("n_regionkey"))

  def customer(spark: SparkSession, seed: Long, n: Long): DataFrame =
    ids(spark, n).select(col("id").as("c_custkey"),
      format_string("Customer#%09d", col("id")).as("c_name"),
      pick(seed, "c_nation", 25, col("id")).cast(IntegerType).as("c_nationkey"),
      cents(seed, "c_acctbal", -999.99, 9999.99, col("id")).as("c_acctbal"),
      oneOf(Seq("MACHINERY", "AUTOMOBILE", "FURNITURE", "BUILDING", "HOUSEHOLD"),
        pick(seed, "c_seg", 5, col("id"))).as("c_mktsegment"))

  def supplier(spark: SparkSession, seed: Long, n: Long): DataFrame =
    ids(spark, n).select(col("id").as("s_suppkey"),
      format_string("Supplier#%09d", col("id")).as("s_name"),
      pick(seed, "s_nation", 25, col("id")).cast(IntegerType).as("s_nationkey"),
      cents(seed, "s_acctbal", -999.99, 9999.99, col("id")).as("s_acctbal"))

  def part(spark: SparkSession, seed: Long, n: Long): DataFrame =
    ids(spark, n).select(col("id").as("p_partkey"),
      concat_ws(" ",
        oneOf(Seq("red", "new", "small", "cold", "old", "blue", "hot", "large"),
          pick(seed, "p_adj", 8, col("id"))),
        oneOf(Seq("rod", "widget", "gear", "plate", "anvil", "bolt", "gizmo", "ring"),
          pick(seed, "p_noun", 8, col("id")))).as("p_name"),
      concat(lit("Brand#"), (pick(seed, "p_brand", 25, col("id")) + 1).cast("string"))
        .as("p_brand"),
      oneOf(Seq("ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"),
        pick(seed, "p_type", 6, col("id"))).as("p_type"),
      (pick(seed, "p_size", 50, col("id")) + 1).cast(IntegerType).as("p_size"),
      round(lit(900.0) + (col("id") % 1000) * 0.1, 1).as("p_retailprice"))

  def orders(spark: SparkSession, seed: Long, n: Long, customers: Long): DataFrame =
    ids(spark, n).select(col("id").as("o_orderkey"),
      pick(seed, "o_cust", customers, col("id")).as("o_custkey"),
      oneOf(Seq("O", "F", "P"), pick(seed, "o_status", 3, col("id")))
        .as("o_orderstatus"),
      cents(seed, "o_total", 1000.0, 500000.0, col("id")).as("o_totalprice"),
      day(seed, "o_date", "1995-01-01", 2404, col("id")).as("o_orderdate"),
      oneOf(Seq("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"),
        pick(seed, "o_prio", 5, col("id"))).as("o_orderpriority"))

  def lineitem(spark: SparkSession, seed: Long, n: Long, orders: Long,
               parts: Long, suppliers: Long): DataFrame =
    ids(spark, n).select(
      pick(seed, "l_order", orders, col("id")).as("l_orderkey"),
      pick(seed, "l_part", parts, col("id")).as("l_partkey"),
      pick(seed, "l_supp", suppliers, col("id")).as("l_suppkey"),
      (pick(seed, "l_line", 7, col("id")) + 1).cast(IntegerType).as("l_linenumber"),
      (pick(seed, "l_qty", 50, col("id")) + 1).cast("double").as("l_quantity"),
      cents(seed, "l_price", 900.0, 105000.0, col("id")).as("l_extendedprice"),
      (pick(seed, "l_disc", 11, col("id")) / 100.0).as("l_discount"),
      (pick(seed, "l_tax", 9, col("id")) / 100.0).as("l_tax"),
      oneOf(Seq("A", "N", "R"), pick(seed, "l_rf", 3, col("id"))).as("l_returnflag"),
      oneOf(Seq("O", "F"), pick(seed, "l_ls", 2, col("id"))).as("l_linestatus"),
      day(seed, "l_ship", "1995-01-02", 2498, col("id")).as("l_shipdate"))

  /** Observation events: ids `from until from + n`, timestamps rising with
    * the id across January 2024, users in [0, users), exponential values
    * (mean 50, cent precision). */
  def events(spark: SparkSession, seed: Long, n: Long, users: Long,
             from: Long = 0L, parts: Int = 0): DataFrame = {
    val spanUs = 30L * 86400L * 1000000L
    val stepUs = math.max(1L, spanUs / math.max(1L, n))
    val t0 = java.time.Instant.parse("2024-01-01T00:00:00Z").toEpochMilli * 1000L
    ids(spark, n, from, parts).select(col("id").as("event_id"),
      timestamp_micros(lit(t0) + (col("id") - from) * stepUs +
          pick(seed, "e_ts", stepUs, col("id")))
        .cast("timestamp_ntz").as("ts"),
      pick(seed, "e_user", users, col("id")).as("user_id"),
      oneOf(EventTypes, pick(seed, "e_type", 5, col("id"))).as("event_type"),
      round(-log(lit(1.0) - unit(seed, "e_value", col("id"))) * 50.0, 2).as("value"),
      format_string("{\"k\": %d}", pick(seed, "e_props", 100, col("id"))).as("props"))
  }

  /** Documents: 10–100 words drawn from [[Vocab]]; about 2% are a copy of
    * an earlier document with one word changed (near duplicates), so the
    * dedup operators have clusters to find. */
  def documents(spark: SparkSession, seed: Long, n: Long, from: Long = 0L): DataFrame = {
    val nearDup = unit(seed, "d_dup", col("id")) < 0.02 && col("id") > from
    val src = when(nearDup,
        lit(from) + pmod(h(seed, "d_src", col("id")), greatest(col("id") - from, lit(1L))))
      .otherwise(col("id"))
    val nWords = (pick(seed, "d_len", 91, src) + 10).cast("int")
    val words = transform(sequence(lit(1), nWords), i =>
      when(nearDup && i === lit(1), lit("dup"))
        .otherwise(element_at(typedlit(Vocab),
          (pick(seed, "d_word", Vocab.size, src, i) + 1).cast("int"))))
    ids(spark, n, from)
      .select(col("id").as("doc_id"), array_join(words, " ").as("text"),
        oneOf(Seq("en", "en", "en", "de", "es", "fr", "zh"),
          pick(seed, "d_lang", 7, col("id"))).as("lang"),
        concat(lit("src"), (col("id") % 20).cast("string")).as("source"))
      .withColumn("n_chars", length(col("text")).cast("long"))
  }

  /** Unit vectors of `dims` floats (Gaussian directions, Box–Muller from
    * two hashed uniforms per coordinate) with a label in [0, 10). */
  def embeddings(spark: SparkSession, seed: Long, n: Long, dims: Int = 64,
                 from: Long = 0L): DataFrame = {
    val gauss = transform(sequence(lit(1), lit(dims)), i =>
      sqrt(lit(-2.0) * log(lit(1.0) - unit(seed, "v_u1", col("id"), i))) *
        cos(lit(2 * math.Pi) * unit(seed, "v_u2", col("id"), i)))
    ids(spark, n, from)
      .select(col("id"), gauss.as("g"))
      .select(col("id").as("vec_id"),
        expr("transform(g, x -> CAST(x / sqrt(aggregate(g, 0d, (s, y) -> s + y * y)) AS FLOAT))")
          .as("embedding"),
        pick(seed, "v_label", 10, col("id")).cast(IntegerType).as("label"))
  }

  /** The star schema at `scale` (0.1 = sf0.1 row counts). */
  def star(spark: SparkSession, seed: Long, scale: Double): Map[String, DataFrame] = {
    def rows(perUnit: Double) = math.max(1L, math.round(perUnit * scale))
    val (cust, supp, parts, ords) =
      (rows(150000), rows(10000), rows(200000), rows(1500000))
    Map(
      "region" -> region(spark),
      "nation" -> nation(spark),
      "customer" -> customer(spark, seed, cust),
      "supplier" -> supplier(spark, seed, supp),
      "part" -> part(spark, seed, parts),
      "orders" -> orders(spark, seed, ords, cust),
      "lineitem" -> lineitem(spark, seed, rows(6000000), ords, parts, supp),
      "events" -> events(spark, seed, rows(1000000), 1500),
      "documents" -> documents(spark, seed, math.max(500L, rows(50000))),
      "embeddings" -> embeddings(spark, seed, math.max(500L, rows(20000))))
  }

  /** Write `df` as `dir/name.parquet`, one row group per file: `files`
    * files, or one per partition of `df` when `files` is 0. A frame with
    * at least `files` partitions is merged without a shuffle. */
  def write(df: DataFrame, dir: String, name: String, files: Int = 1): Unit =
    (if (files <= 0) df
     else if (df.rdd.getNumPartitions >= files) df.coalesce(files)
     else df.repartition(files)).write.mode("overwrite")
      .option("parquet.block.size", (1L << 30).toString)
      .parquet(s"$dir/$name.parquet")

  def writeAll(tables: Map[String, DataFrame], dir: String, files: Int = 1): Unit =
    tables.foreach { case (name, df) => write(df, dir, name, files) }

  /** Order-insensitive content fingerprint, `rows:hashsum`: the row count
    * and the exact sum of every row's 64-bit hash over all columns. */
  def fingerprint(df: DataFrame): String =
    fingerprintOf(df.agg(fingerprintAggs(df).head, fingerprintAggs(df).tail: _*).head())

  /** The two aggregates behind [[fingerprint]], for `Dataset.observe`. */
  def fingerprintAggs(df: DataFrame): Seq[Column] = Seq(
    count(lit(1)).as("fp_rows"),
    coalesce(sum(xxhash64(df.columns.map(c => col(s"`$c`")): _*).cast("decimal(38,0)")),
      lit(BigDecimal(0)).cast("decimal(38,0)")).as("fp_hashsum"))

  def fingerprintOf(r: org.apache.spark.sql.Row): String =
    s"${r.getLong(0)}:${r.getDecimal(1).toBigInteger}"
}
