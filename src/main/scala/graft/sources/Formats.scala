package graft.sources

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import graft.core.Tables

/** Source/sink formats beyond parquet ([EXT] — the reference reads
  * whole local text files and writes "k v" lines only, SURVEY.md §2.3
  * F1/F9): CSV and JSON-lines round-trips with explicit schemas, and
  * hive-style partitioned layout with partition pruning.
  *
  * Scale design:
  *  - Schemas are always explicit — `inferSchema` is a full extra pass
  *    over the data (2× the 100 TB scan) and nondeterministic under
  *    sampling; never used here.
  *  - The partitioned layout (`partitionBy(lang)`) turns the `lang`
  *    predicate into directory pruning: the `en` query reads 1/5 of
  *    the files, shown as PartitionFilters in the scan (spec-checked).
  *  - Round-trip staging dirs are derived from the input path and
  *    written once (idempotent overwrite) — the pattern for landing
  *    external feeds before columnar conversion.
  */
object Formats {

  private def stage(d: String, kind: String): String =
    s"/tmp/graft_stage/${Paths.get(d).getFileName}/$kind"

  private def done(dir: String): Boolean =
    Files.exists(Paths.get(dir, "_SUCCESS"))

  val ordersCsvSchema: StructType = StructType(Seq(
    StructField("o_orderkey", LongType),
    StructField("o_custkey", LongType),
    StructField("o_orderstatus", StringType),
    StructField("o_totalprice", DoubleType),
    StructField("o_orderpriority", StringType)))

  /** Parquet → CSV (header, explicit schema) → read back → aggregate.
    * Exercises the CSV reader/writer with quoting left to defaults on
    * non-quoted columns (keys, enums, numerics).
    */
  def csvRoundtrip(s: SparkSession, d: String): DataFrame = {
    val dir = stage(d, "orders_csv")
    if (!done(dir)) {
      Tables.orders(s, d)
        .select("o_orderkey", "o_custkey", "o_orderstatus", "o_totalprice", "o_orderpriority")
        .write.mode("overwrite").option("header", "true").csv(dir)
    }
    s.read.schema(ordersCsvSchema).option("header", "true").csv(dir)
      .groupBy("o_orderstatus", "o_orderpriority")
      .agg(count(lit(1)).as("n"), round(sum("o_totalprice"), 2).as("sum_price"))
  }

  val eventsJsonSchema: StructType = StructType(Seq(
    StructField("event_id", LongType),
    StructField("user_id", LongType),
    StructField("event_type", StringType),
    StructField("value", DoubleType)))

  /** Parquet → JSON-lines → read back → aggregate. JSONL is the
    * reference's intermediate codec (worker.go:147-152) promoted to a
    * first-class source format.
    */
  def jsonlRoundtrip(s: SparkSession, d: String): DataFrame = {
    val dir = stage(d, "events_jsonl")
    if (!done(dir)) {
      Tables.events(s, d)
        .select("event_id", "user_id", "event_type", "value")
        .write.mode("overwrite").json(dir)
    }
    s.read.schema(eventsJsonSchema).json(dir)
      .groupBy("event_type")
      .agg(count(lit(1)).as("n"), countDistinct("user_id").as("n_users"),
        round(sum("value"), 2).as("sum_val"))
  }

  /** Hive-partitioned parquet by lang; the lang='en' filter prunes to
    * one directory before any file is opened (PartitionFilters —
    * spec-asserted in FormatsSpec).
    */
  def partitionedDocs(s: SparkSession, d: String): String = {
    val dir = stage(d, "docs_by_lang")
    if (!done(dir)) {
      Tables.documents(s, d)
        .write.mode("overwrite").partitionBy("lang").parquet(dir)
    }
    dir
  }

  def partitionedScan(s: SparkSession, d: String): DataFrame =
    s.read.parquet(partitionedDocs(s, d))
      .filter(col("lang") === "en")
      .groupBy("source")
      .agg(count(lit(1)).as("n"), sum("n_chars").as("total_chars"))

  /** Dynamic partition pruning: join the lang-partitioned store
    * against a FILTER-DERIVED dimension (the langs source 'src0'
    * publishes in) — the partition filter is only known at RUNTIME,
    * so Catalyst injects a dynamicpruning subquery into the
    * partitioned scan (FormatsSpec asserts it): the broadcast of the
    * dim side doubles as the partition pruner, and non-qualifying
    * lang directories are never opened. At 100 TB with date/tenant
    * partitioning this is the difference between scanning one
    * partition and scanning the lake.
    */
  def dppJoin(s: SparkSession, d: String): DataFrame = {
    val pdocs = s.read.parquet(partitionedDocs(s, d))
    val dim = Tables.documents(s, d).filter(col("source") === "src0")
      .select(col("lang").as("dim_lang")).distinct()
    pdocs.join(broadcast(dim), col("lang") === col("dim_lang"))
      .groupBy("lang")
      .agg(count(lit(1)).as("n"), sum("n_chars").as("total_chars"))
  }

  /** Parquet → ORC (zlib, Spark-native vectorized reader) → read back →
    * aggregate. ORC is the other columnar interchange format big lake
    * deployments standardize on; predicate pushdown and column pruning
    * work the same as parquet (FormatsSpec asserts the pushed filter).
    */
  def orcRoundtrip(s: SparkSession, d: String): DataFrame = {
    val dir = stage(d, "lineitem_orc")
    if (!done(dir)) {
      Tables.lineitem(s, d)
        .select("l_orderkey", "l_returnflag", "l_quantity", "l_extendedprice", "l_discount")
        .write.mode("overwrite").orc(dir)
    }
    s.read.orc(dir)
      .filter(col("l_quantity") > 10)
      .groupBy("l_returnflag")
      .agg(count(lit(1)).as("n"),
        round(sum(col("l_extendedprice") * (lit(1) - col("l_discount"))), 2).as("revenue"))
  }

  /** PERMISSIVE ingest of a feed containing malformed rows: one bad
    * row must never kill a 100 TB load. A deliberately corrupt shard
    * (unparseable numerics) is staged next to the good CSV; corrupt
    * rows surface in `columnNameOfCorruptRecord` for quarantine, good
    * rows (including an all-NULL but well-formed one) load normally.
    * FAILFAST/DROPMALFORMED are the same reader's other modes.
    */
  def csvPermissive(s: SparkSession, d: String): DataFrame = {
    val dir = stage(d, "orders_csv_bad")
    if (!done(dir)) {
      Tables.orders(s, d)
        .select("o_orderkey", "o_custkey", "o_orderstatus", "o_totalprice", "o_orderpriority")
        .write.mode("overwrite").option("header", "true").csv(dir)
      Files.writeString(Paths.get(dir, "part-corrupt.csv"),
        "o_orderkey,o_custkey,o_orderstatus,o_totalprice,o_orderpriority\n" +
          "not_a_number,9,O,abc,1-URGENT\n" + // numeric fields unparseable → corrupt
          ",,,,\n") // empty but well-formed → a valid all-NULL row
    }
    val schema = ordersCsvSchema.add(StructField("_bad", StringType))
    s.read.schema(schema)
      .option("header", "true")
      .option("mode", "PERMISSIVE")
      .option("columnNameOfCorruptRecord", "_bad")
      .csv(dir)
      .agg(
        count(lit(1)).as("n_rows"),
        count(col("_bad")).as("n_corrupt"),
        count(when(col("_bad").isNull, 1)).as("n_good"),
        round(sum(when(col("_bad").isNull, col("o_totalprice"))), 2).as("sum_good"))
  }

  /** SCHEMA EVOLUTION read: two parquet generations of the same table
    * — v1 writes (o_orderkey, o_totalprice) for even keys, v2 adds
    * `o_orderstatus` for odd keys — read together with
    * `mergeSchema=true`. The unified schema is the union; v1 rows
    * surface NULL for the later column, exactly the contract a lake
    * table relies on when producers upgrade before readers. The
    * aggregate buckets the NULLs under '<v1>' so the oracle can
    * recompute from the original table.
    */
  def schemaEvolution(s: SparkSession, d: String): DataFrame = {
    val dir = stage(d, "orders_evolved")
    if (!done(s"$dir/v2")) {
      val o = Tables.orders(s, d)
      o.filter(col("o_orderkey") % 2 === 0)
        .select("o_orderkey", "o_totalprice")
        .write.mode("overwrite").parquet(s"$dir/v1")
      o.filter(col("o_orderkey") % 2 === 1)
        .select("o_orderkey", "o_totalprice", "o_orderstatus")
        .write.mode("overwrite").parquet(s"$dir/v2")
    }
    s.read.option("mergeSchema", "true")
      .parquet(s"$dir/v1", s"$dir/v2")
      .groupBy(coalesce(col("o_orderstatus"), lit("<v1>")).as("status"))
      .agg(count(lit(1)).as("n"),
        round(sum("o_totalprice"), 2).as("sum_price"))
  }

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "schema_evolution" -> schemaEvolution,
    "csv_permissive" -> csvPermissive,
    "csv_source" -> csvRoundtrip,
    "jsonl_source" -> jsonlRoundtrip,
    "orc_source" -> orcRoundtrip,
    "partitioned_scan" -> partitionedScan,
    "dpp_join" -> dppJoin)

  /** Oracles read the ORIGINAL parquet — the round-trip through the
    * text format must be lossless for these columns.
    */
  def oracleSql: Map[String, String] = Map(
    "dpp_join" ->
      """WITH dim AS (SELECT DISTINCT lang FROM documents WHERE source = 'src0')
        |SELECT d.lang, count(*) AS n,
        |  CAST(sum(n_chars) AS BIGINT) AS total_chars
        |FROM documents d JOIN dim USING (lang)
        |GROUP BY 1""".stripMargin,
    "schema_evolution" ->
      """SELECT CASE WHEN o_orderkey % 2 = 0 THEN '<v1>'
        |       ELSE o_orderstatus END AS status,
        |  count(*) AS n,
        |  round(sum(o_totalprice), 2) AS sum_price
        |FROM orders GROUP BY 1""".stripMargin,
    // +2 staged rows: 1 corrupt (quarantined), 1 well-formed all-NULL.
    "csv_permissive" ->
      """SELECT CAST(count(*) + 2 AS BIGINT) AS n_rows,
        |  CAST(1 AS BIGINT) AS n_corrupt,
        |  CAST(count(*) + 1 AS BIGINT) AS n_good,
        |  round(sum(o_totalprice), 2) AS sum_good
        |FROM orders""".stripMargin,
    "csv_source" ->
      """SELECT o_orderstatus, o_orderpriority, count(*) AS n,
        |  round(sum(o_totalprice), 2) AS sum_price
        |FROM orders GROUP BY 1, 2""".stripMargin,
    "jsonl_source" ->
      """SELECT event_type, count(*) AS n,
        |  count(DISTINCT user_id) AS n_users,
        |  round(sum(value), 2) AS sum_val
        |FROM events GROUP BY 1""".stripMargin,
    "orc_source" ->
      """SELECT l_returnflag, count(*) AS n,
        |  round(sum(l_extendedprice * (1 - l_discount)), 2) AS revenue
        |FROM lineitem WHERE l_quantity > 10 GROUP BY 1""".stripMargin,
    "partitioned_scan" ->
      """SELECT source, count(*) AS n,
        |  CAST(sum(n_chars) AS BIGINT) AS total_chars
        |FROM documents WHERE lang = 'en' GROUP BY 1""".stripMargin)
}
