package graft.queries

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.core.Tables

/** Training-data shard assignment ([EXT]): writing a 100 TB corpus as
  * N shard files needs every doc given a shard id such that shard
  * payload sizes balance — hash(doc_id) % N balances COUNTS but not
  * BYTES (doc sizes are heavy-tailed). Size-aware round-robin: index
  * docs in global (n_chars DESC, doc_id) order, shard = index % N —
  * consecutive big docs land on different shards.
  *
  * Scale design: a global row_number() window is a single-partition
  * sort — wrong at scale. Instead: range-repartition on the sort key
  * (parallel sort, Spark samples boundaries), sort within partitions,
  * then `zipWithIndex` (one extra lightweight job computing per-
  * partition counts → offsets; no second shuffle). The final global
  * sequence is boundary-placement-independent, so the result is
  * deterministic even though range sampling isn't.
  */
object Sharding {

  val NumShards = 16

  /** (doc_id, n_chars, shard): deterministic size-balanced assignment.
    * The global index is [[graft.core.ScalableRank.rowNumberWith]] —
    * the same range-partition + per-partition-offset two-pass shape
    * the old `rdd.zipWithIndex` hop computed, but as a lazy codegen-
    * friendly plan (no Row-object round-trip; the downstream groupBys
    * stay whole-stage compiled). rowNumber is 1-based where
    * zipWithIndex was 0-based, so shard = (rn − 1) % N — identical
    * assignments. */
  def shardAssignments(s: SparkSession, d: String, parts: Int = 8): DataFrame = {
    val docs = Tables.documents(s, d).select(col("doc_id"), col("n_chars"))
    graft.core.ScalableRank.rowNumberWith(docs, "__rn", parts,
        col("n_chars").desc, col("doc_id").asc)
      .select(col("doc_id"), col("n_chars"),
        ((col("__rn") - 1) % NumShards).as("shard"))
  }

  /** Per-shard packing summary — the balance report a shard writer
    * would emit (shard file = `.write.partitionBy("shard")`).
    */
  def shardPack(s: SparkSession, d: String): DataFrame =
    shardAssignments(s, d)
      .groupBy("shard")
      .agg(count(lit(1)).as("n_docs"), sum("n_chars").as("total_chars"))

  /** Sequence packing: concatenate docs in deterministic (lang,
    * doc_id) order and cut a new pack every `CharBudget` chars — the
    * standard context-window packing pass before LLM training. pack =
    * floor(start_offset / budget) via a per-lang running sum. Langs
    * are FEW and populations huge, so the running sum is the
    * ScalableRank grouped prefix sum (one range-partitioned global
    * (lang, doc_id) sort + per-lang offsets) — a per-lang window
    * partition would put each language's whole corpus on one core.
    * Production packers run this per SHARD (see [[shardAssignments]])
    * on the same primitive.
    */
  val CharBudget = 4000L

  def packSequences(s: SparkSession, d: String): DataFrame =
    graft.core.ScalableRank.groupedPrefixSums(
      Tables.documents(s, d).select(col("lang"), col("doc_id"), col("n_chars")),
      "lang", Seq("n_chars"), Seq("__cum"), col("doc_id").asc)
      .withColumn("pack", floor((col("__cum") - col("n_chars")) / CharBudget))
      .groupBy("lang", "pack")
      .agg(count(lit(1)).as("n_docs"), sum("n_chars").as("pack_chars"),
        min("doc_id").as("first_doc"))

  /** Bucket = z >> ZShift: each bucket is an axis-aligned Morton cell
    * of at most 2^(ZShift/2) × 2^(ZShift/2) key-space units (1024×1024
    * here) — the bound ZorderSpec asserts.
    */
  val ZShift = 20

  /** Z-order (Morton) layout summary over orders, keyed on
    * (o_custkey, order day): the two-dimensional clustering pass a
    * lakehouse runs before writing, so file-level min-max stats stay
    * tight in BOTH columns and predicate pushdown on EITHER prunes
    * most files. A single-column sort gives this for one column only;
    * at 100 TB the difference is scanning 3% vs 100% of files for the
    * off-sort-key predicate (ZorderSpec measures exactly this on the
    * bucket bboxes).
    *
    * Plan: z-values come from the native `z_value` expression
    * (graft.functions.ZValue — constant-time magic-mask interleave,
    * codegen'd, map-only); the layout summary is one partial-agg'd
    * groupBy on the bucket id. In a real write path the same z column
    * feeds `repartitionByRange(z).sortWithinPartitions(z)` +
    * `.write` — the summary here is the part with checkable
    * semantics, and it doubles as the file-skipping index.
    */
  def zorderBucket(s: SparkSession, d: String): DataFrame = {
    Tables.orders(s, d)
      .select(col("o_custkey").as("x"),
        datediff(col("o_orderdate").cast("date"),
          lit("1970-01-01").cast("date")).cast("long").as("y"))
      .select(shiftright(graft.functions.ZValue.zCol(col("x"), col("y")), ZShift)
        .as("bucket"), col("x"), col("y"))
      .groupBy("bucket")
      .agg(count(lit(1)).as("n"),
        min("x").as("min_cust"), max("x").as("max_cust"),
        min("y").as("min_day"), max("y").as("max_day"))
  }

  /** 3-D variant of [[zorderBucket]]: Morton cells over (custkey,
    * order day, totalprice band) via the native `z3_value` expression —
    * the layout for a fact table filtered independently on all three.
    * Shift 33 drops 11 low bits per dimension (z3 packs 21 bits/dim,
    * 3·21 = 63 interleaved), so every bucket is an axis-aligned
    * 2^11-cube in key space (ZorderSpec bound) and 10 bucket-id bits
    * remain per dimension.
    */
  val Z3Shift = 33

  def zorder3Bucket(s: SparkSession, d: String): DataFrame = {
    Tables.orders(s, d)
      .select(col("o_custkey").as("x"),
        datediff(col("o_orderdate").cast("date"),
          lit("1970-01-01").cast("date")).cast("long").as("y"),
        floor(col("o_totalprice") / lit(1000.0)).cast("long").as("w"))
      .select(shiftright(graft.functions.ZValue.z3Col(col("x"), col("y"), col("w")),
        Z3Shift).as("bucket"), col("x"), col("y"), col("w"))
      .groupBy("bucket")
      .agg(count(lit(1)).as("n"),
        min("x").as("min_cust"), max("x").as("max_cust"),
        min("y").as("min_day"), max("y").as("max_day"),
        min("w").as("min_band"), max("w").as("max_band"))
  }

  /** Bucket = hilbert_d >> HShift. 2^20 = 4^10 index units: an ALIGNED
    * 4^k block of the Hilbert index is exactly one recursive subsquare,
    * so every bucket is an axis-aligned 1024×1024 cell (HilbertSpec
    * asserts the bbox bound) — same pruning contract as
    * [[zorderBucket]], with the better inter-bucket locality Hilbert
    * is chosen for.
    */
  val HShift = 20

  /** Hilbert-curve layout summary over orders on (o_custkey, order
    * day) — [[zorderBucket]]'s companion using the native
    * `hilbert_value` expression ([[graft.functions.HilbertValue]]:
    * 16 rounds of constant integer arithmetic, codegen'd, map-only).
    * Same one-shuffle layout-census plan shape; the 16-round recursion
    * unrolls as chained CTEs in the DuckDB oracle, so the index is
    * hash-gated exactly.
    */
  def hilbertBucket(s: SparkSession, d: String): DataFrame = {
    Tables.orders(s, d)
      .select(col("o_custkey").as("x"),
        datediff(col("o_orderdate").cast("date"),
          lit("1970-01-01").cast("date")).cast("long").as("y"))
      .select(shiftright(graft.functions.HilbertValue.hilbertCol(col("x"), col("y")), HShift)
        .as("bucket"), col("x"), col("y"))
      .groupBy("bucket")
      .agg(count(lit(1)).as("n"),
        min("x").as("min_cust"), max("x").as("max_cust"),
        min("y").as("min_day"), max("y").as("max_day"))
  }

  /** Z-ORDER EFFECTIVENESS EVAL — the file-skipping simulation that
    * justifies the layout family: orders rows are laid out two ways
    * (64 equal "files" by (custkey, day) linear sort vs by Morton
    * z-value), each file keeps parquet-style min/max stats on both
    * dimensions, and three probe boxes (x-selective, y-selective,
    * both) count how many files survive stats pruning per layout.
    * The classic result this table shows: the linear layout prunes
    * only its leading dimension (y-selective probes hit EVERY file),
    * while z-order prunes both.
    *
    * Determinism: files are ntile(64) over a fully tie-broken order
    * (x, y, orderkey) — identical in both engines; everything else
    * is integer min/max/count. Scale shape: a layout eval IS a sort
    * (that's what it measures) — each layout's sort is the
    * range-partitioned ScalableRank row number + closed-form NTILE
    * (never a single-partition window over orders); stats+pruning
    * run on the 64-row stats frame with the probes exploded
    * map-side — no join.
    */
  val EvalFiles = 64

  def zorderEval(s: SparkSession, d: String): DataFrame = {
    import graft.core.Checkpoints.StableOps
    // checkpointed once: two independent global sorts consume it
    val b = Tables.orders(s, d)
      .select(col("o_orderkey").as("k"), col("o_custkey").as("x"),
        datediff(col("o_orderdate").cast("date"),
          lit("1970-01-01").cast("date")).cast("long").as("y"))
      .withColumn("z", graft.functions.ZValue.zCol(col("x"), col("y")))
      .stable
    val nF = b.agg(count(lit(1)).as("n_total"))
    def stats(layout: String, sort: Column*): DataFrame =
      graft.core.ScalableRank.rowNumber(b, "rn", sort: _*)
        .crossJoin(broadcast(nF)) // 1-row total attachment
        .withColumn("file",
          graft.core.ScalableRank.ntileExpr("rn", "n_total", EvalFiles)
            .cast("int"))
        .groupBy("file")
        .agg(count(lit(1)).as("n"),
          min("x").as("x1"), max("x").as("x2"),
          min("y").as("y1"), max("y").as("y2"))
        .withColumn("layout", lit(layout))
    val st = stats("linear_xy", col("x").asc, col("y").asc, col("k").asc)
      .unionAll(stats("zorder", col("z").asc, col("k").asc))
    // probe boxes: (name, xlo, xhi, ylo, yhi) — wide = no constraint
    val probes =
      """array(
        |  named_struct('probe', 'x_range', 'px1', 0L,    'px2', 150L,
        |               'py1', 0L, 'py2', 9223372036854775807L),
        |  named_struct('probe', 'y_range', 'px1', 0L,
        |               'px2', 9223372036854775807L,
        |               'py1', 9131L, 'py2', 9371L),
        |  named_struct('probe', 'both',    'px1', 0L,    'px2', 150L,
        |               'py1', 9131L, 'py2', 9371L))""".stripMargin
    st.select(col("layout"), col("file"), col("n"),
        col("x1"), col("x2"), col("y1"), col("y2"),
        explode(expr(probes)).as("p"))
      .select(col("layout"), col("p.probe").as("probe"), col("n"),
        (col("x1") <= col("p.px2") && col("x2") >= col("p.px1") &&
          col("y1") <= col("p.py2") && col("y2") >= col("p.py1"))
          .cast("long").as("hit"))
      .groupBy("layout", "probe")
      .agg(count(lit(1)).as("n_files"), sum(col("hit")).as("files_hit"),
        sum(when(col("hit") === 1L, col("n")).otherwise(0L)).as("rows_scanned"))
  }

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "zorder_eval" -> zorderEval,
    "shard_pack" -> shardPack,
    "pack_sequences" -> packSequences,
    "zorder_bucket" -> zorderBucket,
    "zorder3_bucket" -> zorder3Bucket,
    "hilbert_bucket" -> hilbertBucket)

  def oracleSql: Map[String, String] = Map(
    "zorder_eval" ->
      s"""WITH b AS (
         |  SELECT o_orderkey AS k, o_custkey AS x,
         |    CAST(date_diff('day', DATE '1970-01-01',
         |                   CAST(o_orderdate AS DATE)) AS BIGINT) AS y
         |  FROM orders),
         |z AS (
         |  SELECT k, x, y,
         |    CAST(list_sum(list_transform(generate_series(0, 30),
         |      i -> (((x >> i) & 1) << (2 * i)) +
         |           (((y >> i) & 1) << (2 * i + 1)))) AS BIGINT) AS z
         |  FROM b),
         |filed AS (
         |  SELECT x, y,
         |    ntile($EvalFiles) OVER (ORDER BY z, k) AS file_z,
         |    ntile($EvalFiles) OVER (ORDER BY x, y, k) AS file_x
         |  FROM z),
         |st AS (
         |  SELECT 'linear_xy' AS layout, file_x AS file, count(*) AS n,
         |    min(x) AS x1, max(x) AS x2, min(y) AS y1, max(y) AS y2
         |  FROM filed GROUP BY 2
         |  UNION ALL
         |  SELECT 'zorder', file_z, count(*), min(x), max(x), min(y), max(y)
         |  FROM filed GROUP BY 2),
         |pr AS (
         |  SELECT * FROM (VALUES
         |    ('x_range', 0, 150, 0, 9223372036854775807),
         |    ('y_range', 0, 9223372036854775807, 9131, 9371),
         |    ('both', 0, 150, 9131, 9371))
         |    AS t(probe, px1, px2, py1, py2)),
         |h AS (
         |  SELECT layout, probe, n,
         |    CASE WHEN x1 <= px2 AND x2 >= px1
         |          AND y1 <= py2 AND y2 >= py1 THEN 1 ELSE 0 END AS hit
         |  FROM st, pr)
         |SELECT layout, probe, count(*) AS n_files,
         |  CAST(sum(hit) AS BIGINT) AS files_hit,
         |  CAST(sum(CASE WHEN hit = 1 THEN n ELSE 0 END) AS BIGINT)
         |    AS rows_scanned
         |FROM h GROUP BY 1, 2""".stripMargin,
    "hilbert_bucket" -> {
      // The 16-round xy2d recursion unrolled: each CTE computes the
      // quadrant digit (d += s²·((3rx)⊕ry)) and the reflect/swap
      // rotation from the PREVIOUS round's (x, y) — all constant
      // integer arithmetic, so the hash gate is exact. Single-linear
      // CTE chain (each h_i read once) — no MATERIALIZED needed.
      val rounds = (0 until 16).map { i =>
        val s = 1L << (15 - i)
        val ss = s * s
        s"""h${i + 1} AS (
           |  SELECT x0, y0,
           |    d + $ss * xor(3 * CASE WHEN (x & $s) > 0 THEN 1 ELSE 0 END,
           |                  CASE WHEN (y & $s) > 0 THEN 1 ELSE 0 END) AS d,
           |    CASE WHEN (y & $s) = 0
           |         THEN (CASE WHEN (x & $s) > 0 THEN 65535 - y ELSE y END)
           |         ELSE x END AS x,
           |    CASE WHEN (y & $s) = 0
           |         THEN (CASE WHEN (x & $s) > 0 THEN 65535 - x ELSE x END)
           |         ELSE y END AS y
           |  FROM h$i)""".stripMargin
      }.mkString(",\n")
      s"""WITH b AS (
         |  SELECT o_custkey AS x0,
         |    CAST(date_diff('day', DATE '1970-01-01',
         |                   CAST(o_orderdate AS DATE)) AS BIGINT) AS y0
         |  FROM orders),
         |h0 AS (SELECT x0, y0, x0 & 65535 AS x, y0 & 65535 AS y,
         |              CAST(0 AS BIGINT) AS d
         |       FROM b),
         |$rounds
         |SELECT d >> $HShift AS bucket, count(*) AS n,
         |  min(x0) AS min_cust, max(x0) AS max_cust,
         |  min(y0) AS min_day, max(y0) AS max_day
         |FROM h16 GROUP BY 1""".stripMargin
    },
    "shard_pack" ->
      """WITH idx AS (
        |  SELECT doc_id, n_chars,
        |    row_number() OVER (ORDER BY n_chars DESC, doc_id) - 1 AS rn
        |  FROM documents)
        |SELECT rn % 16 AS shard, count(*) AS n_docs,
        |  CAST(sum(n_chars) AS BIGINT) AS total_chars
        |FROM idx GROUP BY 1""".stripMargin,
    "pack_sequences" ->
      """WITH c AS (
        |  SELECT lang, doc_id, n_chars,
        |    sum(n_chars) OVER (PARTITION BY lang ORDER BY doc_id
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) - n_chars AS off
        |  FROM documents)
        |SELECT lang, CAST(floor(off / 4000) AS BIGINT) AS pack,
        |  count(*) AS n_docs, CAST(sum(n_chars) AS BIGINT) AS pack_chars,
        |  min(doc_id) AS first_doc
        |FROM c GROUP BY 1, 2""".stripMargin,
    "zorder_bucket" ->
      """WITH b AS (
        |  SELECT o_custkey AS x,
        |    CAST(date_diff('day', DATE '1970-01-01',
        |                   CAST(o_orderdate AS DATE)) AS BIGINT) AS y
        |  FROM orders),
        |z AS (
        |  SELECT x, y,
        |    CAST(list_sum(list_transform(generate_series(0, 30),
        |      i -> (((x >> i) & 1) << (2 * i)) +
        |           (((y >> i) & 1) << (2 * i + 1)))) AS BIGINT) AS z
        |  FROM b)
        |SELECT z >> 20 AS bucket, count(*) AS n,
        |  min(x) AS min_cust, max(x) AS max_cust,
        |  min(y) AS min_day, max(y) AS max_day
        |FROM z GROUP BY 1""".stripMargin,
    "zorder3_bucket" ->
      """WITH b AS (
        |  SELECT o_custkey AS x,
        |    CAST(date_diff('day', DATE '1970-01-01',
        |                   CAST(o_orderdate AS DATE)) AS BIGINT) AS y,
        |    CAST(floor(o_totalprice / 1000.0) AS BIGINT) AS w
        |  FROM orders),
        |z AS (
        |  SELECT x, y, w,
        |    CAST(list_sum(list_transform(generate_series(0, 20),
        |      i -> (((x >> i) & 1) << (3 * i)) +
        |           (((y >> i) & 1) << (3 * i + 1)) +
        |           (((w >> i) & 1) << (3 * i + 2)))) AS BIGINT) AS z
        |  FROM b)
        |SELECT z >> 33 AS bucket, count(*) AS n,
        |  min(x) AS min_cust, max(x) AS max_cust,
        |  min(y) AS min_day, max(y) AS max_day,
        |  min(w) AS min_band, max(w) AS max_band
        |FROM z GROUP BY 1""".stripMargin)
}
