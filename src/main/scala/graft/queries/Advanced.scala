package graft.queries

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.core.Tables

/** Second relational wave: grouping sets, exact percentiles/stat
  * aggregates, pivot, array scalar functions, correlated subqueries
  * (Catalyst decorrelation), range window frames, navigation window
  * functions. All DuckDB-oracle-checked.
  *
  * Stat aggregates are computed from raw power sums (sum, sum of
  * squares, sum of products) in BOTH engines rather than builtin
  * stddev/corr — builtin implementations differ (Welford vs moments)
  * at the ulp level, while identical formulas over identical sums
  * round identically.
  */
object Advanced {

  /** GROUP BY GROUPING SETS — finer than rollup/cube. */
  def groupingSets(s: SparkSession, d: String): DataFrame = {
    Tables.orders(s, d).createOrReplaceTempView("orders_v")
    s.sql(
      """SELECT o_orderstatus, o_orderpriority,
        |  count(1) AS n, round(sum(o_totalprice), 2) AS sum_price
        |FROM orders_v
        |GROUP BY GROUPING SETS ((o_orderstatus), (o_orderpriority), ())""".stripMargin)
  }

  /** Exact percentiles (interpolated) + stddev/corr from power sums. */
  def statsAgg(s: SparkSession, d: String): DataFrame = {
    val li = Tables.lineitem(s, d)
    val q = col("l_quantity")
    val p = col("l_extendedprice")
    li.groupBy("l_returnflag")
      .agg(
        count(lit(1)).as("n"),
        round(expr("percentile(l_quantity, 0.5)"), 4).as("median_qty"),
        round(expr("percentile(l_extendedprice, array(0.25, 0.75))")(0), 4).as("p25_price"),
        round(expr("percentile(l_extendedprice, array(0.25, 0.75))")(1), 4).as("p75_price"),
        sum(q).as("sq"), sum(q * q).as("sqq"),
        sum(p).as("sp"), sum(p * p).as("spp"), sum(q * p).as("sqp"))
      .select(
        col("l_returnflag"), col("n"), col("median_qty"), col("p25_price"), col("p75_price"),
        round(sqrt((col("sqq") - col("sq") * col("sq") / col("n")) / (col("n") - 1)), 4).as("sd_qty"),
        round((col("n") * col("sqp") - col("sq") * col("sp")) /
          (sqrt(col("n") * col("sqq") - col("sq") * col("sq")) *
            sqrt(col("n") * col("spp") - col("sp") * col("sp"))), 4).as("corr_qp"))
  }

  /** Pivot: language × fixed source columns (explicit value list — at
    * scale an unbounded pivot would need a distinct-values pass; fixing
    * the list keeps it one aggregation).
    */
  def pivotCounts(s: SparkSession, d: String): DataFrame =
    Tables.documents(s, d)
      .groupBy("lang")
      .pivot("source", Seq("src0", "src1", "src2"))
      .agg(count(lit(1)))
      .na.fill(0L)

  /** Array scalar functions over the embedding vectors. */
  def scalarArray(s: SparkSession, d: String): DataFrame = {
    val v = col("embedding").cast("array<double>")
    Tables.embeddings(s, d).select(
      col("vec_id"),
      size(v).as("dim"),
      round(element_at(v, 1), 6).as("first_val"),
      round(array_max(v), 6).as("max_val"),
      round(array_min(v), 6).as("min_val"),
      round(aggregate(v, lit(0.0), (a, x) => a + x), 6).as("sum_val"),
      round(element_at(array_sort(v), 32), 6).as("sorted_mid"),
      size(filter(v, x => x > 0)).as("n_pos"))
  }

  /** Correlated scalar subquery (Catalyst decorrelates to a join):
    * orders priced above 1.5× their customer's average.
    */
  def subqueryCorr(s: SparkSession, d: String): DataFrame = {
    Tables.orders(s, d).createOrReplaceTempView("orders_v")
    s.sql(
      """SELECT o.o_orderkey, o.o_custkey, round(o.o_totalprice, 2) AS price
        |FROM orders_v o
        |WHERE o.o_totalprice > 1.5 * (
        |  SELECT avg(i.o_totalprice) FROM orders_v i
        |  WHERE i.o_custkey = o.o_custkey)""".stripMargin)
  }

  /** RANGE window frame: trailing-30-day revenue per customer (frame
    * over an integer day offset — value-based, not row-based).
    */
  def windowRange(s: SparkSession, d: String): DataFrame = {
    val days = datediff(col("o_orderdate"), lit("1995-01-01").cast("date"))
    val w = Window.partitionBy("o_custkey").orderBy("day_no")
      .rangeBetween(-30, Window.currentRow)
    Tables.orders(s, d)
      .select(col("o_custkey"), col("o_orderkey"), days.as("day_no"), col("o_totalprice"))
      .select(col("o_custkey"), col("o_orderkey"), col("day_no"),
        round(sum("o_totalprice").over(w), 2).as("rev_30d"))
  }

  /** Navigation window functions: lead/first/last/nth over a total
    * per-customer order.
    */
  def windowNav(s: SparkSession, d: String): DataFrame = {
    val w = Window.partitionBy("o_custkey")
      .orderBy(col("o_orderdate"), col("o_orderkey"))
    val wf = w.rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    Tables.orders(s, d).select(
      col("o_custkey"), col("o_orderkey"),
      lead(col("o_orderkey"), 1).over(w).as("next_order"),
      first(col("o_orderkey")).over(wf).as("first_order"),
      last(col("o_orderkey")).over(wf).as("last_order"),
      nth_value(col("o_orderkey"), 2).over(wf).as("second_order"))
  }

  /** Full outer join: per-customer order rollup ⟗ customer — nulls on
    * both sides survive (customers without orders; orphaned orders).
    */
  def joinFull(s: SparkSession, d: String): DataFrame = {
    val agg = Tables.orders(s, d)
      .groupBy("o_custkey")
      .agg(count(lit(1)).as("n_orders"), round(sum("o_totalprice"), 2).as("sum_price"))
    Tables.customer(s, d)
      .select(col("c_custkey"), col("c_name"))
      .join(agg, col("c_custkey") === col("o_custkey"), "full_outer")
      .select(
        coalesce(col("c_custkey"), col("o_custkey")).as("custkey"),
        col("c_name"),
        coalesce(col("n_orders"), lit(0L)).as("n_orders"),
        col("sum_price"))
  }

  /** Cross join (cartesian) over the two constant-size dims. */
  def joinCross(s: SparkSession, d: String): DataFrame =
    Tables.nation(s, d).select(col("n_name"))
      .crossJoin(Tables.region(s, d).select(col("r_name")))

  /** String functions, second wave: regex extraction, edit distance,
    * padding, field splitting, char translation, digest.
    */
  def scalarString2(s: SparkSession, d: String): DataFrame =
    Tables.part(s, d).select(
      col("p_partkey"),
      regexp_extract(col("p_brand"), "#(\\d+)", 1).as("brand_num"),
      levenshtein(col("p_brand"), col("p_type")).as("lev"),
      lpad(col("p_partkey").cast("string"), 10, "0").as("padded"),
      split_part(col("p_type"), lit(" "), lit(1)).as("type_head"),
      translate(col("p_brand"), "#", "-").as("dashed"),
      repeat(col("p_brand"), 2).as("brand2"),
      substring(col("p_name"), 1, 3).as("left3"),
      instr(col("p_type"), "BRUSHED").as("pos_brushed"),
      md5(col("p_brand")).as("brand_md5"))

  /** NULL-handling functions over synthesized nulls (nullif makes
    * them, coalesce/ifnull/when recover them).
    */
  def nullHandling(s: SparkSession, d: String): DataFrame =
    Tables.orders(s, d).select(
      col("o_orderkey"),
      expr("nullif(o_orderstatus, 'O')").as("non_open"),
      coalesce(expr("nullif(o_orderstatus, 'O')"), lit("OPEN")).as("status_or_open"),
      when(expr("nullif(o_orderstatus, 'O')").isNull, 0)
        .otherwise(1).as("closed_flag"),
      expr("ifnull(nullif(o_orderpriority, o_orderpriority), 'same')").as("always_same"))

  /** Nested types: per-user event history as an array of structs
    * (sorted, sliced to the first 3), exploded back to flat rows —
    * the collect/sort/slice/explode cycle every feature pipeline uses.
    * ts emitted as epoch seconds (see Tables.events on ns precision).
    */
  def nestedStruct(s: SparkSession, d: String): DataFrame =
    Tables.events(s, d)
      // Sort key = (full-precision ns ts, event_id): a total order, so the
      // first-3 slice is deterministic and matches the oracle's row_number
      // ORDER BY ts, event_id even when two events of a user share a second.
      .select(col("user_id"), col("ts"), col("event_id"),
        col("event_type"), col("value"))
      .groupBy("user_id")
      .agg(slice(sort_array(collect_list(
        struct(col("ts"), col("event_id"), col("event_type"), col("value")))),
        1, 3).as("hist"))
      .select(col("user_id"), posexplode(col("hist")))
      .select(col("user_id"), (col("pos") + 1).as("seq"),
        expr("col.ts DIV 1000000000").as("ts_s"),
        col("col.event_type").as("event_type"),
        round(col("col.value"), 2).as("value"))

  /** Map type: per-user event_type→count map built with
    * map_from_entries, then key lookups (element_at returns NULL for
    * absent keys — coalesced to 0).
    */
  def mapFuncs(s: SparkSession, d: String): DataFrame =
    Tables.events(s, d)
      .groupBy("user_id", "event_type")
      .agg(count(lit(1)).as("cnt"))
      .groupBy("user_id")
      .agg(map_from_entries(sort_array(collect_list(
        struct(col("event_type"), col("cnt"))))).as("mp"))
      .select(col("user_id"),
        size(col("mp")).as("n_types"),
        coalesce(element_at(col("mp"), "click"), lit(0L)).as("n_click"),
        coalesce(element_at(col("mp"), "purchase"), lit(0L)).as("n_purchase"))

  /** Map higher-order functions (map_filter / transform_values /
    * map_zip_with) over the per-user event-count map; the oracle
    * computes the same scalars straight from the grouped counts.
    */
  def mapHof(s: SparkSession, d: String): DataFrame =
    Tables.events(s, d)
      .groupBy("user_id", "event_type")
      .agg(count(lit(1)).as("cnt"))
      .groupBy("user_id")
      .agg(map_from_entries(sort_array(collect_list(
        struct(col("event_type"), col("cnt"))))).as("mp"))
      .select(col("user_id"),
        size(map_filter(col("mp"), (_, v) => v > 1)).as("n_repeat"),
        aggregate(map_values(transform_values(col("mp"), (_, v) => v * 2)),
          lit(0L), (a, x) => a + x).as("dbl_total"),
        size(map_keys(map_zip_with(col("mp"), col("mp"), (_, a, b) => a + b))).as("n_types"))

  /** Unpivot (melt): wide measure columns → long (measure, val) rows,
    * then aggregate per measure — the inverse of [[pivotCounts]].
    */
  def unpivotMeasures(s: SparkSession, d: String): DataFrame =
    Tables.lineitem(s, d)
      .select(col("l_orderkey"), col("l_linenumber"),
        col("l_quantity"), col("l_extendedprice"), col("l_discount"))
      .unpivot(
        Array(col("l_orderkey"), col("l_linenumber")),
        Array(col("l_quantity"), col("l_extendedprice"), col("l_discount")),
        "measure", "val")
      .groupBy("measure")
      .agg(count(lit(1)).as("n"), round(sum("val"), 2).as("sum_val"),
        round(avg("val"), 4).as("avg_val"))

  /** Top-3 orders per customer via the typed bounded-buffer
    * [[graft.functions.TopKAggregator]] (map-side mergeable — shuffles
    * ≤k rows per partition-group instead of sorting whole groups like
    * the window twin `topk_per_group`; same oracle SQL).
    */
  def topkAgg(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    Tables.orders(s, d)
      .select(col("o_custkey"), col("o_totalprice"), col("o_orderkey"))
      .as[(Long, Double, Long)]
      .groupByKey(_._1)
      .mapValues(r => (r._2, r._3))
      .agg(graft.functions.TopKAggregator.topK(3))
      .toDF("o_custkey", "top")
      .select(col("o_custkey"), posexplode(col("top")))
      .select(col("o_custkey"), col("col._2").as("o_orderkey"),
        round(col("col._1"), 2).as("price"),
        (col("pos") + 1).cast("int").as("rn"))
  }

  /** min_by/max_by and bit/bool aggregates. The argmin/argmax ordering
    * key is a fixed-width formatted string (price then orderkey) —
    * unique, so ties can't make the answer engine-dependent.
    */
  def aggMinmaxBy(s: SparkSession, d: String): DataFrame = {
    val okey = format_string("%020.2f-%010d", col("o_totalprice"), col("o_orderkey"))
    Tables.orders(s, d)
      .groupBy("o_orderstatus")
      .agg(
        min_by(col("o_orderkey"), okey).as("cheapest_order"),
        max_by(col("o_orderkey"), okey).as("priciest_order"),
        expr("bit_and(o_orderkey)").as("key_band"),
        expr("bit_or(o_orderkey)").as("key_bor"),
        expr("bit_xor(o_orderkey)").as("key_bxor"),
        expr("bool_and(o_totalprice > 100)").as("all_over_100"),
        expr("bool_or(o_totalprice > 100000)").as("any_over_100k"))
  }

  /** Higher-order array functions: exists/forall/zip_with plus
    * distinct-transform — expressed natively in Spark; the oracle uses
    * the semantically-equal list_filter/list_dot_product forms.
    */
  def scalarArray2(s: SparkSession, d: String): DataFrame = {
    val v = col("embedding").cast("array<double>")
    Tables.embeddings(s, d).select(
      col("vec_id"),
      exists(v, x => x > lit(2.0)).as("any_gt2"),
      forall(v, x => abs(x) < lit(100.0)).as("all_small"),
      size(filter(v, x => x > lit(1.0))).as("n_gt1"),
      round(aggregate(zip_with(v, reverse(v), (a, b) => a * b),
        lit(0.0), (acc, x) => acc + x), 6).as("dot_rev"),
      array_join(array_sort(array_distinct(
        transform(v, x => signum(x).cast("int")))), ",").as("signs"))
  }

  /** Distribution window functions over a unique total order. */
  def windowDist(s: SparkSession, d: String): DataFrame = {
    val w = Window.partitionBy("o_orderstatus")
      .orderBy(col("o_totalprice"), col("o_orderkey"))
    Tables.orders(s, d).select(
      col("o_orderstatus"), col("o_orderkey"),
      round(percent_rank().over(w), 6).as("pr"),
      round(cume_dist().over(w), 6).as("cd"),
      ntile(4).over(w).as("quartile"))
  }

  /** Encoding scalar functions: base64, hex, ascii, chr. */
  def encodings(s: SparkSession, d: String): DataFrame =
    Tables.part(s, d).select(
      col("p_partkey"),
      base64(encode(col("p_brand"), "UTF-8")).as("brand_b64"),
      hex(col("p_partkey")).as("key_hex"),
      ascii(col("p_name")).as("first_code"),
      chr(lit(65) + pmod(col("p_partkey"), lit(26))).as("key_chr"))

  /** Date arithmetic, second wave: day/month offsets (with month-end
    * clamping), last_day, day-of-week, ISO week. Everything emitted as
    * strings/ints so date-vs-timestamp physical types can't skew the
    * compare.
    */
  def scalarDate2(s: SparkSession, d: String): DataFrame =
    Tables.orders(s, d).select(
      col("o_orderkey"),
      date_format(date_add(col("o_orderdate"), 10), "yyyy-MM-dd").as("plus10d"),
      date_format(add_months(col("o_orderdate"), 1), "yyyy-MM-dd").as("plus1mo"),
      date_format(last_day(col("o_orderdate")), "yyyy-MM-dd").as("eom"),
      dayofweek(col("o_orderdate")).as("dow"),
      weekofyear(col("o_orderdate")).as("iso_week"))

  /** Date spine: continuous daily calendar over the events range,
    * zero-filling days with no events — the sequence/explode +
    * left-join pattern every time-series rollup needs (a groupBy alone
    * silently drops empty days).
    */
  def dateSpine(s: SparkSession, d: String): DataFrame = {
    val ev = Tables.events(s, d)
      .select(to_date(timestamp_micros(expr("ts DIV 1000"))).as("day"))
    val daily = ev.groupBy("day").agg(count(lit(1)).as("n_events"))
    val spine = ev.agg(min("day").as("d0"), max("day").as("d1"))
      .select(explode(sequence(col("d0"), col("d1"))).as("day"))
    spine.join(daily, Seq("day"), "left")
      .select(date_format(col("day"), "yyyy-MM-dd").as("day"),
        coalesce(col("n_events"), lit(0L)).as("n_events"))
  }

  /** Schema-d JSON parsing with from_json (vs json_extract's pathwise
    * string extraction): malformed docs become NULL structs, counted.
    */
  def jsonStruct(s: SparkSession, d: String): DataFrame =
    Tables.events(s, d)
      .select(col("event_type"),
        from_json(col("props"), lit("k BIGINT")).as("p"))
      .groupBy("event_type")
      .agg(sum(col("p.k")).as("k_sum"),
        count(when(col("p").isNotNull, 1)).as("n_parsed"))

  /** grouping()/grouping_id() disambiguate aggregate NULLs from data
    * NULLs in rollups — without them a NULL group key is ambiguous.
    */
  def rollupGrouping(s: SparkSession, d: String): DataFrame =
    Tables.orders(s, d)
      .rollup("o_orderstatus", "o_orderpriority")
      .agg(count(lit(1)).as("n"),
        grouping(col("o_orderstatus")).as("g_status"),
        grouping(col("o_orderpriority")).as("g_prio"),
        grouping_id().as("gid"))

  /** Error-safe try_* functions: NULL instead of job-killing exceptions
    * — on a 100 TB run one malformed row must not fail the stage.
    * Oracle expresses the same semantics with CASE/TRY_CAST.
    */
  def tryFuncs(s: SparkSession, d: String): DataFrame =
    Tables.orders(s, d).select(
      col("o_orderkey"),
      round(try_divide(col("o_totalprice"), pmod(col("o_orderkey"), lit(3))), 4).as("per_bucket"),
      try_element_at(split(col("o_orderpriority"), "-"), lit(2)).as("prio_word"),
      expr("try_cast(o_orderpriority AS INT)").as("prio_num"),
      expr("try_cast(substring(o_orderpriority, 1, 1) AS INT)").as("prio_digit"))

  /** Regex operator family: count, anchored extraction, boolean match. */
  def regexpOps(s: SparkSession, d: String): DataFrame =
    Tables.part(s, d).select(
      col("p_partkey"),
      regexp_count(col("p_type"), lit(" ")).as("n_spaces"),
      regexp_extract(col("p_type"), "^[A-Z]+", 0).as("first_word"),
      col("p_type").rlike("BRUSHED").as("is_brushed"),
      regexp_extract(col("p_name"), "([a-z]+)$", 1).as("last_lower"))

  /** SQL-standard linear-regression aggregates (per return flag):
    * slope/intercept/r² of extendedprice vs quantity. One hash-agg pass
    * (all six are algebraic — partial+final power sums).
    */
  def aggRegr(s: SparkSession, d: String): DataFrame =
    Tables.lineitem(s, d)
      .groupBy("l_returnflag")
      .agg(
        round(expr("regr_slope(l_extendedprice, l_quantity)"), 4).as("slope"),
        round(expr("regr_intercept(l_extendedprice, l_quantity)"), 4).as("icept"),
        round(expr("regr_r2(l_extendedprice, l_quantity)"), 6).as("r2"),
        expr("regr_count(l_extendedprice, l_quantity)").as("n"),
        round(expr("regr_avgx(l_extendedprice, l_quantity)"), 4).as("avg_qty"),
        round(expr("regr_avgy(l_extendedprice, l_quantity)"), 4).as("avg_price"))

  /** Fixed-width histogram via width_bucket: 20 buckets over
    * [0, 500000); bucket 21 = overflow. A single map-side-combined agg
    * — the scalable shape for distribution profiling (vs sorting).
    */
  def histogramBucket(s: SparkSession, d: String): DataFrame =
    Tables.orders(s, d)
      .groupBy(width_bucket(col("o_totalprice"), lit(0d), lit(500000d), lit(20)).as("bucket"))
      .agg(count(lit(1)).as("n"), round(sum("o_totalprice"), 2).as("total"))

  /** Equi-DEPTH histogram via ntile: deciles of event value per type —
    * the complement of [[histogramBucket]]'s equi-width form (fixed
    * count per bucket, data-dependent edges: what a quantile-gated
    * filter or an equi-depth file-layout pass consumes). The (value,
    * event_id) order key is a total order, so tile membership — and
    * hence every aggregate — is deterministic despite duplicate
    * values.
    *
    * Scale shape: a per-type window would put EACH event type's whole
    * population on one core (types are few, populations are huge).
    * Instead: ONE range-partitioned global sort on (type, value, id)
    * (ScalableRank.rowNumber), per-type offsets from a prefix-sum over
    * the \|types\|-cell count frame, per-type rank = global − offset,
    * and the closed-form NTILE — hash-identical to the window form.
    */
  def ntileHist(s: SparkSession, d: String): DataFrame = {
    val ev = Tables.events(s, d)
      .select(col("event_type"), col("value"), col("event_id"))
    val counts = ev.groupBy("event_type").agg(count(lit(1)).as("n_g"))
    val offs = graft.core.ScalableRank
      .prefixSum(counts, "n_g", "cum_g", col("event_type").asc)
      .select(col("event_type"), col("n_g"),
        (col("cum_g") - col("n_g")).as("off"))
    graft.core.ScalableRank
      .rowNumber(ev, "grn",
        col("event_type").asc, col("value").asc, col("event_id").asc)
      .join(broadcast(offs), "event_type")
      .withColumn("rn", col("grn") - col("off"))
      .withColumn("q",
        graft.core.ScalableRank.ntileExpr("rn", "n_g", 10).cast("int"))
      .groupBy("event_type", "q")
      .agg(count(lit(1)).as("n"),
        round(min("value"), 6).as("lo"), round(max("value"), 6).as("hi"))
  }

  /** Ordered string aggregation (listagg WITHIN GROUP): nation roster
    * per region — deterministic via the explicit ORDER BY.
    */
  def aggListagg(s: SparkSession, d: String): DataFrame =
    Tables.nation(s, d)
      .join(broadcast(Tables.region(s, d)), col("n_regionkey") === col("r_regionkey"))
      .groupBy("r_name")
      .agg(expr("listagg(n_name, ',') WITHIN GROUP (ORDER BY n_name)").as("nations"),
        count(lit(1)).as("n_nations"))

  /** LATERAL correlated subquery with LIMIT (top-2 customers by
    * balance per nation): Catalyst decorrelates it into a
    * window/limit-per-key plan — no per-row re-execution — while the
    * SQL surface stays the standard LATERAL form.
    */
  def joinLateral(s: SparkSession, d: String): DataFrame = {
    Tables.nation(s, d).createOrReplaceTempView("nation_v")
    Tables.customer(s, d).createOrReplaceTempView("customer_v")
    s.sql("""
      SELECT n_name, c.c_name, c.c_acctbal
      FROM nation_v, LATERAL (
        SELECT c_name, c_acctbal FROM customer_v
        WHERE c_nationkey = n_nationkey
        ORDER BY c_acctbal DESC, c_name LIMIT 2) c""")
  }

  /** Null-safe equality join (`<=>` ≡ IS NOT DISTINCT FROM): NULL keys
    * match each other — the semantics a plain equi-join silently drops.
    * Keys are synthesized NULLs (nullif) since the base tables are
    * fully populated; the 'P' status rows survive only via NULL<=>NULL.
    */
  def joinNullsafe(s: SparkSession, d: String): DataFrame = {
    val l = Tables.orders(s, d)
      .select(col("o_orderkey"), expr("nullif(o_orderstatus, 'P')").as("k")).as("l")
    val r = Tables.orders(s, d)
      .select(expr("nullif(o_orderstatus, 'P')").as("k")).distinct()
      .select(col("k"), coalesce(col("k"), lit("PENDING")).as("tag")).as("r")
    l.join(r, col("l.k") <=> col("r.k"))
      .groupBy("tag")
      .agg(count(lit(1)).as("n"), min("o_orderkey").as("min_key"))
  }

  /** Recursive CTE (Spark 4 UnionLoop): ancestor chains over a
    * synthetic parent edge (key → key-5), rolled up per root. The
    * anchor/recursive-step SQL is engine-portable; Spark executes the
    * loop as iterated distributed joins, driven by the engine itself
    * ([[Cluster.clustersOf]] runs its own fixpoint instead, and only
    * for graphs over Spark's broadcast threshold).
    */
  def recursiveCte(s: SparkSession, d: String): DataFrame = {
    Tables.nation(s, d).createOrReplaceTempView("nation_r")
    s.sql("""
      WITH RECURSIVE anc(key, root, depth) AS (
        SELECT n_nationkey, n_nationkey, 0 FROM nation_r WHERE n_nationkey < 5
        UNION ALL
        SELECT n.n_nationkey, a.root, a.depth + 1
        FROM nation_r n JOIN anc a ON a.key = n.n_nationkey - 5)
      SELECT root, count(*) AS n_members, max(depth) AS max_depth
      FROM anc GROUP BY root""")
  }

  /** Blocked ENTITY RESOLUTION over part names: candidate pairs come
    * from an equi-join on a blocking key (the name's last word — the
    * "entity type"), then fuzzy-match by edit distance ≤ 2
    * (`cold gear` ↔ `old gear`). The two-step is the standard ER
    * recipe: blocking turns the O(n²) all-pairs comparison into
    * within-block pairs, and the match predicate runs only on
    * candidates.
    *
    * Scale design: the pair space is over DISTINCT names, not rows —
    * the first aggregation collapses any corpus to its name
    * vocabulary (bounded by the domain, not the data), carrying
    * per-name row counts and canonical ids; the blocked self-join
    * then runs on vocabulary cardinality. At 100 TB the collapse is
    * one partial-agg'd shuffle and everything after is tiny.
    */
  def erBlock(s: SparkSession, d: String): DataFrame = {
    val names = Tables.part(s, d)
      .groupBy("p_name")
      .agg(count(lit(1)).as("n_parts"), min("p_partkey").as("canon_key"))
      .withColumn("block", element_at(split(col("p_name"), " "), -1))
    val a = names.select(col("p_name").as("name_a"), col("n_parts").as("n_a"),
      col("canon_key").as("canon_a"), col("block"))
    val b = names.select(col("p_name").as("name_b"), col("n_parts").as("n_b"),
      col("canon_key").as("canon_b"), col("block"))
    a.join(b, "block")
      .filter(col("name_a") < col("name_b") &&
        levenshtein(col("name_a"), col("name_b")) <= 2)
      .select(col("name_a"), col("name_b"),
        levenshtein(col("name_a"), col("name_b")).as("dist"),
        col("n_a"), col("n_b"), col("canon_a"), col("canon_b"))
  }

  /** Character-trigram FUZZY search (the pg_trgm recipe): typo'd
    * query strings retrieve their nearest catalog names through a
    * trigram inverted index + set-similarity ranking. Queries are
    * the first 5 part names each with its 2nd character deleted
    * (`cold gear` → `cld gear`); candidates share ≥ 1 trigram with
    * the query, score = Jaccard over distinct trigram sets, top-3
    * per query by (sim desc, name).
    *
    * Complements [[erBlock]]: blocking needs a clean blocking key;
    * the trigram index recovers matches when the ERROR IS IN the
    * would-be key. Scale: the name side collapses to DISTINCT names
    * first (vocabulary-bounded, er_block's law); the index is
    * trigram-linear over that vocabulary; the candidate join is
    * |postings(query trigrams)| with the tiny query side broadcast.
    * Jaccard on integer counts; scores floor-rounded at 1e-4.
    */
  def searchTrigram(s: SparkSession, d: String): DataFrame = {
    val tri = (c: Column) =>
      array_distinct(transform(sequence(lit(1), length(c) - 2),
        i => c.substr(i, lit(3))))
    val names = Tables.part(s, d)
      .groupBy("p_name").agg(count(lit(1)).as("n_parts"))
      .filter(length(col("p_name")) >= 3)
      .select(col("p_name"), col("n_parts"), tri(col("p_name")).as("tg"))
    val queries5 = Tables.part(s, d)
      .filter(col("p_partkey") < 5)
      .select(col("p_partkey").as("query_id"),
        concat(substring(col("p_name"), 1, 1), expr("substring(p_name, 3)"))
          .as("q"))
      .select(col("query_id"), col("q"), tri(col("q")).as("qt"))
      .select(col("query_id"), col("q"), col("qt"), size(col("qt")).as("nq"))
    val postings = names.select(col("p_name"), col("n_parts"),
      size(col("tg")).as("nn"), explode(col("tg")).as("t"))
    val qpost = queries5.select(col("query_id"), col("q"), col("nq"),
      explode(col("qt")).as("t"))
    val scored = postings.join(broadcast(qpost), "t")
      .groupBy("query_id", "q", "p_name", "n_parts", "nq", "nn")
      .agg(count(lit(1)).as("common"))
      .select(col("query_id"), col("q"), col("p_name"), col("n_parts"),
        (floor(col("common").cast("double") /
          (col("nq") + col("nn") - col("common")) * 10000 + 0.5) / 10000.0)
          .as("sim"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("query_id").orderBy(col("sim").desc, col("p_name"))
    scored.withColumn("rk", row_number().over(w).cast("int"))
      .filter(col("rk") <= 3)
      .select(col("query_id"), col("q"), col("rk"), col("p_name"),
        col("n_parts"), col("sim"))
  }

  /** Entity resolution END-TO-END: [[erBlock]]'s fuzzy candidate
    * pairs → connected components → one canonical ENTITY ID per part
    * name — the deliverable an MDM/catalog pipeline actually ships
    * (er_block reports the pairs; this materializes the resolution).
    * Nodes are the per-name canonical part keys, so the CC runs on
    * vocabulary cardinality; unmatched names resolve to themselves.
    * Entity id = the component's min canonical key (the same min-label
    * convention as dedup_cluster).
    */
  def erResolve(s: SparkSession, d: String): DataFrame = {
    val names = Tables.part(s, d)
      .groupBy("p_name")
      .agg(count(lit(1)).as("n_parts"), min("p_partkey").as("canon_key"))
    // clustersOf reads the blocked levenshtein pairs once
    val lab = Cluster.clustersOf(erBlock(s, d)
      .select(col("canon_a").as("doc_a"), col("canon_b").as("doc_b")))
      .select(col("doc_id").as("canon_key"), col("cluster_id"))
    // `resolved` is self-joined with its own entity-size aggregate —
    // without a cut, the names⋈labels subtree plans and executes TWICE
    // per run. It is vocabulary-bounded (|distinct p_name| rows, three
    // narrow columns), so one stable materialization is cheap and the
    // final join plans over a single Scan ExistingRDD leaf.
    val resolved = graft.core.Checkpoints.stable(
      names.join(lab, Seq("canon_key"), "left")
        .select(col("p_name"), col("n_parts"),
          coalesce(col("cluster_id"), col("canon_key")).as("entity_id")))
    val sizes = resolved.groupBy("entity_id")
      .agg(count(lit(1)).as("n_names"), sum("n_parts").as("n_parts_total"))
    resolved.join(sizes, "entity_id")
      .select(col("p_name"), col("entity_id"), col("n_parts"),
        col("n_names"), col("n_parts_total"))
  }

  /** 2D skyline (Pareto frontier; Börzsönyi et al. ICDE'01): the parts
    * no other part dominates — here minimize p_retailprice, maximize
    * p_size (cheapest-for-the-size frontier). The textbook operator is
    * a quadratic self-anti-join; in 2D it collapses to a SORT + RUNNING
    * MAX: a cell (price, size) is dominated iff a strictly cheaper
    * price level reaches ≥ its size, or its own price level contains a
    * strictly larger size.
    *
    * Scale: rows collapse to distinct (price, size) cells first (the
    * window input is cell-bounded — the price domain is fixed-width
    * cents, so cells ≤ \|price domain\| × \|size domain\| at any SF);
    * the running max runs over per-price maxima, \|distinct prices\|
    * rows. Output is the surviving parts re-joined by cell.
    */
  def skyline2d(s: SparkSession, d: String): DataFrame = {
    val p = Tables.part(s, d)
      .select(col("p_partkey"), col("p_retailprice"), col("p_size"))
    val cells = p.groupBy("p_retailprice", "p_size")
      .agg(count(lit(1)).as("n_parts"))
    val perPrice = cells.groupBy("p_retailprice")
      .agg(max("p_size").as("pmax"))
    val prevW = Window.orderBy("p_retailprice")
      .rowsBetween(Window.unboundedPreceding, -1)
    val withPrev = perPrice
      .withColumn("best_cheaper", max("pmax").over(prevW))
    val sky = cells.join(withPrev, "p_retailprice")
      .filter(
        (col("best_cheaper").isNull || col("best_cheaper") < col("p_size")) &&
          col("p_size") === col("pmax"))
      .select(col("p_retailprice"), col("p_size"), col("n_parts"))
    p.join(sky, Seq("p_retailprice", "p_size"))
      .select(col("p_partkey"), col("p_retailprice"), col("p_size"))
  }

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "skyline_2d" -> skyline2d,
    "er_resolve" -> erResolve,
    "search_trigram" -> searchTrigram,
    "er_block" -> erBlock,
    "agg_regr" -> aggRegr,
    "join_lateral" -> joinLateral,
    "join_nullsafe" -> joinNullsafe,
    "recursive_cte" -> recursiveCte,
    "histogram_bucket" -> histogramBucket,
    "ntile_hist" -> ntileHist,
    "agg_listagg" -> aggListagg,
    "regexp_ops" -> regexpOps,
    "try_funcs" -> tryFuncs,
    "rollup_grouping" -> rollupGrouping,
    "scalar_date2" -> scalarDate2,
    "date_spine" -> dateSpine,
    "json_struct" -> jsonStruct,
    "scalar_array2" -> scalarArray2,
    "window_dist" -> windowDist,
    "encodings" -> encodings,
    "agg_minmax_by" -> aggMinmaxBy,
    "topk_agg" -> topkAgg,
    "unpivot_measures" -> unpivotMeasures,
    "nested_struct" -> nestedStruct,
    "map_funcs" -> mapFuncs,
    "map_hof" -> mapHof,
    "join_full" -> joinFull,
    "join_cross" -> joinCross,
    "scalar_string2" -> scalarString2,
    "null_handling" -> nullHandling,
    "grouping_sets" -> groupingSets,
    "stats_agg" -> statsAgg,
    "pivot_counts" -> pivotCounts,
    "scalar_array" -> scalarArray,
    "subquery_corr" -> subqueryCorr,
    "window_range" -> windowRange,
    "window_nav" -> windowNav)

  def oracleSql: Map[String, String] = Map(
    "skyline_2d" ->
      """WITH cells AS (
        |  SELECT p_retailprice, p_size, count(*) AS n_parts
        |  FROM part GROUP BY 1, 2),
        |per_price AS (
        |  SELECT p_retailprice, max(p_size) AS pmax FROM cells GROUP BY 1),
        |with_prev AS (
        |  SELECT p_retailprice, pmax,
        |    max(pmax) OVER (ORDER BY p_retailprice
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS best_cheaper
        |  FROM per_price),
        |sky AS (
        |  SELECT c.p_retailprice, c.p_size
        |  FROM cells c JOIN with_prev w USING (p_retailprice)
        |  WHERE (w.best_cheaper IS NULL OR w.best_cheaper < c.p_size)
        |    AND c.p_size = w.pmax)
        |SELECT p_partkey, p_retailprice, p_size
        |FROM part JOIN sky USING (p_retailprice, p_size)""".stripMargin,
    "er_resolve" ->
      """WITH RECURSIVE names AS (
        |  SELECT p_name, count(*) AS n_parts, min(p_partkey) AS canon_key,
        |    split_part(p_name, ' ', -1) AS block
        |  FROM part GROUP BY p_name),
        |scored AS (
        |  SELECT a.canon_key AS doc_a, b.canon_key AS doc_b
        |  FROM names a JOIN names b
        |    ON a.block = b.block AND a.p_name < b.p_name
        |   AND levenshtein(a.p_name, b.p_name) <= 2),
        |e AS (SELECT doc_a AS src, doc_b AS dst FROM scored
        |      UNION ALL SELECT doc_b, doc_a FROM scored),
        |cc AS (
        |  SELECT DISTINCT src AS node, src AS label FROM e
        |  UNION
        |  SELECT e.dst AS node, cc.label FROM cc JOIN e ON e.src = cc.node),
        |lab AS (SELECT node, min(label) AS cluster_id FROM cc GROUP BY node),
        |resolved AS (
        |  SELECT n.p_name, n.n_parts,
        |    coalesce(l.cluster_id, n.canon_key) AS entity_id
        |  FROM names n LEFT JOIN lab l ON l.node = n.canon_key),
        |sz AS (SELECT entity_id, count(*) AS n_names,
        |         CAST(sum(n_parts) AS BIGINT) AS n_parts_total
        |       FROM resolved GROUP BY 1)
        |SELECT r.p_name, r.entity_id, r.n_parts, s.n_names, s.n_parts_total
        |FROM resolved r JOIN sz s USING (entity_id)""".stripMargin,
    "search_trigram" ->
      """WITH names AS (
        |  SELECT p_name, count(*) AS n_parts FROM part
        |  GROUP BY 1 HAVING length(p_name) >= 3),
        |ntg AS (SELECT p_name, n_parts,
        |  list_distinct(list_transform(generate_series(1, length(p_name) - 2),
        |    i -> substr(p_name, i, 3))) AS tg
        |  FROM names),
        |q AS (SELECT p_partkey AS query_id,
        |        substr(p_name, 1, 1) || substr(p_name, 3) AS q
        |      FROM part WHERE p_partkey < 5),
        |qtg AS (SELECT query_id, q,
        |  list_distinct(list_transform(generate_series(1, length(q) - 2),
        |    i -> substr(q, i, 3))) AS qt
        |  FROM q),
        |qp AS (SELECT query_id, q, len(qt) AS nq, unnest(qt) AS t FROM qtg),
        |np AS (SELECT p_name, n_parts, len(tg) AS nn, unnest(tg) AS t FROM ntg),
        |sc AS (SELECT qp.query_id, qp.q, np.p_name, np.n_parts,
        |  floor(CAST(count(*) AS DOUBLE) / (qp.nq + np.nn - count(*))
        |    * 10000 + 0.5) / 10000.0 AS sim
        |  FROM np JOIN qp USING (t)
        |  GROUP BY qp.query_id, qp.q, np.p_name, np.n_parts, qp.nq, np.nn),
        |rk AS (SELECT *, row_number() OVER (PARTITION BY query_id
        |         ORDER BY sim DESC, p_name) AS rk FROM sc)
        |SELECT query_id, q, CAST(rk AS INTEGER) AS rk, p_name, n_parts, sim
        |FROM rk WHERE rk <= 3""".stripMargin,
    "er_block" ->
      """WITH names AS (
        |  SELECT p_name, count(*) AS n_parts, min(p_partkey) AS canon_key,
        |    split_part(p_name, ' ', -1) AS block
        |  FROM part GROUP BY p_name)
        |SELECT a.p_name AS name_a, b.p_name AS name_b,
        |  CAST(levenshtein(a.p_name, b.p_name) AS INTEGER) AS dist,
        |  a.n_parts AS n_a, b.n_parts AS n_b,
        |  a.canon_key AS canon_a, b.canon_key AS canon_b
        |FROM names a JOIN names b
        |  ON a.block = b.block AND a.p_name < b.p_name
        | AND levenshtein(a.p_name, b.p_name) <= 2""".stripMargin,
    "map_hof" ->
      """WITH c AS (SELECT user_id, event_type, count(*) AS cnt
        |           FROM events GROUP BY 1, 2)
        |SELECT user_id,
        |  CAST(sum(CASE WHEN cnt > 1 THEN 1 ELSE 0 END) AS INTEGER) AS n_repeat,
        |  CAST(2 * sum(cnt) AS BIGINT) AS dbl_total,
        |  CAST(count(*) AS INTEGER) AS n_types
        |FROM c GROUP BY user_id""".stripMargin,
    "recursive_cte" ->
      """WITH RECURSIVE anc(key, root, depth) AS (
        |  SELECT n_nationkey, n_nationkey, 0 FROM nation WHERE n_nationkey < 5
        |  UNION ALL
        |  SELECT n.n_nationkey, a.root, a.depth + 1
        |  FROM nation n JOIN anc a ON a.key = n.n_nationkey - 5)
        |SELECT root, count(*) AS n_members,
        |  CAST(max(depth) AS INTEGER) AS max_depth
        |FROM anc GROUP BY root""".stripMargin,
    "join_nullsafe" ->
      """WITH l AS (SELECT o_orderkey, nullif(o_orderstatus, 'P') AS k FROM orders),
        |r AS (SELECT k, coalesce(k, 'PENDING') AS tag
        |      FROM (SELECT DISTINCT nullif(o_orderstatus, 'P') AS k FROM orders))
        |SELECT tag, count(*) AS n, min(o_orderkey) AS min_key
        |FROM l JOIN r ON l.k IS NOT DISTINCT FROM r.k
        |GROUP BY tag""".stripMargin,
    "join_lateral" ->
      """SELECT n_name, c.c_name, c.c_acctbal
        |FROM nation, LATERAL (
        |  SELECT c_name, c_acctbal FROM customer
        |  WHERE c_nationkey = n_nationkey
        |  ORDER BY c_acctbal DESC, c_name LIMIT 2) c""".stripMargin,
    "agg_regr" ->
      """SELECT l_returnflag,
        |  round(regr_slope(l_extendedprice, l_quantity), 4) AS slope,
        |  round(regr_intercept(l_extendedprice, l_quantity), 4) AS icept,
        |  round(regr_r2(l_extendedprice, l_quantity), 6) AS r2,
        |  CAST(regr_count(l_extendedprice, l_quantity) AS BIGINT) AS n,
        |  round(regr_avgx(l_extendedprice, l_quantity), 4) AS avg_qty,
        |  round(regr_avgy(l_extendedprice, l_quantity), 4) AS avg_price
        |FROM lineitem GROUP BY l_returnflag""".stripMargin,
    "histogram_bucket" ->
      """SELECT CASE WHEN o_totalprice < 0 THEN 0
        |            WHEN o_totalprice >= 500000 THEN 21
        |            ELSE CAST(floor(o_totalprice / 25000) AS BIGINT) + 1 END AS bucket,
        |  count(*) AS n, round(sum(o_totalprice), 2) AS total
        |FROM orders GROUP BY 1""".stripMargin,
    "ntile_hist" ->
      """WITH q AS (
        |  SELECT event_type, value,
        |    ntile(10) OVER (PARTITION BY event_type
        |                    ORDER BY value, event_id) AS q
        |  FROM events)
        |SELECT event_type, CAST(q AS INTEGER) AS q, count(*) AS n,
        |  round(min(value), 6) AS lo, round(max(value), 6) AS hi
        |FROM q GROUP BY 1, 2""".stripMargin,
    "agg_listagg" ->
      """SELECT r_name, string_agg(n_name, ',' ORDER BY n_name) AS nations,
        |  count(*) AS n_nations
        |FROM nation JOIN region ON n_regionkey = r_regionkey
        |GROUP BY r_name""".stripMargin,
    "regexp_ops" ->
      """SELECT p_partkey,
        |  CAST(len(regexp_extract_all(p_type, ' ')) AS INTEGER) AS n_spaces,
        |  regexp_extract(p_type, '^[A-Z]+') AS first_word,
        |  regexp_matches(p_type, 'BRUSHED') AS is_brushed,
        |  regexp_extract(p_name, '([a-z]+)$', 1) AS last_lower
        |FROM part""".stripMargin,
    "try_funcs" ->
      """SELECT o_orderkey,
        |  round(CASE WHEN o_orderkey % 3 = 0 THEN NULL
        |             ELSE o_totalprice / (o_orderkey % 3) END, 4) AS per_bucket,
        |  string_split(o_orderpriority, '-')[2] AS prio_word,
        |  TRY_CAST(o_orderpriority AS INT) AS prio_num,
        |  TRY_CAST(substring(o_orderpriority, 1, 1) AS INT) AS prio_digit
        |FROM orders""".stripMargin,
    "rollup_grouping" ->
      """SELECT o_orderstatus, o_orderpriority, count(*) AS n,
        |  CAST(grouping(o_orderstatus) AS TINYINT) AS g_status,
        |  CAST(grouping(o_orderpriority) AS TINYINT) AS g_prio,
        |  CAST(grouping(o_orderstatus) * 2 + grouping(o_orderpriority) AS BIGINT) AS gid
        |FROM orders GROUP BY ROLLUP(o_orderstatus, o_orderpriority)""".stripMargin,
    "scalar_date2" ->
      """SELECT o_orderkey,
        |  strftime(CAST(o_orderdate AS DATE) + 10, '%Y-%m-%d') AS plus10d,
        |  strftime(CAST(CAST(o_orderdate AS DATE) + INTERVAL 1 MONTH AS DATE), '%Y-%m-%d') AS plus1mo,
        |  strftime(last_day(CAST(o_orderdate AS DATE)), '%Y-%m-%d') AS eom,
        |  CAST(dayofweek(CAST(o_orderdate AS DATE)) + 1 AS INTEGER) AS dow,
        |  CAST(weekofyear(CAST(o_orderdate AS DATE)) AS INTEGER) AS iso_week
        |FROM orders""".stripMargin,
    "date_spine" ->
      """WITH b AS (SELECT min(CAST(ts AS DATE)) AS d0, max(CAST(ts AS DATE)) AS d1 FROM events),
        |spine AS (SELECT unnest(generate_series(d0, d1, INTERVAL 1 DAY)) AS day FROM b),
        |daily AS (SELECT CAST(ts AS DATE) AS day, count(*) AS n_events FROM events GROUP BY 1)
        |SELECT strftime(CAST(s.day AS DATE), '%Y-%m-%d') AS day,
        |  coalesce(d.n_events, 0) AS n_events
        |FROM spine s LEFT JOIN daily d ON CAST(s.day AS DATE) = d.day""".stripMargin,
    "json_struct" ->
      """SELECT event_type,
        |  CAST(sum(CAST(json_extract_string(props, '$.k') AS BIGINT)) AS BIGINT) AS k_sum,
        |  count(*) FILTER (WHERE json_valid(props)) AS n_parsed
        |FROM events GROUP BY event_type""".stripMargin,
    "scalar_array2" ->
      """WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings)
        |SELECT vec_id,
        |  len(list_filter(v, x -> x > 2.0)) > 0 AS any_gt2,
        |  len(list_filter(v, x -> abs(x) < 100.0)) = len(v) AS all_small,
        |  CAST(len(list_filter(v, x -> x > 1.0)) AS INTEGER) AS n_gt1,
        |  round(list_dot_product(v, list_reverse(v)), 6) AS dot_rev,
        |  array_to_string(list_sort(list_distinct(
        |    list_transform(v, x -> CAST(sign(x) AS INTEGER)))), ',') AS signs
        |FROM e""".stripMargin,
    "window_dist" ->
      """SELECT o_orderstatus, o_orderkey,
        |  round(percent_rank() OVER w, 6) AS pr,
        |  round(cume_dist() OVER w, 6) AS cd,
        |  CAST(ntile(4) OVER w AS INTEGER) AS quartile
        |FROM orders
        |WINDOW w AS (PARTITION BY o_orderstatus ORDER BY o_totalprice, o_orderkey)""".stripMargin,
    "encodings" ->
      """SELECT p_partkey,
        |  base64(encode(p_brand)) AS brand_b64,
        |  hex(p_partkey) AS key_hex,
        |  CAST(ascii(p_name) AS INTEGER) AS first_code,
        |  chr(CAST(65 + p_partkey % 26 AS INTEGER)) AS key_chr
        |FROM part""".stripMargin,
    "agg_minmax_by" ->
      """SELECT o_orderstatus,
        |  arg_min(o_orderkey, printf('%020.2f-%010d', o_totalprice, o_orderkey)) AS cheapest_order,
        |  arg_max(o_orderkey, printf('%020.2f-%010d', o_totalprice, o_orderkey)) AS priciest_order,
        |  bit_and(o_orderkey) AS key_band,
        |  bit_or(o_orderkey) AS key_bor,
        |  bit_xor(o_orderkey) AS key_bxor,
        |  bool_and(o_totalprice > 100) AS all_over_100,
        |  bool_or(o_totalprice > 100000) AS any_over_100k
        |FROM orders GROUP BY o_orderstatus""".stripMargin,
    "topk_agg" ->
      """SELECT o_custkey, o_orderkey, price, rn FROM (
        |  SELECT o_custkey, o_orderkey, round(o_totalprice, 2) AS price,
        |    CAST(row_number() OVER (PARTITION BY o_custkey
        |      ORDER BY o_totalprice DESC, o_orderkey) AS INTEGER) AS rn
        |  FROM orders) WHERE rn <= 3""".stripMargin,
    "unpivot_measures" ->
      """SELECT measure, count(*) AS n, round(sum(val), 2) AS sum_val,
        |  round(avg(val), 4) AS avg_val
        |FROM (
        |  SELECT 'l_quantity' AS measure, l_quantity AS val FROM lineitem
        |  UNION ALL SELECT 'l_extendedprice', l_extendedprice FROM lineitem
        |  UNION ALL SELECT 'l_discount', l_discount FROM lineitem)
        |GROUP BY measure""".stripMargin,
    "nested_struct" ->
      """SELECT user_id, CAST(rn AS INTEGER) AS seq, ts_s, event_type,
        |  round(value, 2) AS value
        |FROM (
        |  SELECT user_id,
        |    CAST(floor(epoch(CAST(ts AS TIMESTAMP))) AS BIGINT) AS ts_s,
        |    event_type, value,
        |    row_number() OVER (PARTITION BY user_id ORDER BY ts, event_id) AS rn
        |  FROM events)
        |WHERE rn <= 3""".stripMargin,
    "map_funcs" ->
      """SELECT user_id,
        |  CAST(count(DISTINCT event_type) AS INTEGER) AS n_types,
        |  count(*) FILTER (WHERE event_type = 'click') AS n_click,
        |  count(*) FILTER (WHERE event_type = 'purchase') AS n_purchase
        |FROM events GROUP BY user_id""".stripMargin,
    "join_full" ->
      """WITH agg AS (
        |  SELECT o_custkey, count(*) AS n_orders,
        |    round(sum(o_totalprice), 2) AS sum_price
        |  FROM orders GROUP BY o_custkey)
        |SELECT coalesce(c_custkey, o_custkey) AS custkey, c_name,
        |  coalesce(n_orders, 0) AS n_orders, sum_price
        |FROM customer FULL OUTER JOIN agg ON c_custkey = o_custkey""".stripMargin,
    "join_cross" ->
      "SELECT n_name, r_name FROM nation CROSS JOIN region",
    "scalar_string2" ->
      """SELECT p_partkey,
        |  regexp_extract(p_brand, '#(\d+)', 1) AS brand_num,
        |  CAST(levenshtein(p_brand, p_type) AS INTEGER) AS lev,
        |  lpad(CAST(p_partkey AS VARCHAR), 10, '0') AS padded,
        |  split_part(p_type, ' ', 1) AS type_head,
        |  translate(p_brand, '#', '-') AS dashed,
        |  repeat(p_brand, 2) AS brand2,
        |  substr(p_name, 1, 3) AS left3,
        |  CAST(instr(p_type, 'BRUSHED') AS INTEGER) AS pos_brushed,
        |  md5(p_brand) AS brand_md5
        |FROM part""".stripMargin,
    "null_handling" ->
      """SELECT o_orderkey,
        |  nullif(o_orderstatus, 'O') AS non_open,
        |  coalesce(nullif(o_orderstatus, 'O'), 'OPEN') AS status_or_open,
        |  CASE WHEN nullif(o_orderstatus, 'O') IS NULL THEN 0 ELSE 1 END AS closed_flag,
        |  ifnull(nullif(o_orderpriority, o_orderpriority), 'same') AS always_same
        |FROM orders""".stripMargin,
    "grouping_sets" ->
      """SELECT o_orderstatus, o_orderpriority,
        |  count(*) AS n, round(sum(o_totalprice), 2) AS sum_price
        |FROM orders
        |GROUP BY GROUPING SETS ((o_orderstatus), (o_orderpriority), ())""".stripMargin,
    "stats_agg" ->
      """WITH m AS (
        |  SELECT l_returnflag, count(*) AS n,
        |    quantile_cont(l_quantity, 0.5) AS med,
        |    quantile_cont(l_extendedprice, 0.25) AS p25,
        |    quantile_cont(l_extendedprice, 0.75) AS p75,
        |    sum(l_quantity) AS sq, sum(l_quantity * l_quantity) AS sqq,
        |    sum(l_extendedprice) AS sp, sum(l_extendedprice * l_extendedprice) AS spp,
        |    sum(l_quantity * l_extendedprice) AS sqp
        |  FROM lineitem GROUP BY l_returnflag)
        |SELECT l_returnflag, n,
        |  round(med, 4) AS median_qty, round(p25, 4) AS p25_price, round(p75, 4) AS p75_price,
        |  round(sqrt((sqq - sq * sq / n) / (n - 1)), 4) AS sd_qty,
        |  round((n * sqp - sq * sp) /
        |        (sqrt(n * sqq - sq * sq) * sqrt(n * spp - sp * sp)), 4) AS corr_qp
        |FROM m""".stripMargin,
    "pivot_counts" ->
      """SELECT lang,
        |  count(*) FILTER (WHERE source = 'src0') AS src0,
        |  count(*) FILTER (WHERE source = 'src1') AS src1,
        |  count(*) FILTER (WHERE source = 'src2') AS src2
        |FROM documents GROUP BY lang""".stripMargin,
    "scalar_array" ->
      """WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings)
        |SELECT vec_id,
        |  CAST(len(v) AS INTEGER) AS dim,
        |  round(v[1], 6) AS first_val,
        |  round(list_max(v), 6) AS max_val,
        |  round(list_min(v), 6) AS min_val,
        |  round(list_sum(v), 6) AS sum_val,
        |  round(list_sort(v)[32], 6) AS sorted_mid,
        |  CAST(len(list_filter(v, x -> x > 0)) AS INTEGER) AS n_pos
        |FROM e""".stripMargin,
    "subquery_corr" ->
      """SELECT o.o_orderkey, o.o_custkey, round(o.o_totalprice, 2) AS price
        |FROM orders o
        |WHERE o.o_totalprice > 1.5 * (
        |  SELECT avg(i.o_totalprice) FROM orders i
        |  WHERE i.o_custkey = o.o_custkey)""".stripMargin,
    "window_range" ->
      """SELECT o_custkey, o_orderkey,
        |  CAST(date_diff('day', DATE '1995-01-01', CAST(o_orderdate AS DATE)) AS INTEGER) AS day_no,
        |  round(sum(o_totalprice) OVER (
        |    PARTITION BY o_custkey
        |    ORDER BY date_diff('day', DATE '1995-01-01', CAST(o_orderdate AS DATE))
        |    RANGE BETWEEN 30 PRECEDING AND CURRENT ROW), 2) AS rev_30d
        |FROM orders""".stripMargin,
    "window_nav" ->
      """SELECT o_custkey, o_orderkey,
        |  lead(o_orderkey, 1) OVER w AS next_order,
        |  first_value(o_orderkey) OVER wf AS first_order,
        |  last_value(o_orderkey) OVER wf AS last_order,
        |  nth_value(o_orderkey, 2) OVER wf AS second_order
        |FROM orders
        |WINDOW w AS (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey),
        |  wf AS (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
        |         ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING)""".stripMargin)
}
