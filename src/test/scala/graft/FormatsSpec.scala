package graft

import org.apache.spark.sql.functions._
import graft.core.Tables
import graft.queries.Skew
import graft.sources.Formats

/** Source/sink round-trips and the salted join: text formats must be
  * lossless for the exercised columns, partition pruning must reach
  * the file index, and salting must not change join results.
  */
class FormatsSpec extends SparkSuite {

  test("csv round-trip aggregate equals direct parquet aggregate") {
    val viaCsv = Formats.csvRoundtrip(spark, sfDir).collect()
      .map(r => (r.getString(0), r.getString(1)) -> (r.getLong(2), r.getDouble(3))).toMap
    val direct = Tables.orders(spark, sfDir)
      .groupBy("o_orderstatus", "o_orderpriority")
      .agg(count(lit(1)), round(sum("o_totalprice"), 2)).collect()
      .map(r => (r.getString(0), r.getString(1)) -> (r.getLong(2), r.getDouble(3))).toMap
    assert(viaCsv === direct)
  }

  test("jsonl round-trip aggregate equals direct parquet aggregate") {
    val viaJson = Formats.jsonlRoundtrip(spark, sfDir).collect()
      .map(r => r.getString(0) -> (r.getLong(1), r.getLong(2), r.getDouble(3))).toMap
    val direct = Tables.events(spark, sfDir)
      .groupBy("event_type")
      .agg(count(lit(1)), countDistinct("user_id"), round(sum("value"), 2)).collect()
      .map(r => r.getString(0) -> (r.getLong(1), r.getLong(2), r.getDouble(3))).toMap
    assert(viaJson === direct)
  }

  test("orc round-trip pushes the quantity filter and matches parquet") {
    val df = Formats.orcRoundtrip(spark, sfDir)
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.contains("PushedFilters: [IsNotNull(l_quantity), GreaterThan(l_quantity"),
      s"filter not pushed to ORC scan:\n$plan")
    val viaOrc = df.collect()
      .map(r => r.getString(0) -> (r.getLong(1), r.getDouble(2))).toMap
    val direct = Tables.lineitem(spark, sfDir)
      .filter(col("l_quantity") > 10)
      .groupBy("l_returnflag")
      .agg(count(lit(1)),
        round(sum(col("l_extendedprice") * (lit(1) - col("l_discount"))), 2)).collect()
      .map(r => r.getString(0) -> (r.getLong(1), r.getDouble(2))).toMap
    assert(viaOrc === direct)
  }

  test("partitioned scan prunes by lang before reading files") {
    val df = Formats.partitionedScan(spark, sfDir)
    val scan = df.queryExecution.executedPlan.toString
    assert(scan.contains("PartitionFilters"), scan)
    // the lang predicate must be a partition filter, not a data filter
    assert(scan.linesIterator.exists(l =>
      l.contains("PartitionFilters") && l.contains("lang")), scan)
    // and results match the unpartitioned layout
    val got = df.collect().map(r => r.getString(0) -> (r.getLong(1), r.getLong(2))).toMap
    val direct = Tables.documents(spark, sfDir)
      .filter(col("lang") === "en")
      .groupBy("source").agg(count(lit(1)), sum("n_chars")).collect()
      .map(r => r.getString(0) -> (r.getLong(1), r.getLong(2))).toMap
    assert(got === direct)
  }

  test("salted join result identical to plain join") {
    val salted = Skew.joinSalted(spark, sfDir).collect()
      .map(r => r.getAs[Number](0).longValue -> (r.getLong(1), r.getDouble(2))).toMap
    val plain = Tables.orders(spark, sfDir)
      .join(Tables.customer(spark, sfDir), col("o_custkey") === col("c_custkey"))
      .groupBy("c_nationkey")
      .agg(count(lit(1)), round(sum("o_totalprice"), 2)).collect()
      .map(r => r.getAs[Number](0).longValue -> (r.getLong(1), r.getDouble(2))).toMap
    assert(salted === plain)
  }

  test("salting spreads a hot key across NSalt shuffle keys") {
    // with broadcast disabled, the salted join's shuffle key is
    // (custkey, salt) — 8 distinct shuffle keys for any single custkey
    val prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try {
      val plan = Skew.joinSalted(spark, sfDir).queryExecution.executedPlan.toString
      assert(plan.contains("salt"), plan)
      assert(!plan.contains("BroadcastHashJoin"), plan)
    } finally spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
  }

  test("schema evolution: merged read unions schemas; v1 rows NULL the new column") {
    // force the staging write, then inspect the merged frame directly
    Formats.schemaEvolution(spark, sfDir).collect()
    val dir = s"/tmp/graft_stage/${java.nio.file.Paths.get(sfDir).getFileName}/orders_evolved"
    val merged = spark.read.option("mergeSchema", "true")
      .parquet(s"$dir/v1", s"$dir/v2")
    assert(merged.columns.toSet ===
      Set("o_orderkey", "o_totalprice", "o_orderstatus"))
    val byParity = merged
      .groupBy((col("o_orderkey") % 2).as("p"))
      .agg(count(lit(1)).as("n"), count(col("o_orderstatus")).as("n_status"))
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2))).toMap
    assert(byParity(0L)._2 === 0L) // v1 generation: column absent → NULL
    assert(byParity(1L)._1 === byParity(1L)._2) // v2: fully populated
    val total = Tables.orders(spark, sfDir).count()
    assert(byParity.values.map(_._1).sum === total)
  }

  test("dpp_join: runtime partition pruning reaches the partitioned scan") {
    val plan = graft.sources.Formats.dppJoin(spark, sfDir)
      .queryExecution.executedPlan.toString
    assert(plan.contains("dynamicpruning"),
      s"no dynamic partition pruning subquery in:\n$plan")
  }

  test("model store: trained artifacts survive the session (cold serve loads from disk)") {
    // the real serving contract: train with spark.graft.modelDir set,
    // kill the session cache (≈ new JVM), and the serve entry must
    // warm-start from the saved parquet with bit-identical rows
    import graft.core.{ModelCache, ModelStore}
    val dir = java.nio.file.Files.createTempDirectory("graft-models")
      .toString
    spark.conf.set("spark.graft.modelDir", dir)
    try {
      ModelCache.clear()
      def rows(df: org.apache.spark.sql.DataFrame): Seq[String] =
        df.collect().map(_.toSeq.mkString("|")).sorted.toSeq
      // trainers persist to disk
      val trained = rows(graft.queries.Mf.mfTrain(spark, sfDir))
      graft.queries.Recommend.itemCf(spark, sfDir).count()
      val warmPredict = rows(graft.queries.Mf.mfPredict(spark, sfDir))
      val warmRec = rows(graft.queries.Recommend.itemRecommend(spark, sfDir))
      // the store holds complete models
      assert(ModelStore.load(spark, sfDir, "mf_factors",
        s"rounds=${graft.queries.Mf.Rounds},lr=${graft.queries.Mf.LrMicro}," +
          s"rcap=${graft.queries.Mf.RCap},jit=${graft.queries.Mf.JitterMod}",
        2).isDefined, "mf factors not persisted")
      // ≈ new JVM: the session cache is gone, only the disk remains
      ModelCache.clear()
      val coldPredict = rows(graft.queries.Mf.mfPredict(spark, sfDir))
      val coldRec = rows(graft.queries.Recommend.itemRecommend(spark, sfDir))
      assert(coldPredict == warmPredict,
        "disk-loaded factors must score identically")
      assert(coldRec == warmRec,
        "disk-loaded neighbor lists must recommend identically")
      assert(trained.nonEmpty && coldPredict.nonEmpty)
      // a wrong constants hash is a MISS (stale models never served)
      assert(ModelStore.load(spark, sfDir, "mf_factors", "rounds=999", 2)
        .isEmpty)
    } finally {
      spark.conf.unset("spark.graft.modelDir")
      ModelCache.clear()
    }
  }
}
