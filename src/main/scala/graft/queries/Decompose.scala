package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.core.Tables

/** Classical additive time-series decomposition [EXT] — hourly event
  * counts split into trend + seasonal + residual:
  *
  *   trend_t    = centered moving average (±12h row frame)
  *   seasonal_h = mean detrended value per hour-of-day
  *   resid_t    = detrended − seasonal
  *
  * This is the decomposition behind every "is traffic actually up or
  * is it just 3pm?" dashboard and the preprocessing step for the
  * residual-based anomaly screens ([[EventOps]] `anomaly_seasonal`
  * profiles raw values per hour-of-day; this operator separates the
  * LEVEL drift — trend — first, which that screen cannot see).
  *
  * Exactness: counts are integers; the two means are integer
  * divisions of micro-scaled integer sums (DIV truncates toward zero
  * identically in Spark and DuckDB, including negative detrended
  * sums), so every output column is an exact integer — no float
  * summation order anywhere.
  *
  * Scale shape: one hash-agg collapses the event stream to the
  * hour-cell census (|hours| rows — calendar-bounded, not
  * data-bounded); the moving average, hour-of-day profile (24-row
  * broadcast), and residual all run on that bounded frame. The only
  * full-data pass is the first aggregate.
  */
object Decompose {

  private val HalfWin = 12 // ±12h centered MA

  def tsDecompose(s: SparkSession, d: String): DataFrame = {
    val hourly = Tables.events(s, d)
      .select(expr("ts DIV 3600000000000").as("hour"))
      .groupBy("hour").agg(count(lit(1)).as("n"))
    val detrended = hourly
      .withColumn("trend_micro",
        expr(s"""(sum(n) OVER (ORDER BY hour
                   ROWS BETWEEN $HalfWin PRECEDING AND $HalfWin FOLLOWING)
                  * 1000000)
                 DIV count(n) OVER (ORDER BY hour
                   ROWS BETWEEN $HalfWin PRECEDING AND $HalfWin FOLLOWING)"""))
      .withColumn("det_micro", col("n") * 1000000L - col("trend_micro"))
      .withColumn("hod", pmod(col("hour"), lit(24L)))
    val seasonal = detrended.groupBy("hod")
      .agg(expr("sum(det_micro) DIV count(*)").as("seas_micro"))
    detrended.join(broadcast(seasonal), "hod")
      .select(col("hour"), col("n"), col("trend_micro"),
        col("seas_micro"),
        (col("det_micro") - col("seas_micro")).as("resid_micro"))
  }

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "ts_decompose" -> tsDecompose)

  def oracleSql: Map[String, String] = Map(
    "ts_decompose" ->
      s"""WITH hourly AS (
         |  SELECT epoch_us(ts) // 3600000000 AS hour, count(*) AS n
         |  FROM events GROUP BY 1),
         |det AS (
         |  SELECT hour, n,
         |    CAST((sum(n) OVER (ORDER BY hour
         |        ROWS BETWEEN $HalfWin PRECEDING AND $HalfWin FOLLOWING)
         |       * 1000000)
         |      // count(n) OVER (ORDER BY hour
         |        ROWS BETWEEN $HalfWin PRECEDING AND $HalfWin FOLLOWING)
         |      AS BIGINT) AS trend_micro,
         |    hour % 24 AS hod
         |  FROM hourly),
         |det2 AS (
         |  SELECT hour, n, trend_micro, hod,
         |    n * 1000000 - trend_micro AS det_micro FROM det),
         |seas AS (
         |  SELECT hod,
         |    CAST(sum(det_micro) // count(*) AS BIGINT) AS seas_micro
         |  FROM det2 GROUP BY hod)
         |SELECT d.hour, d.n, d.trend_micro, s.seas_micro,
         |  d.det_micro - s.seas_micro AS resid_micro
         |FROM det2 d JOIN seas s ON d.hod = s.hod""".stripMargin)
}
