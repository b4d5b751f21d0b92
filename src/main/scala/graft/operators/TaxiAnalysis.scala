package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** The reference's literal NYC-taxi analysis, 1:1 over the reference's own
  * schema — so a user of the reference repo can point this at their TLC
  * CSV/Parquet and run every query they run today, Spark-native.
  *
  * Reference: /root/reference/Surabhi_Srinath_NYC_Taxi_Assignment_FInal.txt
  * (per-method line citations below). The driver's testdata has no taxi
  * table, so this surface is fixture-tested in TaxiSpec; the TPC-H-ish
  * re-expressions of the same operators (Reference.scala q01–q20) carry
  * the DuckDB oracle.
  */
object TaxiAnalysis {

  /** The reference's CREATE EXTERNAL TABLE schema (ref lines 31–50). */
  val schema: StructType = StructType(Seq(
    StructField("VendorID", StringType),
    StructField("tpep_pickup_datetime", TimestampType),
    StructField("tpep_dropoff_datetime", TimestampType),
    StructField("passenger_count", IntegerType),
    StructField("trip_distance", DoubleType),
    StructField("RatecodeID", StringType),
    StructField("store_and_fwd_flag", StringType),
    StructField("PULocationID", StringType),
    StructField("DOLocationID", StringType),
    StructField("payment_type", StringType),
    StructField("fare_amount", DoubleType),
    StructField("extra", DoubleType),
    StructField("mta_tax", DoubleType),
    StructField("tip_amount", DoubleType),
    StructField("tolls_amount", DoubleType),
    StructField("improvement_surcharge", DoubleType),
    StructField("total_amount", DoubleType)))

  /** Load a TLC CSV the way the reference's OpenCSVSerde table does
    * (header skipped, explicit schema; ref lines 31–55). */
  def load(spark: SparkSession, path: String): DataFrame =
    graft.sources.CsvSource.read(spark, path, schema)

  private val hourDiff =
    (unix_timestamp(col("tpep_dropoff_datetime")) -
      unix_timestamp(col("tpep_pickup_datetime"))) / 3600.0

  /** Records per TPEP provider (ref lines 62–67). */
  def recordsPerVendor(df: DataFrame): DataFrame =
    df.groupBy(col("VendorID").as("vendor")).agg(count(lit(1)).as("total"))
      .orderBy("vendor")

  /** Percent share per provider (ref lines 69–74). */
  def vendorPctShare(df: DataFrame): DataFrame = {
    val counts = recordsPerVendor(df)
    val grand = counts.agg(sum("total").as("grand"))
    counts.crossJoin(broadcast(grand))
      .select(col("vendor"), col("total"),
        round(col("total") * 100.0 / col("grand"), 2).as("pct"))
      .orderBy("vendor")
  }

  /** Registration-window sanity: min/max pickup & dropoff timestamps per
    * vendor (ref lines 80–85). */
  def minMaxTimestamps(df: DataFrame): DataFrame =
    df.groupBy(col("VendorID").as("vendor"))
      .agg(
        min(col("tpep_pickup_datetime")).as("min_pickup"),
        max(col("tpep_pickup_datetime")).as("max_pickup"),
        min(col("tpep_dropoff_datetime")).as("min_dropoff"),
        max(col("tpep_dropoff_datetime")).as("max_dropoff"))
      .orderBy("vendor")

  /** Trip-duration stats (min/max/avg hours) per vendor (ref lines 87–92). */
  def durationStats(df: DataFrame): DataFrame =
    df.withColumn("hour_diff", hourDiff)
      .groupBy(col("VendorID").as("vendor"))
      .agg(round(min(col("hour_diff")), 4).as("minval"),
        round(max(col("hour_diff")), 4).as("maxval"),
        round(avg(col("hour_diff")), 4).as("average"))
      .orderBy("vendor")

  /** Negative-value scan for any money column per vendor — the reference
    * repeats this shape for fare, tip, tolls, surcharge, mta_tax and
    * total (ref lines 102–196); one parametric method covers all. */
  def negativeValueScan(df: DataFrame, column: String): DataFrame =
    df.filter(col(column) < 0)
      .groupBy(col("VendorID").as("vendor"))
      .agg(count(lit(1)).as(s"n_negative_$column"))
      .orderBy("vendor")

  /** Per-(vendor, value) categorical distribution — the reference's
    * allowed-value checks for extra, payment_type, store_and_fwd_flag and
    * ratecodeid (ref lines 123–220). */
  def valueDistribution(df: DataFrame, column: String): DataFrame =
    df.groupBy(col("VendorID").as("vendor"), col(column))
      .agg(count(lit(1)).as("cnt"))
      .orderBy("vendor", column)

  /** Trips with zero/negative passengers per vendor (ref lines 132–138). */
  def zeroPassengerCount(df: DataFrame): DataFrame =
    df.filter(col("passenger_count") <= 0)
      .groupBy(col("VendorID").as("vendor"))
      .agg(count(lit(1)).as("n_no_passenger"))
      .orderBy("vendor")

  /** Trips with negative or >24h duration per vendor (ref lines 99–104). */
  def invalidDurations(df: DataFrame): DataFrame =
    df.withColumn("hour_diff", hourDiff)
      .filter(col("hour_diff") < 0 || col("hour_diff") > 24)
      .groupBy(col("VendorID").as("vendor"))
      .agg(count(lit(1)).as("n_invalid"))
      .orderBy("vendor")

  /** The combined data-quality violation count per vendor
    * (ref lines 231–244). */
  def qualityViolations(df: DataFrame): DataFrame =
    df.withColumn("hour_diff", hourDiff)
      .filter(!cleanPredicate)
      .groupBy(col("VendorID").as("vendor"))
      .agg(count(lit(1)).as("n_bad"))
      .orderBy("vendor")

  /** The reference's ETL validity predicate (ref lines 264–271): expects a
    * `hour_diff` column. */
  private def cleanPredicate =
    col("fare_amount") >= 0 && col("tip_amount") >= 0 &&
      col("extra").isin(0.0, 0.5, 1.0) && col("passenger_count") > 0 &&
      col("tolls_amount") >= 0 && col("improvement_surcharge") >= 0 &&
      col("mta_tax") >= 0 && col("total_amount") >= 0 &&
      col("RatecodeID") =!= "99" &&
      year(col("tpep_pickup_datetime")) === 2017 &&
      month(col("tpep_pickup_datetime")).isin(11, 12) &&
      col("hour_diff") >= 0 && col("hour_diff") <= 24

  /** The cleaned table with derived partition columns (yr, mnth), ready
    * for the partitioned+bucketed write (ref lines 252–278). */
  def cleanTrips(df: DataFrame): DataFrame =
    df.withColumn("hour_diff", hourDiff)
      .filter(cleanPredicate)
      .drop("hour_diff")
      .withColumn("yr", year(col("tpep_pickup_datetime")))
      .withColumn("mnth", month(col("tpep_pickup_datetime")))

  /** The full reference ETL: clean → ORC/parquet partitioned by (yr,mnth),
    * 5 buckets sorted by tip_amount (ref lines 252–278). */
  def writeClean(df: DataFrame, table: String, format: String = "orc"): Unit =
    graft.sources.PartitionedWriter.writeBucketedTable(
      cleanTrips(df), table, Seq("yr", "mnth"), "tip_amount", 5, format)

  /** Average fare per month (ref lines 292–297, Analysis I Q1). */
  def avgFareByMonth(df: DataFrame): DataFrame =
    cleanTrips(df)
      .groupBy(col("mnth"))
      .agg(round(avg(col("fare_amount")), 2).as("avg_fare"))
      .orderBy("mnth")

  /** Trips per passenger_count level with pct share (ref lines 299–304). */
  def passengerDistribution(df: DataFrame): DataFrame = {
    val counts = cleanTrips(df)
      .groupBy(col("passenger_count").as("level"))
      .agg(count(lit(1)).as("n_trips"))
    val grand = counts.agg(sum("n_trips").as("grand"))
    counts.crossJoin(broadcast(grand))
      .select(col("level"), col("n_trips"),
        round(col("n_trips") * 100.0 / col("grand"), 2).as("pct"))
      .orderBy(col("n_trips").desc, col("level"))
  }

  /** Preferred payment mode with pct share (ref lines 306–311). */
  def paymentPreference(df: DataFrame): DataFrame = {
    val counts = cleanTrips(df)
      .groupBy(col("payment_type"))
      .agg(count(lit(1)).as("cnt"))
    val grand = counts.agg(sum("cnt").as("grand"))
    counts.crossJoin(broadcast(grand))
      .select(col("payment_type"), col("cnt"),
        round(col("cnt") * 100.0 / col("grand"), 2).as("pct"))
      .orderBy(col("cnt").desc, col("payment_type"))
  }

  /** Average tip vs p25/p50/p75 (ref lines 313–324; exact percentile —
    * percentile_approx at scale, see Reference.q34). */
  def tipPercentiles(df: DataFrame): DataFrame =
    cleanTrips(df).agg(
      round(avg(col("tip_amount")), 2).as("avg_tip"),
      round(percentile(col("tip_amount"), lit(0.25)), 2).as("p25"),
      round(percentile(col("tip_amount"), lit(0.50)), 2).as("p50"),
      round(percentile(col("tip_amount"), lit(0.75)), 2).as("p75"))

  /** Fraction of trips with extra > 0 (ref lines 326–330). */
  def extraChargeFraction(df: DataFrame): DataFrame = {
    val c = cleanTrips(df)
    c.filter(col("extra") > 0).agg(count(lit(1)).as("n_extra"))
      .crossJoin(c.agg(count(lit(1)).as("n_total")))
      .select(col("n_extra"), col("n_total"),
        round(col("n_extra") * 1.0 / col("n_total"), 2).as("frac"))
  }

  /** corr(passenger_count, tip_amount) (ref lines 337–339). */
  def tipPassengerCorr(df: DataFrame): DataFrame =
    cleanTrips(df).agg(
      round(corr(col("passenger_count"), col("tip_amount")), 2).as("corr_pc_tip"))

  /** Tip segmentation [0-5)…>=20 with pct share (ref lines 348–366). */
  def tipSegments(df: DataFrame): DataFrame = {
    val seg = when(col("tip_amount") < 5, "[0-5)")
      .when(col("tip_amount") < 10, "[5-10)")
      .when(col("tip_amount") < 15, "[10-15)")
      .when(col("tip_amount") < 20, "[15-20)")
      .otherwise(">=20")
    val counts = cleanTrips(df).groupBy(seg.as("segment"))
      .agg(count(lit(1)).as("cnt"))
    val grand = counts.agg(sum("cnt").as("grand"))
    counts.crossJoin(broadcast(grand))
      .select(col("segment"), round(col("cnt") * 100.0 / col("grand"), 2).as("pct"))
      .orderBy(col("pct").desc, col("segment"))
  }

  /** Average speed (mph) by month (ref lines 368–376). */
  def avgSpeedByMonth(df: DataFrame): DataFrame =
    cleanTrips(df)
      .withColumn("hour_diff", hourDiff)
      .filter(col("hour_diff") > 0)
      .groupBy(col("mnth"))
      .agg(round(avg(col("trip_distance") / col("hour_diff")), 2).as("avg_speed"))
      .orderBy("avg_speed")

  /** Average speed on Dec 25 / Dec 31 vs overall (ref lines 378–389). */
  def specialDaysSpeed(df: DataFrame): DataFrame =
    cleanTrips(df)
      .withColumn("hour_diff", hourDiff)
      .filter(col("hour_diff") > 0 && col("mnth") === 12 &&
        dayofmonth(col("tpep_pickup_datetime")).isin(25, 31))
      .groupBy(to_date(col("tpep_pickup_datetime")).as("d"))
      .agg(round(avg(col("trip_distance") / col("hour_diff")), 2).as("avg_speed"))
      .orderBy("d")
}
