package perfbench

import java.io.File

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.engine._

/** The paper's warehouse semantics written independently in plain Spark
  * SQL: the reference the published outputs are compared against. Nothing
  * here calls the library.
  */
object SqlRef {
  val Sentinel = "2099-12-31 00:00:00"
  /** RFC-4180 CSV: header row, quoted fields with doubled-quote escapes. */
  val Csv = Map("header" -> "true", "multiLine" -> "true", "quote" -> "\"", "escape" -> "\"")

  private def hash(alias: String, cols: Seq[String]): String =
    cols.map(c => s"coalesce(CAST($alias.$c AS STRING), 'NULL')").mkString("md5(concat(", ", ", "))")

  /** SCD2 bootstrap: every row is version 1, keyed by natural-key order. */
  def bootstrap(incoming: String, key: String, sk: String, runTs: String): String =
    s"""SELECT i.*, CAST(row_number() OVER (ORDER BY i.$key) AS BIGINT) AS $sk,
       |  TIMESTAMP'$runTs' AS start_dt, TIMESTAMP'$Sentinel' AS end_dt, true AS is_valid
       |FROM $incoming i""".stripMargin

  /** SCD2 merge of `incoming` into `existing`: changed keys expire and gain
    * a new version, new keys gain their first, keys continue from the
    * existing maximum. With `full`, a current key absent from `incoming` is
    * a delete and expires with no successor.
    */
  def merge(existing: String, incoming: String, key: String, scd: Seq[String], sk: String,
      runTs: String, full: Boolean): String = {
    val cols = (key +: scd).mkString(", ")
    val gone =
      if (full) s"SELECT c.$key FROM curr c LEFT ANTI JOIN $incoming i ON c.$key = i.$key"
      else s"SELECT $key FROM curr WHERE false"
    s"""WITH curr AS (SELECT * FROM $existing WHERE is_valid),
       |mx AS (SELECT coalesce(max($sk), 0) AS m FROM $existing),
       |chg AS (SELECT i.* FROM $incoming i JOIN curr c ON i.$key = c.$key
       |        WHERE ${hash("i", scd)} <> ${hash("c", scd)}),
       |brand AS (SELECT i.* FROM $incoming i LEFT ANTI JOIN curr c ON i.$key = c.$key),
       |fresh AS (SELECT u.*, (SELECT m FROM mx) + row_number() OVER (ORDER BY u.$key) AS $sk
       |          FROM (SELECT $cols FROM chg UNION ALL SELECT $cols FROM brand) u),
       |gone AS ($gone),
       |ended AS (SELECT $key FROM chg UNION ALL SELECT $key FROM gone)
       |SELECT $cols, $sk, start_dt, end_dt, is_valid FROM $existing WHERE NOT is_valid
       |UNION ALL
       |SELECT $cols, $sk, start_dt, end_dt, is_valid FROM curr
       |  WHERE $key NOT IN (SELECT $key FROM ended)
       |UNION ALL
       |SELECT $cols, $sk, start_dt, TIMESTAMP'$runTs' AS end_dt, false AS is_valid FROM curr
       |  WHERE $key IN (SELECT $key FROM ended)
       |UNION ALL
       |SELECT $cols, $sk, TIMESTAMP'$runTs' AS start_dt, TIMESTAMP'$Sentinel' AS end_dt,
       |  true AS is_valid FROM fresh""".stripMargin
  }

  def view(df: DataFrame, name: String): String = { df.createOrReplaceTempView(name); name }
}

/** `medallion_full`: one nightly load of the paper's three jobs over seeded
  * bronze CSVs — bronze -> typed silver parquet (csv_to_parquet), SCD2
  * dim_host / dim_listing bootstrapped from the day-0 scrape and merged
  * with day 1, dim_location, dim_date (final_dim_load), and the calendar
  * star-join fact (final_fact_load). Every op reloads the same bronze and
  * overwrites the same outputs, as a rerun nightly job does.
  */
final class Medallion(c: Ctx, nListings: Int, days: Int) extends Workload {
  import c.{spark, span}
  import AirbnbBronze.{Scrape0, Scrape1}

  private val bronze = new File(c.input, "medallion")
  private val silver = c.path("out/silver")
  private val gold = c.path("out/gold")
  private val RunTs0 = s"$Scrape0 02:00:00"
  private val RunTs1 = s"$Scrape1 02:00:00"
  private var gen = GenInfo(0, 0)
  private var expected = Map.empty[String, Digest]

  private val ListingTypes: Map[String, DataType] = Map(
    "id" -> LongType, "host_id" -> LongType, "host_since" -> DateType,
    "host_listings_count" -> IntegerType, "latitude" -> DecimalType(10, 6),
    "longitude" -> DecimalType(10, 6), "accommodates" -> IntegerType,
    "bedrooms" -> IntegerType, "beds" -> IntegerType, "minimum_nights" -> IntegerType,
    "maximum_nights" -> IntegerType, "availability_30" -> IntegerType,
    "availability_365" -> IntegerType, "number_of_reviews" -> IntegerType,
    "reviews_per_month" -> DecimalType(10, 2), "review_scores_rating" -> DoubleType,
    "last_scraped" -> DateType)
  private val CalendarTypes: Map[String, DataType] = Map("listing_id" -> LongType,
    "date" -> DateType, "minimum_nights" -> IntegerType, "maximum_nights" -> IntegerType)
  private val ReviewTypes: Map[String, DataType] = Map("listing_id" -> LongType,
    "id" -> LongType, "date" -> DateType, "reviewer_id" -> LongType)

  private val HostScd = Seq("host_name", "host_since", "host_is_superhost",
    "host_listings_count", "host_neighbourhood")
  private val ListingScd = Seq("host_id", "name", "neighbourhood_cleansed", "latitude",
    "longitude", "property_type", "room_type", "accommodates", "bedrooms", "beds", "price",
    "minimum_nights", "maximum_nights", "number_of_reviews", "review_scores_rating",
    "instant_bookable")
  private val Tables = Seq("silver_listings", "silver_calendar", "silver_reviews", "dim_host",
    "dim_listing", "dim_location", "dim_date", "fact_listing_daily")

  def generate(): GenInfo = {
    gen = AirbnbBronze.generate(bronze, c.seed, nListings, days, parts = 4)
    gen
  }

  private def ingest(table: String, header: Seq[String], types: Map[String, DataType],
      prices: Seq[String], flags: Seq[String]): Unit = {
    val raw = span("sources.csv")(
      Sources.requireColumns(Sources.csv(spark, s"$bronze/$table"), header))
    val typed = span("cleaning.normalize") {
      val cast = Cleaning.castNormalize(raw, types)
      val priced = prices.foldLeft(cast)((df, p) => df.withColumn(p, Cleaning.cleanPrice(col(p))))
      flags.foldLeft(priced)((df, f) => df.withColumn(f, Cleaning.decodeBooleanStrict(col(f))))
    }
    val deduped = span("dedup.rows")(Dedup.dropAllDuplicates(typed))
    span("sinks.write")(Sinks.writeParquet(deduped, s"$silver/$table"))
  }

  private def cleanListings(): DataFrame = span("cleaning.normalize") {
    val valid = Sources.parquet(spark, s"$silver/listings")
      .filter(col("id").isNotNull && col("host_id").isNotNull)
    Cleaning.fillDefaults(
      Cleaning.clampNegatives(valid, Seq("host_listings_count", "availability_30",
        "availability_365", "number_of_reviews")),
      stringCols = Seq("name", "host_name", "host_neighbourhood", "property_type"),
      numericCols = Seq("bedrooms", "beds"),
      boolCols = Seq("host_is_superhost", "instant_bookable"))
  }

  private def scd2Dim(name: String, rowsAt: String => DataFrame, key: String, scd: Seq[String],
      sk: String, full: Boolean): Unit = span(s"step.$name") {
    val boot = span("scd2.bootstrap")(Scd2.bootstrap(rowsAt(Scrape0), key, sk, RunTs0,
      SqlRef.Sentinel, c.keying))
    span("sinks.write")(Sinks.writeParquet(boot, s"$gold/${name}0"))
    val existing = span("sources.parquet")(Sources.parquet(spark, s"$gold/${name}0"))
    val merged =
      if (full) span("scd2.merge_full")(Scd2.mergeFullSnapshot(existing, rowsAt(Scrape1), key,
        scd, sk, RunTs1, SqlRef.Sentinel, c.keying))
      else span("scd2.merge")(Scd2.merge(existing, rowsAt(Scrape1), key, scd, sk, RunTs1,
        SqlRef.Sentinel, c.keying))
    span("sinks.write")(Sinks.writeParquet(merged, s"$gold/$name"))
  }

  def op(i: Int): Unit = {
    span("step.silver") {
      ingest("listings", AirbnbBronze.ListingHeader, ListingTypes, Seq("price"),
        Seq("host_is_superhost", "instant_bookable"))
      ingest("calendar", AirbnbBronze.CalendarHeader, CalendarTypes,
        Seq("price", "adjusted_price"), Nil)
      ingest("reviews", AirbnbBronze.ReviewHeader, ReviewTypes, Nil, Nil)
    }
    val clean = cleanListings()
    def at(d: String) = clean.filter(col("last_scraped") === lit(d).cast(DateType))
    scd2Dim("dim_host", d => span("dedup.key")(Dedup.keepFirstByKey(
        at(d).select((Seq("id", "host_id") ++ HostScd).map(col): _*), Seq("host_id"), Seq("id"))
        .drop("id")),
      "host_id", HostScd, "host_sk", full = false)
    scd2Dim("dim_listing", d => at(d).select(
        (col("id").as("listing_id") +: ListingScd.map(col)): _*),
      "listing_id", ListingScd, "listing_sk", full = true)
    span("step.dim_location") {
      val locs = at(Scrape1).filter(col("latitude").isNotNull && col("longitude").isNotNull)
        .select(col("latitude"), col("longitude"), col("neighbourhood_cleansed"),
          col("neighbourhood_group_cleansed"),
          concat(col("latitude").cast("string"), lit("_"), col("longitude").cast("string"))
            .as("location_src_id"))
      val one = span("dedup.key")(Dedup.keepFirstByKey(locs, Seq("location_src_id"),
        Seq("neighbourhood_cleansed")))
      span("sinks.write")(Sinks.writeParquet(
        c.keying(one, "location_src_id", "location_id", 0L), s"$gold/dim_location"))
    }
    span("step.dim_date") {
      val dates = span("datedim.build")(DateDim.build(spark, "2020-01-01", "2040-12-31"))
      span("sinks.write")(Sinks.writeParquet(dates, s"$gold/dim_date"))
    }
    span("step.fact") {
      val (cal, dl, dh, dloc, dd) = span("sources.parquet") {
        (Sources.parquet(spark, s"$silver/calendar"),
          Sources.parquet(spark, s"$gold/dim_listing").filter(col("is_valid"))
            .select(col("listing_sk"), col("listing_id").as("l_id"), col("host_id").as("l_host"),
              col("latitude").as("l_lat"), col("longitude").as("l_lon"),
              col("number_of_reviews"), col("review_scores_rating")),
          Sources.parquet(spark, s"$gold/dim_host").filter(col("is_valid"))
            .select(col("host_sk"), col("host_id").as("h_id")),
          Sources.parquet(spark, s"$gold/dim_location")
            .select(col("location_id"), col("latitude").as("loc_lat"), col("longitude").as("loc_lon")),
          Sources.parquet(spark, s"$gold/dim_date").select("date_id", "day_name", "is_weekend"))
      }
      val fact = span("starjoin.join") {
        val base = cal.filter(col("date").isNotNull && col("listing_id").isNotNull)
        val joined = StarJoin.broadcastDimJoin(
          StarJoin.broadcastDimJoin(
            StarJoin.broadcastDimJoin(
              StarJoin.broadcastDimJoin(base, dl, col("listing_id") === col("l_id")),
              dh, col("l_host") === col("h_id")),
            dloc, col("l_lat") === col("loc_lat") && col("l_lon") === col("loc_lon")),
          dd, col("date") === col("date_id"))
        val price = Cleaning.imputePrice(col("price"), new java.math.BigDecimal("100.00"))
        val available = Cleaning.decodeBooleanLax(col("available"))
        joined.select(
          (col("listing_id") * 100000L + datediff(col("date"), lit("2020-01-01").cast(DateType)))
            .as("fact_id"),
          col("listing_sk"), col("host_sk"), col("location_id"), col("date_id"),
          available.as("available"), price.as("price_amount"),
          Cleaning.adjustedOrBase(col("adjusted_price"), price).as("adjusted_price_amount"),
          col("minimum_nights"), col("maximum_nights"), col("number_of_reviews"),
          col("review_scores_rating").as("listing_rating"),
          StarJoin.band(col("minimum_nights"), Seq(7.0 -> "Short-term", 30.0 -> "Medium-term"),
            "Long-term").as("rental_category"),
          when(available, lit("Available")).otherwise(lit("Booked")).as("availability_status"),
          col("day_name"), col("is_weekend"))
      }
      span("sinks.write")(Sinks.writeParquet(fact, s"$gold/fact_listing_daily"))
    }
  }

  private def published: Seq[(String, DataFrame)] = Tables.map { t =>
    val dir = if (t.startsWith("silver_")) s"$silver/${t.stripPrefix("silver_")}" else s"$gold/$t"
    t -> spark.read.parquet(dir)
  }

  override def reference(): Unit = {
    def csv(t: String) = SqlRef.view(spark.read.options(SqlRef.Csv).csv(s"$bronze/$t"),
      s"ref_bronze_$t")
    val bl = csv("listings"); val bc = csv("calendar"); val br = csv("reviews")
    def price(c: String) = s"CAST(regexp_replace($c, '[$$,]', '') AS DECIMAL(10,2))"
    def flag(c: String) = s"lower($c) IN ('t', 'true')"
    // views read more than once are materialized; single-use ones stay lazy
    def sql(q: String, name: String) = SqlRef.view(spark.sql(q).localCheckpoint(), name)
    def once(q: String, name: String) = SqlRef.view(spark.sql(q), name)
    sql(s"""SELECT DISTINCT CAST(id AS BIGINT) AS id, name, CAST(host_id AS BIGINT) AS host_id,
      |  host_name, CAST(host_since AS DATE) AS host_since,
      |  ${flag("host_is_superhost")} AS host_is_superhost,
      |  CAST(host_listings_count AS INT) AS host_listings_count, host_neighbourhood,
      |  neighbourhood_cleansed, neighbourhood_group_cleansed,
      |  CAST(latitude AS DECIMAL(10,6)) AS latitude, CAST(longitude AS DECIMAL(10,6)) AS longitude,
      |  property_type, room_type, CAST(accommodates AS INT) AS accommodates,
      |  CAST(bedrooms AS INT) AS bedrooms, CAST(beds AS INT) AS beds, ${price("price")} AS price,
      |  CAST(minimum_nights AS INT) AS minimum_nights, CAST(maximum_nights AS INT) AS maximum_nights,
      |  CAST(availability_30 AS INT) AS availability_30,
      |  CAST(availability_365 AS INT) AS availability_365,
      |  CAST(number_of_reviews AS INT) AS number_of_reviews,
      |  CAST(reviews_per_month AS DECIMAL(10,2)) AS reviews_per_month,
      |  CAST(review_scores_rating AS DOUBLE) AS review_scores_rating,
      |  ${flag("instant_bookable")} AS instant_bookable, CAST(last_scraped AS DATE) AS last_scraped
      |FROM $bl""".stripMargin, "ref_silver_listings")
    sql(s"""SELECT DISTINCT CAST(listing_id AS BIGINT) AS listing_id, CAST(date AS DATE) AS date,
      |  available, ${price("price")} AS price, ${price("adjusted_price")} AS adjusted_price,
      |  CAST(minimum_nights AS INT) AS minimum_nights, CAST(maximum_nights AS INT) AS maximum_nights
      |FROM $bc""".stripMargin, "ref_silver_calendar")
    sql(s"""SELECT DISTINCT CAST(listing_id AS BIGINT) AS listing_id, CAST(id AS BIGINT) AS id,
      |  CAST(date AS DATE) AS date, CAST(reviewer_id AS BIGINT) AS reviewer_id, reviewer_name,
      |  comments
      |FROM $br""".stripMargin, "ref_silver_reviews")
    def clamp(c: String) = s"CASE WHEN $c < 0 THEN 0 ELSE $c END AS $c"
    sql(s"""SELECT id, coalesce(name, 'N/A') AS name, host_id, coalesce(host_name, 'N/A') AS host_name,
      |  host_since, coalesce(host_is_superhost, false) AS host_is_superhost,
      |  ${clamp("host_listings_count")}, coalesce(host_neighbourhood, 'N/A') AS host_neighbourhood,
      |  neighbourhood_cleansed, neighbourhood_group_cleansed, latitude, longitude,
      |  coalesce(property_type, 'N/A') AS property_type, room_type, accommodates,
      |  coalesce(bedrooms, 0) AS bedrooms, coalesce(beds, 0) AS beds, price, minimum_nights,
      |  maximum_nights, ${clamp("availability_30")}, ${clamp("availability_365")},
      |  ${clamp("number_of_reviews")}, reviews_per_month, review_scores_rating,
      |  coalesce(instant_bookable, false) AS instant_bookable, last_scraped
      |FROM ref_silver_listings WHERE id IS NOT NULL AND host_id IS NOT NULL""".stripMargin,
      "ref_clean")
    val hostCols = ("host_id" +: HostScd).mkString(", ")
    def hostsAt(d: String, v: String) = once(s"""SELECT $hostCols FROM (
      |  SELECT *, row_number() OVER (PARTITION BY host_id ORDER BY id) AS rn
      |  FROM ref_clean WHERE last_scraped = DATE'$d') WHERE rn = 1""".stripMargin, v)
    val listingCols = ("id AS listing_id" +: ListingScd).mkString(", ")
    def listingsAt(d: String, v: String) =
      once(s"SELECT $listingCols FROM ref_clean WHERE last_scraped = DATE'$d'", v)
    hostsAt(Scrape0, "ref_hosts0"); hostsAt(Scrape1, "ref_hosts1")
    listingsAt(Scrape0, "ref_listings0"); listingsAt(Scrape1, "ref_listings1")
    sql(SqlRef.bootstrap("ref_hosts0", "host_id", "host_sk", RunTs0), "ref_dim_host0")
    sql(SqlRef.merge("ref_dim_host0", "ref_hosts1", "host_id", HostScd, "host_sk", RunTs1,
      full = false), "ref_dim_host")
    sql(SqlRef.bootstrap("ref_listings0", "listing_id", "listing_sk", RunTs0), "ref_dim_listing0")
    sql(SqlRef.merge("ref_dim_listing0", "ref_listings1", "listing_id", ListingScd, "listing_sk",
      RunTs1, full = true), "ref_dim_listing")
    sql(s"""SELECT latitude, longitude, neighbourhood_cleansed, neighbourhood_group_cleansed,
      |  location_src_id, CAST(row_number() OVER (ORDER BY location_src_id) AS BIGINT) AS location_id
      |FROM (SELECT *, row_number() OVER (PARTITION BY location_src_id
      |                                  ORDER BY neighbourhood_cleansed) AS rn
      |      FROM (SELECT latitude, longitude, neighbourhood_cleansed, neighbourhood_group_cleansed,
      |              concat(CAST(latitude AS STRING), '_', CAST(longitude AS STRING)) AS location_src_id
      |            FROM ref_clean WHERE last_scraped = DATE'$Scrape1'
      |              AND latitude IS NOT NULL AND longitude IS NOT NULL))
      |WHERE rn = 1""".stripMargin, "ref_dim_location")
    val days = Seq("Sunday", "Monday", "Tuesday", "Wednesday", "Thursday", "Friday", "Saturday")
      .zipWithIndex.map { case (n, i) => s"WHEN ${i + 1} THEN '$n'" }.mkString(" ")
    once(s"""SELECT d AS date_id, year(d) AS year, quarter(d) AS quarter, month(d) AS month,
      |  weekofyear(d) AS week_of_year, dayofmonth(d) AS day_of_month, dayofweek(d) AS day_of_week,
      |  CASE dayofweek(d) $days END AS day_name, dayofweek(d) IN (1, 7) AS is_weekend
      |FROM (SELECT explode(sequence(DATE'2020-01-01', DATE'2040-12-31', INTERVAL 1 DAY)) AS d)
      |""".stripMargin, "ref_dim_date")
    val avail = "CASE WHEN c.available = 't' THEN true WHEN c.available = 'f' THEN false ELSE true END"
    once(s"""SELECT c.listing_id * 100000 + datediff(c.date, DATE'2020-01-01') AS fact_id,
      |  l.listing_sk, h.host_sk, loc.location_id, dd.date_id, $avail AS available,
      |  CAST(coalesce(c.price, 100.00) AS DECIMAL(10,2)) AS price_amount,
      |  CAST(coalesce(c.adjusted_price, c.price, 100.00) AS DECIMAL(10,2)) AS adjusted_price_amount,
      |  c.minimum_nights, c.maximum_nights, l.number_of_reviews,
      |  l.review_scores_rating AS listing_rating,
      |  CASE WHEN c.minimum_nights <= 7 THEN 'Short-term'
      |       WHEN c.minimum_nights <= 30 THEN 'Medium-term' ELSE 'Long-term' END AS rental_category,
      |  CASE WHEN $avail THEN 'Available' ELSE 'Booked' END AS availability_status,
      |  dd.day_name, dd.is_weekend
      |FROM ref_silver_calendar c
      |JOIN (SELECT * FROM ref_dim_listing WHERE is_valid) l ON c.listing_id = l.listing_id
      |JOIN (SELECT * FROM ref_dim_host WHERE is_valid) h ON l.host_id = h.host_id
      |JOIN ref_dim_location loc ON l.latitude = loc.latitude AND l.longitude = loc.longitude
      |JOIN ref_dim_date dd ON c.date = dd.date_id
      |WHERE c.date IS NOT NULL AND c.listing_id IS NOT NULL""".stripMargin, "ref_fact_listing_daily")
    expected = Digest.of(Tables.map(t => t -> spark.table(s"ref_$t")))
  }

  private val passed = scala.collection.mutable.Map[Int, Boolean]()

  def check(i: Int): Seq[String] = {
    val bad = Digest.mismatches(expected, Digest.of(published)).map(t => s"medallion_full.$t")
    passed(i) = bad.isEmpty
    bad
  }

  def quality(i: Int): Double = if (passed.getOrElse(i, false)) 1.0 else 0.0
  def inputRows(i: Int): Long = gen.rows
  def inputBytes(i: Int): Long = gen.bytes
  def writtenBytes(i: Int): Long = Files.bytes(Seq(silver, gold))

  override def layer(i: Int): Map[String, Double] = {
    val silverRows = Seq("listings", "calendar", "reviews")
      .map(t => spark.read.parquet(s"$silver/$t").count()).sum
    val dim = spark.read.parquet(s"$gold/dim_listing")
    val changed = dim.filter(col("end_dt") === lit(RunTs1).cast(TimestampType)).count()
    val incoming = dim.filter(col("is_valid")).count()
    val sinkFiles = Files.dataFiles(silver) ++ Files.dataFiles(gold)
    Map("cleaning.input_mb" -> gen.bytes / 1048576.0,
      "starjoin.fact_input_mb" -> Files.bytes(Seq(s"$silver/calendar")) / 1048576.0,
      "cleaning.kept_ratio" -> silverRows.toDouble / gen.rows,
      "scd2.changed_ratio" -> changed.toDouble / math.max(1L, incoming),
      "sinks.write_mb" -> sinkFiles.map(_.length).sum / 1048576.0,
      "sinks.files" -> sinkFiles.size.toDouble)
  }

  def corrupt(): Unit =
    Corrupt.oneRow(spark, Corrupt.firstParquet(new File(s"$gold/fact_listing_daily")))
}

/** `scd2_daily`: one day's increment against a gold state built in setup.
  * Each op reads the current dims from the commit log, merges the day's
  * host changes (`Scd2.merge`) and listing snapshot
  * (`Scd2.mergeFullSnapshot`), publishes the changed rows through
  * `TxLog.applyChanges`, appends the day's fact slice with
  * `TxLog.append`, and reads the current listing dim back. Setup loads each
  * table in 8 commits, so ops cross the log's every-10-commits checkpoint.
  */
final class Scd2Daily(c: Ctx, nListings: Int) extends Workload {
  import c.{spark, span}

  private val feeds = new DailyFeeds(c.seed, nListings)
  private val feedDir = new File(c.input, "scd2_daily")
  private val lake = c.path("out/lake")
  private val hostT = s"$lake/dim_host"
  private val listT = s"$lake/dim_listing"
  private val factT = s"$lake/fact_listing_daily"
  private val Buckets = 16
  private val SetupCommits = 8
  private val HostScd = Seq("host_name", "host_is_superhost", "host_listings_count",
    "host_neighbourhood")
  private val ListingScd = Seq("host_id", "name", "room_type", "accommodates", "price",
    "minimum_nights", "instant_bookable")
  private val HostSchema = StructType(Seq(StructField("host_id", LongType),
    StructField("host_name", StringType), StructField("host_is_superhost", BooleanType),
    StructField("host_listings_count", IntegerType), StructField("host_neighbourhood", StringType)))
  private val ListingSchema = StructType(Seq(StructField("listing_id", LongType),
    StructField("host_id", LongType), StructField("name", StringType),
    StructField("room_type", StringType), StructField("accommodates", IntegerType),
    StructField("price", DecimalType(10, 2)), StructField("minimum_nights", IntegerType),
    StructField("instant_bookable", BooleanType)))
  private val CalendarSchema = StructType(Seq(StructField("listing_id", LongType),
    StructField("date", DateType), StructField("available", BooleanType),
    StructField("price", DecimalType(10, 2))))

  private val feedRows = scala.collection.mutable.Map[Int, Long]()
  private val stats = scala.collection.mutable.Map[Int, Map[String, Double]]()
  private val checkpointOps = scala.collection.mutable.Set[Int]()

  private def day(d: Int) = feeds.BaseDay + d
  private def runTs(d: Int) = s"${Gen.day(day(d))} 02:00:00"
  private def dayDir(d: Int) = new File(feedDir, f"day-$d%03d")
  private def csv(f: File, schema: StructType) =
    span("sources.csv")(Sources.csvWithSchema(spark, f.getAbsolutePath, schema))

  def generate(): GenInfo = {
    val base = feeds.writeBase(new File(feedDir, "base"))
    val r = new java.util.SplittableRandom(c.seed + 7)
    val hist = (1 to SetupCommits).map(k =>
      feeds.writeCalendar(new File(feedDir, f"history/calendar-$k%02d.csv"), day(-k), r)).sum
    Gen.info(feedDir, base + hist)
  }

  private def withBucket(df: DataFrame, key: String) =
    df.withColumn("bucket", pmod(col(key), lit(Buckets.toLong)).cast(IntegerType))

  /** The day's fact slice: the calendar joined to the current dims. */
  private def factSlice(cal: DataFrame, listings: DataFrame, hosts: DataFrame): DataFrame = {
    val dl = listings.filter(col("is_valid"))
      .select(col("listing_sk"), col("listing_id").as("l_id"), col("host_id").as("l_host"),
        col("minimum_nights"))
    val dh = hosts.filter(col("is_valid")).select(col("host_sk"), col("host_id").as("h_id"))
    StarJoin.broadcastDimJoin(StarJoin.broadcastDimJoin(cal, dl, col("listing_id") === col("l_id")),
        dh, col("l_host") === col("h_id"))
      .select((col("listing_id") * 100000L + datediff(col("date"), lit("2020-01-01").cast(DateType)))
          .as("fact_id"), col("listing_sk"), col("host_sk"), col("date").as("date_id"),
        col("available"), col("price").as("price_amount"),
        StarJoin.band(col("minimum_nights"), Seq(7.0 -> "Short-term", 30.0 -> "Medium-term"),
          "Long-term").as("rental_category"))
  }

  private def readDim(t: String) = TxLog.read(spark, t).drop("bucket")

  override def setup(): Unit = {
    val base = new File(feedDir, "base")
    val hosts = Scd2.bootstrap(csv(new File(base, "hosts.csv"), HostSchema), "host_id",
      "host_sk", runTs(0), SqlRef.Sentinel).localCheckpoint()
    val listings = Scd2.bootstrap(csv(new File(base, "listings.csv"), ListingSchema),
      "listing_id", "listing_sk", runTs(0), SqlRef.Sentinel).localCheckpoint()
    // each table lands in SetupCommits commits: dims by bucket group, the
    // fact as SetupCommits history days
    (0 until SetupCommits).foreach { g =>
      def part(df: DataFrame, key: String) =
        withBucket(df, key).filter(pmod(col("bucket"), lit(SetupCommits)) === g)
      TxLog.append(part(hosts, "host_id"), hostT, partitionCol = Some("bucket"))
      TxLog.append(part(listings, "listing_id"), listT, partitionCol = Some("bucket"))
      val cal = csv(new File(feedDir, f"history/calendar-${g + 1}%02d.csv"), CalendarSchema)
      TxLog.append(factSlice(cal, listings, hosts), factT)
    }
    refs(0) = (SqlRef.view(hosts, "ref_host_0"), SqlRef.view(listings, "ref_listing_0"))
  }

  private def checkpoints: Int =
    Seq(hostT, listT, factT).map(t => Option(new File(t, "_txlog").listFiles).toSeq.flatten
      .count(_.getName.startsWith("c"))).sum

  private def logFiles: Int =
    Seq(hostT, listT, factT).map(t => Option(new File(t, "_txlog").listFiles).toSeq.flatten
      .count(f => !f.getName.startsWith("."))).sum

  private def versions: Int =
    Seq(hostT, listT, factT).map(t => Option(new File(t, "_txlog").listFiles).toSeq.flatten
      .count(_.getName.startsWith("v"))).sum

  /** Publishes a dim's new state: the rows this run opened or closed go to
    * the log as keyed upserts of their bucket partitions.
    */
  private def publish(table: String, merged: DataFrame, key: String, sk: String,
      ts: String): DataFrame = {
    val t = lit(ts).cast(TimestampType)
    val changed = withBucket(merged.filter(col("start_dt") === t || col("end_dt") === t), key)
    span("txlog.apply")(TxLog.applyChanges(spark, table, changed.limit(0), changed, sk, "bucket"))
    changed
  }

  private var lastChanged = Seq.empty[DataFrame]

  def op(i: Int): Unit = {
    val d = i + 1
    val dir = dayDir(d)
    val ts = runTs(d)
    val hostUp = span("step.dim_host") {
      val existing = span("txlog.snapshot")(readDim(hostT))
      val feed = csv(new File(dir, "hosts.csv"), HostSchema)
      val merged = span("scd2.merge")(Scd2.merge(existing, feed, "host_id", HostScd, "host_sk",
        ts, SqlRef.Sentinel, c.keying))
      publish(hostT, merged, "host_id", "host_sk", ts)
    }
    val listUp = span("step.dim_listing") {
      val existing = span("txlog.snapshot")(readDim(listT))
      val feed = csv(new File(dir, "listings.csv"), ListingSchema)
      val merged = span("scd2.merge_full")(Scd2.mergeFullSnapshot(existing, feed, "listing_id",
        ListingScd, "listing_sk", ts, SqlRef.Sentinel, c.keying))
      publish(listT, merged, "listing_id", "listing_sk", ts)
    }
    span("step.fact") {
      val cal = csv(new File(dir, "calendar.csv"), CalendarSchema)
      val (dl, dh) = span("txlog.snapshot")((readDim(listT), readDim(hostT)))
      val slice = span("starjoin.join")(factSlice(cal, dl, dh))
      span("txlog.append")(TxLog.append(slice, factT))
    }
    span("txlog.read")(TxLog.read(spark, listT).filter(col("is_valid")).count())
    lastChanged = Seq(hostUp, listUp)
  }

  private var before = (0, 0, 0L)

  /** Feeds for op `i` are written before it runs (untimed generation). */
  override def prepare(i: Int): Unit = {
    feedRows(i) = feeds.writeDay(i + 1, dayDir(i + 1))
    before = (checkpoints, versions, Files.bytes(Seq(lake)))
    opStartMs = System.currentTimeMillis()
  }

  def inputRows(i: Int): Long = feedRows(i)
  def inputBytes(i: Int): Long = Files.bytes(Seq(dayDir(i + 1).getAbsolutePath))
  def writtenBytes(i: Int): Long = Files.bytes(Seq(lake)) - before._3
  override def checkpointed(i: Int): Boolean = checkpoints > before._1

  override def layer(i: Int): Map[String, Double] = {
    val changedRows = lastChanged.map(_.count()).sum
    val staged = Files.bytes(Seq(lake)) - before._3
    val stagedRows = Seq(hostT, listT).map { t =>
      val snap = TxLog.snapshot(spark, t)
      val newest = snap.entries.map(e => new File(new java.net.URI(e.path).getPath))
        .filter(_.lastModified >= opStartMs)
      if (newest.isEmpty) 0L else spark.read.parquet(newest.map(_.getAbsolutePath): _*).count()
    }.sum
    Map("txlog.staged_mb" -> staged / 1048576.0,
      "txlog.rewrite_amp" -> stagedRows.toDouble / math.max(1L, changedRows),
      "txlog.log_files" -> logFiles.toDouble,
      "txlog.retries" -> ((versions - before._2) - 3).toDouble,
      "scd2.changed_ratio" -> changedRows.toDouble / math.max(1L, feedRows(i)),
      "sinks.write_mb" -> staged / 1048576.0)
  }

  private var opStartMs = 0L

  /** Reference (host, listing) dim views after day `d`, each computed once
    * from the day before.
    */
  private val refs = scala.collection.mutable.Map[Int, (String, String)]()

  private def refDims(d: Int): (String, String) = refs.getOrElseUpdate(d, {
    val (prevHost, prevList) = refDims(d - 1)
    val dir = dayDir(d)
    def feed(f: String, schema: StructType) = SqlRef.view(spark.read.options(SqlRef.Csv)
      .schema(schema).csv(new File(dir, f).getAbsolutePath), s"ref_feed_${f.stripSuffix(".csv")}_$d")
    val host = SqlRef.view(spark.sql(SqlRef.merge(prevHost, feed("hosts.csv", HostSchema),
      "host_id", HostScd, "host_sk", runTs(d), full = false)).localCheckpoint(), s"ref_host_$d")
    val list = SqlRef.view(spark.sql(SqlRef.merge(prevList, feed("listings.csv", ListingSchema),
      "listing_id", ListingScd, "listing_sk", runTs(d), full = true)).localCheckpoint(),
      s"ref_listing_$d")
    (host, list)
  })

  def check(i: Int): Seq[String] = {
    val d = i + 1
    val (host, list) = refDims(d)
    val cal = SqlRef.view(spark.read.options(SqlRef.Csv).schema(CalendarSchema)
      .csv(new File(dayDir(d), "calendar.csv").getAbsolutePath), s"ref_calendar_$d")
    val refFact = spark.sql(
      s"""SELECT c.listing_id * 100000 + datediff(c.date, DATE'2020-01-01') AS fact_id,
         |  l.listing_sk, h.host_sk, c.date AS date_id, c.available, c.price AS price_amount,
         |  CASE WHEN l.minimum_nights <= 7 THEN 'Short-term'
         |       WHEN l.minimum_nights <= 30 THEN 'Medium-term' ELSE 'Long-term' END
         |    AS rental_category
         |FROM $cal c
         |JOIN (SELECT * FROM $list WHERE is_valid) l ON c.listing_id = l.listing_id
         |JOIN (SELECT * FROM $host WHERE is_valid) h ON l.host_id = h.host_id""".stripMargin)
    val date = lit(Gen.day(day(d))).cast(DateType)
    val expected = Digest.of(Seq("dim_host" -> spark.table(host),
      "dim_listing" -> spark.table(list), "fact_day" -> refFact))
    val actual = Digest.of(Seq("dim_host" -> readDim(hostT), "dim_listing" -> readDim(listT),
      "fact_day" -> TxLog.read(spark, factT).filter(col("date_id") === date)))
    val bad = Digest.mismatches(expected, actual).map(t => s"scd2_daily.day$d.$t")
    passed(i) = bad.isEmpty
    bad
  }

  private val passed = scala.collection.mutable.Map[Int, Boolean]()

  def quality(i: Int): Double = if (passed.getOrElse(i, false)) 1.0 else 0.0

  def corrupt(): Unit = {
    val snap = TxLog.snapshot(spark, listT)
    Corrupt.oneRow(spark, new File(new java.net.URI(snap.entries.head.path).getPath))
  }
}
