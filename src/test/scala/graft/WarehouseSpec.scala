package graft

import java.nio.file.{Files, Paths}
import graft.dw.{DateDims, Warehouse}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** End-to-end build of the 21-table star schema on miniature Yelp-shaped
  * fixtures (FIXTURES.md §B), asserting the invariants from SURVEY.md §5.3
  * and the documented divergences (§7.4).
  */
class WarehouseSpec extends SparkTestBase {

  private lazy val fixtureDir: String = {
    val dir = Files.createTempDirectory("graft_wh_fixtures").toString
    def write(name: String, lines: Seq[String]): Unit =
      Files.write(Paths.get(dir, name),
        lines.mkString("\n").getBytes("UTF-8"))

    write("business.json", Seq(
      // b1: two categories (two-char ", " sep), string-valued attributes,
      // hours incl. midnight-crossing "11:0-0:0", "24:0" wrap, and three
      // malformed variants the reference skips (no '-', double '-', non-int)
      """{"business_id":"b1","name":"Cafe One","address":"1 A St","city":"LV","state":"NV","postal_code":"89101","latitude":36.1,"longitude":-115.1,"is_open":1,"stars":4.5,"review_count":10,"categories":"Coffee & Tea, Cafes","attributes":{"WiFi":"'free'","BusinessParking":"{'garage': True}"},"hours":{"Monday":"11:0-0:0","Tuesday":"9:0-24:0","Wednesday":"bad","Thursday":"8:0-12:0-14:0","Friday":"a:b-10:0"}}""",
      """{"business_id":"b2","name":"Diner Two","address":"2 B St","city":"LV","state":"NV","postal_code":"89102","latitude":36.2,"longitude":-115.2,"is_open":0,"stars":3.0,"review_count":5,"categories":null,"attributes":null,"hours":{"Saturday":"10:30-22:0"}}""",
      """{"business_id":"b3","name":"Bar Three","address":"3 C St","city":"LV","state":"NV","postal_code":"89103","latitude":36.3,"longitude":-115.3,"is_open":1,"stars":4.0,"review_count":7,"categories":"Cafes","attributes":{"WiFi":"'no'"},"hours":null}""",
      // exact duplicate row: dim_business must dedup it, bridge facts must not
      """{"business_id":"b3","name":"Bar Three","address":"3 C St","city":"LV","state":"NV","postal_code":"89103","latitude":36.3,"longitude":-115.3,"is_open":1,"stars":4.0,"review_count":7,"categories":"Cafes","attributes":{"WiFi":"'no'"},"hours":null}"""))

    write("checkin.json", Seq(
      """{"business_id":"b1","date":"2015-04-26 19:49:16, 2015-08-30 15:42:17, garbage"}""",
      """{"business_id":"b2","date":"2016-01-01 00:00:01, 2045-01-01 10:00:00"}"""))

    write("review.json", Seq(
      """{"review_id":"r1","business_id":"b1","user_id":"u1","stars":5.0,"useful":1,"funny":0,"cool":1,"text":"great","date":"2015-04-26 19:49:16"}""",
      """{"review_id":"r2","business_id":"b2","user_id":"u2","stars":2.0,"useful":0,"funny":0,"cool":0,"text":"meh","date":"2045-02-02 01:01:01"}"""))

    write("user.json", Seq(
      """{"user_id":"u1","name":"Ann","review_count":10,"yelping_since":"2010-01-02 03:04:05","useful":1,"funny":2,"cool":3,"fans":4,"average_stars":4.2,"compliment_hot":0,"compliment_more":0,"compliment_profile":0,"compliment_cute":0,"compliment_list":0,"compliment_note":0,"compliment_plain":0,"compliment_cool":0,"compliment_funny":0,"compliment_writer":0,"compliment_photos":0,"elite":"2015,2016","friends":"f1, f2,f3"}""",
      """{"user_id":"u2","name":"Bob","review_count":1,"yelping_since":"2012-05-06 07:08:09","useful":0,"funny":0,"cool":0,"fans":0,"average_stars":3.0,"compliment_hot":0,"compliment_more":0,"compliment_profile":0,"compliment_cute":0,"compliment_list":0,"compliment_note":0,"compliment_plain":0,"compliment_cool":0,"compliment_funny":0,"compliment_writer":0,"compliment_photos":0,"elite":"","friends":""}"""))

    write("tip.json", Seq(
      """{"user_id":"u1","business_id":"b1","text":"try it","date":"2015-04-26 12:00:00","compliment_count":2}""",
      """{"user_id":"u2","business_id":"b2","text":"skip it","date":"2045-03-03 03:03:03","compliment_count":0}"""))

    write("covid.json", Seq(
      """{"business_id":"b1","Grubhub enabled":true,"Request a Quote Enabled":false,"Covid Banner":"open","Temporary Closed Until":"FALSE","Virtual Services Offered":"none","highlights":"[{\"identifier\":\"x\",\"params\":\"p\",\"type\":\"t\"},{\"identifier\":\"y\",\"params\":null,\"type\":\"t2\"}]"}""",
      """{"business_id":"b2","Grubhub enabled":false,"Request a Quote Enabled":false,"Covid Banner":"closed","Temporary Closed Until":"FALSE","Virtual Services Offered":"none","highlights":"not json"}"""))

    write("temperature-degreef.csv", Seq(
      "date,min,max,normal_min,normal_max",
      "20150426,60.0,85.0,58.1,83.2",
      "20450101,10.0,20.0,11.0,21.0")) // beyond spine end -> null datetime_id

    write("precipitation.csv", Seq(
      "date,precipitation,precipitation_normal",
      "20150426,T,0.01",
      "20150427,0.02,0.03"))
    dir
  }

  private lazy val tables: Map[String, DataFrame] = Warehouse.build(spark,
    Warehouse.Inputs(
      business = s"$fixtureDir/business.json",
      review = s"$fixtureDir/review.json",
      user = s"$fixtureDir/user.json",
      checkin = s"$fixtureDir/checkin.json",
      tip = s"$fixtureDir/tip.json",
      covid = s"$fixtureDir/covid.json",
      temperature = s"$fixtureDir/temperature-degreef.csv",
      precipitation = s"$fixtureDir/precipitation.csv")).toMap

  private def datetimeIdOf(isoDate: String): Int =
    java.time.temporal.ChronoUnit.DAYS.between(
      java.time.LocalDate.parse(DateDims.SpineStart),
      java.time.LocalDate.parse(isoDate)).toInt

  test("all 21 warehouse tables are produced (transformation.py:643-685)") {
    assert(tables.size === 21)
    assert(tables.keySet === Set(
      "dim_datetime", "dim_date", "dim_hour", "dim_business", "dim_category",
      "fact_business_categories", "dim_attribute", "fact_business_attributes",
      "fact_business_hours", "dim_user", "dim_elite", "dim_friend",
      "fact_user_elite", "fact_user_friend", "fact_reviews", "fact_checkins",
      "fact_tips", "fact_covid_features", "dim_highlights",
      "dim_temperature", "dim_precipitation"))
  }

  test("dim_business dedups whole rows (P4)") {
    assert(tables("dim_business").count() === 3)
  }

  test("categories: two-char ', ' separator, dense ids, bridge keeps dups (E4/A4/J1)") {
    val dimCat = tables("dim_category").collect()
    assert(dimCat.map(_.getString(0)).sorted.toSeq === Seq("Cafes", "Coffee & Tea"))
    assert(dimCat.map(_.getInt(1)).sorted.toSeq === Seq(1, 2))
    // b1 x2 categories + b3 "Cafes" x2 duplicate source rows = 4 bridge rows
    assert(tables("fact_business_categories").count() === 4)
  }

  test("attributes: map explode + composite-key join (E5/J2)") {
    val dimAttr = tables("dim_attribute").collect()
    assert(dimAttr.length === 3) // (WiFi,'free'), (WiFi,'no'), (BusinessParking,{'garage': True})
    assert(dimAttr.map(_.getString(1)).toSet.contains("{'garage': True}"))
    assert(tables("fact_business_attributes").count() === 4) // b1 x2, b3 x2 (dup row)
  }

  test("hours: midnight wrap, %24, malformed skipped (E6/F5/X4)") {
    val hours = tables("fact_business_hours").collect()
    assert(hours.length === 3) // b1 Mon + Tue, b2 Sat
    val mon = hours.find(r => r.getString(1) == "Monday").get
    assert(mon.getInt(4) === 11 && mon.getInt(5) === 0) // "11:0-0:0"
    val tue = hours.find(r => r.getString(1) == "Tuesday").get
    assert(tue.getInt(5) === 0) // "9:0-24:0" -> 24 % 24
    val sat = hours.find(r => r.getString(1) == "Saturday").get
    assert(sat.getInt(4) === 10 && sat.getInt(5) === 22)
  }

  test("fact_checkins: inner datetime semantics — no nulls, misses dropped (J5)") {
    val checkins = tables("fact_checkins")
    assert(checkins.count() === 3) // garbage token + 2045 date dropped
    assert(checkins.filter(col("datetime_id").isNull).count() === 0)
    val ids = checkins.select("checkin_id").collect().map(_.getLong(0)).sorted
    assert(ids.toSeq === (1L to 3L)) // dense ids (A4)
    val b1First = checkins.filter(col("business_id") === "b1")
      .agg(min("datetime_id")).collect()(0).getInt(0)
    assert(b1First === datetimeIdOf("2015-04-26"))
  }

  test("fact_reviews: left datetime semantics — miss kept as null (J4 intent, not the :336 bug)") {
    val reviews = tables("fact_reviews").collect()
    assert(reviews.length === 2)
    val r1 = reviews.find(_.getAs[String]("review_id") == "r1").get
    assert(r1.getAs[Int]("datetime_id") === datetimeIdOf("2015-04-26"))
    val r2 = reviews.find(_.getAs[String]("review_id") == "r2").get
    assert(r2.isNullAt(r2.fieldIndex("datetime_id"))) // 2045 beyond spine
  }

  test("elite/friends: empty strings dropped, friend tokens NOT trimmed (P8/§7.4.5)") {
    assert(tables("dim_elite").collect().map(_.getString(0)).sorted.toSeq
      === Seq("2015", "2016"))
    val friends = tables("dim_friend").collect().map(_.getString(0)).toSet
    assert(friends === Set("f1", " f2", "f3")) // " f2" keeps its leading space
    assert(tables("fact_user_elite").count() === 2)
    assert(tables("fact_user_friend").count() === 3)
  }

  test("fact_tips: left semantics + dense tip_id") {
    val tips = tables("fact_tips").collect()
    assert(tips.length === 2)
    assert(tips.count(r => r.isNullAt(r.fieldIndex("datetime_id"))) === 1)
    assert(tips.map(_.getAs[Long]("tip_id")).sorted.toSeq === Seq(1L, 2L))
  }

  test("covid: renamed snake_case columns; invalid highlights JSON -> zero rows (E7)") {
    val fact = tables("fact_covid_features")
    assert(fact.columns.toSeq === Seq("business_id", "grubhub_enabled",
      "request_a_quote_enabled", "covid_banner", "temporary_closed_until",
      "virtual_services_offered"))
    assert(fact.count() === 2)
    val hl = tables("dim_highlights").collect()
    assert(hl.length === 2) // only b1's two valid entries
    assert(hl.forall(_.getString(0) == "b1"))
  }

  test("climate dims: yyyymmdd join, out-of-spine kept null, 'T' trace preserved") {
    val temp = tables("dim_temperature").collect()
    assert(temp.length === 2)
    assert(temp.count(r => r.isNullAt(r.fieldIndex("datetime_id"))) === 1)
    val precip = tables("dim_precipitation").collect()
    assert(precip.map(_.getAs[String]("precipitation")).toSet === Set("T", "0.02"))
    assert(precip.forall(!_.isNullAt(0)))
  }

  test("register: skip-empty semantics (S7/X3) — empty inputs register only generated dims") {
    val emptyBuild = Warehouse.build(spark, Warehouse.Inputs())
    val registered = Warehouse.register(emptyBuild)
    assert(registered.toSet === Set("dim_datetime", "dim_date", "dim_hour"))
  }

  test("register: a partial build registers its non-empty tables in assembly order") {
    val partial = Warehouse.build(spark, Warehouse.Inputs(
      business = s"$fixtureDir/business.json",
      checkin = s"$fixtureDir/checkin.json"))
    val registered = Warehouse.register(partial)
    assert(registered === Seq("dim_datetime", "dim_date", "dim_hour",
      "dim_business", "dim_category", "fact_business_categories",
      "dim_attribute", "fact_business_attributes", "fact_business_hours",
      "fact_checkins"))
    assert(registered === partial.collect { case (n, df) if df.count() > 0 => n })
    val frames = partial.toMap
    registered.foreach { n =>
      assert(spark.table(n).count() === frames(n).count(), n)
    }
  }

  test("writeParquet: every table of the full build reads back with its row count") {
    val outDir = Files.createTempDirectory("graft_wh_parquet").toString
    Warehouse.writeParquet(tables.toSeq, outDir)
    tables.foreach { case (n, df) =>
      assert(spark.read.parquet(s"$outDir/$n").count() === df.count(), n)
    }
  }

  test("writeParquet: a failing table surfaces its own error, not an ExecutionException") {
    val outDir = Files.createTempDirectory("graft_wh_fail").toString
    val bad = spark.range(3).select(
      raise_error(concat(lit("bad table row "), col("id").cast("string"))).as("x"))
    val err = intercept[Throwable] {
      Warehouse.writeParquet(Seq(
        "dim_hour" -> tables("dim_hour"),
        "bad" -> bad,
        "dim_date" -> tables("dim_date")), outDir)
    }
    assert(!err.isInstanceOf[java.util.concurrent.ExecutionException])
    assert(err.getMessage.contains("bad table row"), s"unexpected failure: $err")
  }

  test("writeScaled: same-bucketed fact and dim join with no exchange (S7 at scale)") {
    // stale catalog entries / warehouse dirs survive across JVMs — clear
    Seq("graft_wh_fact_checkins", "graft_wh_dim_business").foreach { t =>
      spark.sql(s"DROP TABLE IF EXISTS $t")
    }
    val outDir = Files.createTempDirectory("graft_wh_scaled").toString
    val subset = Seq(
      "fact_checkins" -> tables("fact_checkins"),
      "dim_business" -> tables("dim_business"),
      "dim_hour" -> tables("dim_hour"))
    Warehouse.writeScaled(subset, outDir, Map(
      "fact_checkins" -> Warehouse.TableLayout(buckets = 4, bucketCols = Seq("business_id")),
      "dim_business" -> Warehouse.TableLayout(buckets = 4, bucketCols = Seq("business_id"))))
    val joined = spark.table("graft_wh_fact_checkins")
      .join(spark.table("graft_wh_dim_business"), Seq("business_id"))
    val plan = joined.queryExecution.executedPlan.toString
    assert(!plan.contains("Exchange hashpartitioning"),
      s"bucketed warehouse join still shuffles:\n$plan")
    assert(joined.count() === tables("fact_checkins").count())
    // the unbucketed table went to plain parquet
    assert(spark.read.parquet(s"$outDir/dim_hour").count() === 24)
  }

  test("SQL serving over the registered warehouse (S6/S9)") {
    Warehouse.register(Warehouse.build(spark, Warehouse.Inputs(
      business = s"$fixtureDir/business.json",
      checkin = s"$fixtureDir/checkin.json")))
    val got = spark.sql(
      """SELECT b.name, COUNT(*) AS n
        |FROM fact_checkins c JOIN dim_business b USING (business_id)
        |GROUP BY b.name ORDER BY n DESC""".stripMargin).collect()
    assert(got.map(r => (r.getString(0), r.getLong(1))).toSeq
      === Seq(("Cafe One", 2L), ("Diner Two", 1L)))
  }
}
