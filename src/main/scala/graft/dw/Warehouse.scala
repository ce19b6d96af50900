package graft.dw

import org.apache.spark.sql.{DataFrame, SparkSession}

/** End-to-end warehouse build: raw Yelp/climate inputs → the 21-table star
  * schema → registered SQL surface (SURVEY.md §1; `/root/reference/
  * transformation.py:602-691`).
  *
  * The reference runs 8 dataset pipelines on a 4-thread pool then CTAS's
  * each pandas frame into DuckDB (X1, S7). Here the "pipeline" is a map of
  * lazy plans. Spark runs one job per action, and one thread submits its
  * actions one at a time, so [[register]]'s emptiness probes and the
  * sinks' table writes run on [[graft.ops.inParallel]] with 4 workers, as
  * the reference's pool does. Registration itself stays serial and keeps
  * input order. The serving layer is Spark SQL over registered views
  * (S6/S8/S9) instead of DuckDB.
  */
object Warehouse {

  /** Input paths; any may be absent (empty-input fallback X3). */
  final case class Inputs(
      business: String = "", review: String = "", user: String = "",
      checkin: String = "", tip: String = "", covid: String = "",
      temperature: String = "", precipitation: String = "")

  /** The 21 output tables in the reference's assembly order
    * (transformation.py:643-685).
    */
  def build(spark: SparkSession, in: Inputs): Seq[(String, DataFrame)] = {
    val dimDatetime = DateDims.dimDatetime(spark)
    val dimDate = DateDims.dimDate(spark)
    val dimHour = DateDims.dimHour(spark)

    val businessTables = Transforms.business(
      Sources.ndjson(spark, in.business, Schemas.business))
    val userTables = Transforms.user(
      Sources.ndjson(spark, in.user, Schemas.user))
    val covidTables = Transforms.covid(
      Sources.ndjson(spark, in.covid, Schemas.covid))

    Seq(
      "dim_datetime" -> dimDatetime,
      "dim_date" -> dimDate,
      "dim_hour" -> dimHour,
      "dim_business" -> businessTables("dim_business"),
      "dim_category" -> businessTables("dim_category"),
      "fact_business_categories" -> businessTables("fact_business_categories"),
      "dim_attribute" -> businessTables("dim_attribute"),
      "fact_business_attributes" -> businessTables("fact_business_attributes"),
      "fact_business_hours" -> businessTables("fact_business_hours"),
      "dim_user" -> userTables("dim_user"),
      "dim_elite" -> userTables("dim_elite"),
      "dim_friend" -> userTables("dim_friend"),
      "fact_user_elite" -> userTables("fact_user_elite"),
      "fact_user_friend" -> userTables("fact_user_friend"),
      "fact_reviews" -> Transforms.review(
        Sources.ndjson(spark, in.review, Schemas.review), dimDatetime),
      "fact_checkins" -> Transforms.checkin(
        Sources.ndjson(spark, in.checkin, Schemas.checkin), dimDatetime),
      "fact_tips" -> Transforms.tip(
        Sources.ndjson(spark, in.tip, Schemas.tip), dimDatetime),
      "fact_covid_features" -> covidTables("fact_covid_features"),
      "dim_highlights" -> covidTables("dim_highlights"),
      "dim_temperature" -> Transforms.temperature(
        Sources.csv(spark, in.temperature, Schemas.temperature), dimDatetime),
      "dim_precipitation" -> Transforms.precipitation(
        Sources.csv(spark, in.precipitation, Schemas.precipitation), dimDatetime))
  }

  /** Register non-empty tables as temp views — the reference's
    * skip-empty CTAS semantics (S7, transformation.py:528-538). The
    * emptiness probes run overlapped; the views are created afterwards,
    * in input order. Returns the registered names in input order.
    */
  def register(tables: Seq[(String, DataFrame)]): Seq[String] = {
    val nonEmpty = graft.ops.inParallel(tables.map { case (_, df) =>
      () => !df.isEmpty })
    tables.zip(nonEmpty).collect { case ((name, df), true) =>
      df.createOrReplaceTempView(name)
      name
    }
  }

  /** Persist tables as parquet under `dir` (columnar at-rest layer; see
    * [[writeScaled]] for the 100 TB layout variant).
    */
  def writeParquet(tables: Seq[(String, DataFrame)], dir: String): Unit =
    writeScaled(tables, dir, Map.empty)

  /** At-rest layout for one table in the scaled sink: hive-style
    * partition columns (→ partition-pruned scans) and/or a bucket spec
    * (→ co-located, shuffle-free joins on the bucket key). */
  final case class TableLayout(
      partitionBy: Seq[String] = Nil,
      buckets: Int = 0,
      bucketCols: Seq[String] = Nil)

  /** The 100 TB variant of [[writeParquet]]: tables with a bucket spec are
    * written through `saveAsTable` (the only sink that records bucket
    * metadata) as external tables rooted at `dir`, registered as
    * `graft_wh_<name>`; plain and partitioned tables go straight to
    * parquet. Joining two tables bucketed the same way on their join key
    * plans with NO exchange on either side (asserted in WarehouseSpec);
    * partition columns turn fact-date filters into partition pruning
    * (asserted in ScaleInfraSpec). Tables write overlapped; each goes to
    * its own directory and catalog name. The first failure is rethrown
    * unwrapped.
    */
  def writeScaled(tables: Seq[(String, DataFrame)], dir: String,
      layouts: Map[String, TableLayout]): Unit = {
    def write(name: String, df: DataFrame): Unit = {
      val lay = layouts.getOrElse(name, TableLayout())
      if (lay.buckets > 0) {
        require(lay.bucketCols.nonEmpty,
          s"bucketed layout for $name needs bucketCols")
        df.sparkSession.sql(s"DROP TABLE IF EXISTS graft_wh_$name")
        val w = df.write.mode("overwrite")
          .option("path", s"$dir/$name")
          .bucketBy(lay.buckets, lay.bucketCols.head, lay.bucketCols.tail: _*)
          .sortBy(lay.bucketCols.head, lay.bucketCols.tail: _*)
        (if (lay.partitionBy.nonEmpty) w.partitionBy(lay.partitionBy: _*) else w)
          .saveAsTable(s"graft_wh_$name")
      } else {
        val w = df.write.mode("overwrite")
        (if (lay.partitionBy.nonEmpty) w.partitionBy(lay.partitionBy: _*) else w)
          .parquet(s"$dir/$name")
      }
    }
    graft.ops.inParallel[Unit](tables.map { case (name, df) =>
      () => write(name, df) })
  }
}
