package graft

import org.apache.spark.sql.SparkSession

/** The session and entry selection shared by the measuring mains
  * (Bench, ProfMain, PlanDumpMain, RecallProbeMain, CrossoverProbeMain),
  * so a layer breakdown runs under the same configuration as the
  * end-to-end number it explains. */
object Harness {

  /** `local[N]` with N shuffle partitions, N = `SPARK_GRAFT_CPUS`
    * (default 4); UTC session time zone (date-bucketed queries group on
    * the calendar the correctness gate verified, as in Verify and
    * SparkTestBase); UI off. */
  def session(): SparkSession = {
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }

  /** Comma-separated selectors, each matching a full entry name
    * ("ext03_dedup_minhash_lsh"), an underscore-delimited prefix
    * ("ext03", "q10") or a [[Bench.shortKey]] ("x03", "10"). Token
    * equality, not startsWith: "q10" must not drag in q100-q103. */
  def selector(spec: String): String => Boolean = {
    val ps = spec.split(',').map(_.trim).filter(_.nonEmpty).toSet
    n => ps(n) || ps(n.takeWhile(_ != '_')) || ps(Bench.shortKey(n))
  }

  /** Drop an entry's persist()ed intermediates AND leftover RDD-level
    * storage (localCheckpoint blocks are not in the SQL cache), so
    * cached blocks neither accumulate nor skew the next entry. */
  def release(spark: SparkSession): Unit = {
    spark.catalog.clearCache()
    spark.sparkContext.getPersistentRDDs.values
      .foreach(_.unpersist(blocking = false))
  }
}
