package graft

import org.apache.spark.sql.SparkSession

/** The session, entry selection and seed warmup shared by the measuring
  * mains (Bench, ProfMain, PlanDumpMain, RecallProbeMain,
  * CrossoverProbeMain, ScaleRehearsal), so a layer breakdown runs under
  * the same configuration as the end-to-end number it explains.
  * WarehouseMain builds its session here too. */
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

  /** Build the shared label seeds ([[ext.Dedup.ensureLabelSeeds]])
    * ahead of the measured entries when a selected entry consumes them
    * ([[ext.Dedup.SeedConsumerPrefixes]]; a run selecting none of them
    * pays nothing). The seeds are fixture construction, not query cost,
    * so they are built here, like JIT/codegen warmup: otherwise the first
    * measured seed consumer absorbs a once-per-run build its retry skips.
    * Returns the build's seconds (Bench records them as `seed_s`, so the
    * moved-out cost stays visible), or -1 when nothing was built. A
    * failed build is logged to stderr, not thrown: the first timed seed
    * consumer then absorbs the seed cost, and the log labels it. */
  def warmSeeds(spark: SparkSession, sfDir: String,
      selected: Iterable[String]): Double =
    if (!selected.exists(n =>
        ext.Dedup.SeedConsumerPrefixes.exists(n.startsWith))) -1.0
    else try {
      ops.configure(spark)
      val t0 = System.nanoTime()
      ext.Dedup.ensureLabelSeeds(spark, sfDir)
      (System.nanoTime() - t0) / 1e9
    } catch {
      case t: Throwable =>
        System.err.println(s"[harness] WARM-UP SEED BUILD FAILED — the " +
          s"first timed label entry will absorb the seed cost: $t")
        -1.0
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
