package graft

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobEnd, SparkListenerJobStart}
import org.apache.spark.sql.{DataFrame, SparkSession}
import scala.jdk.CollectionConverters._

/** The session, entry selection and seed warmup shared by the measuring
  * mains (Bench, RecallProbeMain, CrossoverProbeMain, ScaleRehearsal and
  * this object's own `prof`/`plans` modes), so a layer breakdown runs
  * under the same configuration as the end-to-end number it explains.
  * WarehouseMain builds its session here too.
  *
  * {{{
  * tools/run_main.sh graft.Harness prof  <sfDir> <sel,...> [reps]
  * tools/run_main.sh graft.Harness plans <sfDir> <outDir> <sel,...> [suffix]
  * }}}
  * Selectors are [[selector]]'s (Bench's SPARK_GRAFT_BENCH_ONLY tokens).
  * Both modes run the selected entries in name order after
  * [[warmSeeds]], releasing caches after every run:
  *   - `prof` (guide §1.1/§1.5) runs each entry `reps` times (default 2)
  *     and prints per run the setup/count/listener-drain seconds, the
  *     Spark job count and job time grouped by `spark.job.description`
  *     (the `ops.withDesc` labels), then the driver-side phase walls.
  *     Its target is the FIXED overhead of the index-maintenance
  *     entries: dozens of micro-jobs whose per-job scheduling floor
  *     dominates fixture-scale applies.
  *   - `plans` (optimization guide §1) writes each entry's
  *     `.explain("formatted")` to `<outDir>/<name><suffix>.txt` — the
  *     plans/ evidence (Exchange count, join strategy, pushed filters,
  *     codegen spans). The entry function RUNS first (index entries
  *     build their fixtures eagerly). The special selector
  *     `cc_iteration` also dumps one executed connected-components loop
  *     iteration's final adaptive plan (ExtensionsSpec pins its
  *     exchange count). */
object Harness {

  def main(args: Array[String]): Unit = {
    val plans = args(0) == "plans"
    require(plans || args(0) == "prof", "usage: graft.Harness " +
      "prof <sfDir> <sel> [reps] | plans <sfDir> <outDir> <sel> [suffix]")
    val sel = if (plans) 3 else 2
    val (sfDir, only, opt) = (args(1), selector(args(sel)), args.lift(sel + 1))
    val spark = session()
    val run =
      if (plans) planDump(spark, args(2), opt.getOrElse(""), only)
      else profile(spark)
    val qmap = SparkEntry.queries.filter(kv => only(kv._1))
    warmSeeds(spark, sfDir, qmap.keys)
    for (name <- qmap.keys.toSeq.sorted;
         rep <- 1 to (if (plans) 1 else opt.fold(2)(_.toInt))) {
      run(name, rep, () => qmap(name)(spark, sfDir))
      release(spark)
    }
    spark.stop()
  }

  /** `prof`'s per-run step: a listener records every job's label and
    * span; each run prints its jobs grouped by label. */
  private def profile(spark: SparkSession)
      : (String, Int, () => DataFrame) => Unit = {
    case class Rec(desc: String, start: Long, var end: Long = -1L)
    val jobs = new java.util.concurrent.ConcurrentHashMap[Int, Rec]()
    spark.sparkContext.addSparkListener(new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        jobs.put(e.jobId, Rec(Option(e.properties)
          .flatMap(p => Option(p.getProperty("spark.job.description")))
          .getOrElse("(unlabelled)"), e.time))
      override def onJobEnd(e: SparkListenerJobEnd): Unit =
        Option(jobs.get(e.jobId)).foreach(_.end = e.time)
    })
    (name, rep, entry) => {
      jobs.clear()
      val t0 = System.nanoTime()
      val df = entry()
      val t1 = System.nanoTime()
      df.count()
      val t2 = System.nanoTime()
      // drain the listener bus before reading the jobs map: events are
      // delivered async, so a late onJobEnd would be dropped by the
      // end == -1 filter, or land after jobs.clear() and be misattributed
      // to the next run. A plain SparkContext has no waitUntilEmpty
      // hook, so settle by polling the completed-job count.
      var (settled, prev) = (0, -1)
      while (settled < 3) {
        val done = jobs.values.asScala.count(_.end >= 0)
        if (done == prev) settled += 1 else { settled = 0; prev = done }
        Thread.sleep(100)
      }
      val t3 = System.nanoTime()
      val done = jobs.values.asScala.filter(_.end >= 0).toSeq
      println(f"== $name rep$rep: setup=${(t1 - t0) / 1e9}%.2fs " +
        f"count=${(t2 - t1) / 1e9}%.2fs clear=${(t3 - t2) / 1e9}%.2fs " +
        f"jobs=${done.size} jobTime=${done.map(r => r.end - r.start).sum / 1e3}%.2fs")
      done.groupBy(_.desc).view.mapValues(rs =>
          (rs.size, rs.map(r => r.end - r.start).sum)).toSeq
        .sortBy(-_._2._2).foreach { case (d, (n, ms)) =>
          println(f"   ${ms / 1e3}%8.2fs  n=$n%-4d $d")
        }
      // driver-side WALL decomposition (sequential per thread; nested
      // phases count in both labels)
      println("   -- phase wall --")
      ops.phaseTimes.asScala.toSeq.sortBy(-_._2._2).foreach {
        case (d, (n, ns)) => println(f"   ${ns / 1e9}%8.2fs  n=$n%-4d $d")
      }
      ops.phaseTimes.clear()
    }
  }

  /** `plans`' per-entry step (a failing entry is logged and skipped);
    * the `cc_iteration` dump runs here, before any entry. */
  private def planDump(spark: SparkSession, outDir: String, suffix: String,
      only: String => Boolean): (String, Int, () => DataFrame) => Unit = {
    new java.io.File(outDir).mkdirs()
    def write(name: String, text: String): Unit = {
      val w = new java.io.PrintWriter(s"$outDir/$name$suffix.txt")
      try w.println(text) finally w.close()
      println(s"[plandump] wrote $name")
    }
    if (only("cc_iteration")) {
      import spark.implicits._
      ext.Dedup.ccCapturePlan.set(true)
      try {
        val fwd = (0L until 63L).map(i => (i, i + 1)).toDF("src", "dst")
        val sym = fwd.union(fwd.select($"dst".as("src"), $"src".as("dst")))
          .repartition(4, $"src").persist()
        sym.count()
        ext.Dedup.connectedComponents(spark, sym, width = 4)._1.count()
        write("cc_iteration", ext.Dedup.lastCcIterPlan.get())
      } finally ext.Dedup.ccCapturePlan.set(false)
    }
    (name, _, entry) =>
      try write(name, entry().queryExecution.explainString(
        org.apache.spark.sql.execution.FormattedMode))
      catch {
        case t: Throwable => System.err.println(s"[plandump] $name failed: $t")
      }
  }

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
