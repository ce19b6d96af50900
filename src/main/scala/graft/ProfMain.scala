package graft

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobEnd, SparkListenerJobStart}

/** Job-level profiler for bench entries (guide §1.1/§1.5): runs the named
  * catalog queries with a listener that attributes every Spark job to its
  * `spark.job.description` (set by the labelled hot paths — see
  * `graft.ops.withDesc`) and prints, per query run, the job count and the
  * wall time grouped by label. The target is the FIXED overhead of the
  * index-maintenance entries: dozens of micro-jobs (metadata reads, DML
  * commits, checkpoint materializations) whose per-job scheduling floor
  * dominates fixture-scale applies.
  *
  * Usage: tools/run_main.sh graft.ProfMain <sfDir> <sel1,sel2,...> [reps]
  * Selectors match Bench's SPARK_GRAFT_BENCH_ONLY tokens; the session is
  * Bench's ([[Harness.session]], `SPARK_GRAFT_CPUS` cores).
  */
object ProfMain {
  def main(args: Array[String]): Unit = {
    val sfDir = args(0)
    val only = Harness.selector(args(1))
    val reps = if (args.length > 2) args(2).toInt else 2
    val spark = Harness.session()

    case class Rec(desc: String, start: Long, var end: Long = -1L)
    val jobs = new java.util.concurrent.ConcurrentHashMap[Int, Rec]()
    spark.sparkContext.addSparkListener(new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = {
        val d = Option(e.properties)
          .flatMap(p => Option(p.getProperty("spark.job.description")))
          .getOrElse("(unlabelled)")
        jobs.put(e.jobId, Rec(d, e.time))
      }
      override def onJobEnd(e: SparkListenerJobEnd): Unit = {
        val r = jobs.get(e.jobId)
        if (r != null) r.end = e.time
      }
    })

    val qmap = SparkEntry.queries.filter(kv => only(kv._1))
    // match Bench: build shared seeds outside the timed region when a
    // seed consumer is selected
    if (qmap.keys.exists(n => ext.Dedup.SeedConsumerPrefixes.exists(n.startsWith))) {
      ops.configure(spark)
      ext.Dedup.ensureLabelSeeds(spark, sfDir)
    }
    qmap.keys.toSeq.sorted.foreach { name =>
      (1 to reps).foreach { rep =>
        jobs.clear()
        val t0 = System.nanoTime()
        val df = qmap(name)(spark, sfDir)
        val t1 = System.nanoTime()
        df.count()
        val t2 = System.nanoTime()
        Harness.release(spark)
        // drain the listener bus before reading the jobs map (round-16,
        // ADVICE r15): SparkListener events are delivered async — a
        // late onJobEnd would otherwise be dropped by the end == -1
        // filter, or land after jobs.clear() and be misattributed to
        // the next rep. No test-visible waitUntilEmpty hook on a plain
        // SparkContext, so settle by polling the completed-job count.
        var settled = 0
        var prev = -1
        while (settled < 3) {
          import scala.jdk.CollectionConverters._
          val done = jobs.values.asScala.count(_.end >= 0)
          if (done == prev) settled += 1 else { settled = 0; prev = done }
          Thread.sleep(100)
        }
        val t3 = System.nanoTime()
        import scala.jdk.CollectionConverters._
        val done = jobs.values.asScala.filter(_.end >= 0).toSeq
        val byDesc = done.groupBy(_.desc).view
          .mapValues(rs => (rs.size, rs.map(r => r.end - r.start).sum))
          .toSeq.sortBy(-_._2._2)
        println(f"== $name rep$rep: setup=${(t1 - t0) / 1e9}%.2fs " +
          f"count=${(t2 - t1) / 1e9}%.2fs clear=${(t3 - t2) / 1e9}%.2fs " +
          f"jobs=${done.size} jobTime=${done.map(r => r.end - r.start).sum / 1e3}%.2fs")
        byDesc.foreach { case (d, (n, ms)) =>
          println(f"   ${ms / 1e3}%8.2fs  n=$n%-4d $d")
        }
        // driver-side WALL decomposition (sequential per thread; nested
        // phases count in both labels)
        val pt = ops.phaseTimes
        import scala.jdk.CollectionConverters._
        println("   -- phase wall --")
        pt.asScala.toSeq.sortBy(-_._2._2).foreach { case (d, (n, ns)) =>
          println(f"   ${ns / 1e9}%8.2fs  n=$n%-4d $d")
        }
        pt.clear()
      }
    }
    spark.stop()
  }
}
