package graft

/** Dump `.explain("formatted")` of selected catalog queries to files —
  * the plans/r15 evidence artifacts (optimization guide §1: capture the
  * plan shape — Exchange count, join strategy, PushedFilters/ReadSchema,
  * codegen spans — before and after each change).
  *
  * Usage: tools/run_main.sh graft.PlanDumpMain <sfDir> <outDir> <sel,...>
  * Selectors match Bench's SPARK_GRAFT_BENCH_ONLY tokens; the session is
  * Bench's ([[Harness.session]], `SPARK_GRAFT_CPUS` cores). Each query's
  * entry function RUNS (index entries build their fixtures eagerly), then
  * the returned frame's formatted plan is written to <outDir>/<name>.txt.
  */
object PlanDumpMain {
  def main(args: Array[String]): Unit = {
    val sfDir = args(0)
    val outDir = args(1)
    val only = Harness.selector(args(2))
    val suffix = if (args.length > 3) args(3) else ""
    val spark = Harness.session()
    new java.io.File(outDir).mkdirs()
    // special selector "cc_iteration": dump one executed CC-loop
    // iteration's final adaptive plan (the plans/r16 evidence for the
    // 3-exchanges-per-iteration claim; ExtensionsSpec pins the count)
    if (only("cc_iteration")) {
      import spark.implicits._
      ext.Dedup.ccCapturePlan.set(true)
      try {
        val fwd = (0L until 63L).map(i => (i, i + 1)).toDF("src", "dst")
        val sym = fwd.union(fwd.select($"dst".as("src"), $"src".as("dst")))
          .repartition(4, $"src").persist()
        sym.count()
        ext.Dedup.connectedComponents(spark, sym, width = 4)._1.count()
        val w = new java.io.PrintWriter(s"$outDir/cc_iteration$suffix.txt")
        try w.println(ext.Dedup.lastCcIterPlan.get()) finally w.close()
        println("[plandump] wrote cc_iteration")
      } finally ext.Dedup.ccCapturePlan.set(false)
    }
    val qmap = SparkEntry.queries.filter(kv => only(kv._1))
    if (qmap.keys.exists(n => ext.Dedup.SeedConsumerPrefixes.exists(n.startsWith))) {
      ops.configure(spark)
      ext.Dedup.ensureLabelSeeds(spark, sfDir)
    }
    qmap.keys.toSeq.sorted.foreach { name =>
      try {
        val df = qmap(name)(spark, sfDir)
        val plan = df.queryExecution.explainString(
          org.apache.spark.sql.execution.FormattedMode)
        val w = new java.io.PrintWriter(s"$outDir/$name$suffix.txt")
        try w.println(plan) finally w.close()
        println(s"[plandump] wrote $name")
      } catch {
        case t: Throwable =>
          System.err.println(s"[plandump] $name failed: $t")
      }
      Harness.release(spark)
    }
    spark.stop()
  }
}
