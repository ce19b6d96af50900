package perfbench

import java.nio.file.{Files, Path, Paths}

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.ObjectMapper
import org.apache.spark.sql.{DataFrame, SparkSession}

/** The JVM half of the benchmark: one Spark session, one closed-loop
  * client, one workload. Reads the run's configuration (written by
  * `run.py`) and writes raw results — set-up times, per-operation
  * outcomes, host labels, spans — which `run.py` turns into metrics.
  *
  * Usage: perfbench.Main <config.json> <result.json>
  */
object Main {

  type Conf = java.util.Map[String, Any]

  /** One timed operation: ok, or the class of what it threw. */
  final case class Outcome(kind: String, name: String, err: String, seconds: Double)

  def main(args: Array[String]): Unit = {
    val mapper = new ObjectMapper()
    val conf = mapper.readValue(Paths.get(args(0)).toFile, classOf[java.util.Map[String, Any]])
    val t0 = System.nanoTime()
    val cpus = int(conf, "cpus")
    val work = str(conf, "work")
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .appName("perfbench")
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.ansi.enabled", "false")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.warehouse.dir", s"$work/spark-warehouse")
      .config("spark.local.dir", s"$work/spark-local")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    graft.ops.configure(spark)
    val sessionS = secs(t0)

    val out = new java.util.LinkedHashMap[String, Any]()
    out.put("session_s", sessionS)
    out.put("load1m_before", load1m())
    out.put("calib_before_s", calibrate(spark))

    val tracer = new Tracer(spark)
    val w = str(conf, "workload") match {
      case "wh_build" => new WhBuild(spark, conf, tracer)
      case "star_serve" => new StarServe(spark, conf, tracer)
      case "index_cdc" => new IndexCdc(spark, conf, tracer)
      case other => sys.error(s"unknown workload $other")
    }
    val p0 = System.nanoTime()
    w.prepare()
    out.put("prepare_s", secs(p0))
    val setups = (1 to int(conf, "setup_reps")).map { i =>
      val s0 = System.nanoTime()
      w.setup(i)
      secs(s0)
    }
    out.put("setup_s", setups.asJava)
    val w0 = System.nanoTime()
    w.warm()
    out.put("warm_s", secs(w0))

    val seconds = dbl(conf, "seconds")
    val traced = bool(conf, "trace")
    val outcomes = mutable.ArrayBuffer[Outcome]()
    // one untimed warm-up operation: the first one pays class loading, JIT
    // and code generation for its paths (a first round or build takes about
    // a quarter longer than the next, and by how much depends on the host)
    runFor(w, tracer, outcomes, 0, 1, "warmup:")
    // timed_s covers the operations the reported metrics come from
    if (traced) {
      // the first half untraced and the second half traced: the difference
      // between the halves is the tracing overhead
      runFor(w, tracer, outcomes, seconds / 2, 1, "untraced:")
      tracer.activate()
      val t1 = System.nanoTime()
      runFor(w, tracer, outcomes, seconds / 2, 1, "")
      out.put("timed_s", secs(t1))
    } else {
      val t1 = System.nanoTime()
      runFor(w, tracer, outcomes, seconds, int(conf, "min_ops"), "")
      out.put("timed_s", secs(t1))
    }
    System.gc(); System.gc()
    val rt = Runtime.getRuntime
    out.put("heap_retained_mb", (rt.totalMemory - rt.freeMemory) / 1048576.0)
    out.put("load1m_after", load1m())
    out.put("calib_after_s", calibrate(spark))
    out.put("ops", outcomes.map(o => Map("kind" -> o.kind, "name" -> o.name,
      "err" -> o.err, "s" -> o.seconds).asJava).asJava)

    val spans = tracer.finish()
    val self = Tracer.selfNanos(spans)
    out.put("spans", spans.map { s =>
      val c = s.counts
      Map[String, Any]("id" -> s.id, "name" -> s.name, "parent" -> s.parent,
        "op" -> s.op, "start" -> s.start, "end" -> s.end,
        "self_s" -> self(s.id) / 1e9, "jobs" -> c.jobs, "stages" -> c.stages,
        "tasks" -> c.tasks, "shuffle_bytes" -> c.shuffleBytes,
        "spill_bytes" -> c.spillBytes, "task_ms" -> c.taskMs,
        "records_read" -> c.recordsRead,
        "sched_wait_ms" -> c.schedWaitMs, "exchanges" -> c.exchanges,
        "meta_jobs" -> c.metaJobs, "analysis_ms" -> c.analysisMs,
        "optimize_ms" -> c.optimizeMs, "planning_ms" -> c.planningMs).asJava
    }.asJava)

    // output checks and sizes, all outside the timed region
    val c0 = System.nanoTime()
    out.put("check", toJava(w.check()))
    out.put("check_s", secs(c0))
    mapper.writeValue(Paths.get(args(1)).toFile, out)
    spark.stop()
  }

  /** Closed loop: start operations until `budget` seconds have passed and
    * at least `minOps` have run (a fixed minimum keeps the sample count of
    * multi-second operations from depending on where the budget falls). */
  private def runFor(w: Workload, tracer: Tracer, acc: mutable.ArrayBuffer[Outcome],
      budget: Double, minOps: Int, prefix: String): Unit = {
    val start = System.nanoTime()
    var n = 0
    while (n < minOps || secs(start) < budget) {
      tracer.newOp()
      acc ++= w.step().map(o => o.copy(kind = prefix + o.kind))
      n += 1
    }
  }

  /** Time `body`, recording a throw as its error class and no latency. */
  def timed(kind: String, name: String)(body: => Unit): Outcome = {
    val t0 = System.nanoTime()
    try { body; Outcome(kind, name, "", secs(t0)) }
    catch { case e: Throwable if scala.util.control.NonFatal(e) =>
      Outcome(kind, name, e.getClass.getName, 0.0) }
  }

  /** Full materialization without collecting: every row and column of the
    * result is computed (a `count()` would let the optimizer drop the final
    * sort and unused projections). */
  def materialize(df: DataFrame): Unit =
    df.write.format("noop").mode("overwrite").save()

  /** A small fixed CPU-bound Spark job; its time before and after the
    * timed region labels how contended the host was. Best of three. */
  def calibrate(spark: SparkSession): Double =
    (1 to 3).map { _ =>
      val t0 = System.nanoTime()
      spark.range(0L, 20000000L, 1L, spark.sparkContext.defaultParallelism)
        .selectExpr("sum(hash(id) % 1000)").collect()
      secs(t0)
    }.min

  def load1m(): Double =
    try new String(Files.readAllBytes(Paths.get("/proc/loadavg"))).split(" ")(0).toDouble
    catch { case _: Exception => -1.0 }

  /** Scala collections as the Java ones Jackson writes. */
  def toJava(x: Any): Any = x match {
    case m: scala.collection.Map[_, _] =>
      m.map { case (k, v) => k.toString -> toJava(v) }.toMap.asJava
    case s: Iterable[_] => s.map(toJava).toSeq.asJava
    case o => o
  }

  def secs(t0: Long): Double = (System.nanoTime() - t0) / 1e9
  def str(c: Conf, k: String): String = c.get(k).toString
  def int(c: Conf, k: String): Int = c.get(k).asInstanceOf[Number].intValue
  def dbl(c: Conf, k: String): Double = c.get(k).asInstanceOf[Number].doubleValue
  def bool(c: Conf, k: String): Boolean = c.get(k).asInstanceOf[Boolean]
  def list(c: Conf, k: String): Seq[Any] = c.get(k).asInstanceOf[java.util.List[Any]].asScala.toSeq

  def dirBytes(p: Path): Long =
    if (!Files.exists(p)) 0L
    else {
      val st = Files.walk(p)
      try st.iterator().asScala.filter(Files.isRegularFile(_)).map(Files.size).sum
      finally st.close()
    }

  def deleteTree(p: Path): Unit =
    if (Files.exists(p)) {
      val st = Files.walk(p)
      try st.iterator().asScala.toSeq.reverse.foreach(Files.delete)
      finally st.close()
    }
}

/** A workload: a set-up that can run more than once, a step that runs one
  * closed-loop operation (or one round of them), and output checks. */
trait Workload {
  /** Untimed one-off work before the set-up repetitions. */
  def prepare(): Unit = ()
  def setup(rep: Int): Unit
  /** Untimed work between set-up and the timed loop (not part of setup_s). */
  def warm(): Unit = ()
  def step(): Seq[Main.Outcome]
  def check(): Map[String, Any]
}
