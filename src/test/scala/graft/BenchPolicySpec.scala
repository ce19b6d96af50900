package graft

import org.scalatest.funsuite.AnyFunSuite

/** The bench retry policy, unit-tested against the interference
  * signatures observed on this host (round-5 post-mortem: a 119 s clean
  * workload captured at 2042 s because the fixed total budget
  * self-cancelled exactly when the first pass was inflated).
  */
class BenchPolicySpec extends AnyFunSuite {

  private val names = ('a' to 'j').map(_.toString)
  private val idxOf = names.zipWithIndex.toMap
  private def times(pairs: (String, Double)*): Map[String, Double] =
    names.map(_ -> 0.3).toMap ++ pairs

  test("burst victims are retried before a slower isolated suspect") {
    // c,d,e contiguous at 20 s each (a burst window); h isolated at 30 s:
    // the burst goes first despite the isolated query being slower
    val r = times("c" -> 20, "d" -> 20, "e" -> 20, "h" -> 30)
    val chosen = Bench.chooseRetries(r, idxOf, round = 0,
      improved = Set.empty, floor = 0.3, remaining = 1e9)
    assert(chosen.take(3).toSet === Set("c", "d", "e"))
    assert(chosen(3) === "h")
  }

  test("within a run, worst-first; sub-second queries never retried") {
    val r = times("b" -> 5, "c" -> 9, "f" -> 0.9)
    val chosen = Bench.chooseRetries(r, idxOf, 0, Set.empty, 0.3, 1e9)
    assert(chosen === Seq("c", "b")) // both runs length 1 → by time
  }

  test("later rounds drop legitimately-slow queries (retime didn't improve)") {
    // b improved last round (interference evidence) → carried; c did not
    // and sits below 10× median → accepted as legitimately slow
    val r = times("b" -> 3, "c" -> 2.5)
    val chosen = Bench.chooseRetries(r, idxOf, round = 1,
      improved = Set("b"), floor = 0.3, remaining = 1e9)
    assert(chosen === Seq("b"))
  }

  test("extreme outliers are carried even without improvement evidence") {
    // c never improved but is > 10× the median — may have been hit in
    // BOTH passes, so it stays eligible
    val r = times("c" -> 50)
    val chosen = Bench.chooseRetries(r, idxOf, round = 2,
      improved = Set.empty, floor = 0.3, remaining = 1e9)
    assert(chosen === Seq("c"))
  }

  test("selection stops at the remaining allowance (prefix by prior cost)") {
    val r = times("b" -> 20, "c" -> 20, "d" -> 20)
    val chosen = Bench.chooseRetries(r, idxOf, 0, Set.empty, 0.3,
      remaining = 45.0)
    assert(chosen.length === 2) // 20 + 20 fit, the third would pass 45
  }

  test("clean pass selects nothing") {
    assert(Bench.chooseRetries(times(), idxOf, 0, Set.empty, 0.3, 1e9).isEmpty)
  }

  test("foldMin: run can only improve or extend the pin, never inflate it") {
    val pin = Map("a" -> 1.0, "b" -> 2.0, "c" -> 3.0)
    val run = Map("a" -> 0.5, "b" -> 9.0, "d" -> 4.0)
    val m = Bench.foldMin(pin, run)
    assert(m === Map("a" -> 0.5, "b" -> 2.0, "c" -> 3.0, "d" -> 4.0))
  }

  test("runJson carries both the total map and the probe-only map") {
    // VERDICT r11 #4: index entries are construction-dominated, so the
    // run record carries a second per-entry number — the count-only
    // probe fraction — and BenchFold folds both into the pin
    val j = Bench.runJson(3.5, "/x/sf0.1",
      Map("ext147_graph_index_probe" -> 3.0, "q01_agg" -> 0.5),
      Map("ext147_graph_index_probe" -> 0.4, "q01_agg" -> 0.5),
      errors = Map("q01_agg" -> "java.lang.IllegalStateException"))
    import org.json4s._
    import org.json4s.jackson.JsonMethods
    implicit val fmts: Formats = DefaultFormats
    val p = JsonMethods.parse(j)
    assert((p \ "queries").extract[Map[String, Double]]
      .apply("ext147_graph_index_probe") === 3.0)
    assert((p \ "probe").extract[Map[String, Double]]
      .apply("ext147_graph_index_probe") === 0.4)
    assert((p \ "total").extract[Double] === 3.5)
    // a throwing entry's time is its time-to-throw: the record names the
    // error class of every entry that threw, and a clean run says so
    assert((p \ "errors").extract[Map[String, String]] ===
      Map("q01_agg" -> "java.lang.IllegalStateException"))
    val clean = Bench.runJson(1.0, "/x/sf0.1", Map("q01_agg" -> 1.0),
      Map("q01_agg" -> 1.0))
    assert((JsonMethods.parse(clean) \ "errors")
      .extract[Map[String, String]] === Map.empty)
  }

  test("runJson records the start-of-run load average (contention self-label)") {
    // VERDICT r12 #8: the r12 driver bench ran ~1.32× above the
    // same-commit idle run and the cause was reconstructed after the
    // fact from sbt wall-clocks; the run record now carries the host
    // 1-minute load average sampled at bench start (-1 = unavailable)
    import org.json4s._
    import org.json4s.jackson.JsonMethods
    implicit val fmts: Formats = DefaultFormats
    val j = Bench.runJson(1.0, "/x/sf0.1", Map("q01_agg" -> 1.0),
      Map("q01_agg" -> 1.0), "", 7.25)
    assert((JsonMethods.parse(j) \ "load1m").extract[Double] === 7.25)
    // and the default marks the sample as unavailable, never 0 (which
    // would read as a genuinely idle host)
    val d = Bench.runJson(1.0, "/x/sf0.1", Map.empty, Map.empty)
    assert((JsonMethods.parse(d) \ "load1m").extract[Double] === -1.0)
  }

  test("runJson records per-round loads and each retimed entry's winning round") {
    // VERDICT r13 #7: the r13 interference arrived MID-run (start load
    // 0.81, clusters inflated later), so the single start sample labeled
    // a contended run clean. The record now carries one load sample per
    // timing round and, per query whose recorded minimum came from a
    // retry round, that round's index — absent entries were settled by
    // the first pass.
    import org.json4s._
    import org.json4s.jackson.JsonMethods
    implicit val fmts: Formats = DefaultFormats
    val j = Bench.runJson(3.0, "/x/sf0.1",
      Map("q01_agg" -> 1.0, "ext02_x" -> 2.0),
      Map("q01_agg" -> 1.0, "ext02_x" -> 2.0), "", 0.8,
      loadRounds = Seq(0.8, 3.25, 0.5),
      minRound = Map("ext02_x" -> 2))
    val p = JsonMethods.parse(j)
    assert((p \ "load_rounds").extract[Seq[Double]] === Seq(0.8, 3.25, 0.5))
    assert((p \ "qround" \ "ext02_x").extract[Int] === 2)
    assert((p \ "qround" \ "q01_agg") === JNothing,
      "first-pass minima must not bloat the qround map")
    // no rounds / no retimes: the fields stay absent (compact record,
    // and an old-format reader sees an unchanged shape)
    val d = Bench.runJson(1.0, "/x/sf0.1", Map.empty, Map.empty)
    assert((JsonMethods.parse(d) \ "load_rounds") === JNothing)
    assert((JsonMethods.parse(d) \ "qround") === JNothing)
  }

  test("contract line carries seed_s and load1m when available") {
    // VERDICT r15 #7: seed_s landed only in the local BENCH_RUN file —
    // the driver's captured contract line alone could not reconstruct
    // true wall-clock. Both extras ride after "sf" (never inside the
    // length-budgeted queries map) and are omitted when unavailable so
    // an old-format reader sees an unchanged shape.
    import org.json4s._
    import org.json4s.jackson.JsonMethods
    implicit val fmts: Formats = DefaultFormats
    val j = Bench.contractLine(Map("q01_agg" -> 1.0), "sf0.1",
      seedS = 12.75, load1m = 0.5)
    val p = JsonMethods.parse(j)
    assert((p \ "seed_s").extract[Double] === 12.75)
    assert((p \ "load1m").extract[Double] === 0.5)
    assert((p \ "sf").extract[String] === "sf0.1")
    val d = Bench.contractLine(Map("q01_agg" -> 1.0), "sf0.1")
    assert((JsonMethods.parse(d) \ "seed_s") === JNothing)
    assert((JsonMethods.parse(d) \ "load1m") === JNothing)
  }

  test("runJson records the warmup seed-build seconds (seed_s)") {
    // VERDICT r14 #3: the ~13 s shared-seed build moved out of the
    // entries and into the warmup phase in round 14 — recorded nowhere,
    // so cross-round totals silently stopped being comparable. The run
    // record now carries it; -1 / absent = no label entry selected.
    import org.json4s._
    import org.json4s.jackson.JsonMethods
    implicit val fmts: Formats = DefaultFormats
    val j = Bench.runJson(1.0, "/x/sf0.1", Map("ext153_x" -> 1.0),
      Map("ext153_x" -> 0.1), "", 0.5, seedS = 12.75)
    assert((JsonMethods.parse(j) \ "seed_s").extract[Double] === 12.75)
    val d = Bench.runJson(1.0, "/x/sf0.1", Map.empty, Map.empty)
    assert((JsonMethods.parse(d) \ "seed_s") === JNothing,
      "a run with no seed build must not record a fake zero")
  }

  test("the warmup seed guard derives from the shared consumer-prefix set") {
    // round-15 ADVICE: the seeded-entry prefixes were hardcoded in Bench
    // and would go stale silently when the next seed-consuming entry is
    // added. The set now lives next to Dedup.ensureLabelSeeds; pin that
    // Bench references it (no literal prefix list in Bench's source) and
    // that every current consumer is present.
    val text = new String(
      java.nio.file.Files.readAllBytes(java.nio.file.Paths.get(
        "src/main/scala/graft/Bench.scala")), "UTF-8")
    assert(text.contains("Dedup.SeedConsumerPrefixes"),
      "Bench must consume the shared prefix set")
    assert(!text.contains("\"ext153_\""),
      "no hardcoded seed-consumer prefixes in Bench")
    assert(graft.ext.Dedup.SeedConsumerPrefixes === Set(
      "ext141_", "ext153_", "ext161_", "ext167_", "ext171_", "ext141b_"))
  }

  test("Bench writes raw runs to BENCH_RUN*, never the BENCH_LOCAL pin") {
    // r10 post-mortem: the driver's interference-window run rewrote the
    // committed minimum pin in place. Pin the output-file split at the
    // source level so a future refactor can't silently restore it.
    val text = new String(
      java.nio.file.Files.readAllBytes(
        java.nio.file.Paths.get("src/main/scala/graft/Bench.scala")),
      java.nio.charset.StandardCharsets.UTF_8)
    assert(text.contains("\"BENCH_RUN.json\""))
    assert(text.contains("\"BENCH_RUN.partial.json\""))
    assert(!text.contains("PrintWriter(\n        s\"${sys.props(\"user.dir\")}/BENCH_LOCAL"))
    assert(!text.contains("\"BENCH_LOCAL.json\""),
      "Bench must not name the pin file; only BenchFold writes it")
  }
}
