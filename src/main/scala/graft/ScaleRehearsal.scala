package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** 10× scale rehearsal for the LLM-pipeline tier (round-6 ADVICE item):
  * synthesizes an ~sf1-equivalent documents/embeddings/events fixture
  * from the sf0.1 driver fixture and times the scale-critical queries at
  * both SFs, printing per-query runtime ratios. The claim under test is
  * the 100 TB design story — banding/bucketing keeps every dedup/ANN
  * query near-linear in corpus size — and a 10× step is the largest
  * rehearsal this box can hold, so "ratio ≈ 10×, not 100×" is the
  * pass condition recorded in SURVEY.md §10.
  *
  * Fixture synthesis (deterministic, no RNG):
  *   - documents ×K: ids offset per copy; copies > 0 get a 2-token
  *     suffix, so cross-copy pairs are NEAR-duplicates (high Jaccard,
  *     not 1.0) — the worst case for LSH banding, which must still
  *     bucket them, while exact-hash dedup keeps only within-copy
  *     groups. Shingle-set size grows ~K× like a real corpus.
  *   - embeddings ×K: ids offset; per-element additive noise keyed on
  *     (vec_id, position) — NOT a scalar multiple (cosine is
  *     scale-invariant; a scaled copy would be a degenerate exact
  *     neighbor), so ANN quality structure survives the blow-up.
  *   - events ×K: ids offset, timestamps shifted a day per copy.
  *
  * Usage: runMain graft.ScaleRehearsal [srcSfDir] [fixtureDir] [K]
  * The session is Bench's ([[Harness.session]]: `local[N]` with N
  * shuffle partitions, N = `SPARK_GRAFT_CPUS`, default 4), plus
  * `ops.configure`. Prints one JSON line per query:
  *   {"q":"…","base_s":…,"scaled_s":…,"ratio":…}
  */
object ScaleRehearsal {
  private val Queries = Seq(
    "ext02_dedup_ngram_jaccard", "ext03_dedup_minhash_lsh",
    // the df-capped twins (the 100 TB-mandatory configuration): frequent
    // shingles leave the index before the self-join, so the pair blowup
    // the uncapped exact variants pay on near-dup-heavy corpora is
    // bounded — the ratio gap vs ext02/ext86 is the point being measured
    "ext02b_dedup_ngram_jaccard_capped", "ext86b_dedup_containment_capped",
    "ext38_dedup_components", "ext75_sim_topk_ivfpq",
    "ext77_label_noise_knn", "ext86_dedup_containment",
    "ext56_full_training_pipeline",
    // round-6 late adds: cell-restricted semantic dedup and the two-pass
    // sketch (ext95 recall eval is excluded like ext06: its exact
    // brute-force leg is quadratic BY DESIGN — production evaluates a
    // fixed-size query sample, not a corpus-proportional one)
    "ext93_semantic_dedup", "ext94_heavy_hitters",
    // sketch-rollup and basket-local pair mining: both designed to be
    // scan-bound (ext96) / basket-bounded (ext97) — rehearsed to prove it
    "ext96_bitmap_distinct", "ext97_basket_pairs",
    "ext98_repeat_customers", "ext99_incremental_bitmap",
    "ext101_markov_transitions",
    // round-7 adds: window-pass interpolation and the one-exchange CUPED
    "ext104_interpolate_gaps", "ext105_cuped",
    // round-8 adds: the TPC-H tier's intrinsic-shuffle representatives —
    // fact-fact join + topN (Q3), cyclic dim graph (Q5), 4-table profit
    // rollup (Q9), outer-join histogram with BOTH sides scaling (Q13),
    // anti join + count-distinct (Q16). Dims (nation/region/supplier)
    // stay fixture-constant; facts grow K x.
    "q141_shipping_priority", "q143_local_supplier_volume",
    "q145_product_type_profit", "q113_order_count_distribution",
    "q149_supplier_counts",
    // round-8 fifth wave: hybrid retrieval (both legs top-k — the RRF
    // tail is corpus-size-independent), the per-query-windowed metrics
    // eval (1% query sample broadcast against one corpus scan), and the
    // one-exchange SFT span assembly
    "ext113_hybrid_rrf", "ext115_retrieval_metrics", "ext116_sft_assembly",
    // final wave: curriculum packing (LM counts are vocabulary-sized),
    // canonical selection (components + cluster-sized windows), the
    // memorization ladder (one semi join per rung)
    "ext118_curriculum_packing", "ext121_canonical_selection",
    "ext122_memorization_ladder",
    // round-9 adds: the TPC-DS planner shapes — Expand-fed rollup +
    // window top-k (fact grows K×, rollup output is hierarchy-sized),
    // two-channel cumulative full-outer (band-bounded grids), and the
    // two-pass cross-year self-join (|part|-bounded aggregate join).
    // ext123/ext124 are excluded like ext46/ext95: fixed-size changelog
    // and a by-design-quadratic exact-recall leg, respectively.
    "q165_rollup_window_topk", "q166_cumulative_channels",
    "q167_cross_year_growth",
    // round-9 continuation: exact quantiles collapse onto the value
    // domain before any window — the rehearsal proves the shuffle is
    // distinct-value-sized, not corpus-sized (ratio ≈ 1 expected)
    "ext125_exact_quantiles",
    // round-10 adds: the degree-capped component twin (df-capped pair
    // generation + per-node top-4 edges — the ratio gap vs ext38 is the
    // measurement), and the TPC-DS Q95/Q14/Q78 shapes (orderkey-local
    // self-semi-join, INTERSECT chains over |part|-bounded sets,
    // full-outer channel grids)
    "ext38b_dedup_components_capped", "q170_reachability_semi",
    "q171_cross_channel_intersect", "q172_multi_channel_ratios",
    // round-11 session-2 adds: overlapping-gram dedup (digest shuffles,
    // never text — linear), and the persisted gram index's build+screen
    // and CDC entries (build ∝ corpus, screen ∝ batch, apply ∝ feed).
    // ext143/ext144 (SQ) are excluded like ext06/ext95: their scored
    // join is (sampled queries × corpus) and the sample is
    // corpus-proportional here — production fixes the query batch size.
    // ext146–ext148 (graph) are excluded because the fixture's label
    // quantizer is CONSTANT-cell-count: a 10× corpus makes every cell
    // 10× bigger and the in-cell pair build quadratic — the documented
    // lever is centroid count ∝ corpus (cells stay bounded), which the
    // label stand-in cannot rehearse.
    "ext142_exact_substr_dedup", "ext149_gram_index_screen",
    "ext150_gram_cdc_maintenance")

  def main(args: Array[String]): Unit = {
    val src = args.headOption.getOrElse("/root/testdata/sf0.1")
    val out = if (args.length > 1) args(1) else "/tmp/graft_scale_sf1"
    val k = if (args.length > 2) args(2).toInt else 10
    val spark = Harness.session()
    graft.ops.configure(spark)
    // supplier.parquet is the newest fixture table (round-8 TPC-H tier)
    // — its absence means the fixture predates it and must be regenerated
    if (!new java.io.File(s"$out/supplier.parquet").exists())
      generate(spark, src, out, k)

    def time(name: String, dir: String): Double = {
      val t0 = System.nanoTime()
      SparkEntry.queries(name)(spark, dir).count()
      Harness.release(spark)
      (System.nanoTime() - t0) / 1e9
    }
    // local iteration only: SPARK_GRAFT_REHEARSE_ONLY=queries,wh,mor,lbl
    // selects probe groups; unset (the driver) runs everything
    val onlyProbe = sys.env.get("SPARK_GRAFT_REHEARSE_ONLY")
    def want(k: String): Boolean = onlyProbe.forall(_.split(',').contains(k))
    // warm both paths once (JIT/codegen/footers), then time
    if (want("queries")) Queries.foreach { q => time(q, src) }
    val rows = (if (want("queries")) Queries else Seq.empty).map { q =>
      val base = time(q, src)
      val scaled = time(q, out)
      val r = scaled / base
      println(f"""{"q":"$q","base_s":$base%.2f,"scaled_s":$scaled%.2f,"ratio":$r%.1f}""")
      (q, base, scaled, r)
    }
    // round-8 probe (VERDICT r7 #5): the 21-table warehouse ETL itself —
    // the one tier the rehearsal table lacked. Warm once at base scale
    // (first build pays dim-spine codegen), then time base vs 10×.
    // stage dirs carry the PID: two rehearsals racing on a shared stage
    // would overwrite each other's JSON mid-read (observed: FILE_NOT_EXIST
    // on business.json when a timed-out orphan and its restart overlapped)
    val pid = ProcessHandle.current().pid()
    if (want("wh")) {
      whBuild(spark, src, s"/tmp/graft_scale_wh_warm_$pid")
      val wbBase = whBuild(spark, src, s"/tmp/graft_scale_wh_base_$pid")
      val wbScaled = whBuild(spark, out, s"/tmp/graft_scale_wh_10x_$pid")
      val wbR = wbScaled / wbBase
      println(f"""{"q":"wh_build_21_tables","base_s":$wbBase%.2f,"scaled_s":$wbScaled%.2f,"ratio":$wbR%.1f}""")
    }
    // session-2 probe: the incremental-label claim (ext153) — seed 90%,
    // time the BUILD (corpus-sized pair join + component discovery),
    // append 10%, time the APPLY (batch-incident edges + quotient CC).
    // The claim under test: apply ≪ build at every scale, and apply
    // grows with the BATCH, not the corpus.
    if (want("lbl")) {
      // the batch is FIXED-SIZE across scales (the AnnIndex-rehearsal
      // discipline): apply cost must track the CHANGE, not the corpus
      val batchCap = spark.read.parquet(s"$src/documents.parquet")
        .agg(max("doc_id")).head.getLong(0) + 1
      lblBuildVsApply(spark, src, "warm", batchCap) // codegen/catalog warmup
      val (lbBase, laBase) = lblBuildVsApply(spark, src, "base", batchCap)
      val (lbScaled, laScaled) = lblBuildVsApply(spark, out, "s10", batchCap)
      println(f"""{"q":"lbl_build","base_s":$lbBase%.2f,"scaled_s":$lbScaled%.2f,"ratio":${lbScaled / lbBase}%.1f}""")
      println(f"""{"q":"lbl_apply","base_s":$laBase%.2f,"scaled_s":$laScaled%.2f,"ratio":${laScaled / laBase}%.1f}""")
    }
    // round-12 probe: the graph-ANN adjacency cap (VERDICT r11 #1) — a
    // single MEGA-CELL corpus (one label), the hot-cell shape that made
    // the uncapped build quadratic. With GraphCellCap the pair join is
    // O(n·cap): a 10× cell must cost ~10×, never ~100×.
    if (want("gr")) {
      grBuild(spark, "warm", 10000L) // codegen/catalog warmup
      val gbBase = grBuild(spark, "base", 10000L)
      val gbScaled = grBuild(spark, "s10", 100000L)
      val gbR = gbScaled / gbBase
      println(f"""{"q":"gr_build_megacell","base_s":$gbBase%.2f,"scaled_s":$gbScaled%.2f,"ratio":$gbR%.1f}""")
    }
    // round-15 probe (VERDICT r14 #7): graph-ANN index MAINTENANCE at
    // storm scale. The production lever (SURVEY §18) is centroid count
    // ∝ corpus so cells stay bounded — this fixture builds exactly that
    // shape (cells of ~200 < GraphCellCap at every n), so the
    // ensureGraphCdc BUILD must track the corpus (pair join is O(n·cap))
    // and a FIXED two-cell CDC batch (10 deletes in one cell, 10
    // re-embeddings in another) must track the TOUCHED CELLS, not the
    // corpus — the cell-granular retract+re-derive contract, measured
    // at 10× and 100× vectors. The adjacency artifact size (~4 edges
    // per live node) is recorded with each point.
    if (want("grmaint")) {
      grMaint(spark, "mwarm", 2000L) // codegen/catalog warmup
      val (b1, a1, e1) = grMaint(spark, "m1", 10000L)
      val (b10, a10, e10) = grMaint(spark, "m10", 100000L)
      val (b100, a100, e100) = grMaint(spark, "m100", 1000000L)
      println(f"""{"q":"gr_maint_build_10x","base_s":$b1%.2f,"scaled_s":$b10%.2f,"ratio":${b10 / b1}%.1f,"edges_base":$e1,"edges_scaled":$e10}""")
      println(f"""{"q":"gr_maint_build_100x","base_s":$b1%.2f,"scaled_s":$b100%.2f,"ratio":${b100 / b1}%.1f,"edges_scaled":$e100}""")
      println(f"""{"q":"gr_maint_apply_10x","base_s":$a1%.2f,"scaled_s":$a10%.2f,"ratio":${a10 / a1}%.1f}""")
      println(f"""{"q":"gr_maint_apply_100x","base_s":$a1%.2f,"scaled_s":$a100%.2f,"ratio":${a100 / a1}%.1f}""")
    }
    // round-12 probe: duplication-SKEW rehearsal for the capped
    // component twin (VERDICT r11 #5) — the base corpus stays fixed
    // while a mega-cluster of duplicated docs grows 10×: a boilerplate
    // storm (identical texts, df ≫ cap → the df cap must drop its
    // shingles before the pair join) plus a sliding-window chain (every
    // shingle df = 8 — survives the cap exactly — forming ONE
    // m-node component whose frontier the degree cap and pointer
    // jumping must keep loglinear). ext38b's time may grow only with
    // the modest corpus growth (~1.8×), never with the cluster's
    // quadratic pair potential.
    if (want("skew")) {
      val sb = skewFixture(spark, src, s"/tmp/graft_scale_skew_base_$pid", 3000L)
      val ss = skewFixture(spark, src, s"/tmp/graft_scale_skew_10x_$pid", 30000L)
      val q38b = "ext38b_dedup_components_capped"
      time(q38b, sb) // warmup
      val skBase = time(q38b, sb)
      val skScaled = time(q38b, ss)
      val skR = skScaled / skBase
      println(f"""{"q":"skew_components_capped","base_s":$skBase%.2f,"scaled_s":$skScaled%.2f,"ratio":$skR%.1f}""")
    }
    // round-13 probe (VERDICT r12 #1): the label families under the
    // boilerplate storm, measured on a STORM-ONLY corpus. The exact
    // family's edge build is O(Σ df²) — the mega-shingle makes a 3×
    // storm cost ~9× (the recorded blowup) — while the df-capped family
    // drops the mega-shingle's postings before the self-join, so a 10×
    // storm must cost ~linear. This is the capped family's existence
    // proof, not a regression gate: the uncapped blowup is by design
    // (exact pairwise edges are what make its erasure apply exact).
    if (want("lblstorm")) {
      val ub = stormFixture(spark, s"/tmp/graft_lblstorm_u_base_$pid", 1000L)
      val us = stormFixture(spark, s"/tmp/graft_lblstorm_u_3x_$pid", 3000L)
      lblStormBuild(spark, ub, "uwarm", capped = false)
      val uBase = lblStormBuild(spark, ub, "ub", capped = false)
      val uScaled = lblStormBuild(spark, us, "us", capped = false)
      println(f"""{"q":"lbl_storm_uncapped_build_3x","base_s":$uBase%.2f,"scaled_s":$uScaled%.2f,"ratio":${uScaled / uBase}%.1f}""")
      val cb = stormFixture(spark, s"/tmp/graft_lblstorm_c_base_$pid", 3000L)
      val cs = stormFixture(spark, s"/tmp/graft_lblstorm_c_10x_$pid", 30000L)
      lblStormBuild(spark, cb, "cwarm", capped = true)
      val cBase = lblStormBuild(spark, cb, "cb", capped = true)
      val cScaled = lblStormBuild(spark, cs, "cs", capped = true)
      println(f"""{"q":"lbl_storm_capped_build_10x","base_s":$cBase%.2f,"scaled_s":$cScaled%.2f,"ratio":${cScaled / cBase}%.1f}""")
    }
    // round-14 probe (VERDICT r13 #2): the capped family's linear claim
    // pushed ANOTHER DECADE — the storm build at 100× the base fixture
    // (m = 3000 → 300k: 600k docs, mega-shingle df = 300k, chain df = 8
    // throughout), plus the fixed one-doc crossing apply against the
    // 100× corpus. The exact family's Σ df² here would be ~10,000× its
    // base; the capped build must track the corpus (~100×, constant
    // factors allowed), and the apply must track the batch, not the
    // corpus. This is also the first rehearsal whose df-sidecar pair
    // bound (Σ min(df,cap)·(min(df,cap)−1) ≈ 17M) drives the CC
    // materialization width above the 4-partition floor (round-14's
    // ccOverEdges hint) at real scale.
    if (want("lblstorm100")) {
      val hb = stormFixture(spark, s"/tmp/graft_lblstorm1h_b_$pid", 3000L)
      val hs = stormFixture(spark, s"/tmp/graft_lblstorm1h_x_$pid", 300000L)
      lblStormBuild(spark, hb, "hwarm", capped = true)
      val hBase = lblStormBuild(spark, hb, "hb", capped = true)
      val hScaled = lblStormBuild(spark, hs, "hs", capped = true)
      println(f"""{"q":"lbl_storm_capped_build_100x","base_s":$hBase%.2f,"scaled_s":$hScaled%.2f,"ratio":${hScaled / hBase}%.1f}""")
      val haBase = lcApplyCrossing(spark, hb, "hab")
      val haScaled = lcApplyCrossing(spark, hs, "has")
      println(f"""{"q":"lc_apply_crossing_storm_100x","base_s":$haBase%.2f,"scaled_s":$haScaled%.2f,"ratio":${haScaled / haBase}%.1f}""")
    }
    // round-13 probe: the capped family's crossing-tolerant APPLY — a
    // FIXED one-doc batch that pushes a df-8 glue shingle across the
    // cap (touching its 8 stored members) against a 10× corpus: the
    // expanded-touched work is cap-bounded, so the apply may grow only
    // with the corpus-scan component of the posts semi-joins, never
    // the pair volume (ratio well under the 10× corpus growth).
    if (want("lcapply")) {
      lcApplyCrossing(spark, src, "warm")
      val laBase = lcApplyCrossing(spark, src, "base")
      val laScaled = lcApplyCrossing(spark, out, "s10")
      println(f"""{"q":"lc_apply_crossing","base_s":$laBase%.2f,"scaled_s":$laScaled%.2f,"ratio":${laScaled / laBase}%.1f}""")
    }
    // round-9 probe: the merge-on-read claim at scale — a 1-row DELETE
    // on a catalog table built from the (K×-scaled) lineitem must cost
    // ~the same at both scales: zone/bloom pruning bounds the DML scan
    // to the matching segment(s) and the commit writes one KB sidecar,
    // never a segment group. Ratio ≈ 1 is the pass condition.
    if (want("mor")) {
      morPointDelete(spark, src, s"mor_warm_$pid") // warmup (codegen, catalog)
      val mdBase = morPointDelete(spark, src, s"mor_base_$pid")
      val mdScaled = morPointDelete(spark, out, s"mor_10x_$pid")
      val mdR = mdScaled / mdBase
      println(f"""{"q":"mor_point_delete","base_s":$mdBase%.2f,"scaled_s":$mdScaled%.2f,"ratio":$mdR%.1f}""")
    }
    if (rows.nonEmpty) {
      val worst = rows.maxBy(_._4)
      println(f"""{"k":$k,"worst":"${worst._1}","worst_ratio":${worst._4}%.1f}""")
    }
    spark.stop()
  }

  /** Seed `dir`'s documents minus a FIXED-SIZE batch (doc_id % 10 = 7
    * among the base-fixture ids — the same ~10%-of-base docs at every
    * scale) into a catalog corpus, time the label index BUILD, append
    * the batch, time the incremental APPLY (ext153's two phases,
    * isolated; apply must track the batch, not the corpus). */
  private def lblBuildVsApply(spark: SparkSession, dir: String,
      tag: String, batchCap: Long): (Double, Double) = {
    graft.ops.ensureGraftCatalog(spark)
    import org.apache.spark.sql.functions.col
    val pid = ProcessHandle.current().pid()
    val name = s"lblsc_${tag}_$pid"
    val corpus = s"graft_cat.db.lblsc_docs_${tag}_$pid"
    spark.sql(s"DROP TABLE IF EXISTS $corpus")
    graft.ext.IndexFamily.ExactLabels.drop(spark, name)
    spark.sql(s"CREATE TABLE $corpus (doc_id BIGINT, text STRING) " +
      "TBLPROPERTIES ('graft.dml.mode'='merge-on-read')")
    val docs = spark.read.parquet(s"$dir/documents.parquet")
      .select("doc_id", "text")
    val inBatch = col("doc_id") % 10 === 7 && col("doc_id") < batchCap
    try {
      docs.filter(!inBatch).writeTo(corpus).append()
      val t0 = System.nanoTime()
      graft.ext.DedupIndex.ensureLabelsCdc(spark, corpus, name)
      val build = (System.nanoTime() - t0) / 1e9
      docs.filter(inBatch).writeTo(corpus).append()
      val t1 = System.nanoTime()
      graft.ext.DedupIndex.ensureLabelsCdc(spark, corpus, name)
      val apply = (System.nanoTime() - t1) / 1e9
      (build, apply)
    } finally {
      // tables are pid- and tag-suffixed, so a crash in a PREVIOUS run
      // wouldn't be cleaned by this run's entry drop — drop our own
      // tables here instead of orphaning them in the shared catalog
      spark.sql(s"DROP TABLE IF EXISTS $corpus")
      graft.ext.IndexFamily.ExactLabels.drop(spark, name)
      Harness.release(spark)
    }
  }

  /** Seed a SINGLE-CELL vector corpus of `n` 8-dim vectors (one label —
    * the hot-cell worst case) into a catalog table and time the graph
    * index BUILD ([[graft.ext.AnnIndex.ensureGraphCdc]]); the capped
    * adjacency must make it O(n·cap), i.e. ~linear in n. */
  private def grBuild(spark: SparkSession, tag: String, n: Long): Double = {
    graft.ops.ensureGraftCatalog(spark)
    import org.apache.spark.sql.functions.col
    val pid = ProcessHandle.current().pid()
    val name = s"grsc_${tag}_$pid"
    val corpus = s"graft_cat.db.grsc_vecs_${tag}_$pid"
    spark.sql(s"DROP TABLE IF EXISTS $corpus")
    graft.ext.IndexFamily.Graph.drop(spark, name)
    spark.sql(s"CREATE TABLE $corpus (vec_id BIGINT, label INT, " +
      "v ARRAY<DOUBLE>) TBLPROPERTIES ('graft.dml.mode'='merge-on-read')")
    try {
      spark.range(0, n).select(col("id").as("vec_id"),
          lit(1).as("label"),
          expr("transform(sequence(0, 7), " +
            "j -> CAST((id % 131) * 0.21 + (j % 5) * 0.13 AS DOUBLE))").as("v"))
        .writeTo(corpus).append()
      val t0 = System.nanoTime()
      graft.ext.AnnIndex.ensureGraphCdc(spark, corpus, name)
      (System.nanoTime() - t0) / 1e9
    } finally {
      spark.sql(s"DROP TABLE IF EXISTS $corpus")
      graft.ext.IndexFamily.Graph.drop(spark, name)
    }
  }

  /** Multi-cell vector corpus at the PRODUCTION quantizer shape (cells
    * ∝ corpus, ~200 vectors each — under [[graft.ext.AnnIndex
    * .GraphCellCap]]): time the graph BUILD, then a FIXED two-cell CDC
    * batch (10 deletes in cell 0, 10 re-embeddings in cell 1), and
    * return (build s, apply s, live edge rows). dim-8 vectors keep the
    * probe scan-bound — the claim under test is the join/maintenance
    * structure, not FLOP throughput. */
  private def grMaint(spark: SparkSession, tag: String,
      n: Long): (Double, Double, Long) = {
    graft.ops.ensureGraftCatalog(spark)
    import org.apache.spark.sql.functions.col
    val pid = ProcessHandle.current().pid()
    val name = s"grmt_${tag}_$pid"
    val corpus = s"graft_cat.db.grmt_vecs_${tag}_$pid"
    val ncells = math.max(2L, n / 200L)
    spark.sql(s"DROP TABLE IF EXISTS $corpus")
    graft.ext.IndexFamily.Graph.drop(spark, name)
    spark.sql(s"CREATE TABLE $corpus (vec_id BIGINT, label INT, " +
      "v ARRAY<DOUBLE>) TBLPROPERTIES ('graft.dml.mode'='merge-on-read')")
    try {
      spark.range(0, n).select(col("id").as("vec_id"),
          (col("id") % ncells).cast("int").as("label"),
          expr("transform(sequence(0, 7), " +
            "j -> CAST(((id * 31 + j * 17) % 997) / 997.0 AS DOUBLE))")
            .as("v"))
        .writeTo(corpus).append()
      val t0 = System.nanoTime()
      graft.ext.AnnIndex.ensureGraphCdc(spark, corpus, name)
      val build = (System.nanoTime() - t0) / 1e9
      // the FIXED batch: same absolute size and same touched-cell count
      // (2) at every scale — apply work must be cell-bounded
      val dels = (0 until 10).map(i => i.toLong * ncells).mkString(", ")
      val upds = (0 until 10).map(i => 1L + i.toLong * ncells).mkString(", ")
      spark.sql(s"DELETE FROM $corpus WHERE vec_id IN ($dels)")
      spark.sql(s"UPDATE $corpus SET v = reverse(v) WHERE vec_id IN ($upds)")
      val t1 = System.nanoTime()
      val edges = graft.ext.AnnIndex.ensureGraphCdc(spark, corpus, name)
      val apply = (System.nanoTime() - t1) / 1e9
      (build, apply, spark.table(edges).count())
    } finally {
      spark.sql(s"DROP TABLE IF EXISTS $corpus")
      graft.ext.IndexFamily.Graph.drop(spark, name)
      Harness.release(spark)
    }
  }

  /** STORM-ONLY fixture (no base corpus — isolates the quadratic
    * signal): m identical boilerplate docs (one mega-shingle, df = m)
    * plus an m-doc sliding-window chain (every shingle df = 8). */
  private def stormFixture(spark: SparkSession, out: String,
      m: Long): String = {
    import org.apache.spark.sql.functions.col
    val storm = spark.range(0, m).select(col("id").as("doc_id"),
      lit("breaking boilerplate notice please subscribe to our newsletter " +
        "for more updates daily").as("text"))
    val chain = spark.range(0, m).select(
      (col("id") + m).as("doc_id"),
      expr("array_join(transform(sequence(0, 9), " +
        "j -> concat('ct', id + j)), ' ')").as("text"))
    storm.unionAll(chain)
      .write.mode("overwrite").parquet(s"$out/documents.parquet")
    out
  }

  /** Seed a fixture dir's documents into a catalog corpus and time ONE
    * label-index build — the exact family or the df-capped one. */
  private def lblStormBuild(spark: SparkSession, dir: String, tag: String,
      capped: Boolean): Double = {
    graft.ops.ensureGraftCatalog(spark)
    import org.apache.spark.sql.functions.col
    val pid = ProcessHandle.current().pid()
    val name = s"lbst_${tag}_$pid"
    val corpus = s"graft_cat.db.lbst_docs_${tag}_$pid"
    spark.sql(s"DROP TABLE IF EXISTS $corpus")
    val family = if (capped) graft.ext.IndexFamily.CappedLabels
      else graft.ext.IndexFamily.ExactLabels
    family.drop(spark, name)
    spark.sql(s"CREATE TABLE $corpus (doc_id BIGINT, text STRING) " +
      "TBLPROPERTIES ('graft.dml.mode'='merge-on-read')")
    try {
      spark.read.parquet(s"$dir/documents.parquet").select("doc_id", "text")
        .writeTo(corpus).append()
      val t0 = System.nanoTime()
      family.ensure(spark, corpus, name)
      (System.nanoTime() - t0) / 1e9
    } finally {
      spark.sql(s"DROP TABLE IF EXISTS $corpus")
      family.drop(spark, name)
      Harness.release(spark)
    }
  }

  /** Seed `dir`'s documents plus an 8-member hub component glued by a
    * single df-8 shingle into a capped-label corpus, build the index
    * (untimed), append ONE fixed doc that pushes the glue shingle
    * across the cap, and time the incremental APPLY — the
    * crossing-tolerant path (round-13): touched = 8 members + 1 feed
    * doc at ANY corpus size, so apply cost may grow only with the
    * corpus-scan component (the posts semi-joins), never the pair
    * volume. */
  private def lcApplyCrossing(spark: SparkSession, dir: String,
      tag: String): Double = {
    graft.ops.ensureGraftCatalog(spark)
    import org.apache.spark.sql.functions.col
    val pid = ProcessHandle.current().pid()
    val name = s"lcx_${tag}_$pid"
    val corpus = s"graft_cat.db.lcx_docs_${tag}_$pid"
    spark.sql(s"DROP TABLE IF EXISTS $corpus")
    graft.ext.IndexFamily.CappedLabels.drop(spark, name)
    spark.sql(s"CREATE TABLE $corpus (doc_id BIGINT, text STRING) " +
      "TBLPROPERTIES ('graft.dml.mode'='merge-on-read')")
    try {
      val base = spark.read.parquet(s"$dir/documents.parquet")
        .select(col("doc_id"), col("text"))
      val start = base.agg(max("doc_id")).head.getLong(0) + 1
      val hub = spark.range(0, 8).select((col("id") + start).as("doc_id"),
        expr("concat('glx gly glz u', id)").as("text"))
      base.unionAll(hub).writeTo(corpus).append()
      graft.ext.DedupIndex.ensureLabelsCappedCdc(spark, corpus, name)
      spark.sql(s"INSERT INTO $corpus VALUES " +
        s"(${start + 100}, 'glx gly glz uX')")
      val t0 = System.nanoTime()
      graft.ext.DedupIndex.ensureLabelsCappedCdc(spark, corpus, name)
      (System.nanoTime() - t0) / 1e9
    } finally {
      spark.sql(s"DROP TABLE IF EXISTS $corpus")
      graft.ext.IndexFamily.CappedLabels.drop(spark, name)
      Harness.release(spark)
    }
  }

  /** Write `src`'s documents plus an m-doc duplication mega-cluster
    * (identical-text storm + a sliding-window chain) as a 2-column
    * documents.parquet fixture dir; returns the dir. */
  private def skewFixture(spark: SparkSession, src: String, out: String,
      m: Long): String = {
    import org.apache.spark.sql.functions.col
    val base = spark.read.parquet(s"$src/documents.parquet")
      .select(col("doc_id"), col("text"))
    val start = base.agg(max("doc_id")).head.getLong(0) + 1
    val storm = spark.range(0, m).select((col("id") + start).as("doc_id"),
      lit("breaking boilerplate notice please subscribe to our newsletter " +
        "for more updates daily").as("text"))
    val chain = spark.range(0, m).select(
      (col("id") + start + m).as("doc_id"),
      expr("array_join(transform(sequence(0, 9), " +
        "j -> concat('ct', id + j)), ' ')").as("text"))
    base.unionAll(storm).unionAll(chain)
      .write.mode("overwrite").parquet(s"$out/documents.parquet")
    out
  }

  /** Build a merge-on-read catalog table from `dir`'s lineitem (untimed),
    * then time ONE point DELETE through the delta path. */
  private def morPointDelete(spark: SparkSession, dir: String,
      name: String): Double = {
    graft.ops.ensureGraftCatalog(spark)
    spark.sql(s"DROP TABLE IF EXISTS graft_cat.db.$name")
    spark.sql(
      s"""CREATE TABLE graft_cat.db.$name (k BIGINT, q BIGINT)
         |TBLPROPERTIES ('graft.dml.mode'='merge-on-read')""".stripMargin)
    spark.read.parquet(s"$dir/lineitem.parquet")
      .selectExpr("l_orderkey * 10 + l_linenumber AS k",
        "CAST(l_quantity AS BIGINT) AS q")
      .createOrReplaceTempView(s"graft_mor_src_$name")
    spark.sql(
      s"INSERT INTO graft_cat.db.$name SELECT k, q FROM graft_mor_src_$name")
    val k0 = spark.sql(s"SELECT MAX(k) FROM graft_cat.db.$name")
      .head.getLong(0)
    val t0 = System.nanoTime()
    spark.sql(s"DELETE FROM graft_cat.db.$name WHERE k = $k0")
    val dt = (System.nanoTime() - t0) / 1e9
    require(spark.sql(
      s"SELECT COUNT(*) FROM graft_cat.db.$name WHERE k = $k0")
      .head.getLong(0) == 0L, "point delete missed")
    dt
  }

  /** The full warehouse build at fixture scale: business + checkin NDJSON
    * staged UNCAPPED from `part`, user NDJSON from `customer`, review
    * NDJSON from `orders` (staging is untimed — the probe measures the
    * ETL, not the JSON sink), then ONE `Warehouse.build` with every one
    * of the 21 tables materialized. At 10× the business/user/review key
    * spaces all grow 10× — exactly the denseIds-dim cardinality growth
    * the rehearsal must cover. */
  private def whBuild(spark: SparkSession, dir: String, stage: String): Double = {
    import graft.dw.Warehouse
    val pk = col("p_partkey")
    spark.read.parquet(s"$dir/part.parquet").select(
        concat(lit("B"), pk).as("business_id"),
        col("p_name").as("name"),
        lit(null).cast("string").as("address"),
        lit("Las Vegas").as("city"),
        lit("NV").as("state"),
        lit(null).cast("string").as("postal_code"),
        lit(null).cast("double").as("latitude"),
        lit(null).cast("double").as("longitude"),
        (pk % 2).cast("int").as("is_open"),
        (pk % 5 + 1).cast("double").as("stars"),
        (pk % 100).cast("int").as("review_count"),
        regexp_replace(col("p_type"), " ", ", ").as("categories"),
        lit(null).cast("map<string,string>").as("attributes"),
        map(lit("Monday"),
          concat((pk % 12).cast("string"), lit(":0-"), (pk % 24).cast("string"), lit(":0")))
          .as("hours"))
      .write.mode("overwrite").json(s"$stage/business.json")
    spark.read.parquet(s"$dir/part.parquet").select(
        concat(lit("B"), pk).as("business_id"),
        concat(
          date_format(date_add(lit("1995-01-01").cast("date"), (pk % 365).cast("int")),
            "yyyy-MM-dd HH:mm:ss"),
          lit(", "),
          date_format(date_add(lit("1996-01-01").cast("date"), ((pk * 7) % 365).cast("int")),
            "yyyy-MM-dd HH:mm:ss")).as("date"))
      .write.mode("overwrite").json(s"$stage/checkin.json")
    val ck = col("c_custkey")
    spark.read.parquet(s"$dir/customer.parquet").select(
        concat(lit("U"), ck).as("user_id"),
        col("c_name").as("name"),
        lit(null).cast("int").as("review_count"),
        concat(lit("2010-01-"), lpad((ck % 28 + 1).cast("string"), 2, "0"),
          lit(" 08:30:00")).as("yelping_since"),
        when(ck % 4 === 0, lit(""))
          .otherwise(concat(lit("20"), lpad((ck % 10).cast("string"), 2, "0"), lit(","),
            lit("20"), lpad(((ck + 3) % 10).cast("string"), 2, "0"))).as("elite"),
        when(ck % 5 === 0, lit(null).cast("string"))
          .otherwise(concat(lit("F"), ck % 7, lit(", F"), ck % 11)).as("friends"))
      .write.mode("overwrite").json(s"$stage/user.json")
    val ok = col("o_orderkey")
    spark.read.parquet(s"$dir/orders.parquet").select(
        concat(lit("R"), ok).as("review_id"),
        col("o_custkey").cast("string").as("business_id"),
        concat(lit("U"), col("o_custkey") % 50).as("user_id"),
        (ok % 5 + 1).cast("double").as("stars"),
        (ok % 7).cast("int").as("useful"),
        (ok % 3).cast("int").as("funny"),
        (ok % 2).cast("int").as("cool"),
        concat(lit("review of order "), ok).as("text"),
        when(ok % 10 === 0, lit("not-a-date"))
          .otherwise(date_format(col("o_orderdate"), "yyyy-MM-dd HH:mm:ss")).as("date"))
      .write.mode("overwrite").json(s"$stage/review.json")
    val t0 = System.nanoTime()
    val tables = Warehouse.build(spark, Warehouse.Inputs(
      business = s"$stage/business.json", checkin = s"$stage/checkin.json",
      user = s"$stage/user.json", review = s"$stage/review.json"))
    val total = tables.map(_._2.count()).sum
    require(total > 0, "warehouse build produced no rows")
    spark.catalog.clearCache()
    spark.sparkContext.getPersistentRDDs.values
      .foreach(_.unpersist(blocking = false))
    (System.nanoTime() - t0) / 1e9
  }

  private def generate(spark: SparkSession, src: String, out: String,
      k: Int): Unit = {
    def copies(base: DataFrame)(f: (DataFrame, Int) => DataFrame): DataFrame =
      (0 until k).map(i => f(base, i)).reduce(_ unionByName _)

    val docs = spark.read.parquet(s"$src/documents.parquet")
    val maxDoc = docs.agg(max("doc_id")).head().getLong(0) + 1
    copies(docs) { (d, i) =>
      val t = if (i == 0) col("text")
      else concat(col("text"), lit(s" copy $i"))
      d.select((col("doc_id") + lit(i * maxDoc)).as("doc_id"), t.as("text"),
        col("lang"), col("source"), length(t).cast("long").as("n_chars"))
    }.repartition(32).write.mode("overwrite")
      .parquet(s"$out/documents.parquet")

    val embs = spark.read.parquet(s"$src/embeddings.parquet")
    val maxVec = embs.agg(max("vec_id")).head().getLong(0) + 1
    copies(embs) { (e, i) =>
      val vec = if (i == 0) col("embedding")
      else expr(s"transform(embedding, (x, j) -> " +
        s"cast(x + (pmod(vec_id * 31 + j * 7 + $i, 13) - 6) * 0.002 as float))")
      e.select((col("vec_id") + lit(i * maxVec)).as("vec_id"),
        vec.as("embedding"), col("label"))
    }.repartition(32).write.mode("overwrite")
      .parquet(s"$out/embeddings.parquet")

    // orders/lineitem ×K for the sketch-rollup and basket tiers: key
    // spaces (order, customer, part) all grow K× — months keep their
    // calendar but hold K× the customers (bitmap width must scale),
    // baskets keep their size (pair work must stay linear), cross-copy
    // baskets never share parts (pair cardinality grows K×, not K²)
    val ords = spark.read.parquet(s"$src/orders.parquet")
    val maxOrd = ords.agg(max("o_orderkey")).head().getLong(0) + 1
    val maxCust = ords.agg(max("o_custkey")).head().getLong(0) + 1
    copies(ords) { (o, i) =>
      o.withColumn("o_orderkey", col("o_orderkey") + lit(i * maxOrd))
        .withColumn("o_custkey", col("o_custkey") + lit(i * maxCust))
    }.repartition(32).write.mode("overwrite").parquet(s"$out/orders.parquet")

    val li = spark.read.parquet(s"$src/lineitem.parquet")
    val maxPart = li.agg(max("l_partkey")).head().getLong(0) + 1
    copies(li) { (l, i) =>
      l.withColumn("l_orderkey", col("l_orderkey") + lit(i * maxOrd))
        .withColumn("l_partkey", col("l_partkey") + lit(i * maxPart))
    }.repartition(32).write.mode("overwrite").parquet(s"$out/lineitem.parquet")

    // part/customer ×K for the warehouse-build probe: the business and
    // user key spaces (and so the denseIds dim cardinalities) grow K×
    val pt = spark.read.parquet(s"$src/part.parquet")
    val maxPk = pt.agg(max("p_partkey")).head().getLong(0) + 1
    copies(pt) { (p, i) =>
      p.withColumn("p_partkey", col("p_partkey") + lit(i * maxPk))
    }.repartition(32).write.mode("overwrite").parquet(s"$out/part.parquet")

    val cu = spark.read.parquet(s"$src/customer.parquet")
    val maxCk = cu.agg(max("c_custkey")).head().getLong(0) + 1
    copies(cu) { (c, i) =>
      c.withColumn("c_custkey", col("c_custkey") + lit(i * maxCk))
    }.repartition(32).write.mode("overwrite").parquet(s"$out/customer.parquet")

    // dims the TPC-H tier joins: constant across K (nation/region ARE
    // constant; supplier held fixed makes each supplier 10 x heavier --
    // the skewed-growth case the plans must absorb)
    Seq("supplier", "nation", "region").foreach { t =>
      spark.read.parquet(s"$src/$t.parquet")
        .write.mode("overwrite").parquet(s"$out/$t.parquet")
    }

    val ev = spark.read.parquet(s"$src/events.parquet")
    val maxEv = ev.agg(max("event_id")).head().getLong(0) + 1
    val maxUser = ev.agg(max("user_id")).head().getLong(0) + 1
    // day-shift per copy; ts is nanos-as-long in older testdata
    // generations, native timestamp in newer ones (cf. ops.events)
    val tsShifted: Int => org.apache.spark.sql.Column =
      ev.schema("ts").dataType match {
        case org.apache.spark.sql.types.LongType =>
          i => col("ts") + lit(i * 86400L * 1000000000L)
        case _ =>
          i => expr(s"timestampadd(DAY, $i, ts)")
      }
    copies(ev) { (e, i) =>
      e.select((col("event_id") + lit(i * maxEv)).as("event_id"),
        tsShifted(i).as("ts"),
        (col("user_id") + lit(i * maxUser)).as("user_id"),
        col("event_type"), col("value"), col("props"))
    }.repartition(32).write.mode("overwrite")
      .parquet(s"$out/events.parquet")
  }
}
