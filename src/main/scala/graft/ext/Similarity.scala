package graft.ext

import graft.ops.{table, Q}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window

/** Approximate-nearest-neighbor search over the `embeddings` fixture.
  *
  * Two tiers, as a real 100 TB pipeline would ship them:
  *   - [[bruteForceTopK]]: exact cosine top-k — the correctness baseline.
  *     Query set × full corpus; at scale this is only viable for small
  *     query batches (broadcast the queries, scan the corpus once,
  *     per-partition top-k then global top-k — no full sort).
  *   - [[ivfTopK]]: IVF-style probe-1 search — the corpus is bucketed by a
  *     coarse quantizer (here the `label` column stands in for
  *     nearest-centroid assignment) and only the query's own cell is
  *     scanned, cutting scan cost by the number of cells. Recall < 1 by
  *     construction; the candidate set restriction IS the semantics, so
  *     the oracle encodes the same restriction.
  *
  * The cosine is an explicit sequential fold over doubles (zip_with +
  * aggregate), so Spark and DuckDB sum in the same order — bit-identical
  * results, which also makes the float-descending ORDER BY stable across
  * engines.
  */
object Similarity {

  /** `widen` (round-15, guide §2.5): ONLY the consumers whose map-side
    * work per reference is expensive (exact crossJoin truth legs, the
    * in-cell pair join) ask for the single-task fixture scan to be
    * re-partitioned for compute — measured: the brute-force recall legs
    * drop ~8x, while widening every consumer REGRESSED the multi-
    * reference walks (each cheap re-reference pays the exchange) and
    * the catalog-feed writes (32 tiny segments instead of one). */
  private def vecs(s: org.apache.spark.sql.SparkSession, d: String,
      widen: Boolean = false): DataFrame = {
    val base = table(s, d, "embeddings")
    (if (widen) graft.ops.widenForCompute(base) else base)
      .select(col("vec_id"), col("label"),
        expr("transform(embedding, x -> CAST(x AS DOUBLE))").as("v"))
      .withColumn("norm", expr("sqrt(aggregate(v, 0D, (a, x) -> a + x * x))"))
  }

  private val dot =
    "aggregate(zip_with(q.v, c.v, (x, y) -> x * y), 0D, (acc, x) -> acc + x)"

  /** Exact top-5 cosine neighbors for every 50th vector. */
  val bruteForceTopK: Q = (s, d) => {
    val all = vecs(s, d)
    val queries = all.filter(col("vec_id") % 50 === 0)
      .select(col("vec_id").as("q_id"), col("v"), col("norm"))
    val scored = queries.as("q").join(all.as("c"), col("c.vec_id") =!= col("q.q_id"))
      .select(col("q.q_id").as("q_id"), col("c.vec_id").as("n_id"),
        (expr(dot) / (col("q.norm") * col("c.norm"))).as("cosine"))
    scored
      .withColumn("rank", row_number().over(
        Window.partitionBy("q_id").orderBy(col("cosine").desc, col("n_id"))))
      .filter(col("rank") <= 5)
      .select(col("q_id"), col("rank").cast("int").as("rank"), col("n_id"), col("cosine"))
      .orderBy("q_id", "rank")
  }

  /** IVF probe-1: same queries, candidates restricted to the query's
    * coarse cell (label). */
  val ivfTopK: Q = (s, d) => {
    val all = vecs(s, d)
    val queries = all.filter(col("vec_id") % 50 === 0)
      .select(col("vec_id").as("q_id"), col("label"), col("v"), col("norm"))
    val scored = queries.as("q").join(all.as("c"),
        col("q.label") === col("c.label") && col("c.vec_id") =!= col("q.q_id"))
      .select(col("q.q_id").as("q_id"), col("q.label").as("cell"),
        col("c.vec_id").as("n_id"),
        (expr(dot) / (col("q.norm") * col("c.norm"))).as("cosine"))
    scored
      .withColumn("rank", row_number().over(
        Window.partitionBy("q_id").orderBy(col("cosine").desc, col("n_id"))))
      .filter(col("rank") <= 3)
      .select(col("q_id"), col("cell"), col("rank").cast("int").as("rank"),
        col("n_id"), col("cosine"))
      .orderBy("q_id", "rank")
  }

  /** Same search as [[bruteForceTopK]] scored by the native codegen'd
    * Catalyst expression (graft.functions.CosineSimilarity) — one fused
    * loop inside whole-stage codegen instead of zip_with+aggregate lambda
    * interpretation. Identical operation order → bit-identical results,
    * so it shares the brute-force oracle.
    */
  val bruteForceNativeExpr: Q = (s, d) => {
    graft.functions.CosineSimilarity.register(s)
    val all = vecs(s, d).select(col("vec_id"), col("v"))
    val queries = all.filter(col("vec_id") % 50 === 0)
      .select(col("vec_id").as("q_id"), col("v"))
    val scored = queries.as("q").join(all.as("c"), col("c.vec_id") =!= col("q.q_id"))
      .select(col("q.q_id").as("q_id"), col("c.vec_id").as("n_id"),
        expr("graft_cosine(q.v, c.v)").as("cosine"))
    scored
      .withColumn("rank", row_number().over(
        Window.partitionBy("q_id").orderBy(col("cosine").desc, col("n_id"))))
      .filter(col("rank") <= 5)
      .select(col("q_id"), col("rank").cast("int").as("rank"), col("n_id"), col("cosine"))
      .orderBy("q_id", "rank")
  }

  /** Random-hyperplane LSH (SimHash-for-vectors): 8 signed projections →
    * 8-bit bucket; candidates share the query's bucket (probe-1). The
    * hyperplanes are pseudo-random but engine-portable: component i of
    * plane k is ((i*2654435761 + k*40503) % 1000)/1000 - 0.5 — pure
    * integer arithmetic + one exact-IEEE division, identical in Spark and
    * DuckDB, so the buckets (and therefore the recall<1 candidate sets,
    * which ARE the semantics) match the oracle. At 100 TB the bucket id
    * is the shuffle key: each query probes one bucket instead of the
    * corpus.
    */
  val lshTopK: Q = (s, d) => {
    // projection bound derives from the vector's own length — a dimension
    // change can't silently zero the planes via out-of-range nulls
    val planes = (0 until 8).map { k =>
      s"""IF(aggregate(sequence(0, size(v) - 1), 0D, (acc, i) ->
         |  acc + v[i] * (CAST((i * 2654435761 + $k * 40503) % 1000 AS DOUBLE) / 1000 - 0.5)) > 0,
         |  CAST(shiftleft(1, $k) AS INT), 0)""".stripMargin
    }.mkString(" + ")
    val bucketed = vecs(s, d).withColumn("bucket", expr(s"($planes)"))
    val queries = bucketed.filter(col("vec_id") % 50 === 0)
      .select(col("vec_id").as("q_id"), col("bucket"), col("v"), col("norm"))
    val scored = queries.as("q").join(bucketed.as("c"),
        col("q.bucket") === col("c.bucket") && col("c.vec_id") =!= col("q.q_id"))
      .select(col("q.q_id").as("q_id"), col("q.bucket").as("bucket"),
        col("c.vec_id").as("n_id"),
        (expr(dot) / (col("q.norm") * col("c.norm"))).as("cosine"))
    scored
      .withColumn("rank", row_number().over(
        Window.partitionBy("q_id").orderBy(col("cosine").desc, col("n_id"))))
      .filter(col("rank") <= 3)
      .select(col("q_id"), col("bucket"), col("rank").cast("int").as("rank"),
        col("n_id"), col("cosine"))
      .orderBy("q_id", "rank")
  }

  /** IVF with a LEARNED coarse quantizer: deterministic k-means-lite
    * computed entirely in DataFrames, then probe-1 search in the learned
    * cell — IVF for unlabeled corpora (ext07's `label` stand-in removed).
    *
    *   1. seeds: every 64th vector, cid = vec_id/64 (fixed, data-derived);
    *   2. assign: centroids collected into ONE row and broadcast; the
    *      nearest-centroid argmin runs inside a row-local `array_min` over
    *      struct(d2, cid) — NO shuffle, no per-(vec,centroid) join rows;
    *   3. Lloyd update: per-component mean via posexplode + integer-scaled
    *      sums (round(x*1e6) as BIGINT) so Spark's partial aggregation and
    *      DuckDB's sequential scan produce bit-identical centroids in any
    *      summation order;
    *   4. re-assign against the updated centroids, then probe-1 top-3.
    *
    * At 100 TB: step 2-4 are one broadcast (K centroids) + map-side work
    * per vector; the only shuffles are the K×dim-sized centroid update and
    * the per-cell candidate join — the standard IVF build/probe cost.
    */
  /** Shared k-means-lite build (steps 1-4 of [[kmeansIvfTopK]]'s doc):
    * returns (re-assigned corpus — persisted, callers probe it on both
    * join sides — and the learned centroids). `graft_sqdist` is the
    * native fused loop with the same left-to-right accumulation as the
    * HOF `aggregate(zip_with(...))` fold — bit-identical distances (the
    * assignment argmin is the semantics), ~10x less CPU than
    * interpreting two lambdas per (vector, centroid). */
  private def kmeansBuild(s: org.apache.spark.sql.SparkSession, d: String,
      iters: Int = 1, widen: Boolean = false): (DataFrame, DataFrame) = {
    graft.functions.SquaredDistance.register(s)
    graft.functions.CosineSimilarity.register(s)
    val all = vecs(s, d, widen).drop("label")
    val sqd = "graft_sqdist(v, e.c)"
    def assign(vs: DataFrame, cents: DataFrame): DataFrame =
      vs.crossJoin(broadcast(cents.groupBy()
          .agg(collect_list(struct(col("cid"), col("c"))).as("cents"))))
        .withColumn("cell",
          expr(s"array_min(transform(cents, e -> struct($sqd AS d2, e.cid AS cid))).cid"))
        .drop("cents")
    // one integer-scaled Lloyd step: per-component means of the current
    // assignment, summation-order-proof (bit-identical to DuckDB's
    // sequential scan)
    def update(assigned: DataFrame): DataFrame = assigned
      .select(col("cell").as("cid"), posexplode(col("v")))
      .groupBy("cid", "pos")
      .agg(sum(expr("CAST(round(col * 1000000) AS BIGINT)")).as("sc"),
        count(lit(1)).as("n"))
      .groupBy("cid")
      .agg(collect_list(struct(col("pos"),
        (col("sc").cast("double") / 1000000 / col("n")).as("cv"))).as("pc"))
      .select(col("cid"), expr("transform(array_sort(pc), t -> t.cv)").as("c"))
    val seeds = all.filter(col("vec_id") % 64 === 0)
      .select((col("vec_id") / 64).cast("int").as("cid"), col("v").as("c"))
    var assigned = assign(all, seeds)
    var cents: DataFrame = seeds
    // `iters` Lloyd rounds (update -> re-assign); each round's assignment
    // is persisted because the next update consumes it fully and the
    // final one feeds both sides of the probe join. Intermediate rounds
    // are localCheckpointed so the lineage (and the analyzed-plan size)
    // stays flat at any iteration count.
    for (i <- 1 to math.max(1, iters)) {
      cents = update(assigned)
      val next = assign(all, cents)
      assigned = if (i == math.max(1, iters)) next.persist()
                 else next.localCheckpoint(true)
    }
    (assigned, cents)
  }

  val kmeansIvfTopK: Q = (s, d) => {
    val (a1, _) = kmeansBuild(s, d)
    val queries = a1.filter(col("vec_id") % 50 === 0)
      .select(col("vec_id").as("q_id"), col("cell"), col("v"), col("norm"))
    val scored = queries.as("q").join(a1.as("c"),
        col("q.cell") === col("c.cell") && col("c.vec_id") =!= col("q.q_id"))
      .select(col("q.q_id").as("q_id"), col("q.cell").as("cell"),
        col("c.vec_id").as("n_id"),
        // same accumulation order as `dot / (norm*norm)` — bit-identical
        expr("graft_cosine(q.v, c.v)").as("cosine"))
    scored
      .withColumn("rank", row_number().over(
        Window.partitionBy("q_id").orderBy(col("cosine").desc, col("n_id"))))
      .filter(col("rank") <= 3)
      .select(col("q_id"), col("cell"), col("rank").cast("int").as("rank"),
        col("n_id"), col("cosine"))
      .orderBy("q_id", "rank")
  }

  /** IVF probe-2 — the recall knob of IVF search: each query ranks the
    * learned centroids, scans its TWO nearest cells, and takes the top-3
    * over the union (disjoint by construction: a corpus vector lives in
    * exactly one cell). Probe-N trades N× scan cost for recall — the
    * standard production tuning — and the probed-cell expansion is a
    * row-local sorted-slice over the broadcast centroid array, so the
    * only extra distributed cost is the second cell's candidate rows in
    * the probe join. */
  val kmeansIvfProbe2: Q = (s, d) => {
    val (a1, cents) = kmeansBuild(s, d)
    val centsRow = broadcast(cents.groupBy()
      .agg(collect_list(struct(col("cid"), col("c"))).as("cents")))
    val qcells = vecs(s, d).drop("label")
      .filter(col("vec_id") % 50 === 0)
      .crossJoin(centsRow)
      .select(col("vec_id").as("q_id"), col("v"), col("norm"),
        explode(expr(
          "slice(transform(array_sort(transform(cents, " +
            "e -> struct(graft_sqdist(v, e.c) AS d2, e.cid AS cid))), " +
            "t -> t.cid), 1, 2)")).as("cell"))
    val scored = qcells.as("q").join(a1.as("c"),
        col("q.cell") === col("c.cell") && col("c.vec_id") =!= col("q.q_id"))
      .select(col("q.q_id").as("q_id"), col("c.vec_id").as("n_id"),
        expr("graft_cosine(q.v, c.v)").as("cosine"))
    scored
      .withColumn("rank", row_number().over(
        Window.partitionBy("q_id").orderBy(col("cosine").desc, col("n_id"))))
      .filter(col("rank") <= 3)
      .select(col("q_id"), col("rank").cast("int").as("rank"),
        col("n_id"), col("cosine"))
      .orderBy("q_id", "rank")
  }

  /** SemDeDup — semantic deduplication for training corpora (public
    * recipe: cluster the embedding space, then prune near-duplicates
    * within clusters only; Abbas et al. 2023, arXiv:2303.09540). Reuses
    * ext20's deterministic k-means-lite quantizer, then drops every
    * vector that has an earlier (lower vec_id) same-cell neighbor with
    * cosine above `minCosine`. "Dominated by ANY earlier vector" (rather
    * than the paper's greedy keep-chain) keeps the drop decision a pure
    * pairwise predicate — one join + one aggregation, independent of
    * visit order, restatable by the SQL oracle.
    *
    * Output is the DROP LIST: dominated vec_id, its cell, the earliest
    * dominator, the strongest similarity, and the dominator count.
    *
    * Scale: the cluster restriction is what makes semantic dedup
    * tractable at 100 TB — pair work is quadratic only in CELL size, and
    * cell count grows with the corpus (seeds are every 64th vector), so
    * per-cell pair cost stays ~bounded; the self-join shuffles on the
    * cell id exactly like ext20's probe join. No all-pairs stage exists
    * anywhere; the drop list is grouped per vector, so output is O(n),
    * never O(pairs). */
  def semanticDedup(s: org.apache.spark.sql.SparkSession, d: String,
      minCosine: Double): DataFrame = {
    // widen reverted (round-16): the r15 in-session measurement said the
    // re-derived assignment paid for widening, but the driver's cold
    // run regressed 1.0 -> 1.5 s (PERF r15, 8-core ratio 0.53 — the
    // fixture-scale self-join is over-parallelized at local[32])
    val (a1, _) = kmeansBuild(s, d)
    a1.as("u").join(a1.as("w"),
        col("u.cell") === col("w.cell") && col("u.vec_id") < col("w.vec_id"))
      .select(col("w.vec_id").as("vec_id"), col("w.cell").as("cell"),
        col("u.vec_id").as("u_id"),
        // same left-to-right accumulation as the oracle's sequential
        // list_sum — the > threshold decision is bit-identical
        expr("graft_cosine(u.v, w.v)").as("cosine"))
      .filter(col("cosine") > minCosine)
      .groupBy("vec_id", "cell")
      .agg(min("u_id").as("dup_of"), max("cosine").as("max_cosine"),
        count(lit(1)).as("n_dominators"))
      .orderBy("vec_id")
  }

  /** ANN index-quality evaluation: recall@3 of the IVF probe-1 search
    * ([[ivfTopK]]) against the exact baseline ([[bruteForceTopK]]) on the
    * same sampled query set — the metric that tunes every production ANN
    * deployment (probe count, cell count, PQ bits are all recall knobs;
    * ext37's probe-2 exists precisely to move this number). Composes the
    * two catalog operators as-is and left-joins exact (3 rows/query)
    * against approx hits, so n_hits counts the overlap and queries whose
    * cell search missed everything still appear with recall 0.
    *
    * Scale: the exact side is the expensive leg — which is exactly why
    * recall is evaluated on a SAMPLED query set (every 50th vector) while
    * the index serves the rest; the evaluation join itself is tiny
    * (queries × k rows). The recall division is an exact-integer IEEE
    * divide — bit-identical across engines. */
  val annRecall: Q = (s, d) => {
    val exact = bruteForceTopK(s, d).filter(col("rank") <= 3)
      .select(col("q_id"), col("n_id"))
    val approx = ivfTopK(s, d)
      .select(col("q_id"), col("n_id"), lit(1).as("hit"))
    exact.join(approx, Seq("q_id", "n_id"), "left")
      .groupBy("q_id")
      .agg(sum(coalesce(col("hit"), lit(0))).cast("bigint").as("n_hits"),
        count(lit(1)).as("k"))
      .select(col("q_id"), col("n_hits"),
        (col("n_hits").cast("double") / col("k")).as("recall"))
      .orderBy("q_id")
  }

  /** Product quantization (PQ) ANN with asymmetric distance computation
    * (ADC) — the FINE quantizer of a production IVF-PQ index (Jégou et
    * al.): split each 64-dim vector into 8 subspaces of 8 dims, learn a
    * small per-subspace codebook (same deterministic k-means-lite as
    * ext20: fixed seeds, one integer-scaled Lloyd round), encode every
    * corpus vector as 8 codebook ids, and answer queries from the CODES
    * ONLY — per query, precompute the query-to-centroid distance table
    * (LUT) per subspace, then a vector's approximate distance is the sum
    * of 8 LUT entries. The approximation IS the semantics (like the
    * IVF/LSH candidate restriction), so the oracle restates the same
    * quantization.
    *
    * Scale: this is the memory story of billion-vector search — the scan
    * side touches 8 bytes of codes per vector instead of 256 bytes of
    * floats. The codebooks are (8 subspaces × cells × 8 floats) — KBs,
    * broadcast; the LUT is queries × 8 × cells rows — broadcast; so the
    * distance evaluation is ONE map-side join over the code table
    * followed by a (query, vector)-keyed 8-row sum. No all-pairs float
    * work anywhere after encoding.
    */
  val pqTopK: Q = (s, d) => {
    graft.functions.SquaredDistance.register(s)
    val all = vecs(s, d).drop("label", "norm")
    // (vec_id, j, subv): the 8-dim subvectors, built array-locally
    val sub = all.select(col("vec_id"), posexplode(expr(
      "transform(sequence(0, 7), j -> slice(v, j * 8 + 1, 8))"))
      .as(Seq("j", "subv")))
    val seeds = sub.filter(col("vec_id") % 64 === 0)
      .select(col("j"), (col("vec_id") / 64).cast("int").as("cid"),
        col("subv").as("c"))
    def assign(cents: org.apache.spark.sql.DataFrame) = sub
      .join(broadcast(cents.groupBy("j")
        .agg(collect_list(struct(col("cid"), col("c"))).as("cents"))), Seq("j"))
      .withColumn("code", expr(
        "array_min(transform(cents, e -> struct(graft_sqdist(subv, e.c) AS d2, e.cid AS cid))).cid"))
      .drop("cents")
    // one integer-scaled Lloyd round per subspace (ext20's discipline:
    // summation order cannot change the learned centroids)
    val cents1 = assign(seeds)
      .select(col("j"), col("code").as("cid"), posexplode(col("subv")))
      .groupBy("j", "cid", "pos")
      .agg(sum(expr("CAST(round(col * 1000000) AS BIGINT)")).as("sc"),
        count(lit(1)).as("n"))
      .groupBy("j", "cid")
      .agg(collect_list(struct(col("pos"),
        (col("sc").cast("double") / 1000000 / col("n")).as("cv"))).as("pc"))
      .select(col("j"), col("cid"),
        expr("transform(array_sort(pc), t -> t.cv)").as("c"))
    val codes = assign(cents1).select(col("vec_id"), col("j"), col("code"))
    // per-query LUT: distance from each query subvector to each centroid
    val lut = sub.filter(col("vec_id") % 50 === 0)
      .select(col("vec_id").as("q_id"), col("j").as("qj"), col("subv"))
      .join(broadcast(cents1), col("qj") === cents1("j"))
      .select(col("q_id"), col("qj"), col("cid"),
        expr("CAST(graft_sqdist(subv, c) AS DECIMAL(18, 6))").as("pd2"))
    codes
      .join(broadcast(lut),
        col("j") === col("qj") && col("code") === col("cid") &&
          col("vec_id") =!= col("q_id"))
      .groupBy("q_id", "vec_id")
      .agg(sum(col("pd2")).cast("double").as("adc2"))
      .withColumn("rank", row_number().over(
        Window.partitionBy("q_id").orderBy(col("adc2"), col("vec_id"))))
      .filter(col("rank") <= 3)
      .select(col("q_id"), col("rank").cast("int").as("rank"),
        col("vec_id").as("n_id"), col("adc2"))
      .orderBy("q_id", "rank")
  }

  /** k-NN label-noise detection — the label-QA pass a training-data
    * pipeline runs before fitting anything — with candidates bounded to
    * IVF probe-2 cells (ext37's machinery), never all pairs: for every
    * labeled vector, candidates are the vectors in its TWO nearest
    * learned k-means cells (a row-local expansion over the broadcast
    * centroid array), its 5 nearest candidates by cosine vote their
    * labels (majority, ties to the smaller label id), and the vector is
    * flagged when the vote disagrees with its own label. Output is the
    * per-label audit summary (population, flagged count, flagged rate).
    * The cell restriction IS the semantics, exactly as in ext07/ext17/
    * ext20/ext37 — the oracle restates the same probe-2 bound, and
    * ext95 is the catalog's measurement of what such bounds cost in
    * recall.
    *
    * Scale: this is the audit that survives 100 TB — pair work is
    * quadratic only in CELL size (cell count grows with the corpus:
    * seeds are every 64th vector), the candidate join shuffles on the
    * cell id like ext20's probe join, and voting adds two keyed aggs
    * with map-side combine. The only quadratic legs left in the catalog
    * are the documented sampled baselines (ext06/ext16, ext95's exact
    * leg). Scoring uses the native `graft_cosine` kernel.
    */
  val labelNoiseKnn: Q = (s, d) => {
    val (a1, cents) = kmeansBuild(s, d)
    // labels re-attach via a keyed equi-join on vec_id (kmeansBuild is
    // label-agnostic); feeds BOTH sides of the probe join
    val a1l = a1.join(
      table(s, d, "embeddings").select(col("vec_id"), col("label")),
      Seq("vec_id"))
    val centsRow = broadcast(cents.groupBy()
      .agg(collect_list(struct(col("cid"), col("c"))).as("cents")))
    // every vector is a query: the probe-2 expansion is row-local over
    // the broadcast centroid array — 2 rows out per vector, no shuffle
    val qcells = a1l.crossJoin(centsRow)
      .select(col("vec_id").as("q_id"), col("label"), col("v"),
        explode(expr(
          "slice(transform(array_sort(transform(cents, " +
            "e -> struct(graft_sqdist(v, e.c) AS d2, e.cid AS cid))), " +
            "t -> t.cid), 1, 2)")).as("cell"))
    val neigh = qcells.as("q").join(a1l.as("c"),
        col("q.cell") === col("c.cell") && col("c.vec_id") =!= col("q.q_id"))
      .select(col("q.q_id").as("vec_id"), col("q.label").as("label"),
        col("c.vec_id").as("n_id"), col("c.label").as("n_label"),
        expr("graft_cosine(q.v, c.v)").as("cosine"))
    val majority = knnVote(neigh)
    majority.groupBy("label").agg(
      count(lit(1)).as("n_vecs"),
      sum(when(col("knn_label") =!= col("label"), 1L).otherwise(0L))
        .as("n_flagged"))
      .withColumn("flagged_rate",
        col("n_flagged").cast("double") / col("n_vecs"))
      .orderBy("label")
  }

  /** k=5 cosine-kNN majority vote (ties to the smaller label id) over
    * scored candidate rows (vec_id, label, n_id, n_label, cosine) —
    * shared by ext77 and its ext108 quality eval so the two legs vote
    * IDENTICALLY. Returns (vec_id, label, knn_label). */
  private def knnVote(scored: DataFrame): DataFrame = {
    val neigh = scored
      .withColumn("rank", row_number().over(
        Window.partitionBy("vec_id").orderBy(col("cosine").desc, col("n_id"))))
      .filter(col("rank") <= 5)
    neigh.groupBy("vec_id", "label", "n_label")
      .agg(count(lit(1)).as("n_votes"))
      .withColumn("vote_rank", row_number().over(
        Window.partitionBy("vec_id")
          .orderBy(col("n_votes").desc, col("n_label"))))
      .filter(col("vote_rank") === 1)
      .select(col("vec_id"), col("label"), col("n_label").as("knn_label"))
  }

  /** ext108 — quality eval of the CELL-BOUNDED label-noise audit: on a
    * sampled query set (every 20th vector; the exact leg must stay
    * sample-sized, the ext06/ext95 discipline), run the k=5 vote twice —
    * candidates bounded to the query's probe-2 cells (ext77's production
    * semantics) vs the exact all-corpus candidates — and report per-label
    * vote agreement. This is the downstream-task answer to "what does the
    * IVF bound cost?": ext95 measures neighbor-set recall, ext108 whether
    * the AUDIT VERDICT changes. Both legs share [[knnVote]], so any
    * disagreement is candidate-set restriction, never vote mechanics.
    *
    * Scale: the bounded leg is ext77's plan on a 5% sample; the exact leg
    * is sample × corpus — fixed query batch against one corpus scan, the
    * documented evaluation cost every production ANN deployment pays
    * offline. */
  val labelNoiseRecall: Q = (s, d) => {
    val (a1, cents) = kmeansBuild(s, d)
    val a1l = a1.join(
      table(s, d, "embeddings").select(col("vec_id"), col("label")),
      Seq("vec_id"))
    val centsRow = broadcast(cents.groupBy()
      .agg(collect_list(struct(col("cid"), col("c"))).as("cents")))
    val sample = a1l.filter(col("vec_id") % 20 === 0)
    val qcells = sample.crossJoin(centsRow)
      .select(col("vec_id").as("q_id"), col("label"), col("v"),
        explode(expr(
          "slice(transform(array_sort(transform(cents, " +
            "e -> struct(graft_sqdist(v, e.c) AS d2, e.cid AS cid))), " +
            "t -> t.cid), 1, 2)")).as("cell"))
    val bounded = knnVote(qcells.as("q").join(a1l.as("c"),
        col("q.cell") === col("c.cell") && col("c.vec_id") =!= col("q.q_id"))
      .select(col("q.q_id").as("vec_id"), col("q.label").as("label"),
        col("c.vec_id").as("n_id"), col("c.label").as("n_label"),
        expr("graft_cosine(q.v, c.v)").as("cosine")))
      .withColumnRenamed("knn_label", "bounded_label")
    val exact = knnVote(sample.as("q").join(a1l.as("c"),
        col("c.vec_id") =!= col("q.vec_id"))
      .select(col("q.vec_id").as("vec_id"), col("q.label").as("label"),
        col("c.vec_id").as("n_id"), col("c.label").as("n_label"),
        expr("graft_cosine(q.v, c.v)").as("cosine")))
      .withColumnRenamed("knn_label", "exact_label")
    exact.join(bounded, Seq("vec_id", "label"))
      .groupBy("label")
      .agg(count(lit(1)).as("n_sampled"),
        sum(when(col("bounded_label") === col("exact_label"), 1L).otherwise(0L))
          .as("n_agree"))
      .withColumn("agree_rate",
        col("n_agree").cast("double") / col("n_sampled"))
      .orderBy("label")
  }

  /** ext120 — Matryoshka truncation evaluation: how much neighbor
    * structure survives cutting the 64-dim embeddings to their FIRST 16
    * dimensions — the MRL (Matryoshka Representation Learning) deploy
    * decision, where serving at a truncated dimension buys a 4× memory/
    * bandwidth cut if recall holds. For each sampled query (every 50th
    * vector) the exact full-dim top-5 is the gold set and the
    * truncated-dim top-5 the candidate; output is the per-query overlap
    * plus order-free id checksums of both sets. Both ranking legs carry
    * (cosine DESC, vec_id) total orders; cosines are the shared
    * `graft_cosine` sequential-fold kernel on both engines.
    *
    * Scale: like ext95, the exact legs here are the documented
    * fixed-size-sample evaluation (queries are a 2% sample BROADCAST
    * against one corpus scan; the only shuffle is the per-query top-5
    * window); the production serving path this decides between is the
    * IVF tier (ext37/ext75) at either dimension. */
  val matryoshkaEval: Q = (s, d) => {
    graft.functions.CosineSimilarity.register(s)
    val all = table(s, d, "embeddings")
      .select(col("vec_id"),
        expr("transform(embedding, x -> CAST(x AS DOUBLE))").as("v"),
        expr("transform(slice(embedding, 1, 16), x -> CAST(x AS DOUBLE))")
          .as("v16"))
    val q = all.filter(col("vec_id") % 50 === 0)
      .select(col("vec_id").as("q_id"), col("v").as("qv"), col("v16").as("qv16"))
    val w = Window.partitionBy("q_id")
    def rankBy(scoreCol: String) =
      row_number().over(w.orderBy(col(scoreCol).desc, col("vec_id")))
    val scored = all.crossJoin(broadcast(q))
      .filter(col("vec_id") =!= col("q_id"))
      .select(col("q_id"), col("vec_id"),
        expr("graft_cosine(qv, v)").as("c_full"),
        expr("graft_cosine(qv16, v16)").as("c_trunc"))
      .withColumn("r_full", rankBy("c_full"))
      .withColumn("r_trunc", rankBy("c_trunc"))
      .filter(col("r_full") <= 5 || col("r_trunc") <= 5)
    scored.groupBy("q_id").agg(
      sum(when(col("r_full") <= 5 && col("r_trunc") <= 5, 1L).otherwise(0L))
        .as("n_overlap"),
      sum(when(col("r_full") <= 5, col("vec_id")).otherwise(0L))
        .as("gold_id_sum"),
      sum(when(col("r_trunc") <= 5, col("vec_id")).otherwise(0L))
        .as("trunc_id_sum"))
      .orderBy("q_id")
  }

  /** ext124 — ADAPTIVE probe selection: the production ANN tuning loop
    * as one declarative plan. ext95 measures recall at a FIXED probe
    * count; the knob a deployment actually turns is "how many cells must
    * I scan to hit my recall target" — so this entry evaluates probe ∈
    * {1,2,3} on the validation sample (every 50th vector, ext95's set)
    * against the exact baseline and CHOOSES the smallest probe whose
    * mean recall@3 meets the 0.9 target (falling back to the deepest
    * probe when none does). One candidate pass serves all three levels:
    * each query keeps its 3 nearest cells WITH their probe position, and
    * level p's candidate set is simply `probe_pos <= p` — the scan cost
    * of the deepest level, not 1+2+3. Recall means are exact-integer
    * IEEE divisions, so the ≥-target decision (and hence the chosen
    * schedule) is engine-stable. At 100 TB this validation loop runs on
    * the sampled queries only; the chosen probe then serves the fleet —
    * re-run it when the corpus drifts and the schedule re-tunes itself. */
  val adaptiveProbe: Q = (s, d) => {
    val (a1, cents) = kmeansBuild(s, d)
    val centsRow = broadcast(cents.groupBy()
      .agg(collect_list(struct(col("cid"), col("c"))).as("cents")))
    val qcells = vecs(s, d).drop("label")
      .filter(col("vec_id") % 50 === 0)
      .crossJoin(centsRow)
      .select(col("vec_id").as("q_id"), col("v"), col("norm"),
        posexplode(expr(
          "slice(transform(array_sort(transform(cents, " +
            "e -> struct(graft_sqdist(v, e.c) AS d2, e.cid AS cid))), " +
            "t -> t.cid), 1, 3)")))
      .select(col("q_id"), col("v"), col("norm"),
        (col("pos") + 1).cast("long").as("probe_pos"), col("col").as("cell"))
    val cand = qcells.as("q").join(a1.as("c"),
        col("q.cell") === col("c.cell") && col("c.vec_id") =!= col("q.q_id"))
      .select(col("q.q_id").as("q_id"), col("q.probe_pos").as("probe_pos"),
        col("c.vec_id").as("n_id"), expr("graft_cosine(q.v, c.v)").as("cosine"))
    val levels = s.range(1, 4).select(col("id").as("p"))
    val approx = cand.join(broadcast(levels), col("probe_pos") <= col("p"))
      .withColumn("rank", row_number().over(
        Window.partitionBy("p", "q_id").orderBy(col("cosine").desc, col("n_id"))))
      .filter(col("rank") <= 3)
      .select(col("p"), col("q_id"), col("n_id"), lit(1).as("hit"))
    val exact = bruteForceTopK(s, d).filter(col("rank") <= 3)
      .select(col("q_id"), col("n_id"))
    val perProbe = exact.crossJoin(broadcast(levels))
      .join(approx, Seq("p", "q_id", "n_id"), "left")
      .groupBy("p")
      .agg(sum(coalesce(col("hit"), lit(0))).cast("bigint").as("n_hits"),
        count(lit(1)).as("n_gold"))
      .withColumn("recall", col("n_hits").cast("double") / col("n_gold"))
    perProbe
      .withColumn("sched", coalesce(
        min(when(col("recall") >= 0.9, col("p")))
          .over(Window.partitionBy()), lit(3L)))
      .select(col("p"), col("n_hits"), col("n_gold"), col("recall"),
        when(col("p") === col("sched"), 1L).otherwise(0L).as("chosen"))
      .orderBy("p")
  }

  /** Shared handle to the PERSISTED IVF index over the embeddings
    * fixture ([[AnnIndex]]): built at most once per corpus, then probed
    * by ext126/ext127 (and any future search) with ZERO k-means or
    * assignment stages in their plans — the 100 TB answer to "every ANN
    * query re-learns its quantizer". The index name keys on the data
    * dir, so sf fixtures never share state. */
  private def persistedIndex(s: org.apache.spark.sql.SparkSession,
      d: String): AnnIndex.Tables = {
    graft.functions.CosineSimilarity.register(s)
    AnnIndex.ensure(s, vecs(s, d).drop("label"),
      "emb_" + d.replaceAll("[^a-zA-Z0-9]", "_"))
  }

  /** ext126 — probe-1 top-3 over the STORED index: identical semantics
    * (and oracle) to ext20, but the plan is two catalog scans + the
    * probe join — the k-means build is amortized into the persisted
    * artifact. */
  val persistedIvfTopK: Q = (s, d) =>
    probe1TopK(s, persistedIndex(s, d))

  /** The probe-1 top-3 plan over a stored cells table — shared by ext126
    * and ext135 (CDC-maintained index): two catalog scans + the
    * cell-keyed probe join, zero k-means stages. */
  private def probe1TopK(s: org.apache.spark.sql.SparkSession,
      t: AnnIndex.Tables): DataFrame = {
    val a1 = s.table(t.cells)
    val queries = a1.filter(col("vec_id") % 50 === 0)
      .select(col("vec_id").as("q_id"), col("cell"), col("v"), col("norm"))
    val scored = queries.as("q").join(a1.as("c"),
        col("q.cell") === col("c.cell") && col("c.vec_id") =!= col("q.q_id"))
      .select(col("q.q_id").as("q_id"), col("q.cell").as("cell"),
        col("c.vec_id").as("n_id"),
        expr("graft_cosine(q.v, c.v)").as("cosine"))
    scored
      .withColumn("rank", row_number().over(
        Window.partitionBy("q_id").orderBy(col("cosine").desc, col("n_id"))))
      .filter(col("rank") <= 3)
      // stored cell is BIGINT (bucket-partitioned layout); the contract
      // column stays INT like the in-query build's cid
      .select(col("q_id"), col("cell").cast("int").as("cell"),
        col("rank").cast("int").as("rank"),
        col("n_id"), col("cosine"))
      .orderBy("q_id", "rank")
  }

  /** ext135 — CDC-DRIVEN MAINTENANCE OF THE ANN INDEX (the vector twin
    * of ext134): the corpus table takes a right-to-erasure DELETE and an
    * in-place re-embedding UPDATE (`v = reverse(v)` — deterministic and
    * norm-invariant), and [[AnnIndex.ensureCdc]] follows via one
    * change-feed slice: retract the changed vec_ids from the bucketed
    * cells table (a deletion-vector append), re-assign only the touched
    * head images against the STORED centroids. The final probe-1 top-3
    * must hash-match the oracle that learns the quantizer from the
    * ORIGINAL corpus and assigns the post-delete post-update corpus —
    * exactly the production IVF discipline (centroids retrain on
    * rebuild, not per change). Cost ∝ changes, never the corpus. */
  val annCdcMaintenance: Q = (s, d) => {
    graft.ops.ensureGraftCatalog(s)
    graft.functions.CosineSimilarity.register(s)
    s.sql("DROP TABLE IF EXISTS graft_cat.db.cdc_vecs")
    IndexFamily.Ivf.drop(s, "cdc_vecs")
    s.sql("CREATE TABLE graft_cat.db.cdc_vecs (vec_id BIGINT, " +
      "v ARRAY<DOUBLE>, norm DOUBLE) " +
      "TBLPROPERTIES ('graft.dml.mode'='merge-on-read')")
    vecs(s, d).select(col("vec_id"), col("v"), col("norm"))
      .writeTo("graft_cat.db.cdc_vecs").append()
    AnnIndex.ensureCdc(s, "graft_cat.db.cdc_vecs", "cdc_vecs") // build
    s.sql("DELETE FROM graft_cat.db.cdc_vecs WHERE vec_id % 9 = 0")
    s.sql("UPDATE graft_cat.db.cdc_vecs SET v = reverse(v) " +
      "WHERE vec_id % 11 = 4")
    // ONE feed slice spans both commits
    val t = AnnIndex.ensureCdc(s, "graft_cat.db.cdc_vecs", "cdc_vecs")
    probe1TopK(s, t)
  }

  /** ext127 — probe-2 over the SAME stored index ext126 probes (the
    * "two queries share one persisted index" contract): query vectors
    * rank the stored centroids row-locally, scan their two nearest
    * cells, top-3 over the union. Identical semantics (and oracle) to
    * ext37. */
  val persistedIvfProbe2: Q = (s, d) => {
    val t = persistedIndex(s, d)
    val a1 = s.table(t.cells)
    val centsRow = broadcast(s.table(t.cents).groupBy()
      .agg(collect_list(struct(col("cid"), col("c"))).as("cents")))
    val qcells = a1.filter(col("vec_id") % 50 === 0)
      .crossJoin(centsRow)
      .select(col("vec_id").as("q_id"), col("v"), col("norm"),
        explode(expr(
          "slice(transform(array_sort(transform(cents, " +
            "e -> struct(graft_sqdist(v, e.c) AS d2, e.cid AS cid))), " +
            "t -> t.cid), 1, 2)")).as("cell"))
    val scored = qcells.as("q").join(a1.as("c"),
        col("q.cell") === col("c.cell") && col("c.vec_id") =!= col("q.q_id"))
      .select(col("q.q_id").as("q_id"), col("c.vec_id").as("n_id"),
        expr("graft_cosine(q.v, c.v)").as("cosine"))
    scored
      .withColumn("rank", row_number().over(
        Window.partitionBy("q_id").orderBy(col("cosine").desc, col("n_id"))))
      .filter(col("rank") <= 3)
      .select(col("q_id"), col("rank").cast("int").as("rank"),
        col("n_id"), col("cosine"))
      .orderBy("q_id", "rank")
  }

  /** Shared handle to the PERSISTED PQ tier ([[AnnIndex.ensurePq]]):
    * codebooks + 8-byte codes built once per corpus, then ADC-probed
    * with ZERO codebook-learning stages in the query plan. */
  private def persistedPqIndex(s: org.apache.spark.sql.SparkSession,
      d: String): AnnIndex.PqTables =
    AnnIndex.ensurePq(s, vecs(s, d).select(col("vec_id"), col("v")),
      "emb_" + d.replaceAll("[^a-zA-Z0-9]", "_"))

  /** ext129 — ADC top-3 over the STORED PQ index: identical semantics
    * (and oracle) to ext75, but the plan is a codes-table scan + a
    * broadcast LUT join — the per-subspace Lloyd pass is amortized into
    * the persisted artifact ([[AnnIndex.ensurePq]]). The corpus floats
    * are read ONLY to form the query-side subvectors (every 50th
    * vector); the scan side touches 8 small ints per vector. */
  val persistedPqAdc: Q = (s, d) =>
    adcTopK(s, persistedPqIndex(s, d), vecs(s, d))

  /** The ADC top-3 plan over a stored PQ index — shared by ext129 and
    * ext137 (CDC-maintained codes): per-query LUT against the stored
    * codebooks, code-join scan, zero encode stages for the corpus. */
  private def adcTopK(s: org.apache.spark.sql.SparkSession,
      t: AnnIndex.PqTables, corpus: DataFrame): DataFrame = {
    graft.functions.SquaredDistance.register(s)
    val qsub = corpus.filter(col("vec_id") % 50 === 0)
      .select(col("vec_id").as("q_id"), posexplode(expr(
        "transform(sequence(0, 7), j -> slice(v, j * 8 + 1, 8))"))
        .as(Seq("qj", "subv")))
    val lut = qsub
      .join(broadcast(s.table(t.cents)), col("qj") === col("j"))
      .select(col("q_id"), col("qj"), col("cid"),
        expr("CAST(graft_sqdist(subv, c) AS DECIMAL(18, 6))").as("pd2"))
    s.table(t.codes)
      .join(broadcast(lut),
        col("j") === col("qj") && col("code") === col("cid") &&
          col("vec_id") =!= col("q_id"))
      .groupBy("q_id", "vec_id")
      .agg(sum(col("pd2")).cast("double").as("adc2"))
      .withColumn("rank", row_number().over(
        Window.partitionBy("q_id").orderBy(col("adc2"), col("vec_id"))))
      .filter(col("rank") <= 3)
      .select(col("q_id"), col("rank").cast("int").as("rank"),
        col("vec_id").as("n_id"), col("adc2"))
      .orderBy("q_id", "rank")
  }

  /** ext137 — CDC-DRIVEN MAINTENANCE OF THE PQ CODES (completing the
    * erasure story for derived artifacts: an 8-byte code still encodes
    * the deleted vector's quantized content, so right-to-erasure must
    * reach it): same delete + re-embedding mutations as ext135, applied
    * to the codes table by [[AnnIndex.ensurePqCdc]] as one feed slice —
    * retract 8 code rows per changed vector, re-encode only the touched
    * head images against the STORED codebooks. The ADC probe (queries
    * from the surviving corpus) must hash-match the oracle whose
    * codebooks learn from the ORIGINAL corpus and whose codes cover the
    * mutated one. */
  val pqCdcMaintenance: Q = (s, d) => {
    graft.ops.ensureGraftCatalog(s)
    s.sql("DROP TABLE IF EXISTS graft_cat.db.cdc_pqvecs")
    IndexFamily.Pq.drop(s, "cdc_pq")
    s.sql("CREATE TABLE graft_cat.db.cdc_pqvecs (vec_id BIGINT, " +
      "v ARRAY<DOUBLE>) TBLPROPERTIES ('graft.dml.mode'='merge-on-read')")
    vecs(s, d).select(col("vec_id"), col("v"))
      .writeTo("graft_cat.db.cdc_pqvecs").append()
    AnnIndex.ensurePqCdc(s, "graft_cat.db.cdc_pqvecs", "cdc_pq") // build
    s.sql("DELETE FROM graft_cat.db.cdc_pqvecs WHERE vec_id % 9 = 0")
    s.sql("UPDATE graft_cat.db.cdc_pqvecs SET v = reverse(v) " +
      "WHERE vec_id % 11 = 4")
    // ONE feed slice spans both commits
    val t = AnnIndex.ensurePqCdc(s, "graft_cat.db.cdc_pqvecs", "cdc_pq")
    adcTopK(s, t, s.table("graft_cat.db.cdc_pqvecs"))
  }

  /** Scalar int8 quantization (SQ8) search with exact rescoring — the
    * third compression tier alongside IVF (ext20) and PQ (ext75): each
    * corpus vector is quantized per-vector to 256 levels between its own
    * min and max component (code = floor((x-mn)*255/(mx-mn) + .5), 1 byte
    * per dimension = 8× smaller than float64), queries stay full-precision
    * (asymmetric distance), candidates rank by the approximate cosine
    * against the RECONSTRUCTED vector, and the surviving top-3 carry both
    * the approximate and the exact score (the rescoring tier a production
    * retriever runs over the shortlist).
    *
    * Scale: quantization is row-local (no corpus-wide training stage, the
    * operational advantage SQ has over PQ/IVF); the scan reads 1 byte per
    * dimension instead of 8; rescoring touches only k rows per query. The
    * floor(x + 0.5) rounding and the sequential fold keep every double
    * bit-identical in DuckDB, so approx AND exact scores hash-match.
    */
  val sqTopK: Q = (s, d) => {
    graft.functions.CosineSimilarity.register(s)
    val base = vecs(s, d)
    val quant = base
      .withColumn("mn", array_min(col("v")))
      .withColumn("mx", array_max(col("v")))
      .withColumn("r", expr(
        "transform(v, x -> if(mx > mn," +
          " mn + floor((x - mn) * 255 / (mx - mn) + 0.5D) * (mx - mn) / 255," +
          " mn))"))
      .withColumn("rnorm", expr("sqrt(aggregate(r, 0D, (a, x) -> a + x * x))"))
    val queries = base.filter(col("vec_id") % 50 === 0)
      .select(col("vec_id").as("q_id"), col("v"), col("norm"))
    val scored = queries.as("q")
      .join(quant.as("c"), col("c.vec_id") =!= col("q.q_id"))
      .select(col("q.q_id").as("q_id"), col("c.vec_id").as("n_id"),
        // codegen'd fused loops, bit-identical to the HOF folds (ext16)
        expr("graft_cosine(q.v, c.r)").as("approx_cosine"),
        expr("graft_cosine(q.v, c.v)").as("true_cosine"))
    scored
      .withColumn("rank", row_number().over(
        Window.partitionBy("q_id").orderBy(col("approx_cosine").desc, col("n_id"))))
      .filter(col("rank") <= 3)
      .select(col("q_id"), col("rank").cast("int").as("rank"), col("n_id"),
        col("approx_cosine"), col("true_cosine"))
      .orderBy("q_id", "rank")
  }

  /** The SQ8 probe plan over a STORED codes table — shared by ext144 and
    * ext145 (CDC-maintained codes): reconstruction is row-local inside
    * the codes scan (mn/mx/codes columns — NO array_min/array_max
    * quantize stages in-plan, spec-pinned), the approximate top-3 ranks
    * against reconstructed vectors, and only those k rows join back to
    * the float corpus for exact rescoring. */
  private[graft] def sqTopKFrom(s: org.apache.spark.sql.SparkSession,
      codesTable: String, corpus: DataFrame): DataFrame = {
    graft.functions.CosineSimilarity.register(s)
    val recon = s.table(codesTable)
      .withColumn("r",
        expr("transform(codes, cd -> mn + CAST(cd AS BIGINT) * (mx - mn) / 255)"))
      .select(col("vec_id"), col("r"))
    val qs = corpus.filter(col("vec_id") % 50 === 0)
      .select(col("vec_id").as("q_id"), col("v").as("qv"))
    val top = qs.join(recon, col("vec_id") =!= col("q_id"))
      .select(col("q_id"), col("qv"), col("vec_id").as("n_id"),
        // codegen'd fused loop, bit-identical to the HOF fold (ext16)
        expr("graft_cosine(qv, r)").as("approx_cosine"))
      .withColumn("rank", row_number().over(
        Window.partitionBy("q_id").orderBy(col("approx_cosine").desc, col("n_id"))))
      .filter(col("rank") <= 3)
    top
      .join(corpus.select(col("vec_id").as("n_id"), col("v").as("nv")),
        Seq("n_id"))
      .select(col("q_id"), col("rank").cast("int").as("rank"), col("n_id"),
        col("approx_cosine"),
        expr("graft_cosine(qv, nv)").as("true_cosine"))
      .orderBy("q_id", "rank")
  }

  /** ext144 — SQ8 top-3 over the STORED codes ([[AnnIndex.ensureSq]]):
    * identical semantics (and oracle) to ext143, but the corpus scan
    * reads (mn, mx, codes) — 1 byte/dimension at rest — and the encode
    * is amortized into the persisted artifact. */
  val persistedSqTopK: Q = (s, d) => {
    val codes = AnnIndex.ensureSq(s,
      vecs(s, d).select(col("vec_id"), col("v")),
      "emb_" + d.replaceAll("[^a-zA-Z0-9]", "_"))
    sqTopKFrom(s, codes, vecs(s, d).select(col("vec_id"), col("v")))
  }

  /** ext145 — CDC-DRIVEN MAINTENANCE OF THE SQ CODES: same delete +
    * re-embedding mutations as ext135/ext137, applied by
    * [[AnnIndex.ensureSqCdc]] as one feed slice — retract the changed
    * vec_ids' code rows, re-encode only the touched head images (SQ has
    * nothing to retrain, so maintained ≡ rebuilt EXACTLY, not just
    * modulo a frozen quantizer). The probe (queries from the surviving
    * corpus) must hash-match the oracle that quantizes the post-delete
    * post-update corpus directly. */
  val sqCdcMaintenance: Q = (s, d) => {
    graft.ops.ensureGraftCatalog(s)
    s.sql("DROP TABLE IF EXISTS graft_cat.db.cdc_sqvecs")
    IndexFamily.Sq.drop(s, "cdc_sq")
    s.sql("CREATE TABLE graft_cat.db.cdc_sqvecs (vec_id BIGINT, " +
      "v ARRAY<DOUBLE>) TBLPROPERTIES ('graft.dml.mode'='merge-on-read')")
    vecs(s, d).select(col("vec_id"), col("v"))
      .writeTo("graft_cat.db.cdc_sqvecs").append()
    AnnIndex.ensureSqCdc(s, "graft_cat.db.cdc_sqvecs", "cdc_sq") // build
    s.sql("DELETE FROM graft_cat.db.cdc_sqvecs WHERE vec_id % 9 = 0")
    s.sql("UPDATE graft_cat.db.cdc_sqvecs SET v = reverse(v) " +
      "WHERE vec_id % 11 = 4")
    // ONE feed slice spans both commits
    val codes = AnnIndex.ensureSqCdc(s, "graft_cat.db.cdc_sqvecs", "cdc_sq")
    sqTopKFrom(s, codes, s.table("graft_cat.db.cdc_sqvecs"))
  }

  /** ext146 — GRAPH-BASED ANN (NSW/DiskANN-flavored, made fully
    * deterministic): the fourth search family alongside IVF, LSH and the
    * quantizer tiers. Build: each vector's out-edges are its top-4
    * cosine neighbours WITHIN its coarse cell (bounded and bucketed —
    * never a corpus-wide all-pairs; ties break on dst id). Search: from
    * a deterministic entry point (the smallest vec_id of the query's
    * cell), THREE fixed beam expansions — each hop expands the current
    * frontier's out-edges, scores the distinct candidates against the
    * query, and keeps the 8 best (cosine desc, id tiebreak) as the next
    * frontier. The answer is the top-3 of everything visited. Fixed hop
    * count + fixed beam width make recall<1 part of the semantics (the
    * IVF-probe discipline), so the oracle restates the same three hops
    * as unrolled SQL — no recursion, no convergence test.
    *
    * Scale: the adjacency list is one bounded window over cell-bucketed
    * pairs (at 100 TB it would persist as an index table like the other
    * families); each hop is a keyed join whose left side is
    * (#queries × beam) rows — independent of corpus size — and whose
    * right side is the 4-edges-per-node adjacency. The corpus floats
    * are touched only by the per-hop scoring joins, k rows per query. */
  val graphAnnBeam: Q = (s, d) => {
    graft.functions.CosineSimilarity.register(s)
    val all = vecs(s, d)
    // the SAME capped adjacency the persisted tier stores
    // ([[AnnIndex.graphEdges]]): cell-local, graft_cosine-scored
    // (codegen'd fused loop, bit-identical to the HOF fold — ext16's
    // pinned claim), and O(n·cap) per cell via deterministic
    // sub-bucketing above AnnIndex.GraphCellCap — so ext146/147/148
    // share one adjacency contract and one oracle restatement.
    // Materialized EAGERLY (VERDICT r14 #8): the adjacency is the
    // BUILD half of this entry — forcing it here keeps the bench's
    // probe decomposition honest (probe = the beam walk the index
    // serves, same split the persisted twins ext147/ext172 get from
    // their eager ensure* calls); content is identical either way.
    val adj = AnnIndex.graphEdges(
      all.select(col("vec_id"), col("label"), col("v")))
      .select("src", "dst").localCheckpoint(true)
    beamTopK(adj, all.select(col("vec_id"), col("label"), col("v")))
  }

  /** The beam-search probe over a given adjacency (src, dst) — shared by
    * ext146 (in-query graph), ext147 (stored edges) and ext148
    * (CDC-maintained edges). Corpus: (vec_id, label, v); the entry point,
    * queries and scoring all derive from it. */
  /** The beam's deduped VISITED set — (q_id, n_id, n_cell, cosine) —
    * shared by [[beamTopK]] (global top-3 answer) and ext170's two-tier
    * re-rank (global + own-cell top-3 from the same walk). */
  private def beamVisited(adj: DataFrame, corpus: DataFrame,
      entryOpt: Option[DataFrame] = None, beamWidth: Int = 8,
      hops: Int = 3, perCellBeam: Option[Int] = None): DataFrame = {
    val all = corpus
    val qs = all.filter(col("vec_id") % 50 === 0)
      .select(col("vec_id").as("q_id"), col("label"), col("v").as("qv"))
    def scored(frontier: DataFrame): DataFrame =
      frontier.join(qs.select("q_id", "qv"), Seq("q_id"))
        .join(all.select(col("vec_id").as("n_id"), col("v").as("nv"),
          col("label").as("n_cell")), Seq("n_id"))
        .select(col("q_id"), col("n_id"), col("n_cell"),
          expr("graft_cosine(qv, nv)").as("cos"))
    // default entry: the smallest vec_id of the query's own cell;
    // ext163 passes a probe-2 frontier (one entry per probed cell)
    val entry = entryOpt.getOrElse(qs
      .join(all.groupBy("label").agg(min("vec_id").as("n_id")), Seq("label"))
      .select("q_id", "n_id"))
    // per-hop beam cut: one shared top-`beamWidth` per query by default;
    // with `perCellBeam` the budget is PARTITIONED BY THE CANDIDATE'S
    // CELL (top-N per (query, cell)) — the ext170 floor that stops a
    // wide probe fan-out from starving the query's own cell (stored
    // edges are in-cell, so reachable cells = probed cells and the
    // frontier stays ≤ probes × N per query — still corpus-independent)
    val wBeam = perCellBeam match {
      case Some(_) => Window.partitionBy("q_id", "n_cell")
        .orderBy(col("cos").desc, col("n_id"))
      case None => Window.partitionBy("q_id")
        .orderBy(col("cos").desc, col("n_id"))
    }
    val beamCut = perCellBeam.getOrElse(beamWidth)
    var frontier = scored(entry)
    var visited = frontier
    for (_ <- 1 to hops) {
      val expanded = frontier.select("q_id", "n_id")
        .join(adj, col("n_id") === col("src"))
        .select(col("q_id"), col("dst").as("n_id")).distinct()
      val beam = scored(expanded)
        .withColumn("rk", row_number().over(wBeam))
        .filter(col("rk") <= beamCut)
        .drop("rk")
      visited = visited.unionAll(beam)
      frontier = beam
    }
    visited
      .groupBy("q_id", "n_id").agg(min("cos").as("cosine"), // revisits carry equal cos
        min("n_cell").as("n_cell")) // n_cell is functionally dependent on n_id
      .filter(col("n_id") =!= col("q_id"))
  }

  /** The beam-search probe over a given adjacency (src, dst) — shared by
    * ext146 (in-query graph), ext147 (stored edges) and ext148
    * (CDC-maintained edges): the global top-3 of the visited set. */
  private def beamTopK(adj: DataFrame, corpus: DataFrame,
      entryOpt: Option[DataFrame] = None, beamWidth: Int = 8,
      hops: Int = 3, perCellBeam: Option[Int] = None): DataFrame =
    beamVisited(adj, corpus, entryOpt, beamWidth, hops, perCellBeam)
      .withColumn("rank", row_number().over(
        Window.partitionBy("q_id").orderBy(col("cosine").desc, col("n_id"))))
      .filter(col("rank") <= 3)
      .select(col("q_id"), col("rank").cast("int").as("rank"), col("n_id"),
        col("cosine"))
      .orderBy("q_id", "rank")

  /** ext159 — GRAPH-BEAM RECALL EVALUATION against the exact top-3
    * (VERDICT r11 #6 — the graph twin of ext106's LSH recall and
    * ext95's ANN recall): for every beam query (vec_id % 50 = 0), how
    * many of the TRUE top-3 cosine neighbours appear in ext146's fixed
    * 3-hop × beam-8 answer? TWO tiers, because the beam has two
    * distinct loss sources and only one belongs to it:
    *
    *   - `recall_cell` — truth restricted to the query's own cell (the
    *     beam's entire reachable universe: every stored edge is
    *     in-cell). This isolates the BEAM's loss — the fixed 3 hops ×
    *     beam 8 from one entry point visit only part of a ~60-node
    *     cell. Measured ≈ 0.73 average (min 1/3) at sf0.01; the tuning
    *     levers this metric exists to drive are hop count, beam width
    *     and out-degree.
    *   - `recall_global` — truth over the whole corpus. This adds the
    *     QUANTIZER's loss: a true neighbour in another cell is
    *     unreachable by construction (the IVF-probe trade). The driver
    *     fixture's `label` column is a class label, NOT a learned
    *     cosine quantizer, so cells barely align with cosine
    *     neighbourhoods and global recall is LOW here (≈ 0.07 at
    *     sf0.01) — an honest property of the stand-in quantizer, not
    *     of the beam; a trained coarse quantizer (the ext07/ext75
    *     k-means) is the production lever, plus multi-cell entry
    *     points. Both tiers are oracle-checked.
    *
    * Scale: the exact leg is (queries × corpus) BY DESIGN — production
    * evaluates a fixed query sample, never corpus-proportional (the
    * ext06/ext95 discipline); the beam leg is the ext146 probe. */
  val graphRecallEval: Q = (s, d) => {
    graft.functions.CosineSimilarity.register(s)
    graphRecallOver(vecs(s, d)
      .select(col("vec_id"), col("label"), col("v")))
  }

  /** The two-tier recall evaluation over any (vec_id, label, v) corpus —
    * shared by ext159 (fixture labels as cells) and ext162 (trained
    * k-means cells): build the capped adjacency, run the beam, compare
    * its top-3 against the exact global top-3 and the exact in-cell
    * top-3. */
  private def graphRecallOver(corpus: DataFrame,
      entryOpt: Option[DataFrame] = None, beamWidth: Int = 8,
      hops: Int = 3, perCellBeam: Option[Int] = None,
      cellRerank: Boolean = false,
      adjOpt: Option[DataFrame] = None): DataFrame = {
    val all = corpus
    // ext172 passes the STORED adjacency (the persisted graph artifact);
    // everyone else derives it in-query — identical content by the
    // ext147 equivalence, which is exactly what sharing the oracle proves
    val adj = adjOpt.getOrElse(AnnIndex.graphEdges(all).select("src", "dst"))
    val qs = all.filter(col("vec_id") % 50 === 0)
      .select(col("vec_id").as("q_id"), col("label").as("q_label"),
        col("v").as("qv"))
    val visited = beamVisited(adj, all, entryOpt, beamWidth, hops,
      perCellBeam)
    val wq = Window.partitionBy("q_id")
      .orderBy(col("cosine").desc, col("n_id"))
    val beam = visited
      .withColumn("rank", row_number().over(wq)).filter(col("rank") <= 3)
      .select(col("q_id"), col("n_id")).withColumn("hit", lit(1))
    // ext170's two-tier ANSWER (cellRerank): the walk's visited union is
    // re-ranked TWICE with exact graft_cosine — globally, and restricted
    // to the query's OWN cell — because a single global top-3 answer
    // structurally cannot contain the cell truth once the search is good
    // (pc-16 probes visit the true global top-3, which usually live in
    // OTHER cells and outrank every own-cell candidate). recall_cell
    // then measures what a production IVF index must also serve — "top-k
    // within my partition" — from the same walk, no extra scoring.
    val cellBeam =
      if (!cellRerank) beam
      else visited.join(qs.select("q_id", "q_label"), Seq("q_id"))
        .filter(col("n_cell") === col("q_label"))
        .withColumn("rank", row_number().over(wq)).filter(col("rank") <= 3)
        .select(col("q_id"), col("n_id")).withColumn("hit", lit(1))
    val wEx = Window.partitionBy("q_id").orderBy(col("cos").desc, col("n_id"))
    val scoredAll = qs.crossJoin(all.select(col("vec_id").as("n_id"),
        col("label").as("n_label"), col("v").as("nv")))
      .filter(col("n_id") =!= col("q_id"))
      .select(col("q_id"), col("q_label"), col("n_id"), col("n_label"),
        expr("graft_cosine(qv, nv)").as("cos"))
    def recallOf(truth: DataFrame, answer: DataFrame, nHit: String,
        rec: String): DataFrame =
      truth.join(answer, Seq("q_id", "n_id"), "left")
        .groupBy("q_id")
        .agg(sum(coalesce(col("hit"), lit(0))).as(nHit),
          (sum(coalesce(col("hit"), lit(0))) /
            count(lit(1)).cast("double")).as(rec))
    val globalTruth = scoredAll
      .withColumn("rk", row_number().over(wEx)).filter(col("rk") <= 3)
      .select("q_id", "n_id")
    val cellTruth = scoredAll.filter(col("n_label") === col("q_label"))
      .withColumn("rk", row_number().over(wEx)).filter(col("rk") <= 3)
      .select("q_id", "n_id")
    recallOf(globalTruth, beam, "n_hit_global", "recall_global")
      .join(recallOf(cellTruth, cellBeam, "n_hit_cell", "recall_cell"),
        Seq("q_id"))
      .orderBy("q_id")
  }

  /** ext162 — GRAPH RECALL WITH A TRAINED COARSE QUANTIZER: the
    * production lever ext159 documents, measured. Same capped
    * adjacency, same beam, same two-tier recall — but the cells are
    * ext20's deterministic k-means-lite assignments instead of the
    * fixture's class label, so the cells align with the embedding
    * geometry. Measured at sf0.01: recall_global DOUBLES
    * (0.067 → 0.133) while recall_cell moves to 0.5 (≈16 trained cells
    * vs 10 labels — different denominators). The honest reading: the
    * quantizer is a real lever but in-cell-only edges cap global
    * recall hard on this fixture; the next production levers are
    * cross-cell edges (HNSW's upper layers) and multi-cell entry
    * points (the IVF probe-2 discipline), both compatible with the
    * stored-edge format. The pair (ext159, ext162) is the
    * quantizer-ablation a production tuning pass runs; oracle restates
    * the k-means chain + capped adjacency + unrolled beam + both exact
    * tiers. */
  val graphRecallTrained: Q = (s, d) => {
    graft.functions.CosineSimilarity.register(s)
    val (a1, _) = kmeansBuild(s, d)
    graphRecallOver(a1.select(col("vec_id"),
      col("cell").cast("int").as("label"), col("v")))
  }

  /** ext163 — GRAPH RECALL WITH PROBE-2 ENTRY: the third rung of the
    * tuning ladder (ext159 label cells → ext162 trained cells →
    * ext163 trained cells + multi-cell entry). The beam still walks
    * in-cell edges only, but each query now STARTS from the entry node
    * of its TWO nearest trained cells (the IVF probe-2 discipline —
    * one centroid ranking per query, a broadcast row), so the visited
    * set spans two cells: measured at sf0.01 recall_global rises to
    * 0.167 (vs 0.133 probe-1 trained, 0.067 labels) — a real but
    * modest rung, because the FIXED beam width (8) is now shared
    * between two cells' frontiers, halving per-cell exploration
    * (recall_cell drops 0.5 → 0.4 for the same reason). The measured
    * ladder makes the tuning surface concrete: probes buy breadth,
    * hops × width buy depth, and production picks both per recall
    * target. Candidate work stays ∝ probes × beam; the corpus is
    * untouched. Oracle: the probe-2 centroid ranking replaces the
    * default entry CTE; everything else is ext162's restatement. */
  /** Trained corpus + probe-N entry frontier (one entry node per each of
    * the query's N nearest trained cells) — shared by ext163/ext165/
    * ext166 (N=2) and ext168 (N=3, 2 Lloyd rounds). */
  private def trainedProbeN(s: org.apache.spark.sql.SparkSession, d: String,
      probes: Int = 2, lloydIters: Int = 1,
      entriesPerCell: Int = 1): (DataFrame, DataFrame) = {
    val (a1, cents) = kmeansBuild(s, d, lloydIters)
    val corpus = a1.select(col("vec_id"),
      col("cell").cast("int").as("label"), col("v"))
    val centsRow = broadcast(cents.groupBy()
      .agg(collect_list(struct(col("cid"), col("c"))).as("cents")))
    val qcells = a1.filter(col("vec_id") % 50 === 0)
      .crossJoin(centsRow)
      .select(col("vec_id").as("q_id"), explode(expr(
        "slice(transform(array_sort(transform(cents, " +
          "e -> struct(graft_sqdist(v, e.c) AS d2, e.cid AS cid))), " +
          s"t -> t.cid), 1, $probes)")).as("cell0"))
      .select(col("q_id"), col("cell0").cast("int").as("cell"))
    // entry frontier: the E smallest vec_ids of each probed cell (E = 1
    // reproduces the classic single entry node). Multiple entries are
    // the REACHABILITY lever (ext170): the capped out-degree-4 digraph
    // from one node covers only part of a cell no matter the beam, so
    // per-cell recall plateaus — E seeds multiply the reachable set at
    // cost ∝ probes × E extra scored rows in hop 0 only.
    val cellEntries =
      if (entriesPerCell <= 1)
        corpus.groupBy("label").agg(min("vec_id").as("n_id"))
      else corpus.select(col("label"), col("vec_id").as("n_id"))
        .withColumn("rk", row_number().over(
          Window.partitionBy("label").orderBy("n_id")))
        .filter(col("rk") <= entriesPerCell).drop("rk")
    val entry = qcells
      .join(cellEntries, col("cell") === col("label"))
      .select("q_id", "n_id")
    (corpus, entry)
  }
  private def trainedProbe2(s: org.apache.spark.sql.SparkSession, d: String)
      : (DataFrame, DataFrame) = trainedProbeN(s, d)

  val graphRecallProbe2: Q = (s, d) => {
    graft.functions.CosineSimilarity.register(s)
    val (corpus, entry) = trainedProbe2(s, d)
    graphRecallOver(corpus, Some(entry))
  }

  /** Arbitrary ladder configuration — the local tuning hook behind the
    * committed rungs (see RecallProbeMain for the grid runner). */
  private[graft] def recallConfig(s: org.apache.spark.sql.SparkSession,
      d: String, probes: Int, lloyd: Int, beamWidth: Int,
      hops: Int, perCellBeam: Option[Int] = None,
      entriesPerCell: Int = 1, cellRerank: Boolean = false): DataFrame = {
    graft.functions.CosineSimilarity.register(s)
    val (corpus, entry) = trainedProbeN(s, d, probes, lloyd, entriesPerCell)
    graphRecallOver(corpus, Some(entry), beamWidth, hops, perCellBeam,
      cellRerank)
  }

  /** ext165 — the WIDTH rung of the ladder: ext163's configuration with
    * the beam doubled to 16 (hops unchanged), so the two probed cells
    * stop starving each other. Measured at sf0.01: recall_global 0.233
    * (vs 0.167 at beam 8) and recall_cell 0.5 (vs 0.4) — the
    * quantified "width buys depth" half of the breadth-vs-depth trade,
    * at ~2× the per-hop scoring rows per query (still ∝ probes × beam,
    * corpus untouched). */
  val graphRecallBeam16: Q = (s, d) => {
    graft.functions.CosineSimilarity.register(s)
    val (corpus, entry) = trainedProbe2(s, d)
    graphRecallOver(corpus, Some(entry), beamWidth = 16)
  }

  /** ext166 — the DEPTH rung: ext165's configuration with FIVE hops
    * (beam 16, probe-2 entry). Two extra frontier expansions per query
    * — each a keyed join of (queries × beam) rows against the
    * 4-edges-per-node adjacency, still corpus-size-independent.
    * Measured at sf0.01: recall_global 0.433, recall_cell 0.533 —
    * depth is the strongest single lever on this fixture. The full
    * measured recall_global ladder: 0.067 (label cells) → 0.133
    * (trained quantizer) → 0.167 (probe-2) → 0.233 (× beam-16) →
    * 0.433 (× hops-5). All three tuning levers (breadth, width,
    * depth) now have oracle-checked, quantified rungs. */
  val graphRecallHops5: Q = (s, d) => {
    graft.functions.CosineSimilarity.register(s)
    val (corpus, entry) = trainedProbe2(s, d)
    graphRecallOver(corpus, Some(entry), beamWidth = 16, hops = 5)
  }

  /** ext168 — the PRODUCTION rung (round-13, VERDICT r12 #3): all three
    * levers at strength — probe-8 entry over a TWO-round-Lloyd
    * quantizer, beam 64, hops 5. Chosen from a measured grid
    * (RecallProbeMain, sf0.01): probes alone plateaued (probe-3 at
    * beam 16 even REGRESSED, 0.433 → 0.400 — starved frontiers), width
    * alone reached 0.5, and the combination was super-additive:
    * measured recall_global 0.833 (vs 0.433 at ext166, 0.067 at the
    * ext159 baseline) with recall_cell 0.433 — the beam now spends its
    * budget across eight cells' neighbourhoods, the honest breadth
    * trade the two-tier metric was built to expose. Cost stays
    * ∝ probes × beam × hops per query — corpus-size-independent — and
    * every number is oracle-checked, not vibes. */
  val graphRecallProd: Q = (s, d) => {
    graft.functions.CosineSimilarity.register(s)
    val (corpus, entry) = trainedProbeN(s, d, probes = 8, lloydIters = 2)
    graphRecallOver(corpus, Some(entry), beamWidth = 64, hops = 5)
  }

  /** ext170 — the BALANCED production rung (round-14, VERDICT r13 #4):
    * ext168's breadth (probe-8 entry, 2-Lloyd quantizer, 5 hops) with
    * three changes, each a named lever from the measured grid
    * (RecallProbeMain, sf0.01):
    *
    *   - PER-CELL BEAM FLOOR: the per-hop cut keeps the best
    *     [[ProdPerCellBeam]] per (query, candidate-cell) instead of one
    *     shared top-64, so probing eight cells no longer starves any
    *     one cell's frontier. This alone lifts recall_global 0.833 →
    *     0.933 (the shared budget was the binding constraint).
    *   - MULTI-ENTRY: [[ProdEntriesPerCell]] entry nodes per probed
    *     cell, because the capped out-degree-4 digraph from ONE node
    *     reaches only part of a cell no matter the beam — the grid
    *     shows per-cell floors alone leave recall_cell at 0.400-0.433.
    *     4 entries hit 1.000 on the fixture; round 15's synth-scale
    *     ladder re-tuned the constant to 16 (see its scaladoc).
    *   - TWO-TIER RE-RANK of the SAME visited union with exact
    *     graft_cosine: a global top-3 AND an own-cell top-3. The
    *     second answer exists because a single global top-3
    *     STRUCTURALLY cannot contain the cell truth once the search is
    *     good — the true global top-3 usually live in other cells and
    *     outrank every own-cell candidate (which is exactly why ext168
    *     and the pc-only rungs plateau at recall_cell ≈ 0.43 even with
    *     perfect visiting). A production IVF index must serve "top-k
    *     within my partition" too; this rung serves it from the same
    *     walk, no extra scoring.
    *
    * Measured at sf0.01: recall_global 1.000, recall_cell 1.000 — both
    * targets (global ≥ 0.8, cell ≥ 0.7) cleared with margin. Cost stays
    * ∝ probes × entries × perCellBeam × hops per query,
    * corpus-size-independent; both tiers are oracle-checked. */
  val ProdPerCellBeam = 16

  /** Entry nodes per probed cell for the committed production rung.
    * RE-TUNED 4 → 16 in round 15 (VERDICT r14 #1): the round-14 value
    * measured 1.000/1.000 on the 500-vector fixture but 0.41/0.41 on a
    * 10k-vector planted-cluster corpus (and the ladder at 100k, SURVEY
    * §21.4) — the out-degree-4 in-cell digraph fragments ~60-node cells
    * into near-neighbor ISLANDS, and the walk only ever reaches islands
    * an entry node lands in: the 10k sweep measured recall 0.27/0.41/
    * 0.59/0.81/0.88 at e = 2/4/8/16/32 while the per-cell beam (8 ≡ 16)
    * and depth (hops 5 ≡ 7) moved NOTHING. Entries are the query-time
    * reachability lever (cost ∝ probes × e extra hop-0 rows, corpus-
    * independent); e = 16 clears both recall targets (≥ 0.8 global /
    * ≥ 0.7 cell) with the fixture still at 1.000/1.000. */
  val ProdEntriesPerCell = 16
  val graphRecallProdCell: Q = (s, d) => {
    graft.functions.CosineSimilarity.register(s)
    val (corpus0, entry0) = trainedProbeN(s, d, probes = 8, lloydIters = 2,
      entriesPerCell = ProdEntriesPerCell)
    // BUILD forced eagerly (VERDICT r14 #8): the trained assignment,
    // the entry frontier and the capped adjacency are the index-build
    // half of this entry; materializing them inside the entry call
    // gives the bench record the same probe decomposition the
    // persisted twin (ext172) gets from its ensure* call — probe =
    // walk + exact recall eval, never quantizer/adjacency
    // construction. Values are unchanged (the Lloyd rounds are
    // integer-scaled and deterministic).
    val corpus = corpus0.localCheckpoint(true)
    val entry = entry0.localCheckpoint(true)
    val adj = AnnIndex.graphEdges(corpus).select("src", "dst")
      .localCheckpoint(true)
    graphRecallOver(corpus, Some(entry), hops = 5,
      perCellBeam = Some(ProdPerCellBeam), cellRerank = true,
      adjOpt = Some(adj))
  }

  /** ext172 — THE BALANCED PROBE OVER THE PERSISTED GRAPH (round-14):
    * ext170's production configuration (probe-8 × 2-Lloyd entry, 4
    * entries per probed cell, per-cell beam 16, 5 hops, two-tier exact
    * re-rank) served from the STORED artifact
    * ([[AnnIndex.ensureGraphCdc]]) instead of an in-query adjacency —
    * the shape a production deployment actually runs: the trained
    * quantizer assignment is written as the corpus's cell column, the
    * capped adjacency is amortized into the index build, and the probe
    * is frontier joins + exact re-rank only. The oracle is ext170's
    * restatement verbatim — stored artifact ≡ in-query build is what
    * hash-matching proves (the ext146/ext147 discipline, now at the
    * production rung: recall_global 1.000 / recall_cell 1.000 from the
    * artifact too). */
  val persistedGraphProdCell: Q = (s, d) => {
    graft.ops.ensureGraftCatalog(s)
    graft.functions.CosineSimilarity.register(s)
    s.sql("DROP TABLE IF EXISTS graft_cat.db.gr_tvecs")
    IndexFamily.Graph.drop(s, "gr_tix")
    s.sql("CREATE TABLE graft_cat.db.gr_tvecs (vec_id BIGINT, label INT, " +
      "v ARRAY<DOUBLE>) TBLPROPERTIES ('graft.dml.mode'='merge-on-read')")
    val (corpus, entry) = trainedProbeN(s, d, probes = 8, lloydIters = 2,
      entriesPerCell = ProdEntriesPerCell)
    corpus.writeTo("graft_cat.db.gr_tvecs").append()
    val edges = AnnIndex.ensureGraphCdc(s, "graft_cat.db.gr_tvecs", "gr_tix")
    graphRecallOver(s.table("graft_cat.db.gr_tvecs"), Some(entry), hops = 5,
      perCellBeam = Some(ProdPerCellBeam), cellRerank = true,
      adjOpt = Some(s.table(edges).select("src", "dst")))
  }

  /** ext147 — beam search over the STORED graph ([[AnnIndex
    * .ensureGraphCdc]]): identical semantics (and oracle) to ext146, but
    * the adjacency comes from the persisted edges table — the in-cell
    * pair join and the top-4 window are amortized into the artifact, and
    * the probe plan is frontier-joins only. */
  val persistedGraphTopK: Q = (s, d) => {
    graft.ops.ensureGraftCatalog(s)
    graft.functions.CosineSimilarity.register(s)
    s.sql("DROP TABLE IF EXISTS graft_cat.db.gr_vecs")
    IndexFamily.Graph.drop(s, "gr_ix")
    s.sql("CREATE TABLE graft_cat.db.gr_vecs (vec_id BIGINT, label INT, " +
      "v ARRAY<DOUBLE>) TBLPROPERTIES ('graft.dml.mode'='merge-on-read')")
    vecs(s, d).select(col("vec_id"), col("label"), col("v"))
      .writeTo("graft_cat.db.gr_vecs").append()
    AnnIndex.ensureGraphCdc(s, "graft_cat.db.gr_vecs", "gr_ix") // build
    // covered head: the second ensure is a no-op (spec-pinned)
    val edges = AnnIndex.ensureGraphCdc(s, "graft_cat.db.gr_vecs", "gr_ix")
    beamTopK(s.table(edges).select("src", "dst"),
      s.table("graft_cat.db.gr_vecs"))
  }

  /** ext148 — CDC-DRIVEN MAINTENANCE OF THE GRAPH EDGES: same delete +
    * re-embedding mutations as ext135/ext137/ext145, applied by
    * [[AnnIndex.ensureGraphCdc]] at the graph's only sound granularity —
    * the CELL (an out-edge depends on its node's neighbours, so every
    * touched cell's edges retract and re-derive from the head; work is
    * quadratic in each touched cell's size — bounded by the quantizer's
    * granularity — never the whole corpus). The probe must hash-match the
    * oracle that builds the graph over the post-delete post-update
    * corpus directly — maintained ≡ rebuilt, per cell. */
  val graphCdcMaintenance: Q = (s, d) => {
    graft.ops.ensureGraftCatalog(s)
    graft.functions.CosineSimilarity.register(s)
    s.sql("DROP TABLE IF EXISTS graft_cat.db.cdc_grvecs")
    IndexFamily.Graph.drop(s, "cdc_gr")
    s.sql("CREATE TABLE graft_cat.db.cdc_grvecs (vec_id BIGINT, label INT, " +
      "v ARRAY<DOUBLE>) TBLPROPERTIES ('graft.dml.mode'='merge-on-read')")
    vecs(s, d).select(col("vec_id"), col("label"), col("v"))
      .writeTo("graft_cat.db.cdc_grvecs").append()
    AnnIndex.ensureGraphCdc(s, "graft_cat.db.cdc_grvecs", "cdc_gr") // build
    s.sql("DELETE FROM graft_cat.db.cdc_grvecs WHERE vec_id % 9 = 0")
    s.sql("UPDATE graft_cat.db.cdc_grvecs SET v = reverse(v) " +
      "WHERE vec_id % 11 = 4")
    // ONE feed slice spans both commits
    val edges = AnnIndex.ensureGraphCdc(s, "graft_cat.db.cdc_grvecs", "cdc_gr")
    beamTopK(s.table(edges).select("src", "dst"),
      s.table("graft_cat.db.cdc_grvecs"))
  }

  val queries: Map[String, Q] = Map(
    "ext146_graph_ann_beam" -> graphAnnBeam,
    "ext159_graph_recall_eval" -> graphRecallEval,
    "ext162_graph_recall_trained" -> graphRecallTrained,
    "ext163_graph_recall_probe2" -> graphRecallProbe2,
    "ext165_graph_recall_beam16" -> graphRecallBeam16,
    "ext166_graph_recall_hops5" -> graphRecallHops5,
    "ext168_graph_recall_prod" -> graphRecallProd,
    "ext170_graph_recall_prod_cell" -> graphRecallProdCell,
    "ext172_graph_index_prod_cell" -> persistedGraphProdCell,
    "ext147_graph_index_probe" -> persistedGraphTopK,
    "ext148_graph_cdc_maintenance" -> graphCdcMaintenance,
    "ext143_sim_topk_sq8" -> sqTopK,
    "ext144_ann_index_sq8" -> persistedSqTopK,
    "ext145_sq_cdc_maintenance" -> sqCdcMaintenance,
    "ext135_ann_cdc_maintenance" -> annCdcMaintenance,
    "ext137_pq_cdc_maintenance" -> pqCdcMaintenance,
    "ext126_ann_index_probe1" -> persistedIvfTopK,
    "ext127_ann_index_probe2" -> persistedIvfProbe2,
    "ext129_ann_index_pq_adc" -> persistedPqAdc,
    "ext77_label_noise_knn" -> labelNoiseKnn,
    "ext108_label_noise_recall" -> labelNoiseRecall,
    "ext75_sim_topk_ivfpq" -> pqTopK,
    "ext06_sim_topk_bruteforce" -> bruteForceTopK,
    "ext07_sim_topk_ivf" -> ivfTopK,
    "ext16_sim_native_expr" -> bruteForceNativeExpr,
    "ext17_sim_topk_lsh" -> lshTopK,
    "ext20_sim_topk_ivf_kmeans" -> kmeansIvfTopK,
    "ext37_sim_topk_ivf_probe2" -> kmeansIvfProbe2,
    "ext93_semantic_dedup" -> ((s, d) => semanticDedup(s, d, 0.4)),
    "ext95_ann_recall" -> annRecall,
    "ext120_matryoshka_eval" -> matryoshkaEval,
    "ext124_adaptive_probe" -> adaptiveProbe)

  private val vSql =
    """v AS (SELECT vec_id, label, embedding::DOUBLE[] AS v,
      |        sqrt(list_sum([x * x for x in embedding::DOUBLE[]])) AS norm
      |      FROM embeddings)""".stripMargin

  /** The k-means-lite build CTEs (seed assign → Lloyd update → re-assign),
    * shared by the ext20 and ext37 oracles — the SQL restatement of
    * [[kmeansBuild]]. */
  /** `extra` injects additional CTEs after `v` (ext135 defines the
    * post-CDC corpus `vf` there); `a1Base` is the relation the FINAL
    * re-assignment runs over — the quantizer (seeds→Lloyd→cents) always
    * learns from the ORIGINAL `v`, matching the stored-index discipline
    * (centroids retrain on rebuild, not per change). */
  /** The k-means-lite CTE chain with `iters` Lloyd rounds. Round
    * naming: intermediate rounds are suffixed (`comp_r1`/`cents_r1`/
    * `ai_r1`); the FINAL round lands in the canonical `comp`/`cents`/
    * `a1` names every downstream oracle references, so iters = 1 emits
    * exactly the historical single-round SQL. Each round is one
    * integer-scaled per-component mean over the previous assignment,
    * then a full re-assign — the restatement of kmeansBuild's loop. */
  private def kmeansCtesFrom(a1Base: String, extra: String = "",
      iters: Int = 1) = {
    def assignSql(name: String, src: String, centsName: String,
        withNorm: Boolean) =
      s"""$name AS (
         |  SELECT vec_id, v,${if (withNorm) " norm," else ""} cid AS cell FROM (
         |    SELECT x.vec_id, x.v,${if (withNorm) " x.norm," else ""} s.cid,
         |      row_number() OVER (PARTITION BY x.vec_id ORDER BY
         |        list_sum([(x.v[i] - s.c[i]) * (x.v[i] - s.c[i]) for i in range(1, len(x.v) + 1)]),
         |        s.cid) AS rk
         |    FROM $src x CROSS JOIN $centsName s) WHERE rk = 1)""".stripMargin
    def updateSql(compName: String, centsName: String, src: String) =
      s"""$compName AS (
         |  SELECT cell AS cid, i,
         |    SUM(CAST(round(v[i] * 1000000) AS BIGINT)) AS sc, COUNT(*) AS n
         |  FROM $src, range(1, 65) r(i) GROUP BY cell, i),
         |$centsName AS (
         |  SELECT cid, list(CAST(sc AS DOUBLE) / 1000000 / n ORDER BY i) AS c
         |  FROM $compName GROUP BY cid)""".stripMargin
    val n = math.max(1, iters)
    val rounds = (1 to n).map { r =>
      val last = r == n
      val src = if (r == 1) "a0" else s"ai_r${r - 1}"
      val (compN, centsN, aN) =
        if (last) ("comp", "cents", "a1") else (s"comp_r$r", s"cents_r$r", s"ai_r$r")
      updateSql(compN, centsN, src) + ",\n" +
        assignSql(aN, if (last) a1Base else "v", centsN, withNorm = last)
    }.mkString(",\n")
    s"""$vSql,$extra
       |seeds AS (
       |  SELECT CAST(vec_id // 64 AS INT) AS cid, v AS c FROM v WHERE vec_id % 64 = 0),
       |${assignSql("a0", "v", "seeds", withNorm = false)},
       |$rounds""".stripMargin
  }

  private lazy val kmeansCtesSql = kmeansCtesFrom("v")

  private val bruteForceOracle =
      s"""WITH $vSql,
         |scored AS (
         |  SELECT q.vec_id AS q_id, c.vec_id AS n_id,
         |    list_sum([q.v[i] * c.v[i] for i in range(1, len(q.v) + 1)])
         |      / (q.norm * c.norm) AS cosine
         |  FROM v q JOIN v c ON c.vec_id <> q.vec_id
         |  WHERE q.vec_id % 50 = 0)
         |SELECT q_id,
         |  CAST(row_number() OVER w AS INT) AS rank, n_id, cosine
         |FROM scored
         |WINDOW w AS (PARTITION BY q_id ORDER BY cosine DESC, n_id)
         |QUALIFY row_number() OVER w <= 5
         |ORDER BY q_id, rank""".stripMargin

  // DuckDB lists are 1-indexed (Spark arrays 0-indexed): plane component
  // for list position i is computed from (i-1)
  private val bucketSqlExpr: String = (0 until 8).map { k =>
    s"""(CASE WHEN list_sum([v[i] * (CAST(((i-1) * 2654435761 + $k * 40503) % 1000 AS DOUBLE) / 1000 - 0.5)
       |  for i in range(1, 65)]) > 0 THEN ${1 << k} ELSE 0 END)""".stripMargin
  }.mkString(" + ")

  /** Shared argmin-encode CTE body for the PQ oracle: assigns every
    * (vector, subspace) row to its nearest centroid from `tbl`. */
  private def pqAssignSql(tbl: String, src: String = "sub"): String =
    s"""SELECT vec_id, j, subv, cid FROM (
       |    SELECT s.vec_id, s.j, s.subv, sd.cid,
       |      row_number() OVER (PARTITION BY s.vec_id, s.j ORDER BY
       |        list_sum([(s.subv[i] - sd.c[i]) * (s.subv[i] - sd.c[i]) for i in range(1, 9)]),
       |        sd.cid) AS rk
       |    FROM $src s JOIN $tbl sd ON s.j = sd.j) WHERE rk = 1""".stripMargin

  private lazy val pqAdcOracleSql =
    s"""WITH v AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
       |sub AS (
       |  SELECT vec_id, j, v[j * 8 + 1 : j * 8 + 8] AS subv
       |  FROM v, range(0, 8) r(j)),
       |seeds AS (
       |  SELECT j, CAST(vec_id // 64 AS INT) AS cid, subv AS c
       |  FROM sub WHERE vec_id % 64 = 0),
       |a0 AS (${pqAssignSql("seeds")}),
       |comp AS (
       |  SELECT j, cid, i,
       |    SUM(CAST(round(subv[i] * 1000000) AS BIGINT)) AS sc, COUNT(*) AS n
       |  FROM a0, range(1, 9) r(i) GROUP BY j, cid, i),
       |cents AS (
       |  SELECT j, cid, list(CAST(sc AS DOUBLE) / 1000000 / n ORDER BY i) AS c
       |  FROM comp GROUP BY j, cid),
       |codes AS (${pqAssignSql("cents")}),
       |lut AS (
       |  SELECT s.vec_id AS q_id, s.j, c.cid,
       |    CAST(list_sum([(s.subv[i] - c.c[i]) * (s.subv[i] - c.c[i]) for i in range(1, 9)])
       |         AS DECIMAL(18, 6)) AS pd2
       |  FROM sub s JOIN cents c ON s.j = c.j
       |  WHERE s.vec_id % 50 = 0),
       |adc AS (
       |  SELECT l.q_id, cd.vec_id, CAST(SUM(l.pd2) AS DOUBLE) AS adc2
       |  FROM codes cd
       |  JOIN lut l ON cd.j = l.j AND cd.cid = l.cid AND cd.vec_id <> l.q_id
       |  GROUP BY l.q_id, cd.vec_id)
       |SELECT q_id, CAST(row_number() OVER w AS INT) AS rank,
       |  vec_id AS n_id, adc2
       |FROM adc
       |WINDOW w AS (PARTITION BY q_id ORDER BY adc2, vec_id)
       |QUALIFY row_number() OVER w <= 3
       |ORDER BY q_id, rank""".stripMargin

  /** Probe-1 top-3 over the a1 assignment — shared by ext20/ext126
    * (fresh corpus) and ext135 (CDC-mutated corpus). */
  private def probe1OracleSqlWith(ctes: String) =
    s"""WITH $ctes,
       |scored AS (
       |  SELECT q.vec_id AS q_id, q.cell AS cell, c.vec_id AS n_id,
       |    list_sum([q.v[i] * c.v[i] for i in range(1, len(q.v) + 1)])
       |      / (q.norm * c.norm) AS cosine
       |  FROM a1 q JOIN a1 c ON q.cell = c.cell AND c.vec_id <> q.vec_id
       |  WHERE q.vec_id % 50 = 0)
       |SELECT q_id, cell,
       |  CAST(row_number() OVER w AS INT) AS rank, n_id, cosine
       |FROM scored
       |WINDOW w AS (PARTITION BY q_id ORDER BY cosine DESC, n_id)
       |QUALIFY row_number() OVER w <= 3
       |ORDER BY q_id, rank""".stripMargin

  private lazy val ivfProbe1OracleSql = probe1OracleSqlWith(kmeansCtesSql)

  private lazy val ivfProbe2OracleSql =
    s"""WITH $kmeansCtesSql,
       |qc AS (
       |  SELECT vec_id AS q_id, v, norm, cid AS cell FROM (
       |    SELECT x.vec_id, x.v, x.norm, s.cid,
       |      row_number() OVER (PARTITION BY x.vec_id ORDER BY
       |        list_sum([(x.v[i] - s.c[i]) * (x.v[i] - s.c[i]) for i in range(1, len(x.v) + 1)]),
       |        s.cid) AS rk
       |    FROM v x CROSS JOIN cents s WHERE x.vec_id % 50 = 0) WHERE rk <= 2),
       |scored AS (
       |  SELECT q.q_id, c.vec_id AS n_id,
       |    list_sum([q.v[i] * c.v[i] for i in range(1, len(q.v) + 1)])
       |      / (q.norm * c.norm) AS cosine
       |  FROM qc q JOIN a1 c ON q.cell = c.cell AND c.vec_id <> q.q_id)
       |SELECT q_id,
       |  CAST(row_number() OVER w AS INT) AS rank, n_id, cosine
       |FROM scored
       |WINDOW w AS (PARTITION BY q_id ORDER BY cosine DESC, n_id)
       |QUALIFY row_number() OVER w <= 3
       |ORDER BY q_id, rank""".stripMargin

  /** ext145's oracle — the SQ8 search over the post-CDC corpus
    * (delete % 9 = 0, reverse % 11 = 4). Shared with ext151, whose
    * STREAMED maintenance must converge to the same artifact. */
  private[graft] lazy val sqCdcMutatedOracleSql: String = sqOracleFrom(
    """vm AS (
      |  SELECT vec_id,
      |    CASE WHEN vec_id % 11 = 4 THEN list_reverse(embedding::DOUBLE[])
      |         ELSE embedding::DOUBLE[] END AS v
      |  FROM embeddings WHERE vec_id % 9 <> 0),
      |v AS (SELECT vec_id, v,
      |        sqrt(list_sum([x * x for x in v])) AS norm FROM vm)""".stripMargin)

  /** The SQ8 search restated over an arbitrary corpus CTE (`v` must
    * expose vec_id, v, norm) — instantiated for ext143/ext144 (raw
    * embeddings; the stored-codes probe is bit-identical to the
    * in-query quantization) and for ext145 (the post-CDC corpus). */
  private def sqOracleFrom(vCte: String): String =
      s"""WITH $vCte,
         |r2 AS (
         |  SELECT vec_id, v, norm,
         |    [CASE WHEN mx > mn
         |          THEN mn + floor((x - mn) * 255 / (mx - mn) + 0.5) * (mx - mn) / 255
         |          ELSE mn END for x in v] AS r
         |  FROM (SELECT vec_id, v, norm, list_min(v) AS mn, list_max(v) AS mx FROM v)),
         |r3 AS (
         |  SELECT vec_id, v, norm, r,
         |    sqrt(list_sum([x * x for x in r])) AS rnorm FROM r2),
         |scored AS (
         |  SELECT q.vec_id AS q_id, c.vec_id AS n_id,
         |    list_sum([q.v[i] * c.r[i] for i in range(1, len(q.v) + 1)])
         |      / (q.norm * c.rnorm) AS approx_cosine,
         |    list_sum([q.v[i] * c.v[i] for i in range(1, len(q.v) + 1)])
         |      / (q.norm * c.norm) AS true_cosine
         |  FROM v q JOIN r3 c ON c.vec_id <> q.vec_id
         |  WHERE q.vec_id % 50 = 0)
         |SELECT q_id, CAST(row_number() OVER w AS INT) AS rank, n_id,
         |  approx_cosine, true_cosine
         |FROM scored
         |WINDOW w AS (PARTITION BY q_id ORDER BY approx_cosine DESC, n_id)
         |QUALIFY row_number() OVER w <= 3
         |ORDER BY q_id, rank""".stripMargin

  /** The graph-ANN oracle: the same three beam hops, unrolled — sK = the
    * hop-K beam (top-8 of the scored distinct expansion of hop K-1).
    * Instantiated over the raw embeddings (ext146/ext147 — the stored
    * graph probes identically to the in-query build) and over the
    * post-CDC corpus (ext148); `vCte`'s `v` must expose vec_id, label,
    * v, norm. */
  private def graphAnnOracleFrom(vCte: String, corpus: String = "v",
      entrySql: Option[String] = None, beamWidth: Int = 8,
      hops: Int = 3, perCellBeam: Option[Int] = None): String = {
    // per-cell beam (ext170): the hop cut partitions by the candidate's
    // cell — mirrors beamTopK's `perCellBeam` exactly
    val (beamPart, beamCut) = perCellBeam match {
      case Some(pc) => ("q_id, n_cell", pc)
      case None => ("q_id", beamWidth)
    }
    def hop(k: Int): String =
      s"""x$k AS (
         |  SELECT DISTINCT f.q_id, a.dst AS n_id
         |  FROM s${k - 1} f JOIN adj a ON f.n_id = a.src),
         |s${k}p AS (
         |  SELECT f.q_id, f.n_id, c.label AS n_cell,
         |    list_sum([q.qv[i] * c.v[i] for i in range(1, len(q.qv) + 1)])
         |      / (q.qnorm * c.norm) AS cos
         |  FROM x$k f JOIN q ON f.q_id = q.q_id
         |  JOIN $corpus c ON f.n_id = c.vec_id),
         |s$k AS (
         |  SELECT q_id, n_id, cos FROM (
         |    SELECT *, row_number() OVER (
         |      PARTITION BY $beamPart ORDER BY cos DESC, n_id) AS rk FROM s${k}p)
         |  WHERE rk <= $beamCut)""".stripMargin
    s"""WITH $vCte,
       |csz AS (
       |  SELECT label, CAST(ceil(count(*) / ${AnnIndex.GraphCellCap}.0)
       |    AS BIGINT) AS nsub FROM $corpus GROUP BY label),
       |vs AS (
       |  SELECT $corpus.*, $corpus.vec_id % c.nsub AS sb
       |  FROM $corpus JOIN csz c ON $corpus.label = c.label),
       |adjp AS (
       |  SELECT a.vec_id AS src, b.vec_id AS dst,
       |    list_sum([a.v[i] * b.v[i] for i in range(1, len(a.v) + 1)])
       |      / (a.norm * b.norm) AS cos
       |  FROM vs a JOIN vs b ON a.label = b.label AND a.sb = b.sb
       |    AND b.vec_id <> a.vec_id),
       |adj AS (
       |  SELECT src, dst FROM (
       |    SELECT src, dst, row_number() OVER (
       |      PARTITION BY src ORDER BY cos DESC, dst) AS rk FROM adjp)
       |  WHERE rk <= 4),
       |q AS (SELECT vec_id AS q_id, label, v AS qv, norm AS qnorm
       |      FROM $corpus WHERE vec_id % 50 = 0),
       |${entrySql.getOrElse(
             s"""e0 AS (
                |  SELECT q.q_id, e.n_id FROM q
                |  JOIN (SELECT label, MIN(vec_id) AS n_id
                |        FROM $corpus GROUP BY label) e
                |    USING (label))""".stripMargin)},
       |s0 AS (
       |  SELECT f.q_id, f.n_id,
       |    list_sum([q.qv[i] * c.v[i] for i in range(1, len(q.qv) + 1)])
       |      / (q.qnorm * c.norm) AS cos
       |  FROM e0 f JOIN q ON f.q_id = q.q_id
       |  JOIN $corpus c ON f.n_id = c.vec_id),
       |${(1 to hops).map(hop).mkString(",\n")},
       |vis AS (
       |  SELECT q_id, n_id, MIN(cos) AS cosine FROM (
       |    ${(0 to hops).map(k => s"SELECT * FROM s$k")
             .mkString("\n    UNION ALL ")})
       |  GROUP BY q_id, n_id)
       |SELECT q_id, CAST(row_number() OVER w AS INT) AS rank, n_id, cosine
       |FROM vis WHERE n_id <> q_id
       |WINDOW w AS (PARTITION BY q_id ORDER BY cosine DESC, n_id)
       |QUALIFY row_number() OVER w <= 3
       |ORDER BY q_id, rank""".stripMargin
  }

  /** ext159's oracle — the beam restated as a CTE chain (the body of
    * [[graphAnnOracleFrom]] up to `vis`), an exact brute-force top-3,
    * and the per-query hit count. */
  private def graphRecallOracleFrom(vCte: String, corpus: String = "v",
      entrySql: Option[String] = None, beamWidth: Int = 8,
      hops: Int = 3, perCellBeam: Option[Int] = None,
      cellRerank: Boolean = false): String = {
    val beam = graphAnnOracleFrom(vCte, corpus, entrySql, beamWidth, hops,
      perCellBeam)
    val body = beam.substring(0, beam.indexOf("SELECT q_id, CAST(row_number()"))
    // ext170's two-tier answer: the cell tier re-ranks the SAME visited
    // union restricted to the query's own cell (mirrors cellRerank)
    val cellAnswer = if (cellRerank) "beamc3" else "beam3"
    val beamc3 =
      if (!cellRerank) ""
      else s"""beamc3 AS (
         |  SELECT q_id, n_id FROM (
         |    SELECT vis.q_id, vis.n_id, vis.cosine
         |    FROM vis JOIN q ON vis.q_id = q.q_id
         |    JOIN $corpus c ON vis.n_id = c.vec_id AND c.label = q.label
         |    WHERE vis.n_id <> vis.q_id)
         |  QUALIFY row_number() OVER (
         |    PARTITION BY q_id ORDER BY cosine DESC, n_id) <= 3),
         |""".stripMargin
    s"""${body.trim.stripSuffix(",")},
       |beam3 AS (
       |  SELECT q_id, n_id FROM vis WHERE n_id <> q_id
       |  QUALIFY row_number() OVER (
       |    PARTITION BY q_id ORDER BY cosine DESC, n_id) <= 3),
       |$beamc3
       |exv AS (
       |  SELECT q.q_id, q.label AS q_label, c.vec_id AS n_id,
       |    c.label AS n_label,
       |    list_sum([q.qv[i] * c.v[i] for i in range(1, len(q.qv) + 1)])
       |      / (q.qnorm * c.norm) AS cos
       |  FROM q, $corpus c WHERE c.vec_id <> q.q_id),
       |ex3 AS (
       |  SELECT q_id, n_id FROM exv
       |  QUALIFY row_number() OVER (
       |    PARTITION BY q_id ORDER BY cos DESC, n_id) <= 3),
       |cx3 AS (
       |  SELECT q_id, n_id FROM exv WHERE n_label = q_label
       |  QUALIFY row_number() OVER (
       |    PARTITION BY q_id ORDER BY cos DESC, n_id) <= 3),
       |rg AS (
       |  SELECT e.q_id,
       |    CAST(SUM(CASE WHEN b.n_id IS NOT NULL THEN 1 ELSE 0 END)
       |      AS BIGINT) AS n_hit_global,
       |    SUM(CASE WHEN b.n_id IS NOT NULL THEN 1 ELSE 0 END)
       |      / CAST(COUNT(*) AS DOUBLE) AS recall_global
       |  FROM ex3 e LEFT JOIN beam3 b ON e.q_id = b.q_id AND e.n_id = b.n_id
       |  GROUP BY e.q_id),
       |rc AS (
       |  SELECT e.q_id,
       |    CAST(SUM(CASE WHEN b.n_id IS NOT NULL THEN 1 ELSE 0 END)
       |      AS BIGINT) AS n_hit_cell,
       |    SUM(CASE WHEN b.n_id IS NOT NULL THEN 1 ELSE 0 END)
       |      / CAST(COUNT(*) AS DOUBLE) AS recall_cell
       |  FROM cx3 e LEFT JOIN $cellAnswer b ON e.q_id = b.q_id AND e.n_id = b.n_id
       |  GROUP BY e.q_id)
       |SELECT rg.q_id, rg.n_hit_global, rg.recall_global,
       |  rc.n_hit_cell, rc.recall_cell
       |FROM rg JOIN rc ON rg.q_id = rc.q_id
       |ORDER BY rg.q_id""".stripMargin
  }

  /** The trained-corpus alias every ladder oracle shares: k-means-lite
    * with `iters` Lloyd rounds, final cells as the graph labels. */
  private def trainedGvCtes(iters: Int = 1): String =
    kmeansCtesFrom("v", iters = iters) +
      ",\ngv AS (SELECT vec_id, CAST(cell AS INT) AS label, v, norm FROM a1)"

  /** Probe-N entry frontier: each query's N nearest FINAL centroids,
    * `entriesPerCell` entry nodes (the E smallest vec_ids) per probed
    * cell — E = 1 is the classic single entry node. */
  private def probeNEntrySql(n: Int, entriesPerCell: Int = 1): String = {
    val cellEntries =
      if (entriesPerCell <= 1)
        "SELECT label, MIN(vec_id) AS n_id FROM gv GROUP BY label"
      else
        s"""SELECT label, vec_id AS n_id FROM gv
           |   QUALIFY row_number() OVER (
           |     PARTITION BY label ORDER BY vec_id) <= $entriesPerCell"""
          .stripMargin
    s"""qcn AS (
       |  SELECT vec_id AS q_id, CAST(cid AS INT) AS cell FROM (
       |    SELECT x.vec_id, s.cid,
       |      row_number() OVER (PARTITION BY x.vec_id ORDER BY
       |        list_sum([(x.v[i] - s.c[i]) * (x.v[i] - s.c[i]) for i in range(1, len(x.v) + 1)]),
       |        s.cid) AS rk
       |    FROM gv x CROSS JOIN cents s WHERE x.vec_id % 50 = 0)
       |  WHERE rk <= $n),
       |e0 AS (
       |  SELECT qcn.q_id, e.n_id FROM qcn
       |  JOIN ($cellEntries) e
       |    ON qcn.cell = e.label)""".stripMargin
  }

  val oracleSql: Map[String, String] = Map(
    "ext146_graph_ann_beam" -> graphAnnOracleFrom(vSql),
    "ext159_graph_recall_eval" -> graphRecallOracleFrom(vSql),
    "ext162_graph_recall_trained" -> graphRecallOracleFrom(
      trainedGvCtes(), corpus = "gv"),
    "ext163_graph_recall_probe2" -> graphRecallOracleFrom(
      trainedGvCtes(), corpus = "gv",
      entrySql = Some(probeNEntrySql(2))),
    "ext165_graph_recall_beam16" -> graphRecallOracleFrom(
      trainedGvCtes(), corpus = "gv", beamWidth = 16,
      entrySql = Some(probeNEntrySql(2))),
    "ext166_graph_recall_hops5" -> graphRecallOracleFrom(
      trainedGvCtes(), corpus = "gv", beamWidth = 16, hops = 5,
      entrySql = Some(probeNEntrySql(2))),
    // the production rung: 2 Lloyd rounds, probe-8 entry, beam 64 —
    // the measured-0.833-recall configuration, restated end to end
    "ext168_graph_recall_prod" -> graphRecallOracleFrom(
      trainedGvCtes(iters = 2), corpus = "gv", beamWidth = 64, hops = 5,
      entrySql = Some(probeNEntrySql(8))),
    // the balanced rung: same breadth, with the per-cell beam floor in
    // the hop CTEs' (q_id, n_cell) window, 4 entry nodes per probed
    // cell, and the cell tier answered by the own-cell re-rank (beamc3)
    "ext170_graph_recall_prod_cell" -> graphRecallOracleFrom(
      trainedGvCtes(iters = 2), corpus = "gv", hops = 5,
      perCellBeam = Some(ProdPerCellBeam), cellRerank = true,
      entrySql = Some(probeNEntrySql(8, ProdEntriesPerCell))),
    // the persisted-artifact twin probes the STORED graph with the same
    // configuration — sharing ext170's from-scratch restatement IS the
    // stored ≡ in-query equivalence claim
    "ext172_graph_index_prod_cell" -> graphRecallOracleFrom(
      trainedGvCtes(iters = 2), corpus = "gv", hops = 5,
      perCellBeam = Some(ProdPerCellBeam), cellRerank = true,
      entrySql = Some(probeNEntrySql(8, ProdEntriesPerCell))),
    "ext147_graph_index_probe" -> graphAnnOracleFrom(vSql),
    "ext148_graph_cdc_maintenance" -> graphAnnOracleFrom(
      """vm AS (
        |  SELECT vec_id, label,
        |    CASE WHEN vec_id % 11 = 4 THEN list_reverse(embedding::DOUBLE[])
        |         ELSE embedding::DOUBLE[] END AS v
        |  FROM embeddings WHERE vec_id % 9 <> 0),
        |v AS (SELECT vec_id, label, v,
        |        sqrt(list_sum([x * x for x in v])) AS norm FROM vm)""".stripMargin),
    "ext143_sim_topk_sq8" -> sqOracleFrom(vSql),
    "ext144_ann_index_sq8" -> sqOracleFrom(vSql),
    "ext145_sq_cdc_maintenance" -> sqCdcMutatedOracleSql,
    // sampled queries, both candidate policies, same k=5 vote: per-label
    // agreement between the probe-2-bounded audit and the exact audit
    "ext108_label_noise_recall" ->
      s"""WITH $kmeansCtesSql,
         |a1l AS (
         |  SELECT a1.vec_id, a1.v, a1.norm, a1.cell, x.label
         |  FROM a1 JOIN v x USING (vec_id)),
         |qs AS (SELECT * FROM a1l WHERE vec_id % 20 = 0),
         |qc AS (
         |  SELECT vec_id AS q_id, label, v, norm, cid AS cell FROM (
         |    SELECT x.vec_id, x.label, x.v, x.norm, s.cid,
         |      row_number() OVER (PARTITION BY x.vec_id ORDER BY
         |        list_sum([(x.v[i] - s.c[i]) * (x.v[i] - s.c[i]) for i in range(1, len(x.v) + 1)]),
         |        s.cid) AS rk
         |    FROM qs x CROSS JOIN cents s) WHERE rk <= 2),
         |bn AS (
         |  SELECT q_id AS vec_id, label, n_label FROM (
         |    SELECT q.q_id, q.label, c.vec_id AS n_id, c.label AS n_label,
         |      row_number() OVER (PARTITION BY q.q_id ORDER BY
         |        list_sum([q.v[i] * c.v[i] for i in range(1, len(q.v) + 1)])
         |          / (q.norm * c.norm) DESC, c.vec_id) AS rank
         |    FROM qc q JOIN a1l c ON q.cell = c.cell AND c.vec_id <> q.q_id)
         |  WHERE rank <= 5),
         |bv AS (
         |  SELECT vec_id, label, n_label AS bounded_label FROM (
         |    SELECT vec_id, label, n_label, row_number() OVER (
         |      PARTITION BY vec_id ORDER BY COUNT(*) DESC, n_label) AS vote_rank
         |    FROM bn GROUP BY vec_id, label, n_label)
         |  WHERE vote_rank = 1),
         |en AS (
         |  SELECT q_id AS vec_id, label, n_label FROM (
         |    SELECT q.vec_id AS q_id, q.label, c.vec_id AS n_id, c.label AS n_label,
         |      row_number() OVER (PARTITION BY q.vec_id ORDER BY
         |        list_sum([q.v[i] * c.v[i] for i in range(1, len(q.v) + 1)])
         |          / (q.norm * c.norm) DESC, c.vec_id) AS rank
         |    FROM qs q JOIN a1l c ON c.vec_id <> q.vec_id)
         |  WHERE rank <= 5),
         |ev AS (
         |  SELECT vec_id, label, n_label AS exact_label FROM (
         |    SELECT vec_id, label, n_label, row_number() OVER (
         |      PARTITION BY vec_id ORDER BY COUNT(*) DESC, n_label) AS vote_rank
         |    FROM en GROUP BY vec_id, label, n_label)
         |  WHERE vote_rank = 1)
         |SELECT label, COUNT(*) AS n_sampled,
         |  CAST(SUM(CASE WHEN bounded_label = exact_label THEN 1 ELSE 0 END)
         |       AS BIGINT) AS n_agree,
         |  CAST(CAST(SUM(CASE WHEN bounded_label = exact_label THEN 1 ELSE 0 END)
         |       AS BIGINT) AS DOUBLE) / COUNT(*) AS agree_rate
         |FROM ev JOIN bv USING (vec_id, label)
         |GROUP BY label ORDER BY label""".stripMargin,
    // probe-2 cell-bounded kNN: every vector is a query; its candidates
    // are the vectors assigned to its two nearest learned centroids
    // (rk <= 2) — the same bound ext37 proves for sampled queries
    "ext77_label_noise_knn" ->
      s"""WITH $kmeansCtesSql,
         |a1l AS (
         |  SELECT a1.vec_id, a1.v, a1.norm, a1.cell, x.label
         |  FROM a1 JOIN v x USING (vec_id)),
         |qc AS (
         |  SELECT vec_id AS q_id, label, v, norm, cid AS cell FROM (
         |    SELECT x.vec_id, x.label, x.v, x.norm, s.cid,
         |      row_number() OVER (PARTITION BY x.vec_id ORDER BY
         |        list_sum([(x.v[i] - s.c[i]) * (x.v[i] - s.c[i]) for i in range(1, len(x.v) + 1)]),
         |        s.cid) AS rk
         |    FROM a1l x CROSS JOIN cents s) WHERE rk <= 2),
         |neigh AS (
         |  SELECT q_id AS vec_id, label, n_label FROM (
         |    SELECT q.q_id, q.label AS label,
         |      c.vec_id AS n_id, c.label AS n_label,
         |      row_number() OVER (PARTITION BY q.q_id ORDER BY
         |        list_sum([q.v[i] * c.v[i] for i in range(1, len(q.v) + 1)])
         |          / (q.norm * c.norm) DESC, c.vec_id) AS rank
         |    FROM qc q JOIN a1l c ON q.cell = c.cell AND c.vec_id <> q.q_id)
         |  WHERE rank <= 5),
         |votes AS (
         |  SELECT vec_id, label, n_label, COUNT(*) AS n_votes
         |  FROM neigh GROUP BY vec_id, label, n_label),
         |majority AS (
         |  SELECT vec_id, label, n_label AS knn_label FROM (
         |    SELECT *, row_number() OVER (PARTITION BY vec_id
         |      ORDER BY n_votes DESC, n_label) AS vote_rank
         |    FROM votes)
         |  WHERE vote_rank = 1)
         |SELECT label, COUNT(*) AS n_vecs,
         |  CAST(SUM(CASE WHEN knn_label <> label THEN 1 ELSE 0 END) AS BIGINT)
         |    AS n_flagged,
         |  CAST(CAST(SUM(CASE WHEN knn_label <> label THEN 1 ELSE 0 END) AS BIGINT)
         |       AS DOUBLE) / COUNT(*) AS flagged_rate
         |FROM majority GROUP BY label
         |ORDER BY label""".stripMargin,
    "ext75_sim_topk_ivfpq" -> pqAdcOracleSql,
    // ext129 probes the PERSISTED PQ tier; a fresh build is
    // bit-identical to ext75's in-query construction, so the same
    // ADC oracle applies verbatim
    "ext129_ann_index_pq_adc" -> pqAdcOracleSql,
    // ext137 = ADC after CDC maintenance: codebooks learn from the
    // ORIGINAL corpus (sub), codes + queries cover the POST-DELETE
    // POST-UPDATE corpus (subf) — matching it proves the feed-maintained
    // codes equal re-encoding the head against stored codebooks
    "ext137_pq_cdc_maintenance" ->
      s"""WITH v AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
         |vf AS (
         |  SELECT vec_id,
         |    CASE WHEN vec_id % 11 = 4 THEN list_reverse(v) ELSE v END AS v
         |  FROM v WHERE vec_id % 9 <> 0),
         |sub AS (
         |  SELECT vec_id, j, v[j * 8 + 1 : j * 8 + 8] AS subv
         |  FROM v, range(0, 8) r(j)),
         |subf AS (
         |  SELECT vec_id, j, v[j * 8 + 1 : j * 8 + 8] AS subv
         |  FROM vf, range(0, 8) r(j)),
         |seeds AS (
         |  SELECT j, CAST(vec_id // 64 AS INT) AS cid, subv AS c
         |  FROM sub WHERE vec_id % 64 = 0),
         |a0 AS (${pqAssignSql("seeds")}),
         |comp AS (
         |  SELECT j, cid, i,
         |    SUM(CAST(round(subv[i] * 1000000) AS BIGINT)) AS sc, COUNT(*) AS n
         |  FROM a0, range(1, 9) r(i) GROUP BY j, cid, i),
         |cents AS (
         |  SELECT j, cid, list(CAST(sc AS DOUBLE) / 1000000 / n ORDER BY i) AS c
         |  FROM comp GROUP BY j, cid),
         |codes AS (${pqAssignSql("cents", src = "subf")}),
         |lut AS (
         |  SELECT s.vec_id AS q_id, s.j, c.cid,
         |    CAST(list_sum([(s.subv[i] - c.c[i]) * (s.subv[i] - c.c[i]) for i in range(1, 9)])
         |         AS DECIMAL(18, 6)) AS pd2
         |  FROM subf s JOIN cents c ON s.j = c.j
         |  WHERE s.vec_id % 50 = 0),
         |adc AS (
         |  SELECT l.q_id, cd.vec_id, CAST(SUM(l.pd2) AS DOUBLE) AS adc2
         |  FROM codes cd
         |  JOIN lut l ON cd.j = l.j AND cd.cid = l.cid AND cd.vec_id <> l.q_id
         |  GROUP BY l.q_id, cd.vec_id)
         |SELECT q_id, CAST(row_number() OVER w AS INT) AS rank,
         |  vec_id AS n_id, adc2
         |FROM adc
         |WINDOW w AS (PARTITION BY q_id ORDER BY adc2, vec_id)
         |QUALIFY row_number() OVER w <= 3
         |ORDER BY q_id, rank""".stripMargin,
    "ext06_sim_topk_bruteforce" -> bruteForceOracle,
    // both ranking legs restated with the same sequential-fold cosine
    // (dot / (sqrt * sqrt), the kernel's exact op order) and the same
    // (cosine DESC, vec_id) total orders
    "ext120_matryoshka_eval" ->
      """WITH v AS (
        |  SELECT vec_id, embedding::DOUBLE[] AS v,
        |    (embedding::DOUBLE[])[1:16] AS v16
        |  FROM embeddings),
        |q AS (
        |  SELECT vec_id AS q_id, v AS qv, v16 AS qv16
        |  FROM v WHERE vec_id % 50 = 0),
        |sc AS (
        |  SELECT q_id, c.vec_id,
        |    list_sum([qv[i] * c.v[i] for i in range(1, len(qv) + 1)]) /
        |      (sqrt(list_sum([x * x for x in qv])) *
        |       sqrt(list_sum([x * x for x in c.v]))) AS c_full,
        |    list_sum([qv16[i] * c.v16[i] for i in range(1, len(qv16) + 1)]) /
        |      (sqrt(list_sum([x * x for x in qv16])) *
        |       sqrt(list_sum([x * x for x in c.v16]))) AS c_trunc
        |  FROM v c CROSS JOIN q WHERE c.vec_id <> q_id),
        |rk AS (
        |  SELECT *,
        |    row_number() OVER (PARTITION BY q_id
        |      ORDER BY c_full DESC, vec_id) AS r_full,
        |    row_number() OVER (PARTITION BY q_id
        |      ORDER BY c_trunc DESC, vec_id) AS r_trunc
        |  FROM sc)
        |SELECT q_id,
        |  CAST(SUM(CASE WHEN r_full <= 5 AND r_trunc <= 5
        |           THEN 1 ELSE 0 END) AS BIGINT) AS n_overlap,
        |  CAST(SUM(CASE WHEN r_full <= 5 THEN vec_id ELSE 0 END) AS BIGINT)
        |    AS gold_id_sum,
        |  CAST(SUM(CASE WHEN r_trunc <= 5 THEN vec_id ELSE 0 END) AS BIGINT)
        |    AS trunc_id_sum
        |FROM rk WHERE r_full <= 5 OR r_trunc <= 5
        |GROUP BY q_id ORDER BY q_id""".stripMargin,
    "ext16_sim_native_expr" -> bruteForceOracle,
    "ext17_sim_topk_lsh" ->
      s"""WITH $vSql,
         |b AS (SELECT vec_id, v, norm, CAST($bucketSqlExpr AS INT) AS bucket FROM v),
         |scored AS (
         |  SELECT q.vec_id AS q_id, q.bucket AS bucket, c.vec_id AS n_id,
         |    list_sum([q.v[i] * c.v[i] for i in range(1, len(q.v) + 1)])
         |      / (q.norm * c.norm) AS cosine
         |  FROM b q JOIN b c ON q.bucket = c.bucket AND c.vec_id <> q.vec_id
         |  WHERE q.vec_id % 50 = 0)
         |SELECT q_id, bucket,
         |  CAST(row_number() OVER w AS INT) AS rank, n_id, cosine
         |FROM scored
         |WINDOW w AS (PARTITION BY q_id ORDER BY cosine DESC, n_id)
         |QUALIFY row_number() OVER w <= 3
         |ORDER BY q_id, rank""".stripMargin,
    "ext07_sim_topk_ivf" ->
      s"""WITH $vSql,
         |scored AS (
         |  SELECT q.vec_id AS q_id, q.label AS cell, c.vec_id AS n_id,
         |    list_sum([q.v[i] * c.v[i] for i in range(1, len(q.v) + 1)])
         |      / (q.norm * c.norm) AS cosine
         |  FROM v q JOIN v c ON q.label = c.label AND c.vec_id <> q.vec_id
         |  WHERE q.vec_id % 50 = 0)
         |SELECT q_id, cell,
         |  CAST(row_number() OVER w AS INT) AS rank, n_id, cosine
         |FROM scored
         |WINDOW w AS (PARTITION BY q_id ORDER BY cosine DESC, n_id)
         |QUALIFY row_number() OVER w <= 3
         |ORDER BY q_id, rank""".stripMargin,
    // the oracle restates the k-means semantics relationally (cross join +
    // argmin rank); the fixture's 64-dim is spelled out where DuckDB can't
    // range over a column-derived bound in FROM position
    "ext20_sim_topk_ivf_kmeans" -> ivfProbe1OracleSql,
    // ext126 probes the PERSISTED index; a fresh build is bit-identical
    // to the in-query k-means, so the probe-1 oracle applies verbatim
    "ext126_ann_index_probe1" -> ivfProbe1OracleSql,
    // ext135 = probe-1 after CDC maintenance: the quantizer learns from
    // the ORIGINAL corpus (v), the assignment covers the POST-DELETE
    // POST-UPDATE corpus (vf) — matching it proves the feed-maintained
    // cells table equals re-assigning the head against stored centroids
    // (norm recomputed over the POST-UPDATE array: graft_cosine folds
    // components in stored order, so a reversed vector's norm differs
    // from the original-order fold by 1 ULP)
    "ext135_ann_cdc_maintenance" -> probe1OracleSqlWith(
      kmeansCtesFrom("vf", extra = """
        |vf AS (
        |  SELECT vec_id, v, sqrt(list_sum([x * x for x in v])) AS norm
        |  FROM (
        |    SELECT vec_id,
        |      CASE WHEN vec_id % 11 = 4 THEN list_reverse(v) ELSE v END AS v
        |    FROM v WHERE vec_id % 9 <> 0)),""".stripMargin)),
    // probe-2: each query ranks the learned centroids and scans its TWO
    // nearest cells (rk <= 2); candidate sets are disjoint because each
    // corpus vector lives in exactly one cell
    "ext37_sim_topk_ivf_probe2" -> ivfProbe2OracleSql,
    // ext127 = probe-2 over the stored index — same oracle as ext37
    "ext127_ann_index_probe2" -> ivfProbe2OracleSql,
    // SemDeDup drop list: dominated = has an earlier same-cell neighbor
    // above the threshold; grouped per dominated vector
    "ext93_semantic_dedup" ->
      s"""WITH $kmeansCtesSql,
         |dom AS (
         |  SELECT w.vec_id AS vec_id, w.cell AS cell, u.vec_id AS u_id,
         |    list_sum([u.v[i] * w.v[i] for i in range(1, len(u.v) + 1)])
         |      / (u.norm * w.norm) AS cosine
         |  FROM a1 u JOIN a1 w ON u.cell = w.cell AND u.vec_id < w.vec_id)
         |SELECT vec_id, cell, min(u_id) AS dup_of, max(cosine) AS max_cosine,
         |  COUNT(*) AS n_dominators
         |FROM dom WHERE cosine > CAST(0.4 AS DOUBLE)
         |GROUP BY vec_id, cell
         |ORDER BY vec_id""".stripMargin,
    // adaptive probe schedule: recall@3 of probe 1..3 on the learned
    // IVF cells vs exact; chosen = smallest probe meeting 0.9 (else 3)
    "ext124_adaptive_probe" ->
      s"""WITH $kmeansCtesSql,
         |qc AS (
         |  SELECT vec_id AS q_id, v, norm, cid AS cell,
         |    CAST(rk AS BIGINT) AS probe_pos FROM (
         |    SELECT x.vec_id, x.v, x.norm, s.cid,
         |      row_number() OVER (PARTITION BY x.vec_id ORDER BY
         |        list_sum([(x.v[i] - s.c[i]) * (x.v[i] - s.c[i]) for i in range(1, len(x.v) + 1)]),
         |        s.cid) AS rk
         |    FROM v x CROSS JOIN cents s WHERE x.vec_id % 50 = 0) WHERE rk <= 3),
         |cand AS (
         |  SELECT q.q_id, q.probe_pos, c.vec_id AS n_id,
         |    list_sum([q.v[i] * c.v[i] for i in range(1, len(q.v) + 1)])
         |      / (q.norm * c.norm) AS cosine
         |  FROM qc q JOIN a1 c ON q.cell = c.cell AND c.vec_id <> q.q_id),
         |lv AS (SELECT CAST(p AS BIGINT) AS p FROM (VALUES (1), (2), (3)) t(p)),
         |ap AS (
         |  SELECT p, q_id, n_id FROM (
         |    SELECT l.p, c.q_id, c.n_id,
         |      row_number() OVER (PARTITION BY l.p, c.q_id
         |        ORDER BY c.cosine DESC, c.n_id) AS rank
         |    FROM cand c JOIN lv l ON c.probe_pos <= l.p)
         |  WHERE rank <= 3),
         |ex AS (
         |  SELECT q_id, n_id FROM (
         |    SELECT q.vec_id AS q_id, c.vec_id AS n_id,
         |      list_sum([q.v[i] * c.v[i] for i in range(1, len(q.v) + 1)])
         |        / (q.norm * c.norm) AS cosine
         |    FROM v q JOIN v c ON c.vec_id <> q.vec_id
         |    WHERE q.vec_id % 50 = 0)
         |  QUALIFY row_number() OVER (PARTITION BY q_id ORDER BY cosine DESC, n_id) <= 3),
         |per AS (
         |  SELECT l.p,
         |    CAST(SUM(CASE WHEN ap.n_id IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_hits,
         |    COUNT(*) AS n_gold
         |  FROM ex CROSS JOIN lv l
         |  LEFT JOIN ap ON ap.p = l.p AND ap.q_id = ex.q_id AND ap.n_id = ex.n_id
         |  GROUP BY l.p)
         |SELECT p, n_hits, n_gold,
         |  CAST(n_hits AS DOUBLE) / n_gold AS recall,
         |  CAST(CASE WHEN p = coalesce(
         |      MIN(CASE WHEN CAST(n_hits AS DOUBLE) / n_gold >= 0.9
         |        THEN p END) OVER (), 3) THEN 1 ELSE 0 END AS BIGINT) AS chosen
         |FROM per ORDER BY p""".stripMargin,
    // recall@3 of label-cell probe-1 IVF vs the exact baseline, per query
    "ext95_ann_recall" ->
      s"""WITH $vSql,
         |ex AS (
         |  SELECT q_id, n_id FROM (
         |    SELECT q.vec_id AS q_id, c.vec_id AS n_id,
         |      list_sum([q.v[i] * c.v[i] for i in range(1, len(q.v) + 1)])
         |        / (q.norm * c.norm) AS cosine
         |    FROM v q JOIN v c ON c.vec_id <> q.vec_id
         |    WHERE q.vec_id % 50 = 0)
         |  QUALIFY row_number() OVER (PARTITION BY q_id ORDER BY cosine DESC, n_id) <= 3),
         |ap AS (
         |  SELECT q_id, n_id FROM (
         |    SELECT q.vec_id AS q_id, c.vec_id AS n_id,
         |      list_sum([q.v[i] * c.v[i] for i in range(1, len(q.v) + 1)])
         |        / (q.norm * c.norm) AS cosine
         |    FROM v q JOIN v c ON q.label = c.label AND c.vec_id <> q.vec_id
         |    WHERE q.vec_id % 50 = 0)
         |  QUALIFY row_number() OVER (PARTITION BY q_id ORDER BY cosine DESC, n_id) <= 3)
         |SELECT ex.q_id,
         |  CAST(SUM(CASE WHEN ap.n_id IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_hits,
         |  CAST(SUM(CASE WHEN ap.n_id IS NOT NULL THEN 1 ELSE 0 END) AS DOUBLE)
         |    / COUNT(*) AS recall
         |FROM ex LEFT JOIN ap ON ex.q_id = ap.q_id AND ex.n_id = ap.n_id
         |GROUP BY ex.q_id ORDER BY ex.q_id""".stripMargin)
}
