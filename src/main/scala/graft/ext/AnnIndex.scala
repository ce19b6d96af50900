package graft.ext

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** PERSISTED ANN index: the IVF coarse quantizer (centroids) and the
  * per-vector cell assignments stored as `graft_cat` catalog tables, so
  * the index build is AMORTIZED across queries instead of re-learned
  * inside every search (what ext20/ext37/ext124 do — correct, but at
  * 100 TB the k-means build dominates every query).
  *
  * Layout (per index name):
  *   - `graft_cat.db.ann_<name>_cents`  (cid INT, c ARRAY<DOUBLE>)
  *   - `graft_cat.db.ann_<name>_cells`  (vec_id BIGINT, cell BIGINT,
  *                                        v ARRAY<DOUBLE>, norm DOUBLE)
  *   - `graft_cat.db.ann_<name>_meta`   the one watermark record
  *
  * Each tier (IVF cells, PQ codes, SQ codes) is a [[CdcIndex.Keyed]]
  * family with two entry points over the same tables and the same meta:
  * `ensure*Cdc` maintains them from a catalog table's change feed
  * (`(version, corpus)` meta, exact under deletes and updates), and the
  * DataFrame `ensure`/`ensurePq`/`ensureSq` goes through
  * [[CdcIndex.ensureFrame]] — a pure catalog scan takes the CDC
  * lifecycle, any other frame the `(n_docs, max_id)` append watermark.
  * A meta written by one path reads as absent on the other, so each
  * publish invalidates the other path's watermark. For IVF over a
  * DataFrame, that is IDEMPOTENT:
  *   - no usable meta / corpus changed non-monotonically → FULL BUILD
  *     (the deterministic k-means-lite of ext20 — seed every 64th
  *     vector, one integer-scaled Lloyd step, re-assign — so a freshly
  *     built index is bit-identical to the in-query build and the same
  *     DuckDB oracles apply);
  *   - corpus grew by APPEND (the stored corpus is exactly the prefix
  *     below the stored max vec_id) → INCREMENTAL REFRESH: assign ONLY
  *     the new vectors against the STORED centroids and append them to
  *     the cells table in one txn with the meta advance — the standard
  *     production IVF maintenance discipline (centroids are retrained on
  *     rebuild, not per append);
  *   - index already covers the corpus → NO-OP (one meta read and one
  *     count/max aggregate over the corpus).
  *
  * At 100 TB: the cells table is the corpus co-located by cell — probe
  * joins shuffle only the (small) query side; the centroid table is a
  * broadcast row. The cells table IS `bucket(8, cell)`-partitioned
  * (`cell` stored as BIGINT — the catalog's bucket hash binds to
  * BIGINT), so under `spark.sql.sources.v2.bucketing.enabled` the
  * cell-keyed probe self-join is STORAGE-PARTITIONED: both sides
  * report KeyGroupedPartitioning and the join plans with zero
  * exchanges on the corpus side (spec-pinned in AnnIndexSpec).
  *
  * Reference capability: the similarity-search north star
  * (`BASELINE.json` north_star; SURVEY.md §7.2.7) — re-expressed as a
  * lakehouse-native persisted artifact rather than a per-query rebuild.
  */
object AnnIndex {

  /** Full-build / incremental-refresh counters — specs pin "the second
    * query plans zero k-means stages" through these. */
  val builds = new java.util.concurrent.atomic.AtomicLong(0)
  val refreshes = new java.util.concurrent.atomic.AtomicLong(0)

  final case class Tables(cells: String, cents: String)

  /** Nearest-centroid assignment: centroids collected into ONE broadcast
    * row; the argmin runs row-locally inside `array_min` over
    * struct(d2, cid) — no shuffle, no per-(vector, centroid) join rows.
    * `graft_sqdist` is the codegen'd fused loop with the same
    * left-to-right accumulation as the HOF fold (bit-identical to the
    * ext20 oracle's restatement). */
  private[graft] def assign(vs: DataFrame, cents: DataFrame): DataFrame =
    vs.crossJoin(broadcast(cents.groupBy()
        .agg(collect_list(struct(col("cid"), col("c"))).as("cents"))))
      .withColumn("cell",
        expr("array_min(transform(cents, " +
          "e -> struct(graft_sqdist(v, e.c) AS d2, e.cid AS cid))).cid"))
      .drop("cents")

  /** Ensure the named index exists and covers `corpus`
    * (vec_id BIGINT, v ARRAY<DOUBLE>, norm DOUBLE). Returns the table
    * names to probe. Synchronized: one in-JVM builder per name is
    * enough (cross-process publication is the catalog's optimistic
    * commit); concurrent readers see either the old or the new complete
    * index version, never a torn one.
    *
    * Routed by [[CdcIndex.ensureFrame]]: a pure scan of a catalog table
    * takes [[ensureCdc]]'s lifecycle; any other frame the append
    * watermark, its deltas assigned to the STORED centroids (old
    * assignments and the quantizer untouched) and counted on
    * [[refreshes]]. */
  def ensure(s: SparkSession, corpus: DataFrame, name: String): Tables =
    CdcIndex.withNameLock(s"ann:$name") {
      CdcIndex.requireBaseFamilyName(name, "ann")
      graft.functions.SquaredDistance.register(s)
      CdcIndex.ensureFrame(s, corpus, ivfKeyed(s, name), refreshes)
      tables(name)
    }

  // ------------------------------------------------- CDC maintenance

  /** CDC-applied refreshes — specs pin "deletes were maintained without
    * a rebuild" through this. */
  val cdcRefreshes = new java.util.concurrent.atomic.AtomicLong(0)

  /** Version-keyed maintenance over a CATALOG-table corpus — the vector
    * twin of [[DedupIndex.ensureCdc]]: where an append watermark can only
    * prove append-only growth (a delete forces a full rebuild; a
    * re-embedded vector under the same id is NOT even detected), this
    * variant keys coverage on the table's committed VERSION and
    * maintains the cells table through [[CdcIndex.ensureKeyed]], keyed
    * by `vec_id` (the retraction is a deletion-vector append; the
    * bucketed layout is untouched): touched head images are re-assigned
    * against the STORED centroids. The quantizer stays as built (the
    * production IVF discipline — centroids retrain on rebuild, not per
    * change), so the maintained cells table is row-identical to
    * re-assigning the head corpus against the stored centroids
    * (spec-pinned). Meta: `graft_cat.db.ann_<name>_meta (version BIGINT,
    * corpus STRING)`.
    *
    * At 100 TB this is the erasure path for the vector tier: deleting a
    * user's embeddings (q155's pipeline on the primary) reaches the
    * index as feed-sized work — one assignment per CHANGED vector —
    * instead of a corpus-wide rebuild. */
  def ensureCdc(s: SparkSession, corpusTable: String, name: String): Tables =
    CdcIndex.withNameLock(s"ann:$name") {
      CdcIndex.requireBaseFamilyName(name, "ann")
      graft.functions.SquaredDistance.register(s)
      CdcIndex.ensureKeyed(s, corpusTable, ivfKeyed(s, name))
      tables(name)
    }

  private def tables(name: String): Tables =
    Tables(s"graft_cat.db.ann_${name}_cells", s"graft_cat.db.ann_${name}_cents")

  /** The IVF cells family as a [[CdcIndex.Keyed]] (keyed by `vec_id`). */
  private[graft] def ivfKeyed(s: SparkSession, name: String): CdcIndex.Keyed = {
    val t = tables(name)
    CdcIndex.Keyed(s"graft_cat.db.ann_${name}_meta", "vec_id", "vec_id",
      Seq("vec_id", "v", "norm"),
      Seq(t.cells -> (cellsOf(_, s.table(t.cents)))), build(s, _, t),
      cdcRefreshes, Seq(t.cents))
  }

  /** Stored cells rows: `vs` assigned against `cents`. */
  private def cellsOf(vs: DataFrame, cents: DataFrame): DataFrame =
    assign(vs, cents)
      .select(col("vec_id"), col("cell").cast("bigint").as("cell"),
        col("v"), col("norm"))

  // ---------------------------------------------------------------- PQ

  /** Product-quantization tier of the persisted index (VERDICT r9 #1's
    * "(+ PQ codebooks)"): the per-subspace codebooks and the 8-byte
    * per-vector codes stored as catalog tables, so the ADC search
    * (ext75's semantics) probes STORED codes instead of re-learning the
    * fine quantizer inside every query. Layout (per index name):
    *   - `graft_cat.db.ann_<name>_pq_cents` (j INT, cid INT,
    *     c ARRAY<DOUBLE>) — codebook of subspace j;
    *   - `graft_cat.db.ann_<name>_pq_codes` (vec_id BIGINT, j INT,
    *     code INT) — the encoded corpus, 8 rows per vector;
    *   - `graft_cat.db.ann_<name>_pq_meta` — the watermark record.
    * Subspace geometry is fixed at 8 subspaces × 8 dims (the 64-dim
    * embeddings fixture; ext75's split), asserted at build.
    *
    * [[ensurePq]] mirrors [[ensure]]'s three states: covered → no-op;
    * append-only growth → ONLY the delta is ENCODED against the STORED
    * codebooks and appended (production PQ maintenance — codebooks are
    * retrained on rebuild, not per append); any other change → full
    * rebuild. At 100 TB the codes table is 8 B/vector where the float
    * corpus is 512 B/vector — the scan side of every ADC query reads
    * codes only, and the build (the expensive Lloyd pass over float
    * subvectors) is amortized into ingest. */
  val pqBuilds = new java.util.concurrent.atomic.AtomicLong(0)
  val pqRefreshes = new java.util.concurrent.atomic.AtomicLong(0)

  final case class PqTables(codes: String, cents: String)

  /** Subvector decomposition (vec_id, j, subv): 8 slices of 8 dims,
    * built array-locally — identical to ext75's `sub`. */
  private def subvectors(vs: DataFrame): DataFrame =
    vs.select(col("vec_id"), posexplode(expr(
      "transform(sequence(0, 7), j -> slice(v, j * 8 + 1, 8))"))
      .as(Seq("j", "subv")))

  /** Nearest-codebook-entry encoding: codebooks collected into ONE
    * broadcast row per subspace; the argmin is row-local (same shape as
    * [[assign]], keyed by subspace). */
  private def encode(sub: DataFrame, cents: DataFrame): DataFrame =
    sub.join(broadcast(cents.groupBy("j")
        .agg(collect_list(struct(col("cid"), col("c"))).as("cents"))),
        Seq("j"))
      .withColumn("code", expr(
        "array_min(transform(cents, " +
          "e -> struct(graft_sqdist(subv, e.c) AS d2, e.cid AS cid))).cid"))
      .drop("cents")

  /** Ensure the PQ tier of the named index covers `corpus`
    * (vec_id BIGINT, v ARRAY<DOUBLE> of 64 dims), routed like
    * [[ensure]]: a delta is encoded against the STORED codebooks. */
  def ensurePq(s: SparkSession, corpus: DataFrame, name: String): PqTables =
    CdcIndex.withNameLock(s"ann-pq:$name") {
      CdcIndex.requireIndexName(name)
      graft.functions.SquaredDistance.register(s)
      CdcIndex.ensureFrame(s, corpus, pqKeyed(s, name), pqRefreshes)
      pqTables(name)
    }

  /** CDC-applied PQ refreshes. */
  val pqCdcRefreshes = new java.util.concurrent.atomic.AtomicLong(0)

  /** Version-keyed CDC maintenance of the PQ tier — the last derived
    * artifact in the erasure story: an 8-byte code still encodes the
    * deleted vector's quantized content, so right-to-erasure must reach
    * it. Keyed by `vec_id` ([[CdcIndex.ensureKeyed]]): one feed slice
    * retracts the changed vectors' 8 code rows and re-encodes only the
    * touched head images against the STORED codebooks (they retrain on
    * rebuild, not per change). The maintained codes table is
    * row-identical to re-encoding the head (spec-pinned). Meta:
    * `graft_cat.db.ann_<name>_pq_meta (version BIGINT, corpus STRING)`. */
  def ensurePqCdc(s: SparkSession, corpusTable: String,
      name: String): PqTables = CdcIndex.withNameLock(s"ann-pq:$name") {
    CdcIndex.requireIndexName(name)
    graft.functions.SquaredDistance.register(s)
    CdcIndex.ensureKeyed(s, corpusTable, pqKeyed(s, name))
    pqTables(name)
  }

  private def pqTables(name: String): PqTables =
    PqTables(s"graft_cat.db.ann_${name}_pq_codes",
      s"graft_cat.db.ann_${name}_pq_cents")

  /** The PQ codes family as a [[CdcIndex.Keyed]] (keyed by `vec_id`). */
  private[graft] def pqKeyed(s: SparkSession, name: String): CdcIndex.Keyed = {
    val t = pqTables(name)
    CdcIndex.Keyed(s"graft_cat.db.ann_${name}_pq_meta", "vec_id", "vec_id",
      Seq("vec_id", "v"), Seq(t.codes -> (pqCodes(_, s.table(t.cents)))),
      buildPq(s, _, t), pqCdcRefreshes, Seq(t.cents))
  }

  /** Stored code rows: `vs` encoded against the codebooks `cents`. */
  private def pqCodes(vs: DataFrame, cents: DataFrame): DataFrame =
    encode(subvectors(vs), cents)
      .select(col("vec_id"), col("j").cast("int").as("j"),
        col("code").cast("int").as("code"))

  /** Deterministic PQ full build — bit-identical to ext75's in-query
    * construction (seed every 64th vector per subspace, ONE
    * integer-scaled Lloyd round, re-encode), so ext75's DuckDB oracle
    * applies verbatim to searches over the stored artifact. Codebooks
    * are written FIRST and the final encoding reads them back from the
    * catalog, so stored codebooks and stored codes can never disagree. */
  private def buildPq(s: SparkSession, corpus: DataFrame,
      t: PqTables): Unit = {
    val sub = subvectors(corpus)
    val seeds = sub.filter(col("vec_id") % 64 === 0)
      .select(col("j"), (col("vec_id") / 64).cast("int").as("cid"),
        col("subv").as("c"))
    val cents1 = encode(sub, seeds)
      .select(col("j"), col("code").as("cid"), posexplode(col("subv")))
      .groupBy("j", "cid", "pos")
      .agg(sum(expr("CAST(round(col * 1000000) AS BIGINT)")).as("sc"),
        count(lit(1)).as("n"))
      .groupBy("j", "cid")
      .agg(collect_list(struct(col("pos"),
        (col("sc").cast("double") / 1000000 / col("n")).as("cv"))).as("pc"))
      .select(col("j").cast("int").as("j"), col("cid").cast("int").as("cid"),
        expr("transform(array_sort(pc), t -> t.cv)").as("c"))
    cents1.writeTo(t.cents).createOrReplace()
    CdcIndex.createArtifact(pqCodes(corpus, s.table(t.cents)), t.codes)
    pqBuilds.incrementAndGet()
  }

  /** The deterministic k-means-lite full build (ext20 semantics): seeds
    * every 64th vector, ONE Lloyd step with integer-scaled per-component
    * sums (order-independent bit-identical means), re-assign, persist.
    * Centroids are written FIRST and the final assignment reads them
    * back from the catalog, so the stored quantizer and the stored
    * assignments can never disagree. */
  private def build(s: SparkSession, corpus: DataFrame, t: Tables): Unit = {
    val seeds = corpus.filter(col("vec_id") % 64 === 0)
      .select((col("vec_id") / 64).cast("int").as("cid"), col("v").as("c"))
    val a0 = assign(corpus, seeds)
    val cents1 = a0
      .select(col("cell").as("cid"), posexplode(col("v")))
      .groupBy("cid", "pos")
      .agg(sum(expr("CAST(round(col * 1000000) AS BIGINT)")).as("sc"),
        count(lit(1)).as("n"))
      .groupBy("cid")
      .agg(collect_list(struct(col("pos"),
        (col("sc").cast("double") / 1000000 / col("n")).as("cv"))).as("pc"))
      .select(col("cid").cast("int").as("cid"),
        expr("transform(array_sort(pc), t -> t.cv)").as("c"))
    cents1.writeTo(t.cents).createOrReplace()
    // bucket(8, cell): the corpus lands co-located by cell, so probe
    // joins are storage-partitioned (no corpus-side exchange) wherever
    // v2 bucketing is enabled — and plain shuffled joins elsewhere
    cellsOf(corpus, s.table(t.cents))
      .writeTo(t.cells)
      .partitionedBy(bucket(8, col("cell")))
      .tableProperty("graft.autocompact", CdcIndex.AutoCompactSpec)
      .createOrReplace()
    builds.incrementAndGet()
  }

  // ---------------------------------------------------------------- SQ8

  /** Scalar-quantization tier of the persisted index — the third stored
    * compression level alongside the IVF cells and the PQ codes: each
    * corpus vector keeps only its per-vector (mn, mx) scale and one
    * 256-level code per dimension (ext143's row-local quantizer), stored
    * as `graft_cat.db.ann_<name>_sq_codes (vec_id BIGINT, mn DOUBLE,
    * mx DOUBLE, codes ARRAY<INT>)`, watermarked by `ann_<name>_sq_meta`.
    *
    * SQ has no trained artifact — encode/decode are pure per-row
    * functions — which is exactly what makes the maintenance story the
    * simplest of the three tiers: the incremental refresh (encode the
    * delta) is BIT-IDENTICAL to a full rebuild restricted to those rows,
    * with no rebuild-vs-refresh drift possible, and CDC maintenance
    * never retrains anything. At 100 TB the probe scan reads
    * ~1 byte/dimension instead of 8 and reconstructs row-locally inside
    * codegen; the full-precision floats are read only for the query side
    * and the k-row rescoring joins. */
  val sqBuilds = new java.util.concurrent.atomic.AtomicLong(0)
  val sqRefreshes = new java.util.concurrent.atomic.AtomicLong(0)
  val sqCdcRefreshes = new java.util.concurrent.atomic.AtomicLong(0)

  /** Row-local SQ8 encode — same formula as ext143's in-query quantizer
    * (floor(x+0.5) rounding), so searches over the stored artifact share
    * ext143's DuckDB oracle verbatim. */
  private def sqEncode(vs: DataFrame): DataFrame =
    vs.select(col("vec_id"), col("v"))
      .withColumn("mn", array_min(col("v")))
      .withColumn("mx", array_max(col("v")))
      .select(col("vec_id"), col("mn"), col("mx"),
        expr("transform(v, x -> if(mx > mn," +
          " CAST(floor((x - mn) * 255 / (mx - mn) + 0.5D) AS INT), 0))")
          .as("codes"))

  /** Ensure the SQ tier of the named index covers `corpus` (vec_id
    * BIGINT, v ARRAY<DOUBLE>), routed like [[ensure]]. */
  def ensureSq(s: SparkSession, corpus: DataFrame, name: String): String =
    CdcIndex.withNameLock(s"ann-sq:$name") {
      CdcIndex.requireIndexName(name)
      val f = sqKeyed(s, name)
      CdcIndex.ensureFrame(s, corpus, f, sqRefreshes)
      f.artifacts.head._1
    }

  /** Version-keyed CDC maintenance of the SQ tier, keyed by `vec_id`
    * ([[CdcIndex.ensureKeyed]]): retract the changed vectors' code rows
    * and re-encode only the touched head images (row-local — nothing to
    * retrain). Meta: `graft_cat.db.ann_<name>_sq_meta (version BIGINT,
    * corpus STRING)`. */
  def ensureSqCdc(s: SparkSession, corpusTable: String,
      name: String): String = CdcIndex.withNameLock(s"ann-sq:$name") {
    CdcIndex.requireIndexName(name)
    val f = sqKeyed(s, name)
    CdcIndex.ensureKeyed(s, corpusTable, f)
    f.artifacts.head._1
  }

  /** The SQ codes family as a [[CdcIndex.Keyed]] (keyed by `vec_id`). */
  private[graft] def sqKeyed(s: SparkSession, name: String): CdcIndex.Keyed = {
    val codes = s"graft_cat.db.ann_${name}_sq_codes"
    CdcIndex.Keyed(s"graft_cat.db.ann_${name}_sq_meta", "vec_id", "vec_id",
      Seq("vec_id", "v"), Seq(codes -> (sqEncode _)), buildSq(s, _, codes),
      sqCdcRefreshes)
  }

  private def buildSq(s: SparkSession, corpus: DataFrame,
      codes: String): Unit = {
    CdcIndex.createArtifact(sqEncode(corpus), codes)
    sqBuilds.incrementAndGet()
  }

  // ------------------------------------------------ graph (NSW edges)

  /** Graph tier of the persisted index: each vector's top-4 in-cell
    * cosine out-edges (ext146's adjacency) stored as
    * `graft_cat.db.ann_<name>_gr_edges (cell BIGINT, src BIGINT,
    * dst BIGINT)`, so the beam search probes STORED edges instead of
    * re-deriving the graph inside every query.
    *
    * Unlike cells/PQ/SQ there is deliberately NO plain count/max
    * `ensure` variant: an out-edge depends on the node's NEIGHBOURS, so
    * even a pure append invalidates existing rows (the new vector may
    * displace a cell-mate's 4th edge) — a delta-append maintenance path
    * would be semantically WRONG, not merely stale-prone. The only
    * sound maintenance granularity is the CELL: [[ensureGraphCdc]]
    * retracts every cell the feed slice touches (the `cell` column
    * exists exactly for this retraction key) and re-derives those
    * cells' edges from the head corpus. Cost model: re-deriving a cell
    * is a pair join bounded by [[GraphCellCap]] — O(n·cap) rows per
    * cell, never O(n²) (an oversized cell deterministically
    * sub-buckets by `vec_id % ceil(n/cap)`) — so apply work is
    * Σ(touched cell sizes × cap), never the whole corpus and never
    * quadratic on a hot cell; the quantizer's cell count remains the
    * recall lever (more centroids → smaller cells → fewer capped
    * splits). Meta: `graft_cat.db.ann_<name>_gr_meta (version
    * BIGINT, corpus STRING)`. */
  val graphBuilds = new java.util.concurrent.atomic.AtomicLong(0)
  val graphCdcRefreshes = new java.util.concurrent.atomic.AtomicLong(0)

  /** Per-cell candidate cap for the adjacency build. A cell of n ≤ cap
    * vectors derives its edges from the plain cell-local pair join; a
    * cell ABOVE the cap is deterministically split into
    * `ceil(n / cap)` sub-buckets by `vec_id % nsub` and each node's
    * out-edges come from its own sub-bucket only — so the pair join
    * emits O(n·cap) rows per cell instead of O(n²), and a hot cell
    * (skewed label, oversized IVF cell) can never go quadratic. Like
    * the beam's fixed hop count, the cap is part of the documented
    * semantics: recall < 1 is the contract (the ext02b/ext38b
    * discipline applied to the graph family), and the sub-bucketing is
    * a pure function of (vec_id, cell size), so the oracle restates it
    * exactly. At the driver fixtures every cell is under the cap
    * (nsub = 1), where capped ≡ uncapped bit-for-bit. */
  val GraphCellCap = 256

  /** The capped cell-local candidate PAIRS (cell, src, dst, cos) the
    * adjacency derives from — exposed so specs can pin the O(n·cap)
    * pair-count bound on an oversized cell. */
  private[graft] def graphPairs(corpus: DataFrame): DataFrame = {
    val wn = corpus.select(col("vec_id"), col("label"), col("v"))
    val nsub = wn.groupBy("label").agg(
      ceil(count(lit(1)) / lit(GraphCellCap.toDouble)).cast("bigint")
        .as("nsub"))
    val vs = wn.join(broadcast(nsub), Seq("label"))
      .withColumn("sb", col("vec_id") % col("nsub"))
    vs.as("a").join(vs.as("b"),
        col("a.label") === col("b.label") && col("a.sb") === col("b.sb") &&
          col("a.vec_id") =!= col("b.vec_id"))
      .select(col("a.label").cast("bigint").as("cell"),
        col("a.vec_id").as("src"), col("b.vec_id").as("dst"),
        // codegen'd fused loop, bit-identical to the HOF fold (ext16)
        expr("graft_cosine(a.v, b.v)").as("cos"))
  }

  /** Top-4 in-cell out-edges (cosine desc, dst tiebreak) — ext146's
    * adjacency contract, derived for every node of `corpus`
    * (vec_id, label, v). Bounded and cell-bucketed: the pair join never
    * crosses cells, and [[GraphCellCap]] keeps it O(n·cap) per cell
    * (a node's candidates all live in its own sub-bucket, so the
    * per-src window is unaffected by the split). */
  private[graft] def graphEdges(corpus: DataFrame): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("src").orderBy(col("cos").desc, col("dst"))
    graphPairs(corpus)
      .withColumn("rk", row_number().over(w)).filter(col("rk") <= 4)
      .select("cell", "src", "dst")
  }

  /** Version-keyed CDC maintenance of the graph tier (the ONLY ensure
    * variant — scaladoc above). Returns the edges table name. */
  def ensureGraphCdc(s: SparkSession, corpusTable: String,
      name: String): String = CdcIndex.withNameLock(s"ann-gr:$name") {
    CdcIndex.requireIndexName(name)
    graft.functions.CosineSimilarity.register(s)
    val f = graphKeyed(name)
    CdcIndex.ensureKeyed(s, corpusTable, f)
    f.artifacts.head._1
  }

  /** The graph family as a [[CdcIndex.Keyed]], keyed by `cell`: the
    * feed slice carries full rows, so a DELETED vector still exposes its
    * cell — the retraction key. */
  private[graft] def graphKeyed(name: String): CdcIndex.Keyed = {
    val edges = s"graft_cat.db.ann_${name}_gr_edges"
    CdcIndex.Keyed(s"graft_cat.db.ann_${name}_gr_meta", "cell",
      "CAST(label AS BIGINT)", Seq("vec_id", "label", "v"),
      Seq(edges -> (graphEdges _)), { head =>
        CdcIndex.createArtifact(graphEdges(head), edges)
        graphBuilds.incrementAndGet()
      }, graphCdcRefreshes)
  }
}
