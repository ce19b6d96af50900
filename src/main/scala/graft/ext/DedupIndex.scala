package graft.ext

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** PERSISTED near-dup index: the MinHash signature table of ext03
  * stored as a `graft_cat` catalog artifact with incremental append
  * maintenance — the dedup twin of [[AnnIndex]] (round-9 VERDICT #1's
  * "index must be a persisted, incrementally-maintained artifact",
  * applied to the OTHER big per-query rebuild in the catalog).
  *
  * Unlike the IVF tier — whose centroids are a corpus-level model, so
  * append maintenance is approximate by design — a MinHash signature is
  * a pure per-document function (min over the doc's OWN shingle hashes).
  * Incremental maintenance is therefore EXACT: signing only the delta
  * and appending yields byte-identical state to a full rebuild, which
  * [[DedupIndexSpec]] pins. At 100 TB this is the difference between
  * re-shingling the corpus per dedup run (the dominant cost — 16 md5s
  * per shingle occurrence) and signing only each day's ingest.
  *
  * Layout (per index name):
  *   - `graft_cat.db.dedup_<name>_sigs` (doc_id BIGINT,
  *     h0..h15 STRING) — one row per signable doc (≥ 3 tokens);
  *   - `graft_cat.db.dedup_<name>_meta` — one row describing the
  *     covered CORPUS (not the sig table: shingle-less docs are
  *     signless, so corpus coverage cannot be derived from sig counts):
  *     `(n_docs BIGINT, max_id BIGINT)` when maintained from a plain
  *     DataFrame, `(version BIGINT, corpus STRING)` when maintained
  *     from a catalog table's change feed ([[ensureCdc]]).
  *
  * The incremental refresh publishes the sigs append and the meta
  * advance in ONE cross-table transaction ([[graft.sources.SegTxn]]'s
  * intent-log discipline, via CALL system.txn_*), so "delta signed" and
  * "watermark advanced" never diverge durably — a torn refresh would
  * otherwise re-sign or skip the delta. A full rebuild drops the meta,
  * writes sigs, and writes the meta LAST outside a txn: a crash in
  * between leaves no meta, which the next ensure() resolves by
  * rebuilding.
  *
  * Reference capability: `transformation.py`'s dedup steps (SURVEY §2
  * P4/P5) scaled to the near-dup family; construction is bit-identical
  * to ext03 (`Dedup.scala`), so ext03's DuckDB oracle applies verbatim
  * to searches over the stored artifact.
  */
object DedupIndex {

  /** Full-build / incremental-refresh counters — specs pin "the probe
    * re-signs nothing" through these. */
  val builds = new java.util.concurrent.atomic.AtomicLong(0)
  val refreshes = new java.util.concurrent.atomic.AtomicLong(0)

  final case class Tables(sigs: String, meta: String)

  /** The 16-minhash signature frame — bit-identical to ext03's `sig`
    * (inline md5s on occurrence rows, one agg pass; see the scale note
    * at `Dedup.dedupMinhashLsh`). */
  private[graft] def signatures(docs: DataFrame): DataFrame = {
    // 16 md5s per shingle occurrence: per-row work dominates — widen
    // (the narrow-plan gate makes this a no-op for the join-shaped
    // apply-path inputs, where the input is already exchange-laid)
    val sh = Dedup.shingles(docs, widen = true)
    val hashCols = (0 to 15).map(j =>
      md5(concat(col("sh"), lit(s"#$j"))).as(s"hv$j"))
    val sigCols = (0 to 15).map(j => min(col(s"hv$j")).as(s"h$j"))
    sh.select(col("doc_id") +: hashCols: _*)
      .groupBy("doc_id").agg(sigCols.head, sigCols.tail: _*)
  }

  /** Ensure the named index covers `docs` (doc_id BIGINT, text STRING).
    * Routed by [[CdcIndex.ensureFrame]]: a pure scan of a catalog table
    * takes [[ensureCdc]]'s lifecycle (its version watermark is exact);
    * any other frame the append watermark (`(n_docs, max_id)` in meta):
    * covered → no-op; append-only growth → sign ONLY the delta and
    * publish sigs+meta in one txn; any other change → full rebuild. */
  def ensure(s: SparkSession, docs: DataFrame, name: String): Tables =
    CdcIndex.withNameLock(s"dedup:$name") {
      CdcIndex.requireBaseFamilyName(name, "dedup")
      CdcIndex.ensureFrame(s, docs, sigsKeyed(name), refreshes)
      tables(name)
    }

  // ------------------------------------------------- CDC maintenance

  /** CDC-applied refreshes — specs pin "deletes were maintained without
    * a rebuild" through this. */
  val cdcRefreshes = new java.util.concurrent.atomic.AtomicLong(0)

  /** Version-keyed maintenance over a CATALOG-table corpus: coverage
    * is keyed on the table's committed VERSION, and the change feed is
    * applied through [[CdcIndex.ensureKeyed]], keyed by `doc_id`: a
    * MinHash signature is a pure per-document function, so retracting
    * every changed doc and re-signing its head image makes CDC
    * maintenance EXACT — the maintained index is row-identical to a
    * rebuild over the head snapshot (spec-pinned). Deletes and in-place
    * updates apply as feed-sized work, never a rebuild. Meta:
    * `(version BIGINT, corpus STRING)`.
    *
    * At 100 TB this is the erasure-compliance path for the index tier:
    * a right-to-erasure DELETE on the corpus (q155's pipeline) reaches
    * the derived signature artifact as feed-sized work — 16 md5 columns
    * per CHANGED doc — instead of a corpus-wide re-shingle. */
  def ensureCdc(s: SparkSession, corpusTable: String, name: String): Tables =
    CdcIndex.withNameLock(s"dedup:$name") {
      CdcIndex.requireBaseFamilyName(name, "dedup")
      CdcIndex.ensureKeyed(s, corpusTable, sigsKeyed(name))
      tables(name)
    }

  private def tables(name: String): Tables =
    Tables(s"graft_cat.db.dedup_${name}_sigs",
      s"graft_cat.db.dedup_${name}_meta")

  /** The signature family as a [[CdcIndex.Keyed]] (keyed by `doc_id`). */
  private[graft] def sigsKeyed(name: String): CdcIndex.Keyed = {
    val t = tables(name)
    CdcIndex.Keyed(t.meta, "doc_id", "doc_id", Seq("doc_id", "text"),
      Seq(t.sigs -> (signatures _)), writeSigs(_, t), cdcRefreshes)
  }

  private def writeSigs(docs: DataFrame, t: Tables): Unit = {
    CdcIndex.createArtifact(signatures(docs), t.sigs)
    builds.incrementAndGet()
  }

  // ------------------------------------------- component-label index

  /** The artifact tables of one component-label family under index
    * `name`: `dedup_<name>_<fam>_{labels, <sidecar>, posts, meta}`. The
    * sidecar is the exact family's persisted edge set (`lb_edges`) or
    * the capped family's document frequencies (`lc_df`). The ensures,
    * the superseded-family drop of [[ensureLabels]] and the shared
    * seeds all spell the two families' tables through this. */
  private[graft] final case class LabelTables(fam: String, part: String,
      name: String) {
    private def t(x: String) = s"graft_cat.db.dedup_${name}_${fam}_$x"
    val labels: String = t("labels")
    val sidecar: String = t(part)
    val posts: String = t("posts")
    val meta: String = t("meta")
    /** The data tables (what a seed clone copies), then every table. */
    def data: Seq[String] = Seq(labels, sidecar, posts)
    def all: Seq[String] = data :+ meta
    def drop(s: SparkSession): Unit =
      all.foreach(x => s.sql(s"DROP TABLE IF EXISTS $x"))
  }
  private[graft] def exactLabelTables(name: String): LabelTables =
    LabelTables("lb", "edges", name)
  private[graft] def cappedLabelTables(name: String): LabelTables =
    LabelTables("lc", "df", name)

  /** PERSISTED DEDUP-CLUSTER LABELS with APPEND-INCREMENTAL maintenance
    * — the hardest derived artifact so far, because a component label is
    * a GLOBAL property (every other family's rows are per-doc or
    * per-cell functions). Stored: `dedup_<name>_lb_labels (doc_id
    * BIGINT, comp BIGINT)` where `comp` is the component's MIN member id
    * over the exact-Jaccard graph (edge ⟺ J ≥ 0.5 over 3-token
    * shingles — a PAIRWISE property, so the edge set is append-stable,
    * unlike a df-capped or top-k-limited graph).
    *
    * Incremental apply (append-only slices): derive ONLY the edges
    * incident to the new docs (batch shingles ⨝ head shingles — work ∝
    * the batch's posting lists), contract every edge endpoint to its
    * STORED label, and run component discovery on that QUOTIENT graph —
    * which is merge-activity-sized, never corpus-sized (see
    * [[quotientLabels]]).
    *
    * DELETE TOLERANCE (round-12): component SPLITS are not derivable
    * from a min-label table alone — a deleted doc may have been the
    * only bridge between two halves of its component — so the index
    * additionally persists the EDGE SET, `dedup_<name>_lb_edges (a_id
    * BIGINT, b_id BIGINT)` canonical a_id < b_id. Edges are pairwise
    * properties (append-stable, CDC-retractable by endpoint), and they
    * are exactly the information splits need: on a slice with deletes
    * or updates the apply RETRACTS every touched doc — recompute the
    * touched components' SURVIVING members over their stored mutual
    * edges ([[splitTouched]]) — then RE-ADDS every touched doc still in
    * the head via the append path's quotient contraction. Work ∝
    * touched clusters + the batch's posting lists, never the corpus.
    * The storage price is the pair list itself (near-dup-pair-sized —
    * the same order as the pairs any dedup run materializes
    * transiently), which is the documented cost of erasure without
    * rebuilds.
    *
    * Publication and crash replay: [[publishLabels]], with the edge and
    * postings retractions by touched doc overlapped with the label
    * MERGE, the head edges and postings in the txn. A legacy index
    * without the edge/postings artifacts throws
    * UnsupportedOperationException on its first apply and
    * [[CdcIndex.ensure]] rebuilds, which migrates it. */
  val labelBuilds = new java.util.concurrent.atomic.AtomicLong(0)
  val labelIncRefreshes = new java.util.concurrent.atomic.AtomicLong(0)

  /** Exact-Jaccard edges (J ≥ 0.5, a_id < b_id) over an explicit
    * DISTINCT (doc_id, sh) frame — the build derives it from text once
    * and STORES it; applies read the stored postings instead of
    * re-shingling the corpus. */
  private def jaccardEdgesFromShingles(sh: DataFrame): DataFrame =
    jaccardAtLeastHalf(
      sh.as("a").join(sh.as("b"),
          col("a.sh") === col("b.sh") && col("a.doc_id") < col("b.doc_id"))
        .groupBy(col("a.doc_id").as("a_id"), col("b.doc_id").as("b_id"))
        .agg(count(lit(1)).as("inter")),
      sh.groupBy("doc_id").agg(count(lit(1)).as("n")))

  /** The `(a_id, b_id)` of the `(a_id, b_id, inter)` shared-shingle
    * counts whose Jaccard over the shingle-set sizes `(doc_id, n)` is at
    * least 0.5. */
  private def jaccardAtLeastHalf(pairs: DataFrame,
      sizes: DataFrame): DataFrame =
    pairs
      .join(sizes.withColumnRenamed("doc_id", "a_id")
        .withColumnRenamed("n", "n_a"), "a_id")
      .join(sizes.withColumnRenamed("doc_id", "b_id")
        .withColumnRenamed("n", "n_b"), "b_id")
      .filter(col("inter").cast("double")
        / (col("n_a") + col("n_b") - col("inter")) >= 0.5)
      .select(col("a_id"), col("b_id"))

  /** Version-keyed maintenance of the label table. Returns its name. */
  def ensureLabelsCdc(s: SparkSession, corpusTable: String,
      name: String): String = CdcIndex.withNameLock(s"label:$name") {
    CdcIndex.requireIndexName(name)
    graft.ops.ensureGraftCatalog(s)
    val t = exactLabelTables(name)
    CdcIndex.ensure(s, corpusTable, t.meta)(t.labels) { (v0, headV) =>
      applyLabelsInc(s, corpusTable, t, v0, headV)
      t.labels
    } { headV =>
      rebuildLabels(s, "lbl-build", corpusTable, t, headV, labelBuilds) {
        // the edge artifact derives from the stored postings
        graft.ops.withDesc(s, "lbl-build: edges") {
          CdcIndex.createArtifact(jaccardEdgesFromShingles(s.table(t.posts)),
            t.sidecar)
          CdcIndex.mergeOnRead(s, t.sidecar)
        }
        // the edge artifact just landed, so its MANIFEST row count (one
        // metadata read, never a scan) is the exact symmetric count / 2
        (s.table(t.sidecar), () => 2L * s.table(s"${t.sidecar}.files")
          .agg(coalesce(sum("live_rows"), lit(0L))).head.getLong(0))
      }
    }
  }

  /** The rebuild both label families share. The corpus SHINGLE
    * POSTINGS land first: the corpus is shingled exactly once per build
    * and every later apply joins the BATCH's shingles against these
    * stored rows instead of re-shingling the corpus (the ext149
    * gram-index discipline). `sidecar` then writes the family's own
    * artifact and returns the family's edges `(a_id, b_id)` with a
    * pre-join size hint for the CC materialization (VERDICT r13 #1: a
    * billion-edge graph lays out wide from the first cache pass). The
    * labels are each doc's min component id over those edges, and the
    * meta lands LAST — a torn build just rebuilds. */
  private def rebuildLabels(s: SparkSession, tag: String,
      corpusTable: String, t: LabelTables, headV: Long,
      builds: java.util.concurrent.atomic.AtomicLong)(
      sidecar: => (DataFrame, () => Long)): String = {
    val docs = s.table(corpusTable).select(col("doc_id"), col("text"))
    graft.ops.withDesc(s, s"$tag: postings") {
      CdcIndex.createArtifact(Dedup.shingles(docs, widen = true), t.posts)
      CdcIndex.mergeOnRead(s, t.posts)
    }
    val (edges, sizeHint) = sidecar
    graft.ops.withDesc(s, s"$tag: cc+labels") {
      val (lab, _) = Dedup.ccOverEdges(s, Dedup.undirected(edges),
        Some(sizeHint()))
      CdcIndex.createArtifact(docs.select(col("doc_id"))
        .join(lab.withColumnRenamed("id", "doc_id"), Seq("doc_id"), "left")
        .select(col("doc_id"), coalesce(col("comp"), col("doc_id")).as("comp")),
        t.labels)
    }
    CdcIndex.mergeOnRead(s, t.labels)
    CdcIndex.writeMeta(s, t.meta, headV, corpusTable)
    builds.incrementAndGet()
    t.labels
  }

  /** Caches a label apply persists, released together. Each apply
    * holds two: its inputs, released when it ends (a failed apply
    * included), and the N-phase intermediates, released as soon as the
    * quotient CC has consumed them — still cached, every later DML on a
    * table they read would make the cache manager re-plan them. */
  private final class Held {
    private val dfs = collection.mutable.ArrayBuffer.empty[DataFrame]
    def apply(df: DataFrame): DataFrame = synchronized {
      dfs += df
      df.persist()
    }
    def release(): Unit = synchronized {
      dfs.foreach(_.unpersist(blocking = false))
      dfs.clear()
    }
  }

  /** D-phase (splits): the components holding a `touched` doc have
    * their members — minus the `retracted` docs — re-labelled by
    * connected components over `memberEdges(members)` (symmetric `(src,
    * dst)` rows). Cluster-local and exact: a component's induced
    * subgraph contains every path between its members. Returns each
    * member's post-split node (the min of its sub-component; edge-less
    * members are their own) and the untouched components' stored rows.
    * When `any` is false no stored component is touched: the phase is
    * provably a no-op, and every stored row is untouched. */
  private def splitTouched(s: SparkSession, tag: String, stored: DataFrame,
      touched: DataFrame, retracted: Option[DataFrame], any: => Boolean)(
      memberEdges: DataFrame => DataFrame): (DataFrame, DataFrame) =
    if (!any)
      (touched.limit(0).select(col("doc_id"), col("doc_id").as("node")),
        stored.select(col("doc_id"), col("comp")))
    else {
      val touchedComps = stored.join(touched, Seq("doc_id"), "left_semi")
        .select(col("comp")).distinct()
      val inComps = stored.join(touchedComps, Seq("comp"), "left_semi")
      val members = retracted
        .fold(inComps)(inComps.join(_, Seq("doc_id"), "left_anti"))
        .select(col("doc_id"))
      // ccOverEdges output is already self-contained (the loop's
      // converged frame is localCheckpoint'ed; the union-find path
      // returns a checkpointed RDD) — no further checkpoint job
      val lab = graft.ops.withDesc(s, s"$tag: D-phase cc")(
        Dedup.ccOverEdges(s, memberEdges(members))._1)
      (members
        .join(lab.withColumnRenamed("id", "doc_id")
          .withColumnRenamed("comp", "c2"), Seq("doc_id"), "left")
        .select(col("doc_id"), coalesce(col("c2"), col("doc_id")).as("node")),
        stored.join(touchedComps, Seq("comp"), "left_anti")
          .select(col("doc_id"), col("comp")))
    }

  /** N-phase candidate edges: the pairs of a `batch` posting's doc with
    * a `corpus` posting's doc that share a shingle, kept at Jaccard ≥
    * 0.5 over the corpus postings' set sizes. Both intermediate frames
    * are `held`: the candidates are consumed three times (both ids legs
    * and the edge filter) and the sizes twice, each with a different
    * pruned column set — subtree equality fails, exchange reuse does
    * not fire, and the candidate join re-ran per consumer (round-16;
    * both frames are batch-bounded at any scale). */
  private def candidateEdges(held: Held, batch: DataFrame,
      corpus: DataFrame): DataFrame = {
    val cand = held(batch.as("b").join(corpus.as("a"),
        col("a.sh") === col("b.sh") && col("a.doc_id") =!= col("b.doc_id"))
      .groupBy(col("a.doc_id").as("a_id"), col("b.doc_id").as("b_id"))
      .agg(count(lit(1)).as("inter")))
    val ids = cand.select(col("a_id").as("doc_id"))
      .unionAll(cand.select(col("b_id").as("doc_id"))).distinct()
    jaccardAtLeastHalf(cand, held(corpus.join(ids, Seq("doc_id"), "left_semi")
      .groupBy("doc_id").agg(count(lit(1)).as("n"))))
  }

  /** N-phase merges: the candidate `edges`' endpoints contract to the
    * post-split label state (a member to its split node, an untouched
    * doc to its stored comp, a doc absent from both — re-added or new —
    * to its own id), and min-label CC runs on that QUOTIENT graph.
    * Because a stored or split label IS its (sub)component's min id,
    * the quotient's min-label answer equals the full rebuild's: the
    * union-find-by-min argument, run declaratively. Returns `(id, comp)`
    * for the quotient nodes the CC reached. */
  private def quotientLabels(s: SparkSession, tag: String, edges: DataFrame,
      splitNodes: DataFrame, untouchedRows: DataFrame): DataFrame = {
    val afterD = untouchedRows
      .unionAll(splitNodes.select(col("doc_id"), col("node").as("comp")))
    val q = edges
      .join(afterD.withColumnRenamed("doc_id", "a_id")
        .withColumnRenamed("comp", "ca"), Seq("a_id"), "left")
      .join(afterD.withColumnRenamed("doc_id", "b_id")
        .withColumnRenamed("comp", "cb"), Seq("b_id"), "left")
      .select(coalesce(col("ca"), col("a_id")).as("src"),
        coalesce(col("cb"), col("b_id")).as("dst"))
      .filter(col("src") =!= col("dst"))
    // ccOverEdges output is self-contained — no extra checkpoint job
    graft.ops.withDesc(s, s"$tag: N-phase cc")(
      Dedup.ccOverEdges(s, Dedup.undirected(q, "src", "dst").distinct())._1)
  }

  /** The label MERGE source, one row per affected doc and disjoint by
    * construction: split members, the changed rows of untouched
    * components, the `added` docs (each its own node before the
    * quotient) — all labelled through the quotient `qlab` — and the
    * `erased` docs, marked `del`. */
  private def labelRows(qlab: DataFrame, splitNodes: DataFrame,
      untouchedRows: DataFrame, added: DataFrame,
      erased: Option[DataFrame]): DataFrame = {
    def viaQ(df: DataFrame): DataFrame = df
      .join(qlab.withColumnRenamed("id", "node"), Seq("node"), "left")
      .select(col("doc_id"), coalesce(col("comp"), col("node")).as("comp"))
    val remapChanged = untouchedRows
      .withColumnRenamed("comp", "node").as("l")
      .join(qlab.as("qq"), col("l.node") === col("qq.id"))
      .filter(col("qq.comp") =!= col("qq.id"))
      .select(col("l.doc_id").as("doc_id"), col("qq.comp").as("comp"))
    val rows = viaQ(splitNodes).unionAll(remapChanged)
      .unionAll(viaQ(added.distinct().withColumn("node", col("doc_id"))))
      .withColumn("del", lit(false))
    erased.fold(rows)(g => rows.unionAll(
      g.select(col("doc_id"), lit(0L).as("comp"), lit(true).as("del"))))
  }

  /** One artifact statement of a label publish, given the temp-view
    * name of each input frame. */
  private type LabelDml = (DataFrame => String) => String

  /** The publish step both label applies end with.
    *
    *  1. Checkpoint the MERGE source `rows` and the `ckpt` inputs,
    *     overlapped (independent reads of cached inputs; each job's
    *     tail leaves most task slots idle at fixture scale): every
    *     mutation input is materialized from the stored PRE-state
    *     BEFORE anything mutates.
    *  2. The family's `retract` DMLs and the ONE atomic label `MERGE`
    *     (erase + remap + upsert), overlapped: they write disjoint
    *     tables and read only checkpointed inputs, so no statement
    *     observes another's target.
    *  3. ONE cross-table txn: the family's `insert`s and the watermark
    *     advance.
    *
    * Crash replay: a crash before the txn leaves the watermark behind,
    * and the next ensure replays the same feed slice. Under ANY
    * interleaving of step 2 the replay converges: the retractions are
    * idempotent, each family's read side derives its plan without the
    * retracted rows by construction (anti-joins on the touched docs),
    * and a replay after the MERGE derives from the already-converged
    * labels — retract + re-add of a current doc is a fixpoint. The
    * capped family instead detects a landed MERGE by its stored-probe
    * guard and rebuilds. */
  private def publishLabels(s: SparkSession, tag: String,
      corpusTable: String, headV: Long, t: LabelTables,
      refreshes: java.util.concurrent.atomic.AtomicLong)(
      rows: DataFrame, ckpt: Seq[DataFrame], ready: Seq[DataFrame])(
      retract: Seq[LabelDml], insert: Seq[LabelDml]): Unit = {
    val done = graft.ops.inParallel[DataFrame]((rows +: ckpt).map(df => () =>
      graft.ops.withDesc(s, s"$tag: mutation-input ckpts")(
        df.localCheckpoint(true))))
    val sfx = java.util.UUID.randomUUID().toString.replace("-", "")
    val inputs = ckpt ++ ready
    val views = inputs.indices.map(i => s"graft_lbl_${i}_$sfx")
    val uv = s"graft_lbl_merge_$sfx"
    done.head.createOrReplaceTempView(uv)
    (done.tail ++ ready).zip(views).foreach { case (df, v) =>
      df.createOrReplaceTempView(v)
    }
    val view: DataFrame => String = df => views(inputs.indexWhere(_ eq df))
    try {
      graft.ops.inParallel[Unit](retract.map(dml => () =>
        graft.ops.withDesc(s, s"$tag: retract DML") { s.sql(dml(view)); () }
      ) :+ (() => graft.ops.withDesc(s, s"$tag: label MERGE") {
        s.sql(s"""MERGE INTO ${t.labels} t USING $uv u ON t.doc_id = u.doc_id
          WHEN MATCHED AND u.del THEN DELETE
          WHEN MATCHED THEN UPDATE SET comp = u.comp
          WHEN NOT MATCHED AND NOT u.del THEN
            INSERT (doc_id, comp) VALUES (u.doc_id, u.comp)"""); ()
      }))
      CdcIndex.inTxn(s) {
        insert.foreach(dml => s.sql(dml(view)))
        s.sql(s"INSERT OVERWRITE ${t.meta} SELECT CAST($headV AS BIGINT), " +
          s"'$corpusTable'")
      }
      refreshes.incrementAndGet()
    } finally (uv +: views).foreach(s.catalog.dropTempView)
  }

  /** The generalized (insert/update/delete) incremental apply of the
    * exact family — RETRACT every touched doc, then RE-ADD its head
    * image: the D-phase splits the touched components over their stored
    * mutual edges (touched-incident edges excluded); the N-phase
    * re-derives the head edges incident to the touched head images
    * (batch shingles ⨝ stored head postings) and contracts them onto the
    * post-split labels. An insert-only slice of genuinely-new docs has
    * an empty D-phase (no touched doc is stored) and reduces to the
    * append path. */
  private def applyLabelsInc(s: SparkSession, corpusTable: String,
      t: LabelTables, v0: Long, headV: Long): Unit = {
    val edges = t.sidecar
    // a legacy index without the edge/postings artifacts cannot
    // retract / cannot apply batch-sized — rebuild (which migrates it;
    // the feed-refusal path of CdcIndex.ensure)
    if (!CdcIndex.exists(s, edges) || !CdcIndex.exists(s, t.posts))
      throw new UnsupportedOperationException(
        "component labels: no stored edge/postings artifact " +
          "(pre-round-12 index)")

    val feed = s.sql(s"SELECT * FROM $corpusTable " +
      s"VERSION AS OF 'cdf:$v0..$headV'")
    // checkpoint the touched set ONCE (batch-id-sized): it feeds the
    // D-phase probe, the N-phase posting anti-join, `gone`, the added
    // rows and the retraction DMLs — without this the change-feed DIFF
    // is re-planned and re-computed at every one of those references
    val touched = graft.ops.withDesc(s, "lbl-apply: touched ckpt")(
      feed.select(col("doc_id")).distinct().localCheckpoint(true))
    val head = s.table(corpusTable).select(col("doc_id"), col("text"))
    val headTouched = head.join(touched, Seq("doc_id"), "left_semi")
    val gone = touched.join(head.select("doc_id"), Seq("doc_id"), "left_anti")
    val stored = s.table(t.labels)
    val (held, scratch) = (new Held, new Held)
    try {
      // D-phase: fast path — a slice of GENUINELY NEW docs (the common
      // append, ext153's daily batch) touches no stored component, so
      // one cheap existence probe skips the retract machinery and the
      // post-split state IS the stored table (the pure-append plan)
      def dPhase(): (DataFrame, DataFrame) =
        splitTouched(s, "lbl-apply", stored, touched, Some(touched),
          graft.ops.withDesc(s, "lbl-apply: stored probe")(
            stored.join(touched, Seq("doc_id"), "left_semi")
              .limit(1).count() > 0L)) { surv =>
          Dedup.undirected(s.table(edges)
            .join(surv.withColumnRenamed("doc_id", "a_id"), Seq("a_id"),
              "left_semi")
            .join(surv.withColumnRenamed("doc_id", "b_id"), Seq("b_id"),
              "left_semi")).distinct()
        }

      // N-phase candidates: head edges incident to the touched head
      // images. The corpus side is the STORED postings retracted to the
      // head view (stored rows minus touched docs' plus the batch's
      // fresh shingles), so the apply never re-shingles the corpus.
      //
      // Pure-erasure short-circuit (round-16, VERDICT r15 #1): a slice
      // whose touched docs are ALL gone from the head (ext141/ext161's
      // shape) has an empty batch image, so the fresh shingles, the
      // candidate join, the quotient edges and the N-phase CC are ALL
      // provably empty — yet materializing that emptiness through the
      // ~25-exchange candidate pipeline measured 7-9 s wall per apply at
      // fixture scale. One bounded existence probe skips the phase.
      def nCandidates(): Option[(DataFrame, DataFrame)] =
        if (!graft.ops.withDesc(s, "lbl-apply: head probe")(
            headTouched.select(col("doc_id")).limit(1).count() > 0L)) None
        else {
          // batch-bounded at any scale — unconditional probe-free spread
          // to the session's parallelism (see the capped apply's
          // shNewFeed note)
          val shN = held(Dedup.shingles(headTouched
            .repartition(s.sparkContext.defaultParallelism, col("doc_id"))))
          val postsHead = s.table(t.posts)
            .join(touched, Seq("doc_id"), "left_anti")
            .unionAll(shN)
          // held: consumed by BOTH the quotient path (q → CC) and the
          // edge-artifact insert — without it the candidate join runs
          // twice
          val eN = held(candidateEdges(scratch, shN, postsHead))
          graft.ops.withDesc(s, "lbl-apply: N-phase cand")(eN.count())
          Some((shN, eN))
        }

      // the D-phase and the N-phase candidates are INDEPENDENT (stored
      // labels+edges vs posts+head, both touched-bounded), so they run
      // OVERLAPPED (round-16): an update-shaped slice (ext161/164/169)
      // hides the D-phase CC under the candidate join's stage tail.
      // Only the quotient contraction needs both.
      val phases = graft.ops.inParallel[Any](Seq(
        () => dPhase(), () => nCandidates()))
      val (splitNodes, untouchedRows) =
        phases(0).asInstanceOf[(DataFrame, DataFrame)]
      val (qlab, edgesNew, shNew, added) =
        phases(1).asInstanceOf[Option[(DataFrame, DataFrame)]] match {
          case None =>
            (touched.limit(0)
               .select(col("doc_id").as("id"), col("doc_id").as("comp")),
             touched.limit(0)
               .select(col("doc_id").as("a_id"), col("doc_id").as("b_id")),
             Dedup.shingles(headTouched).limit(0), touched.limit(0))
          case Some((shN, eN)) =>
            (quotientLabels(s, "lbl-apply", eN, splitNodes, untouchedRows),
              eN, shN, headTouched.select(col("doc_id")))
        }
      scratch.release()
      val headEdges = edgesNew
        .select(least(col("a_id"), col("b_id")).as("a_id"),
          greatest(col("a_id"), col("b_id")).as("b_id"))
        .distinct()
      // postings are per-doc rows, so doc_id is their retraction key
      publishLabels(s, "lbl-apply", corpusTable, headV, t, labelIncRefreshes)(
        labelRows(qlab, splitNodes, untouchedRows, added, Some(gone)),
        Seq(headEdges, shNew), Seq(touched))(
        retract = Seq(
          v => s"DELETE FROM $edges WHERE a_id IN (SELECT doc_id FROM " +
            s"${v(touched)}) OR b_id IN (SELECT doc_id FROM ${v(touched)})",
          v => s"DELETE FROM ${t.posts} WHERE doc_id IN " +
            s"(SELECT doc_id FROM ${v(touched)})"),
        insert = Seq(
          v => s"INSERT INTO $edges SELECT * FROM ${v(headEdges)}",
          v => s"INSERT INTO ${t.posts} SELECT * FROM ${v(shNew)}"))
    } finally { scratch.release(); held.release() }
  }

  // -------------------------------------- capped label family (lc_)

  /** Document-frequency cap for [[ensureLabelsCappedCdc]] — the same
    * cap the transient capped twins use (ext02b/ext38b `dfCap = 8`). */
  val LabelDfCap = 8

  val labelCappedBuilds = new java.util.concurrent.atomic.AtomicLong(0)
  val labelCappedIncRefreshes = new java.util.concurrent.atomic.AtomicLong(0)

  /** DF-CAPPED component-label index (round-13) — the 100 TB-safe
    * default of the label family. Same contract shape as
    * [[ensureLabelsCdc]] (min-label components over a Jaccard ≥ 0.5
    * graph) with ONE semantic change: the shingle inverted index is
    * document-frequency-capped at `cap` BEFORE any pairing — a shingle
    * appearing in more than `cap` documents is excluded from both the
    * intersection counts and the per-doc set sizes (ext02b's
    * semantics). Every posting list is then ≤ cap docs, so the edge
    * build emits at most cap²/2 pre-aggregation rows per DISTINCT
    * shingle — LINEAR in the corpus with a cap² constant — where the
    * exact family's build is O(Σ df²) and melts under a boilerplate
    * storm (rehearsed: ScaleRehearsal `lblstorm`).
    *
    * THE TRADE (documented; erasure-without-rebuild remains the exact
    * family's contract): a capped edge set is NOT append-stable —
    * appending docs can push a shingle's corpus df across the cap,
    * retroactively changing OLD docs' capped shingle sets (hence their
    * pairwise Jaccards) even though those docs were in no slice. EVERY
    * append slice is nonetheless applied INCREMENTALLY: cap crossings
    * are detected in O(batch postings) against the persisted df
    * sidecar, and a crossing shingle's stored member docs (≤ cap of
    * them — a shingle only crosses while its df is AT the cap; an
    * already-hot shingle never crosses again) join the touched set,
    * whose components recompute cluster-locally from the stored
    * postings (see [[applyLabelsCappedInc]]). Work ∝ batch posting
    * lists + cap × crossings + touched-cluster sizes. The REBUILD path
    * is reserved for:
    *   - slices containing any DELETE or UPDATE,
    *   - insert slices that re-use a stored doc_id (which is also how
    *     a post-MERGE crash replay self-detects),
    *   - the cost-gate crossover: a batch so large relative to the
    *     corpus that its crossings touch more than a third of the
    *     stored docs — there the linear rebuild is the CHEAPER exact
    *     plan, and the apply self-selects it (measured: ext167's
    *     250-doc batch over a 2250-doc corpus costs 9 s via the gate
    *     vs 34 s via the expanded-touched machinery).
    * A rebuild is itself linear (the point of the cap), so the
    * degradation path survives the same storm that motivates it.
    *
    * Artifacts: `dedup_<name>_lc_labels (doc_id, comp)`,
    * `lc_posts (doc_id, sh)` — UNCAPPED distinct postings (true
    * frequencies are needed for future cap decisions), `lc_df (sh,
    * df)` — corpus document frequency per shingle, `lc_meta`. No
    * persisted edge artifact: splits are never derived incrementally
    * here, so edges stay transient.
    *
    * Crash replay ([[publishLabels]]: the df retraction of the affected
    * shingles ∥ the label MERGE, then the postings + df inserts in the
    * txn): a replay after the MERGE sees the batch's doc_ids already
    * stored and takes the rebuild guard; a replay after the df DELETE
    * recomputes identical df rows from (stored posts) ∪ (fresh
    * shingles), and an affected shingle whose df row is missing but
    * whose postings exist has its pre-apply df reconstructed exactly
    * from the stored postings (the feed's postings land only in the
    * txn), so the replay window pays the same cap×crossings-bounded
    * work as a live run. Every window converges (spec-pinned). */
  def ensureLabelsCappedCdc(s: SparkSession, corpusTable: String,
      name: String, cap: Int = LabelDfCap): String =
    CdcIndex.withNameLock(s"label:$name") {
    CdcIndex.requireIndexName(name)
    graft.ops.ensureGraftCatalog(s)
    val t = cappedLabelTables(name)
    def rebuild(headV: Long): String =
      rebuildLabels(s, "lc-build", corpusTable, t, headV, labelCappedBuilds) {
        graft.ops.withDesc(s, "lc-build: df sidecar") {
          CdcIndex.createArtifact(
            s.table(t.posts).groupBy("sh").agg(count(lit(1)).as("df")),
            t.sidecar)
          CdcIndex.mergeOnRead(s, t.sidecar)
        }
        // the capped view: postings whose shingle survives the df cap —
        // every posting list entering the self-join is ≤ cap docs. Size
        // hint: Σ df·(df−1) over the cap-surviving shingles bounds the
        // symmetric pair count — one aggregate over the
        // (shingle-count-sized) sidecar, BEFORE the edge build
        val okDf = s.table(t.sidecar).filter(col("df") <= cap)
        (jaccardEdgesFromShingles(s.table(t.posts)
            .join(okDf.select("sh"), Seq("sh"), "left_semi")),
          () => okDf.agg(coalesce(sum(expr("df * (df - 1)")), lit(0L)))
            .head.getLong(0))
      }
    CdcIndex.ensure(s, corpusTable, t.meta)(t.labels) { (v0, headV) =>
      if (!applyLabelsCappedInc(s, corpusTable, t, cap, v0, headV))
        rebuild(headV)
      t.labels
    }(rebuild)
  }

  /** The append-slice incremental apply of the capped family. Returns
    * false when the slice is outside the incremental contract (erasure,
    * re-used ids, post-MERGE replay, the cost gate) — the caller then
    * rebuilds.
    *
    * CAP CROSSINGS ARE HANDLED INCREMENTALLY (round-13, second pass):
    * an append can push a stored shingle's df across the cap, shrinking
    * UNTOUCHED docs' capped sets — which can LOSE member-member edges
    * (splits) and even GAIN edges (a smaller set size raises Jaccard).
    * The key bound: a shingle can only cross while its df is AT the cap
    * (old ≤ cap < new), so it has ≤ cap stored member docs — those
    * members join the touched set (work ∝ cap × crossings, never the
    * posting list of an already-hot shingle, which never crosses
    * again). Splits need no stored edge artifact: the touched
    * components' members' capped HEAD postings are member-restricted
    * self-joined (every changed edge has a touched endpoint; edges
    * between unchanged docs are unchanged), giving the exact induced
    * subgraph — cluster-local, the exact family's D-phase bound. Gained
    * edges toward docs OUTSIDE the touched components have a touched
    * endpoint by the same argument and are found by the N-phase
    * candidate join. Crossing docs' texts are unchanged, so their
    * capped rows derive from the STORED postings (no re-shingle) and
    * the postings/df artifacts need no writes for them. */
  private def applyLabelsCappedInc(s: SparkSession, corpusTable: String,
      t: LabelTables, cap: Int, v0: Long, headV: Long): Boolean = {
    val dfTab = t.sidecar
    val feed = s.sql(s"SELECT * FROM $corpusTable " +
      s"VERSION AS OF 'cdf:$v0..$headV'")
    if (graft.ops.withDesc(s, "lc-apply: erasure probe")(
        feed.filter(col("_change_type") =!= "insert").limit(1).count() > 0L))
      return false // erasure slice → rebuild
    val feedTouched = graft.ops.withDesc(s, "lc-apply: touched ckpt")(
      feed.select(col("doc_id")).distinct().localCheckpoint(true))
    val stored = s.table(t.labels)
    if (graft.ops.withDesc(s, "lc-apply: stored probe")(
        stored.join(feedTouched, Seq("doc_id"), "left_semi")
          .limit(1).count() > 0L))
      return false // re-used id (update-shaped) or post-MERGE replay

    val head = s.table(corpusTable).select(col("doc_id"), col("text"))
    val (held, scratch) = (new Held, new Held)
    try {
      // the batch image is batch-bounded at ANY corpus scale, so an
      // unconditional keyed spread to the session's parallelism is safe
      // and probe-free (round-16: replaces widenForCompute's `.rdd`
      // partition probe, which executed the semi-join once just to ask
      // its width — ADVICE r15); the shingle derivation and the df
      // recompute that consumes it then parallelize off the cache
      val shNewFeed = held(Dedup.shingles(
        head.join(feedTouched, Seq("doc_id"), "left_semi")
          .repartition(s.sparkContext.defaultParallelism, col("doc_id"))))
      // affected shingles (df changes come ONLY from the feed's new docs)
      // + their HEAD df, recomputed from the logical head postings
      // (stored ∪ fresh) — identical values on any replay
      val affected = shNewFeed.select("sh").distinct()
      val postsStored = s.table(t.posts)
      val postsHeadFull = postsStored
        .join(feedTouched, Seq("doc_id"), "left_anti") // replay paranoia
        .unionAll(shNewFeed)
      val dfNew = graft.ops.withDesc(s, "lc-apply: df recompute")(
        postsHeadFull.join(affected, Seq("sh"), "left_semi")
          .groupBy("sh").agg(count(lit(1)).as("df"))
          .localCheckpoint(true))
      // crossing-up detection (append-only ⇒ df never decreases). A
      // MISSING stored df row for an affected shingle that nonetheless
      // has stored postings is the replay-after-df-DELETE window; its
      // pre-apply df is reconstructible EXACTLY by counting its stored
      // postings (the feed's postings land only in the final txn, and a
      // post-MERGE replay never reaches this code, so the stored rows ARE
      // the pre-apply state). The reconstruction keeps the replay window
      // on the same crossed-iff(old ≤ cap < new) rule — an already-hot
      // shingle (df ≫ cap) whose df row the crash retired no longer
      // floods crossDocs with its full posting list, so the documented
      // work-∝-cap×crossings bound holds in the replay window too
      // (ADVICE r13).
      val dfOldAff = s.table(dfTab).withColumnRenamed("df", "df_old")
        .join(affected, Seq("sh"), "left_semi")
      val dfOldRecon = postsStored
        .join(feedTouched, Seq("doc_id"), "left_anti") // replay paranoia
        .join(affected.join(dfOldAff.select("sh"), Seq("sh"), "left_anti"),
          Seq("sh"), "left_semi")
        .groupBy("sh").agg(count(lit(1)).as("df_old"))
      val crossings = graft.ops.withDesc(s, "lc-apply: crossings")(
        dfOldAff.select("sh", "df_old").unionAll(dfOldRecon)
          .join(dfNew, Seq("sh"))
          .filter(col("df_old") <= cap && col("df") > cap).select("sh")
          .distinct()
          .localCheckpoint(true))
      // the common production append crosses nothing — short-circuit
      // before any posts-table pass for the crossing machinery
      val anyCross = graft.ops.withDesc(s, "lc-apply: crossings")(
        crossings.limit(1).count() > 0L)
      val crossDocs =
        if (!anyCross) feedTouched.limit(0).select(col("doc_id"))
        else postsStored.join(crossings, Seq("sh"), "left_semi")
          .select(col("doc_id")).distinct()
      // COST GATE: each crossing touches ≤ cap stored docs, but a batch
      // that is large RELATIVE TO THE CORPUS can cross so many shingles
      // that the expanded-touched machinery (induced-subgraph CC + MERGE)
      // costs more than the linear rebuild it exists to avoid. When the
      // crossing-touched stored docs exceed a third of the corpus, the
      // rebuild is the cheaper exact plan — take it. (Answers identical
      // either way; this is purely the optimizer's crossover choice.)
      // The corpus size comes from the label table's MANIFEST (one
      // metadata read, never a scan): Σ live_rows over the head segments
      // — physical rows MINUS deletion-vector retractions, so a
      // merge-on-read history of label MERGEs can't drift the count above
      // the live doc count and bias this crossover toward the incremental
      // path (ADVICE r13).
      if (anyCross) {
        val crossCnt = crossDocs.count()
        val storedCnt = s.table(s"${t.labels}.files")
          .agg(coalesce(sum("live_rows"), lit(0L))).head.getLong(0)
        if (crossCnt * 3L > storedCnt) return false
      }
      val touched = graft.ops.withDesc(s, "lc-apply: touched ckpt")(
        feedTouched.select("doc_id").unionAll(crossDocs)
          .distinct().localCheckpoint(true))

      // head cap filter: stored df overridden by the recomputed rows
      val dfHead = s.table(dfTab).join(affected, Seq("sh"), "left_anti")
        .unionAll(dfNew)
      val okSh = dfHead.filter(col("df") <= cap).select("sh")
      val postsHeadCapped = postsHeadFull.join(okSh, Seq("sh"), "left_semi")

      // D-phase (splits/gains among the stored members of the touched
      // components) only when a crossing touched stored docs: the exact
      // induced subgraph of the members over HEAD capped postings
      // (crossing docs carry their shrunk sets; unchanged member-member
      // edges recompute to the same values). Feed docs are not stored, so
      // nothing is retracted.
      val (splitNodes, untouchedRows) =
        splitTouched(s, "lc-apply", stored, touched, None, anyCross) { m =>
          Dedup.undirected(jaccardEdgesFromShingles(
            scratch(postsHeadCapped.join(m, Seq("doc_id"), "left_semi"))))
        }

      // N-phase: head edges incident to the touched docs. Feed docs
      // contribute fresh capped shingles; crossing docs contribute their
      // STORED rows cap-filtered at head df (texts unchanged).
      val shTouchedCapped = shNewFeed.join(okSh, Seq("sh"), "left_semi")
        .unionAll(postsStored.join(crossDocs, Seq("doc_id"), "left_semi")
          .join(okSh, Seq("sh"), "left_semi"))
      val qlab = quotientLabels(s, "lc-apply",
        candidateEdges(scratch, shTouchedCapped, postsHeadCapped),
        splitNodes, untouchedRows)
      scratch.release()
      // only the feed's fresh rows land — crossing docs' postings are
      // already stored and unchanged; the affected shingles' stored df
      // rows are retired (idempotent: the affected set derives from the
      // immutable feed) and re-inserted at their head df
      val dfRows = dfNew.filter(col("df") > 0)
      publishLabels(s, "lc-apply", corpusTable, headV, t,
        labelCappedIncRefreshes)(
        labelRows(qlab, splitNodes, untouchedRows,
          head.join(feedTouched, Seq("doc_id"), "left_semi")
            .select(col("doc_id")), None),
        Seq(shNewFeed, affected), Seq(dfRows))(
        retract = Seq(v =>
          s"DELETE FROM $dfTab WHERE sh IN (SELECT sh FROM ${v(affected)})"),
        insert = Seq(
          v => s"INSERT INTO ${t.posts} SELECT * FROM ${v(shNewFeed)}",
          v => s"INSERT INTO $dfTab SELECT * FROM ${v(dfRows)}"))
      true
    } finally { scratch.release(); held.release() }
  }

  // ---------------------------------- unified label entry (lu_ meta)

  /** Auto-choice thresholds for [[ensureLabels]]: the exact family is
    * chosen when its O(Σ df·(df−1)) edge build is within a constant
    * factor of the linear work any build pays (Σ df = the posting
    * count) AND no single shingle is hot enough to be quadratic on its
    * own. Fixture reference points (bounded 2500-doc cohort): benign
    * documents measure pairs ≈ 1.1–4.9 × posts with max df 7–17; a
    * boilerplate storm measures max df = storm size (thousands) with
    * pairs ≫ 100 × posts — the two corpora sit orders of magnitude
    * from these lines, so the choice is insensitive to the exact
    * constants. */
  val LabelAutoPairFactor = 16L
  val LabelAutoMaxDf = 64L

  /** The PURE family decision behind [[ensureLabels]], given the one
    * posting-stats aggregate (max df, Σ df = posting count,
    * Σ df·(df−1) = the symmetric pair bound — the same bound the CC
    * width hint uses). Extracted so the decision CURVE is unit-testable
    * without building corpora (round-15, VERDICT r14 #2): exact iff the
    * quadratic edge-build term stays within [[LabelAutoPairFactor]]× of
    * the linear work every build pays AND no single shingle is hot
    * enough ([[LabelAutoMaxDf]]) to go quadratic on its own. Both
    * bounds are INCLUSIVE — a corpus exactly on the line keeps the
    * richer (exact-erasure) contract. Measured calibration at the
    * boundary: see the crossover table in SURVEY §21 (block corpora,
    * CrossoverProbeMain). */
  def chooseLabelFamily(maxDf: Long, posts: Long, pairBound: Long): String =
    if (pairBound <= LabelAutoPairFactor * posts && maxDf <= LabelAutoMaxDf)
      "exact"
    else "capped"

  /** ONE entry point for the label family (VERDICT r13 #3): a 100 TB
    * user calls `ensureLabels(s, corpus, name)` and gets the right
    * family for the corpus instead of having to know the
    * exact-vs-capped trade by name:
    *
    *   - EXACT ([[ensureLabelsCdc]]): erasure WITHOUT rebuild (D/N-phase
    *     cluster-local applies over a persisted edge artifact), at an
    *     O(Σ df²) edge-build cost that melts under boilerplate storms
    *     (rehearsed 3× storm → 4.5× build).
    *   - CAPPED ([[ensureLabelsCappedCdc]]): LINEAR build at any skew
    *     (rehearsed 10× storm → 1.7×), incremental appends including
    *     cap crossings, erasure → linear rebuild by contract.
    *
    * The choice derives from ONE aggregate over the corpus posting
    * stats (max df and the Σ df·(df−1) pair bound vs [[LabelAutoMaxDf]]
    * / [[LabelAutoPairFactor]]·posts — the same bound the CC width hint
    * uses), is RECORDED in `dedup_<name>_lu_choice` (named outside the `_meta`
    * convention: it is a decision record, not an index watermark — the
    * inventory classifier must not see a torn build) with the stats that
    * made it, and is REUSED by every later call: maintenance must keep
    * operating the family the artifacts belong to even if the corpus
    * drifts across the line (a drifted corpus is a re-index decision,
    * not a silent mid-history family swap). `force` ("exact"|"capped")
    * overrides the heuristic, is recorded the same way, and — when it
    * CHANGES a recorded choice — drops the superseded family's
    * artifacts so the catalog never carries two label indexes under one
    * name. */
  def ensureLabels(s: SparkSession, corpusTable: String, name: String,
      force: Option[String] = None): String =
    CdcIndex.withNameLock(s"label:$name") {
    CdcIndex.requireIndexName(name)
    graft.ops.ensureGraftCatalog(s)
    force.foreach(f => require(f == "exact" || f == "capped",
      s"ensureLabels: unknown family '$f' (want exact|capped)"))
    val meta = s"graft_cat.db.dedup_${name}_lu_choice"
    val recorded: Option[String] =
      if (!s.catalog.tableExists(meta)) None
      else s.table(meta).select("family").collect()
        .headOption.map(_.getString(0))
    val (family, maxDf, posts, pairs) = force match {
      case Some(f) => (f, -1L, -1L, -1L)
      case None => recorded match {
        case Some(f) => (f, -1L, -1L, -1L)
        case None =>
          // one aggregate over the corpus shingles — the same pass a
          // build pays first anyway, here reduced to three scalars
          val st = Dedup.shingles(
              s.table(corpusTable).select(col("doc_id"), col("text")),
              widen = true)
            .groupBy("sh").agg(count(lit(1)).as("df"))
            .agg(coalesce(max("df"), lit(0L)),
              coalesce(sum("df"), lit(0L)),
              coalesce(sum(expr("df * (df - 1)")), lit(0L))).head
          val (mx, ps, pr) = (st.getLong(0), st.getLong(1), st.getLong(2))
          (chooseLabelFamily(mx, ps, pr), mx, ps, pr)
      }
    }
    if (!recorded.contains(family)) {
      // a force that supersedes a recorded choice retires the old
      // family's artifacts (its meta watermark included) — one name,
      // one index
      recorded.foreach { old =>
        (if (old == "exact") exactLabelTables(name)
         else cappedLabelTables(name)).drop(s)
      }
      s.sql(s"DROP TABLE IF EXISTS $meta")
      s.sql(s"CREATE TABLE $meta (family STRING, forced BOOLEAN, " +
        "max_df BIGINT, n_posts BIGINT, pair_bound BIGINT, corpus STRING)")
      s.sql(s"INSERT INTO $meta VALUES ('$family', ${force.nonEmpty}, " +
        s"$maxDf, $posts, $pairs, '$corpusTable')")
    }
    if (family == "exact") ensureLabelsCdc(s, corpusTable, name)
    else ensureLabelsCappedCdc(s, corpusTable, name)
  }

  // ----------------------------------------------------- gram index

  /** Exact-substring GRAM index — ext142's duplicated-span machinery as
    * a persisted artifact: the DISTINCT (doc_id, 8-gram digest) rows of
    * the corpus stored as `graft_cat.db.dedup_<name>_gr_grams`, so an
    * INCOMING BATCH can be screened for spans that appear anywhere in
    * the corpus with batch-sized work (derive the batch's grams, one
    * left-semi join against the stored digests) — the decontamination /
    * plagiarism probe of a training pipeline, where re-deriving the
    * corpus grams per screen would dominate at 100 TB.
    *
    * Like the suffix-array approaches it approximates, the index is
    * gram-stream-sized (one row per distinct gram occurrence per doc) —
    * that is inherent to exact-substring screening, and the per-doc
    * row attribution is exactly what makes CDC maintenance and erasure
    * row-exact: retract by doc_id, re-derive touched head docs. CDC
    * mode only (the catalog-corpus discipline of the other families);
    * meta `graft_cat.db.dedup_<name>_gr_meta (version, corpus)`. */
  val gramBuilds = new java.util.concurrent.atomic.AtomicLong(0)
  val gramCdcRefreshes = new java.util.concurrent.atomic.AtomicLong(0)

  /** Distinct (doc_id, gram digest) rows — ext142's gram front-end.
    * `widen` only on the full-corpus build path (round-16, VERDICT r15
    * #2): the CDC apply's input is join-shaped and batch-sized — the
    * blanket widen regressed ext150. */
  private[ext] def gramRows(docs: DataFrame,
      widen: Boolean = false): DataFrame =
    (if (widen) graft.ops.widenForCompute(docs) else docs)
      .select(col("doc_id"), expr(CorpusOps.toksExpr).as("toks"))
      .select(col("doc_id"), explode(expr(
        "if(size(toks) < 8, array()," +
          " transform(sequence(0, size(toks) - 8)," +
          "           i -> md5(array_join(slice(toks, i + 1, 8), ' '))))"))
        .as("h"))
      .distinct()

  /** Version-keyed CDC maintenance of the gram index. Returns the grams
    * table name. */
  def ensureGramsCdc(s: SparkSession, corpusTable: String,
      name: String): String = CdcIndex.withNameLock(s"dedup-gr:$name") {
    CdcIndex.requireIndexName(name)
    val f = gramsKeyed(name)
    CdcIndex.ensureKeyed(s, corpusTable, f)
    f.artifacts.head._1
  }

  /** The gram family as a [[CdcIndex.Keyed]] (keyed by `doc_id`). */
  private[graft] def gramsKeyed(name: String): CdcIndex.Keyed = {
    val grams = s"graft_cat.db.dedup_${name}_gr_grams"
    CdcIndex.Keyed(s"graft_cat.db.dedup_${name}_gr_meta", "doc_id", "doc_id",
      Seq("doc_id", "text"), Seq(grams -> (gramRows(_))), { head =>
        CdcIndex.createArtifact(gramRows(head, widen = true), grams)
        gramBuilds.incrementAndGet()
      }, gramCdcRefreshes)
  }

}
