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
  *   - `graft_cat.db.dedup_<name>_meta` (k BIGINT, n_docs BIGINT,
  *     max_id BIGINT) — one row describing the covered CORPUS (not the
  *     sig table: shingle-less docs are signless, so corpus coverage
  *     cannot be derived from sig counts). `k` is the content
  *     fingerprint: the corpus table's committed version when the
  *     source is a pure `graft_cat` scan, `-1` otherwise (see
  *     [[ensure]] for what each proves).
  *
  * The incremental refresh publishes the sigs append and the meta
  * advance in ONE cross-table transaction ([[graft.sources.SegTxn]]'s
  * intent-log discipline, via CALL system.txn_*), so "delta signed" and
  * "watermark advanced" never diverge durably — a torn refresh would
  * otherwise re-sign or skip the delta. A full rebuild writes sigs
  * first and meta LAST outside a txn: a crash between the two leaves
  * meta ≠ corpus, which the next ensure() resolves by rebuilding.
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
    * Three states, keyed on the corpus watermark in `meta`:
    * covered → no-op; append-only growth → sign ONLY the delta and
    * publish sigs+meta in one txn; any other change → full rebuild.
    *
    * Watermark strength: when `docs` is a PURE scan of a `graft_cat`
    * table, the meta row additionally stores the table's committed
    * VERSION as a content fingerprint (`k` column; `-1` for any other
    * source), so in-place UPDATEs that preserve row count and max
    * doc_id — invisible to the (cnt, max, prefixCnt) check — still
    * force a rebuild, and the delta-append path is only taken when the
    * intervening commits are provably append-only. For a plain
    * DataFrame corpus (k = −1) no such fingerprint exists: an UPDATE
    * preserving count+max is NOT detected — route mutable corpora
    * through [[ensureCdc]], whose version watermark is exact. */
  def ensure(s: SparkSession, docs: DataFrame, name: String): Tables =
    CdcIndex.withNameLock(s"dedup:$name") {
      CdcIndex.requireBaseFamilyName(name, "dedup")
      graft.ops.ensureGraftCatalog(s)
      val t = tables(name)

      val src = CdcIndex.sourceVersion(s, docs)
      val metaCols: Option[Seq[String]] =
        try Some(s.table(t.meta).schema.fieldNames.toSeq)
        catch { case _: org.apache.spark.sql.AnalysisException => None }
      if (metaCols.exists(_.headOption.contains("version"))) {
        // CDC-built index: overwriting its meta with k-mode values would
        // silently reset the version watermark to 0 and make the next
        // ensureCdc replay the ENTIRE feed history. Same catalog corpus
        // → delegate to the exact version-keyed maintenance; anything
        // else → full rebuild, which explicitly converts the index (and
        // its meta schema) to k-mode.
        return src match {
          case Some((tbl, _)) => ensureCdc(s, tbl, name)
          case None => build(s, docs, t, -1L)
        }
      }
      val fp = src.map(_._2).getOrElse(-1L)

      val stored: Option[(Long, Long, Long)] =
        try {
          val r = s.table(t.meta).select("k", "n_docs", "max_id").head
          Some((r.getLong(0), r.getLong(1), r.getLong(2)))
        } catch {
          case _: org.apache.spark.sql.AnalysisException => None
          case _: NoSuchElementException => None
        }
      val sigsExist =
        try { s.table(t.sigs).schema; true }
        catch { case _: org.apache.spark.sql.AnalysisException => false }

      (stored, sigsExist) match {
        case (Some((storedK, storedN, storedMax)), true) if storedN > 0 =>
          val cs = docs.agg(count(lit(1)), max(col("doc_id")),
            count(when(col("doc_id") <= lit(storedMax), 1))).head
          val (cnt, mx, prefixCnt) = (cs.getLong(0),
            if (cs.isNullAt(1)) -1L else cs.getLong(1), cs.getLong(2))
          if (cnt == storedN && mx == storedMax && storedK == fp)
            t // covered — no-op
          else if (cnt == storedN && mx == storedMax && storedK >= 0 &&
              fp > storedK &&
              CdcIndex.appendOnlyBetween(s, src.get._1, storedK, fp)) {
            // content-preserving commits (compact, zorder, tag, alter —
            // or a zero-row append) moved the fingerprint while count and
            // max prove the indexed content unchanged: advance the
            // watermark instead of an O(corpus) rebuild
            s.sql(s"INSERT OVERWRITE ${t.meta} SELECT CAST($fp AS BIGINT), " +
              s"CAST($storedN AS BIGINT), CAST($storedMax AS BIGINT)")
            t
          } else if (mx > storedMax && prefixCnt == storedN &&
              ((storedK < 0 && fp < 0) ||
               (storedK >= 0 && fp > storedK &&
                CdcIndex.appendOnlyBetween(s, src.get._1, storedK, fp)))) {
            val delta = signatures(docs.filter(col("doc_id") > lit(storedMax)))
            val view = s"graft_dedup_delta_" +
              java.util.UUID.randomUUID().toString.replace("-", "")
            delta.createOrReplaceTempView(view)
            try CdcIndex.inTxn(s) {
              s.sql(s"INSERT INTO ${t.sigs} SELECT * FROM $view")
              s.sql(s"INSERT OVERWRITE ${t.meta} SELECT CAST($fp AS BIGINT), " +
                s"CAST($cnt AS BIGINT), CAST($mx AS BIGINT)")
            } finally s.catalog.dropTempView(view)
            refreshes.incrementAndGet()
            t
          } else build(s, docs, t, fp)
        case _ => build(s, docs, t, fp)
      }
    }

  // ------------------------------------------------- CDC maintenance

  /** CDC-applied refreshes — specs pin "deletes were maintained without
    * a rebuild" through this. */
  val cdcRefreshes = new java.util.concurrent.atomic.AtomicLong(0)

  /** Version-keyed maintenance over a CATALOG-table corpus: where
    * [[ensure]]'s watermark can only REJECT a mutated corpus (the
    * count/max check catches deletes; the version fingerprint catches
    * in-place updates on catalog sources, forcing a full rebuild), this
    * variant keys coverage on the table's committed VERSION and applies
    * the change feed through [[CdcIndex.ensureKeyed]], keyed by
    * `doc_id`: a MinHash signature is a pure per-document function, so
    * retracting every changed doc and re-signing its head image makes
    * CDC maintenance EXACT — the maintained index is row-identical to a
    * rebuild over the head snapshot (spec-pinned). Meta:
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

  private def build(s: SparkSession, docs: DataFrame, t: Tables,
      fp: Long): Tables = {
    val cs = docs.agg(count(lit(1)), max(col("doc_id"))).head
    val (cnt, mx) = (cs.getLong(0),
      if (cs.isNullAt(1)) -1L else cs.getLong(1))
    writeSigs(docs, t)
    // meta LAST: a crash above leaves meta ≠ corpus → next ensure rebuilds
    s.sql(s"DROP TABLE IF EXISTS ${t.meta}")
    s.sql(s"CREATE TABLE ${t.meta} (k BIGINT, n_docs BIGINT, max_id BIGINT)")
    s.sql(s"INSERT INTO ${t.meta} SELECT CAST($fp AS BIGINT), " +
      s"CAST($cnt AS BIGINT), CAST($mx AS BIGINT)")
    t
  }

  // ------------------------------------------- component-label index

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
    * which is merge-activity-sized, never corpus-sized. Because a
    * stored label IS its component's min id, the quotient's min-label
    * answer equals the full rebuild's: min over merged old components
    * and new ids = the global min. (Min-label CC over a contracted
    * graph is exact for min labels; this is the union-find-by-min
    * argument run declaratively.)
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
    * edges (cluster-local work: the induced subgraph of a component
    * contains every path between its members, so no corpus-wide edges
    * can rejoin what the retraction splits) — then RE-ADDS every
    * touched doc still in the head via the append path's quotient
    * contraction. Work ∝ touched clusters + the batch's posting lists,
    * never the corpus. The storage price is the pair list itself
    * (near-dup-pair-sized — the same order as the pairs any dedup run
    * materializes transiently), which is the documented cost of
    * erasure without rebuilds.
    *
    * Publication: edge retraction (DELETE, idempotent) → ONE atomic
    * MERGE INTO on the labels (conditional DELETE for erased docs +
    * remap + upsert) → head-edge INSERT + watermark advance in one
    * cross-table txn. Every crash window replays convergently: the
    * apply derives its plan from the stored PRE-state (checkpointed
    * before any mutation) or, after a post-MERGE crash, from the
    * already-converged head state — retract+re-add of an
    * already-current doc is a fixpoint (spec-pinned, including the
    * watermark-windback replay and a replay slice spanning newer
    * commits). A legacy index without the edge artifact throws
    * UnsupportedOperationException on its first apply and
    * [[CdcIndex.ensure]] rebuilds, which migrates it. */
  val labelBuilds = new java.util.concurrent.atomic.AtomicLong(0)
  val labelIncRefreshes = new java.util.concurrent.atomic.AtomicLong(0)

  /** Exact-Jaccard edges (J ≥ 0.5, a_id < b_id) among `docs`. */
  private def jaccardEdges(docs: DataFrame): DataFrame =
    jaccardEdgesFromShingles(Dedup.shingles(docs))

  /** [[jaccardEdges]] over an explicit DISTINCT (doc_id, sh) frame —
    * the build derives it from text once and STORES it; applies read
    * the stored postings instead of re-shingling the corpus. */
  private def jaccardEdgesFromShingles(sh: DataFrame): DataFrame = {
    val sizes = sh.groupBy("doc_id").agg(count(lit(1)).as("n"))
    sh.as("a").join(sh.as("b"),
        col("a.sh") === col("b.sh") && col("a.doc_id") < col("b.doc_id"))
      .groupBy(col("a.doc_id").as("a_id"), col("b.doc_id").as("b_id"))
      .agg(count(lit(1)).as("inter"))
      .join(sizes.withColumnRenamed("doc_id", "a_id")
        .withColumnRenamed("n", "n_a"), "a_id")
      .join(sizes.withColumnRenamed("doc_id", "b_id")
        .withColumnRenamed("n", "n_b"), "b_id")
      .filter(col("inter").cast("double")
        / (col("n_a") + col("n_b") - col("inter")) >= 0.5)
      .select(col("a_id"), col("b_id"))
  }

  /** Version-keyed maintenance of the label table. Returns its name. */
  def ensureLabelsCdc(s: SparkSession, corpusTable: String,
      name: String): String = CdcIndex.withNameLock(s"label:$name") {
    CdcIndex.requireIndexName(name)
    graft.ops.ensureGraftCatalog(s)
    val labels = s"graft_cat.db.dedup_${name}_lb_labels"
    val edges = s"graft_cat.db.dedup_${name}_lb_edges"
    val posts = s"graft_cat.db.dedup_${name}_lb_posts"
    val meta = s"graft_cat.db.dedup_${name}_lb_meta"
    CdcIndex.ensure(s, corpusTable, meta)(labels) { (v0, headV) =>
      applyLabelsInc(s, corpusTable, labels, edges, posts, meta, v0, headV)
      labels
    } { headV =>
      val docs = s.table(corpusTable).select(col("doc_id"), col("text"))
      // the SHINGLE POSTINGS land first: the corpus is shingled exactly
      // once per build, the edge artifact derives from the stored
      // postings, and every later apply joins the BATCH's shingles
      // against these stored rows instead of re-shingling the corpus —
      // the ext149 gram-index discipline applied to the label family
      // (a torn build — postings without labels/meta — just rebuilds)
      graft.ops.withDesc(s, "lbl-build: postings") {
        Dedup.shingles(docs, widen = true)
          .writeTo(posts)
          .tableProperty("graft.autocompact", CdcIndex.AutoCompactSpec)
          .createOrReplace()
        s.sql(s"ALTER TABLE $posts SET TBLPROPERTIES " +
          "('graft.dml.mode'='merge-on-read')")
      }
      graft.ops.withDesc(s, "lbl-build: edges") {
        jaccardEdgesFromShingles(s.table(posts))
          .writeTo(edges)
          .tableProperty("graft.autocompact", CdcIndex.AutoCompactSpec)
          .createOrReplace()
        s.sql(s"ALTER TABLE $edges SET TBLPROPERTIES " +
          "('graft.dml.mode'='merge-on-read')")
      }
      val sym = s.table(edges).select(explode(array(
          struct(col("a_id").as("src"), col("b_id").as("dst")),
          struct(col("b_id").as("src"), col("a_id").as("dst")))).as("e"))
        .select(col("e.src").as("src"), col("e.dst").as("dst"))
      // pre-join size hint for the CC materialization (VERDICT r13 #1):
      // the edge artifact just landed, so its MANIFEST row count (one
      // metadata read, never a scan) is the exact symmetric count / 2 —
      // a billion-edge graph lays out wide from the first cache pass
      graft.ops.withDesc(s, "lbl-build: cc+labels") {
        val edgeRows = s.table(s"$edges.files")
          .agg(coalesce(sum("live_rows"), lit(0L))).head.getLong(0)
        val (lab, _) = Dedup.ccOverEdges(s, sym, Some(2L * edgeRows))
        docs.select(col("doc_id"))
          .join(lab.withColumnRenamed("id", "doc_id"), Seq("doc_id"), "left")
          .select(col("doc_id"), coalesce(col("comp"), col("doc_id")).as("comp"))
          .writeTo(labels)
          .tableProperty("graft.autocompact", CdcIndex.AutoCompactSpec)
          .createOrReplace()
      }
      sym.unpersist(blocking = false)
      s.sql(s"ALTER TABLE $labels SET TBLPROPERTIES " +
        "('graft.dml.mode'='merge-on-read')")
      CdcIndex.writeMeta(s, meta, headV, corpusTable)
      labelBuilds.incrementAndGet()
      labels
    }
  }

  /** The generalized (insert/update/delete) incremental apply —
    * RETRACT every touched doc, then RE-ADD its head image:
    *
    *  D-phase (splits): the components containing any touched doc have
    *  their SURVIVING members re-labeled by connected components over
    *  their stored mutual edges (touched-incident edges excluded) —
    *  cluster-local, exact (a component's induced subgraph contains
    *  every path between its members).
    *
    *  N-phase (merges): the head edges incident to the touched head
    *  images are re-derived from text (batch shingles ⨝ head shingles),
    *  endpoints contract to the POST-RETRACT labels (touched docs to
    *  their own ids), and min-label CC on that quotient yields the
    *  final labels — the union-find-by-min exactness argument, with the
    *  D-phase labels (each the min of its sub-component) as the
    *  contracted nodes.
    *
    * An insert-only slice of genuinely-new docs has an empty D-phase
    * (no touched doc is stored) and reduces to the append path. */
  private def applyLabelsInc(s: SparkSession, corpusTable: String,
      labels: String, edges: String, posts: String, meta: String, v0: Long,
      headV: Long): Unit = {
    // a legacy index without the edge/postings artifacts cannot
    // retract / cannot apply batch-sized — rebuild (which migrates it;
    // the feed-refusal path of CdcIndex.ensure)
    val artifactsExist =
      try { s.table(edges).schema; s.table(posts).schema; true }
      catch { case _: org.apache.spark.sql.AnalysisException => false }
    if (!artifactsExist)
      throw new UnsupportedOperationException(
        "component labels: no stored edge/postings artifact " +
          "(pre-round-12 index)")

    val feed = s.sql(s"SELECT * FROM $corpusTable " +
      s"VERSION AS OF 'cdf:$v0..$headV'")
    // checkpoint the touched set ONCE (batch-id-sized): it feeds the
    // D-phase probe, the N-phase posting anti-join, `gone`, `newRows`
    // and the retraction DMLs — without this the change-feed DIFF is
    // re-planned and re-computed at every one of those references
    // (measured: a visible slice of the apply's fixed overhead at
    // fixture scale; the capped apply already did this)
    val touched = graft.ops.withDesc(s, "lbl-apply: touched ckpt")(
      feed.select(col("doc_id")).distinct().localCheckpoint(true))
    val head = s.table(corpusTable).select(col("doc_id"), col("text"))
    val headTouched = head.join(touched, Seq("doc_id"), "left_semi")
    val gone = touched.join(head.select("doc_id"), Seq("doc_id"), "left_anti")
    val stored = s.table(labels)
    val storedEdges = s.table(edges)

    // ---- D-phase and the N-phase CANDIDATE materialization are
    // INDEPENDENT — the split CC reads stored labels+edges, the
    // candidate join reads posts+head; both are touched-bounded — so
    // they run OVERLAPPED (round-16, guide §2.6): an update-shaped
    // slice (ext161/164/169) hides the D-phase CC under the candidate
    // join's stage tail. Only the final contraction of candidate edges
    // onto the post-retract labels needs both.

    // D-phase: split the touched components over stored edges.
    // Fast path: a slice of GENUINELY NEW docs (the common append —
    // ext153's daily batch) touches no stored component, so the whole
    // retract machinery (two semi-joins, a CC loop, a checkpoint) is
    // provably a no-op — one cheap existence probe skips it and afterD
    // IS the stored table, restoring the pure-append plan shape
    def dPhase(): (DataFrame, DataFrame) = {
      val anyStored = graft.ops.withDesc(s, "lbl-apply: stored probe")(
        stored.join(touched, Seq("doc_id"), "left_semi").limit(1).count() > 0L)
      if (!anyStored)
        (touched.limit(0).select(col("doc_id"), col("doc_id").as("node")),
          stored.select(col("doc_id"), col("comp")))
      else {
        val touchedComps = stored.join(touched, Seq("doc_id"), "left_semi")
          .select(col("comp")).distinct()
        val survIds = stored.join(touchedComps, Seq("comp"), "left_semi")
          .join(touched, Seq("doc_id"), "left_anti")
          .select(col("doc_id"))
        val subEdges = storedEdges
          .join(survIds.withColumnRenamed("doc_id", "a_id"), Seq("a_id"),
            "left_semi")
          .join(survIds.withColumnRenamed("doc_id", "b_id"), Seq("b_id"),
            "left_semi")
        val dsym = subEdges.select(explode(array(
            struct(col("a_id").as("src"), col("b_id").as("dst")),
            struct(col("b_id").as("src"), col("a_id").as("dst")))).as("e"))
          .select(col("e.src").as("src"), col("e.dst").as("dst")).distinct()
        // ccOverEdges output is already self-contained (the loop's
        // converged frame is localCheckpoint'ed; the union-find path
        // returns a checkpointed RDD) — no further checkpoint job
        val dlab = graft.ops.withDesc(s, "lbl-apply: D-phase cc") {
          val (dlab0, _) = Dedup.ccOverEdges(s, dsym)
          dlab0
        }
        // each survivor's post-retract label: min of its sub-component
        // (edge-less survivors are their own)
        val sn = survIds
          .join(dlab.withColumnRenamed("id", "doc_id")
            .withColumnRenamed("comp", "c2"), Seq("doc_id"), "left")
          .select(col("doc_id"), coalesce(col("c2"), col("doc_id")).as("node"))
        // untouched components keep their stored rows
        (sn, stored.join(touchedComps, Seq("comp"), "left_anti")
          .select(col("doc_id"), col("comp")))
      }
    }

    // N-phase candidates: head edges incident to the touched head
    // images. The corpus side is the STORED postings (retracted to the
    // head view: stored rows minus touched docs' plus the batch's fresh
    // shingles), so the apply never re-shingles the corpus — work is
    // the batch's shingle derivation + joins ∝ its posting lists.
    //
    // Pure-erasure short-circuit (round-16, VERDICT r15 #1): a slice
    // whose touched docs are ALL gone from the head (the erasure window
    // — ext141/ext161's shape) has an empty batch image, so the fresh
    // shingles, the candidate join, the quotient edges and the N-phase
    // CC are ALL provably empty — yet materializing that emptiness
    // through the ~25-exchange candidate pipeline measured 7-9 s wall
    // per apply at fixture scale (ProfMain, 67-78 Spark jobs for zero
    // rows). One bounded existence probe skips the whole phase.
    def nCandidates(): Option[(DataFrame, DataFrame, DataFrame, DataFrame)] = {
      val anyHead = graft.ops.withDesc(s, "lbl-apply: head probe")(
        headTouched.select(col("doc_id")).limit(1).count() > 0L)
      if (!anyHead) None
      else {
        // batch-bounded at any scale — unconditional probe-free spread
        // to the session's parallelism (see the capped apply's
        // shNewFeed note)
        val shN = Dedup.shingles(headTouched
          .repartition(s.sparkContext.defaultParallelism, col("doc_id")))
          .persist()
        val postsHead = s.table(posts)
          .join(touched, Seq("doc_id"), "left_anti")
          .unionAll(shN)
        // persisted: cand is consumed THREE times (both ids legs + the
        // edge filter) and sizes twice, each with a different pruned
        // column set — subtree equality fails, exchange reuse does not
        // fire, and the whole candidate join re-ran per consumer
        // (round-16; both frames are batch-bounded at any scale)
        val cand = shN.as("b").join(postsHead.as("a"),
            col("a.sh") === col("b.sh") && col("a.doc_id") =!= col("b.doc_id"))
          .groupBy(col("a.doc_id").as("a_id"), col("b.doc_id").as("b_id"))
          .agg(count(lit(1)).as("inter"))
          .persist()
        val ids = cand.select(col("a_id").as("doc_id"))
          .unionAll(cand.select(col("b_id").as("doc_id"))).distinct()
        val sizes = postsHead.join(ids, Seq("doc_id"), "left_semi")
          .groupBy("doc_id").agg(count(lit(1)).as("n"))
          .persist()
        // persisted: consumed by BOTH the quotient path (q → CC) and the
        // edge-artifact insert — without it the batch-shingle join runs
        // twice
        val eN = cand
          .join(sizes.withColumnRenamed("doc_id", "a_id")
            .withColumnRenamed("n", "n_a"), "a_id")
          .join(sizes.withColumnRenamed("doc_id", "b_id")
            .withColumnRenamed("n", "n_b"), "b_id")
          .filter(col("inter").cast("double")
            / (col("n_a") + col("n_b") - col("inter")) >= 0.5)
          .select(col("a_id"), col("b_id"))
          .persist()
        graft.ops.withDesc(s, "lbl-apply: N-phase cand")(eN.count())
        Some((shN, cand, sizes, eN))
      }
    }

    val phases = graft.ops.inParallel[Any](Seq(
      () => dPhase(), () => nCandidates()))
    val (splitNodes, untouchedRows) =
      phases(0).asInstanceOf[(DataFrame, DataFrame)]
    val nCand =
      phases(1).asInstanceOf[Option[(DataFrame, DataFrame, DataFrame,
        DataFrame)]]
    val anyHead = nCand.isDefined
    // the complete post-retract label state (touched docs absent)
    val afterD = untouchedRows
      .unionAll(splitNodes.select(col("doc_id"), col("node").as("comp")))
    val (qlab, edgesNew, shNew) = nCand match {
      case None =>
        (touched.limit(0)
           .select(col("doc_id").as("id"), col("doc_id").as("comp")),
         touched.limit(0)
           .select(col("doc_id").as("a_id"), col("doc_id").as("b_id")),
         Dedup.shingles(headTouched).limit(0))
      case Some((shN, cand, sizes, eN)) =>
        // contract endpoints to the POST-RETRACT labels; touched head
        // docs are absent from afterD and become their own nodes
        // (re-added)
        val q = eN
          .join(afterD.withColumnRenamed("doc_id", "a_id")
            .withColumnRenamed("comp", "ca"), Seq("a_id"), "left")
          .join(afterD.withColumnRenamed("doc_id", "b_id")
            .withColumnRenamed("comp", "cb"), Seq("b_id"), "left")
          .select(coalesce(col("ca"), col("a_id")).as("src"),
            coalesce(col("cb"), col("b_id")).as("dst"))
          .filter(col("src") =!= col("dst"))
        val qsym = q.select(explode(array(
            struct(col("src"), col("dst")),
            struct(col("dst").as("src"), col("src").as("dst")))).as("e"))
          .select(col("e.src").as("src"), col("e.dst").as("dst")).distinct()
        // ccOverEdges output is self-contained — no extra checkpoint job
        val ql = graft.ops.withDesc(s, "lbl-apply: N-phase cc") {
          val (qlab0, _) = Dedup.ccOverEdges(s, qsym)
          qlab0
        }
        // the contraction CC also drained the intermediate caches'
        // consumers — dead weight from here
        cand.unpersist(blocking = false)
        sizes.unpersist(blocking = false)
        (ql, eN, shN)
    }

    // ---- final rows, one per affected doc (disjoint by construction:
    // survivors of touched comps / changed rows of untouched comps /
    // touched head docs / erased docs)
    def viaQ(df: DataFrame): DataFrame = df
      .join(qlab.withColumnRenamed("id", "node"), Seq("node"), "left")
      .select(col("doc_id"), coalesce(col("comp"), col("node")).as("comp"))
    val splitRows = viaQ(splitNodes)
    val remapChanged = untouchedRows
      .withColumnRenamed("comp", "node").as("l")
      .join(qlab.as("qq"), col("l.node") === col("qq.id"))
      .filter(col("qq.comp") =!= col("qq.id"))
      .select(col("l.doc_id").as("doc_id"), col("qq.comp").as("comp"))
    val newRows =
      if (!anyHead) splitNodes.limit(0)
        .select(col("doc_id"), col("node").as("comp"))
      else viaQ(headTouched.select(col("doc_id")).distinct()
        .withColumn("node", col("doc_id")))
    // materialize the merge plan BEFORE mutating anything: it reads the
    // MERGE target (stored labels) and the edge table. The three
    // checkpoints are independent reads of already-cached inputs —
    // overlap them (guide §2.6; each job's tail leaves most task slots
    // idle at fixture scale)
    val ckpts = graft.ops.inParallel[DataFrame](Seq(
      () => graft.ops.withDesc(s, "lbl-apply: mutation-input ckpts")(
        splitRows.unionAll(remapChanged).unionAll(newRows)
          .withColumn("del", lit(false))
          .unionAll(gone.select(col("doc_id"), lit(0L).as("comp"),
            lit(true).as("del")))
          .localCheckpoint(true)),
      () => graft.ops.withDesc(s, "lbl-apply: mutation-input ckpts")(
        edgesNew
          .select(least(col("a_id"), col("b_id")).as("a_id"),
            greatest(col("a_id"), col("b_id")).as("b_id"))
          .distinct().localCheckpoint(true)),
      () => graft.ops.withDesc(s, "lbl-apply: mutation-input ckpts")(
        shNew.localCheckpoint(true))))
    val (usrc, newEdgeRows, newPostRows) = (ckpts(0), ckpts(1), ckpts(2))
    val touchedCk = touched // already checkpointed at derivation

    val sfx = java.util.UUID.randomUUID().toString.replace("-", "")
    val uv = s"graft_lbl_merge_$sfx"
    val ev = s"graft_lbl_edges_$sfx"
    val pv = s"graft_lbl_posts_$sfx"
    val tv = s"graft_lbl_touched_$sfx"
    usrc.createOrReplaceTempView(uv)
    newEdgeRows.createOrReplaceTempView(ev)
    newPostRows.createOrReplaceTempView(pv)
    touchedCk.createOrReplaceTempView(tv)
    try {
      // 1.+2. retract the touched docs' edges + postings (idempotent DV
      //    appends; postings are per-doc rows, so doc_id is the key)
      //    and the ONE atomic label statement (erase + remap + upsert),
      //    OVERLAPPED (round-16, guide §2.6): the three DMLs write
      //    DISJOINT tables and read only pre-checkpointed inputs, so no
      //    statement observes another's target. Replay stays convergent
      //    under ANY crash interleaving: the apply's read side excludes
      //    touched-incident rows from edges/posts by construction
      //    (survIds/anti-joins), so a replay that finds the MERGE
      //    landed but a retract not (or vice versa) derives the same
      //    plan — retract+re-add of a current doc is a fixpoint.
      graft.ops.inParallel[Unit](Seq(
        () => graft.ops.withDesc(s, "lbl-apply: retract DML") {
          s.sql(s"DELETE FROM $edges WHERE a_id IN (SELECT doc_id FROM $tv) " +
            s"OR b_id IN (SELECT doc_id FROM $tv)"); ()
        },
        () => graft.ops.withDesc(s, "lbl-apply: retract DML") {
          s.sql(s"DELETE FROM $posts WHERE doc_id IN (SELECT doc_id FROM $tv)")
          ()
        },
        () => graft.ops.withDesc(s, "lbl-apply: label MERGE") {
          s.sql(s"""MERGE INTO $labels t USING $uv u ON t.doc_id = u.doc_id
          WHEN MATCHED AND u.del THEN DELETE
          WHEN MATCHED THEN UPDATE SET comp = u.comp
          WHEN NOT MATCHED AND NOT u.del THEN
            INSERT (doc_id, comp) VALUES (u.doc_id, u.comp)"""); ()
        }))
      // 3. publish the head edges + postings + watermark together; a
      //    crash before this txn replays the slice against the
      //    already-converged labels — retract+re-add of a current doc
      //    is a fixpoint
      CdcIndex.inTxn(s) {
        s.sql(s"INSERT INTO $edges SELECT * FROM $ev")
        s.sql(s"INSERT INTO $posts SELECT * FROM $pv")
        s.sql(s"INSERT OVERWRITE $meta SELECT CAST($headV AS BIGINT), '$corpusTable'")
      }
      labelIncRefreshes.incrementAndGet()
    } finally {
      s.catalog.dropTempView(uv)
      s.catalog.dropTempView(ev)
      s.catalog.dropTempView(pv)
      s.catalog.dropTempView(tv)
      edgesNew.unpersist(blocking = false)
      shNew.unpersist(blocking = false)
    }
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
    * Crash-replay: the rebuild is createOrReplace-atomic per table
    * with the meta watermark last (a torn rebuild just rebuilds). The
    * incremental path orders [df DELETE of affected shingles — a set
    * derived from the immutable feed, replay-stable] → [label MERGE] →
    * txn[posts INSERT + df INSERT + meta]. A replay after the label
    * MERGE sees the batch's doc_ids already stored and takes the
    * rebuild guard; a replay after the df DELETE recomputes identical
    * df rows from (stored posts) ∪ (fresh shingles), and an affected
    * shingle whose df row is missing but whose postings exist has its
    * pre-apply df reconstructed exactly from the stored postings (the
    * feed's postings land only in the final txn), so the replay window
    * pays the same cap×crossings-bounded work as a live run. Every
    * window converges (spec-pinned). */
  def ensureLabelsCappedCdc(s: SparkSession, corpusTable: String,
      name: String, cap: Int = LabelDfCap): String =
    CdcIndex.withNameLock(s"label:$name") {
    CdcIndex.requireIndexName(name)
    graft.ops.ensureGraftCatalog(s)
    val labels = s"graft_cat.db.dedup_${name}_lc_labels"
    val posts = s"graft_cat.db.dedup_${name}_lc_posts"
    val dfTab = s"graft_cat.db.dedup_${name}_lc_df"
    val meta = s"graft_cat.db.dedup_${name}_lc_meta"
    def rebuild(headV: Long): String = {
      val docs = s.table(corpusTable).select(col("doc_id"), col("text"))
      graft.ops.withDesc(s, "lc-build: postings") {
        Dedup.shingles(docs, widen = true)
          .writeTo(posts)
          .tableProperty("graft.autocompact", CdcIndex.AutoCompactSpec)
          .createOrReplace()
        s.sql(s"ALTER TABLE $posts SET TBLPROPERTIES " +
          "('graft.dml.mode'='merge-on-read')")
      }
      graft.ops.withDesc(s, "lc-build: df sidecar") {
        s.table(posts).groupBy("sh").agg(count(lit(1)).as("df"))
          .writeTo(dfTab)
          .tableProperty("graft.autocompact", CdcIndex.AutoCompactSpec)
          .createOrReplace()
        s.sql(s"ALTER TABLE $dfTab SET TBLPROPERTIES " +
          "('graft.dml.mode'='merge-on-read')")
      }
      // the capped view: postings whose shingle survives the df cap —
      // every posting list entering the self-join is ≤ cap docs
      val capped = s.table(posts).join(
        s.table(dfTab).filter(col("df") <= cap).select("sh"),
        Seq("sh"), "left_semi")
      val sym = jaccardEdgesFromShingles(capped)
        .select(explode(array(
          struct(col("a_id").as("src"), col("b_id").as("dst")),
          struct(col("b_id").as("src"), col("a_id").as("dst")))).as("e"))
        .select(col("e.src").as("src"), col("e.dst").as("dst"))
      // pre-join size hint (VERDICT r13 #1): the df sidecar bounds the
      // symmetric pair count at Σ df·(df−1) over the cap-surviving
      // shingles — one aggregate over the (shingle-count-sized) sidecar,
      // so the CC materialization lays out wide BEFORE the edge build
      // instead of funneling a large graph through the 4-partition floor
      graft.ops.withDesc(s, "lc-build: cc+labels") {
        val pairBound = s.table(dfTab).filter(col("df") <= cap)
          .agg(coalesce(sum(expr("df * (df - 1)")), lit(0L))).head.getLong(0)
        val (lab, _) = Dedup.ccOverEdges(s, sym, Some(pairBound))
        docs.select(col("doc_id"))
          .join(lab.withColumnRenamed("id", "doc_id"), Seq("doc_id"), "left")
          .select(col("doc_id"), coalesce(col("comp"), col("doc_id")).as("comp"))
          .writeTo(labels)
          .tableProperty("graft.autocompact", CdcIndex.AutoCompactSpec)
          .createOrReplace()
      }
      s.sql(s"ALTER TABLE $labels SET TBLPROPERTIES " +
        "('graft.dml.mode'='merge-on-read')")
      CdcIndex.writeMeta(s, meta, headV, corpusTable)
      labelCappedBuilds.incrementAndGet()
      labels
    }
    CdcIndex.ensure(s, corpusTable, meta)(labels) { (v0, headV) =>
      if (!applyLabelsCappedInc(s, corpusTable, labels, posts, dfTab, meta,
          cap, v0, headV)) rebuild(headV)
      labels
    }(rebuild)
  }

  /** The append-slice incremental apply of the capped family. Returns
    * false when the slice is outside the incremental contract (erasure,
    * re-used ids, post-MERGE replay) — the caller then rebuilds.
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
      labels: String, posts: String, dfTab: String, meta: String, cap: Int,
      v0: Long, headV: Long): Boolean = {
    val feed = s.sql(s"SELECT * FROM $corpusTable " +
      s"VERSION AS OF 'cdf:$v0..$headV'")
    if (graft.ops.withDesc(s, "lc-apply: erasure probe")(
        feed.filter(col("_change_type") =!= "insert").limit(1).count() > 0L))
      return false // erasure slice → rebuild
    val feedTouched = graft.ops.withDesc(s, "lc-apply: touched ckpt")(
      feed.select(col("doc_id")).distinct().localCheckpoint(true))
    val stored = s.table(labels)
    if (graft.ops.withDesc(s, "lc-apply: stored probe")(
        stored.join(feedTouched, Seq("doc_id"), "left_semi")
          .limit(1).count() > 0L))
      return false // re-used id (update-shaped) or post-MERGE replay

    val head = s.table(corpusTable).select(col("doc_id"), col("text"))
    // the batch image is batch-bounded at ANY corpus scale, so an
    // unconditional keyed spread to the session's parallelism is safe
    // and probe-free (round-16: replaces widenForCompute's `.rdd`
    // partition probe, which executed the semi-join once just to ask
    // its width — ADVICE r15); the shingle derivation and the df
    // recompute that consumes it then parallelize off the cache
    val shNewFeed = Dedup.shingles(
      head.join(feedTouched, Seq("doc_id"), "left_semi")
        .repartition(s.sparkContext.defaultParallelism, col("doc_id")))
      .persist()
    // affected shingles (df changes come ONLY from the feed's new docs)
    // + their HEAD df, recomputed from the logical head postings
    // (stored ∪ fresh) — identical values on any replay
    val affected = shNewFeed.select("sh").distinct()
    val postsStored = s.table(posts)
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
      val storedCnt = s.table(s"$labels.files")
        .agg(coalesce(sum("live_rows"), lit(0L))).head.getLong(0)
      if (crossCnt * 3L > storedCnt) {
        shNewFeed.unpersist(blocking = false)
        return false
      }
    }
    val touched = graft.ops.withDesc(s, "lc-apply: touched ckpt")(
      feedTouched.select("doc_id").unionAll(crossDocs)
        .distinct().localCheckpoint(true))

    // head cap filter: stored df overridden by the recomputed rows
    val dfHead = s.table(dfTab).join(affected, Seq("sh"), "left_anti")
      .unionAll(dfNew)
    val okSh = dfHead.filter(col("df") <= cap).select("sh")
    val postsHeadCapped = postsHeadFull.join(okSh, Seq("sh"), "left_semi")

    // ---- D-phase (splits/gains among stored members of the touched
    // components): only runs when a crossing touched stored docs
    val (splitNodes, untouchedRows) =
      if (!anyCross)
        (feedTouched.limit(0)
          .select(col("doc_id"), col("doc_id").as("node")),
          stored.select(col("doc_id"), col("comp")))
      else {
        val touchedComps = stored.join(touched, Seq("doc_id"), "left_semi")
          .select(col("comp")).distinct()
        val members = stored.join(touchedComps, Seq("comp"), "left_semi")
          .select(col("doc_id"))
        // exact induced subgraph of the members over HEAD capped
        // postings (crossing docs carry their shrunk sets; unchanged
        // member-member edges recompute to the same values)
        val mPosts = postsHeadCapped
          .join(members, Seq("doc_id"), "left_semi").persist()
        val mEdges = jaccardEdgesFromShingles(mPosts)
        val msym = mEdges.select(explode(array(
            struct(col("a_id").as("src"), col("b_id").as("dst")),
            struct(col("b_id").as("src"), col("a_id").as("dst")))).as("e"))
          .select(col("e.src").as("src"), col("e.dst").as("dst"))
        // ccOverEdges output is already self-contained — no extra job
        val mlab = graft.ops.withDesc(s, "lc-apply: D-phase cc") {
          val (mlab0, _) = Dedup.ccOverEdges(s, msym)
          mlab0
        }
        mPosts.unpersist(blocking = false)
        val sn = members
          .join(mlab.withColumnRenamed("id", "doc_id")
            .withColumnRenamed("comp", "c2"), Seq("doc_id"), "left")
          .select(col("doc_id"), coalesce(col("c2"), col("doc_id")).as("node"))
        (sn, stored.join(touchedComps, Seq("comp"), "left_anti")
          .select(col("doc_id"), col("comp")))
      }
    val afterD = untouchedRows
      .unionAll(splitNodes.select(col("doc_id"), col("node").as("comp")))

    // ---- N-phase: head edges incident to the touched docs. Feed docs
    // contribute fresh capped shingles; crossing docs contribute their
    // STORED rows cap-filtered at head df (texts unchanged).
    val shTouchedCapped = shNewFeed.join(okSh, Seq("sh"), "left_semi")
      .unionAll(postsStored.join(crossDocs, Seq("doc_id"), "left_semi")
        .join(okSh, Seq("sh"), "left_semi"))
    // persisted (round-16): see the exact apply — consumed with
    // different pruned column sets, so exchange reuse cannot dedup the
    // candidate join; both frames are batch-bounded
    val cand = shTouchedCapped.as("b").join(postsHeadCapped.as("a"),
        col("a.sh") === col("b.sh") && col("a.doc_id") =!= col("b.doc_id"))
      .groupBy(col("a.doc_id").as("a_id"), col("b.doc_id").as("b_id"))
      .agg(count(lit(1)).as("inter"))
      .persist()
    val ids = cand.select(col("a_id").as("doc_id"))
      .unionAll(cand.select(col("b_id").as("doc_id"))).distinct()
    val sizes = postsHeadCapped.join(ids, Seq("doc_id"), "left_semi")
      .groupBy("doc_id").agg(count(lit(1)).as("n"))
      .persist()
    val edgesNew = cand
      .join(sizes.withColumnRenamed("doc_id", "a_id")
        .withColumnRenamed("n", "n_a"), "a_id")
      .join(sizes.withColumnRenamed("doc_id", "b_id")
        .withColumnRenamed("n", "n_b"), "b_id")
      .filter(col("inter").cast("double")
        / (col("n_a") + col("n_b") - col("inter")) >= 0.5)
      .select(col("a_id"), col("b_id"))
    // contract endpoints onto the post-D labels (members → their split
    // node, untouched docs → stored comp, feed docs → own id), min-label
    // CC on the quotient — the union-find-by-min argument
    val q = edgesNew
      .join(afterD.withColumnRenamed("doc_id", "a_id")
        .withColumnRenamed("comp", "ca"), Seq("a_id"), "left")
      .join(afterD.withColumnRenamed("doc_id", "b_id")
        .withColumnRenamed("comp", "cb"), Seq("b_id"), "left")
      .select(coalesce(col("ca"), col("a_id")).as("src"),
        coalesce(col("cb"), col("b_id")).as("dst"))
      .filter(col("src") =!= col("dst"))
    val qsym = q.select(explode(array(
        struct(col("src"), col("dst")),
        struct(col("dst").as("src"), col("src").as("dst")))).as("e"))
      .select(col("e.src").as("src"), col("e.dst").as("dst")).distinct()
    // ccOverEdges output is already self-contained — no extra job
    val qlab = graft.ops.withDesc(s, "lc-apply: N-phase cc") {
      val (qlab0, _) = Dedup.ccOverEdges(s, qsym)
      qlab0
    }
    cand.unpersist(blocking = false)
    sizes.unpersist(blocking = false)

    def viaQ(df: DataFrame): DataFrame = df
      .join(qlab.withColumnRenamed("id", "node"), Seq("node"), "left")
      .select(col("doc_id"), coalesce(col("comp"), col("node")).as("comp"))
    val splitRows = viaQ(splitNodes)
    val remapChanged = untouchedRows
      .withColumnRenamed("comp", "node").as("l")
      .join(qlab.as("qq"), col("l.node") === col("qq.id"))
      .filter(col("qq.comp") =!= col("qq.id"))
      .select(col("l.doc_id").as("doc_id"), col("qq.comp").as("comp"))
    val newRows = viaQ(head.join(feedTouched, Seq("doc_id"), "left_semi")
      .select(col("doc_id")).distinct().withColumn("node", col("doc_id")))
    // materialize every mutation input BEFORE the first mutation
    // (disjoint by construction: members of touched comps / rows of
    // untouched comps / genuinely-new feed docs) — the three
    // checkpoints are independent reads of cached inputs: overlap them
    // (round-16, guide §2.6)
    val ckpts = graft.ops.inParallel[DataFrame](Seq(
      () => graft.ops.withDesc(s, "lc-apply: mutation-input ckpts")(
        splitRows.unionAll(remapChanged).unionAll(newRows)
          .localCheckpoint(true)),
      () => graft.ops.withDesc(s, "lc-apply: mutation-input ckpts")(
        shNewFeed.localCheckpoint(true)),
      () => graft.ops.withDesc(s, "lc-apply: mutation-input ckpts")(
        affected.localCheckpoint(true))))
    val (usrc, newPostRows, affectedCk) = (ckpts(0), ckpts(1), ckpts(2))
    val dfNewCk = dfNew.filter(col("df") > 0)

    val sfx = java.util.UUID.randomUUID().toString.replace("-", "")
    val uv = s"graft_lc_merge_$sfx"
    val pv = s"graft_lc_posts_$sfx"
    val dv = s"graft_lc_df_$sfx"
    val av = s"graft_lc_aff_$sfx"
    usrc.createOrReplaceTempView(uv)
    newPostRows.createOrReplaceTempView(pv)
    dfNewCk.createOrReplaceTempView(dv)
    affectedCk.createOrReplaceTempView(av)
    try {
      // 1.+2. retire the affected shingles' stored df rows (idempotent;
      //    the affected set derives from the immutable feed) and the
      //    ONE atomic label statement, OVERLAPPED (round-16, guide
      //    §2.6): disjoint target tables, pre-checkpointed inputs.
      //    Replay stays on the documented paths under any interleaving:
      //    MERGE-landed-first replays into the stored-probe rebuild
      //    guard; DELETE-landed-first replays into the df
      //    reconstruction window.
      graft.ops.inParallel[Unit](Seq(
        () => graft.ops.withDesc(s, "lc-apply: retract DML") {
          s.sql(s"DELETE FROM $dfTab WHERE sh IN (SELECT sh FROM $av)"); ()
        },
        () => graft.ops.withDesc(s, "lc-apply: label MERGE") {
          s.sql(s"""MERGE INTO $labels t USING $uv u ON t.doc_id = u.doc_id
          WHEN MATCHED THEN UPDATE SET comp = u.comp
          WHEN NOT MATCHED THEN INSERT (doc_id, comp) VALUES (u.doc_id, u.comp)""")
          ()
        }))
      // 3. postings + df + watermark in one cross-table txn (only the
      //    feed's fresh rows land — crossing docs' postings are already
      //    stored and unchanged)
      CdcIndex.inTxn(s) {
        s.sql(s"INSERT INTO $posts SELECT * FROM $pv")
        s.sql(s"INSERT INTO $dfTab SELECT * FROM $dv")
        s.sql(s"INSERT OVERWRITE $meta SELECT CAST($headV AS BIGINT), '$corpusTable'")
      }
      labelCappedIncRefreshes.incrementAndGet()
      true
    } finally {
      s.catalog.dropTempView(uv)
      s.catalog.dropTempView(pv)
      s.catalog.dropTempView(dv)
      s.catalog.dropTempView(av)
      shNewFeed.unpersist(blocking = false)
    }
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
        val arts = if (old == "exact")
          Seq("lb_labels", "lb_edges", "lb_posts", "lb_meta")
        else Seq("lc_labels", "lc_posts", "lc_df", "lc_meta")
        arts.foreach(x =>
          s.sql(s"DROP TABLE IF EXISTS graft_cat.db.dedup_${name}_$x"))
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
