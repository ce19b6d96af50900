package graft.ext

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._

/** Watermark-keyed index maintenance: one meta record per index, one
  * rebuild order, two corpus kinds.
  *
  * A CATALOG-table corpus is keyed on its committed version:
  * [[ensure]] compares the `(version, corpus)` meta to the table's head
  * version and dispatches to no-op / feed apply / full rebuild.
  * [[ensureKeyed]] is the whole lifecycle of the seven KEYED families
  * (minhash sigs, exact grams, BM25 postings, IVF cells, PQ codes, SQ
  * codes, NSW graph edges): each supplies only its key, derives and
  * full build as a [[Keyed]]. The two component-label families run over
  * [[ensure]] with one shared relabel path of their own
  * (`DedupIndex.publishLabels` and its helpers) — a label is a global
  * property, not a per-key one.
  *
  * Any OTHER corpus (a derived frame, raw parquet) has no version: its
  * meta is `(n_docs, max_id)`, kept by [[ensureAppendMeta]]. The five
  * DataFrame entry points (`DedupIndex.ensure`, `SearchIndex.ensure`,
  * `AnnIndex.ensure`/`ensurePq`/`ensureSq`) all go through
  * [[ensureFrame]], which sends a pure catalog scan ([[sourceTable]])
  * to [[ensureKeyed]] and any other frame to [[ensureAppendMeta]]. Both
  * lifecycles write the SAME meta table, each in its own layout, so a
  * publish on either path invalidates the other's watermark: a meta of
  * the other layout reads as absent and rebuilds once. A meta counts
  * only while every table the index owns ([[Keyed.tables]]) exists, and
  * every rebuild drops it BEFORE the family's build and writes it LAST,
  * so a crash inside a build always rebuilds.
  *
  * The feed-apply callback may throw `UnsupportedOperationException`
  * when the change feed refuses a slice it cannot attribute row-exactly
  * (e.g. a copy-on-write rewrite in history) — the dispatch then falls
  * back to the full rebuild, the documented degradation path.
  */
private[graft] object CdcIndex {

  /** `graft.autocompact` spec every persisted index artifact declares
    * (4 MiB target : 4 small files : 20% DV ratio): CDC maintenance
    * takes deletes as merge-on-read DV appends, so without a compaction
    * policy an index under churn pays ever-growing DV subtraction on
    * every probe. With the property, the catalog's write-time trigger
    * byte-merges small append segments and materializes DVs past the
    * ratio — and a `graft.sort`ed postings table re-sorts instead of
    * byte-merging, so term clustering survives the compaction. */
  val AutoCompactSpec = "4194304:4:20"

  /** Shared ensure*() name validation: catalog-safe charset. */
  def requireIndexName(name: String): Unit =
    require(name.matches("[a-zA-Z0-9_]+"), s"bad index name: $name")

  /** Per-name lock striping for ensure* entry points (round-15, VERDICT
    * r14 #5): builds of DIFFERENT indexes in one driver proceed in
    * parallel; two ensures of the SAME index serialize (idempotence of
    * the watermark dispatch needs at-most-one in flight per artifact
    * set). Monitors are per-thread reentrant, so an entry point calling
    * a sibling under the SAME key (ensureLabels → ensureLabelsCdc)
    * nests safely. The map only ever grows by distinct index names a
    * driver actually touches — bounded by the catalog, not the data. */
  private val nameLocks =
    new java.util.concurrent.ConcurrentHashMap[String, Object]()
  def withNameLock[T](key: String)(body: => T): T =
    nameLocks.computeIfAbsent(key, _ => new Object).synchronized(body)

  /** Extra validation for the BASE-family entry points of a prefix that
    * owns sub-families (minhash under `dedup`, IVF under `ann`): a base
    * index named with one of the prefix's sub-family suffixes — read
    * from the family registry, [[IndexFamily.All]] — would make its meta
    * table (`dedup_x_gr_meta`, `ann_x_pq_meta`, …) the SAME name a
    * sub-family index uses, so the two could clobber each other and
    * `CALL system.indexes()` could not classify the row. Sub-family
    * entry points (ensurePq/ensureSq/ensureGraphCdc/ensureLabelsCdc/
    * ensureGramsCdc) append their own suffix and stay collision-free
    * for ANY charset-valid name — a SQ index named `spec_sq` is legal
    * and classifies correctly — so they use the plain
    * [[requireIndexName]]. */
  def requireBaseFamilyName(name: String, prefix: String): Unit = {
    requireIndexName(name)
    val reserved = IndexFamily.All
      .collect { case f if f.prefix == prefix && f.suffix.nonEmpty => f.suffix }
    require(!reserved.exists(name.endsWith),
      s"index name '$name' ends with a reserved $prefix sub-family " +
        s"suffix (${reserved.mkString(", ")}) — its tables would collide " +
        "with that sub-family's naming and break the system.indexes() " +
        "inventory classification")
  }

  /** Head version of a catalog table (one manifest read). */
  def headVersion(s: SparkSession, table: String): Long =
    graft.ops.withDesc(s, "cdc: watermark")(
      s.table(s"$table.versions").agg(max(col("v"))).head.getLong(0))

  /** (version, corpus) from one meta read, or None when the meta is
    * absent, empty, not exactly the `(version BIGINT, corpus STRING)`
    * layout — a legacy meta, or the DataFrame path's `(n_docs, max_id)`,
    * is unverifiable here, and [[ensure]] rebuilds it once, which
    * self-migrates it — or when one of the `owns` tables is missing. */
  private def storedMeta(s: SparkSession, meta: String, owns: Seq[String])
      : Option[(Long, String)] =
    graft.ops.withDesc(s, "cdc: watermark")(
      metaRow(s, meta, owns, "version", "corpus"))
      .map(r => (r.getLong(0), r.getString(1)))

  /** The one row of `meta` when its columns are exactly `layout` and
    * every table in `owns` exists (schema checks, no read); None when
    * it is absent, empty, of any other layout, or its index is torn. */
  private def metaRow(s: SparkSession, meta: String, owns: Seq[String],
      layout: String*): Option[Row] =
    try {
      val df = s.table(meta)
      if (df.schema.fieldNames.toSeq != layout || !owns.forall(exists(s, _)))
        None
      else Some(df.head())
    } catch {
      case _: org.apache.spark.sql.AnalysisException => None
      case _: NoSuchElementException => None
    }

  /** Dispatch: covered → no-op, stale → apply (rebuild on feed refusal),
    * absent → rebuild. Returns whatever the branches return. The meta
    * is read first (it counts only while every `owns` table exists);
    * then ONE aggregate over `<corpusTable>.versions` gives both the
    * head version and the retention count the stale branch needs.
    *
    * The watermark is a version NUMBER, meaningful only against the
    * table it was recorded for — so the meta also records the corpus
    * IDENT, and a call naming a DIFFERENT table rebuilds (re-binding
    * the index to the requested corpus) instead of silently no-opping
    * or grafting another table's feed slice onto this index. */
  def ensure[T](s: SparkSession, corpusTable: String, meta: String,
      owns: Seq[String] = Nil)(noOp: => T)(apply: (Long, Long) => T)(
      rebuild: Long => T): T =
    storedMeta(s, meta, owns).filter(_._2 == corpusTable) match {
      case Some((v0, _)) =>
        val r = graft.ops.withDesc(s, "cdc: watermark")(
          s.table(s"$corpusTable.versions")
            .agg(max(col("v")), count(when(col("v") >= v0, 1))).head)
        val headV = r.getLong(0)
        // retention guard: `expire_versions` may have dropped commits
        // INSIDE (v0, headV] — the change feed then refuses the range
        // with IllegalArgumentException (NOT the feed-refusal
        // UnsupportedOperationException), which would wedge maintenance
        // permanently: same watermark, same failure, every call, until
        // someone drops the meta by hand. Detect the gap from the
        // retained-version metadata (manifest arithmetic, no data read)
        // and take the documented degradation path instead — a full
        // rebuild, which also re-binds the watermark above the horizon.
        // The feed resolves `at(v0)` too (the from-version snapshot is
        // the delta's base), so v0 itself must still be retained — an
        // expiry that kept exactly (v0, headV] passes a (v0, headV]
        // count but still throws IAE on the read. Count [v0, headV].
        if (v0 >= headV) noOp
        else if (r.getLong(1) < headV - v0 + 1) rebuild(headV)
        else try apply(v0, headV)
        catch {
          case _: UnsupportedOperationException => rebuild(headV)
        }
      case None => rebuild(headVersion(s, corpusTable))
    }

  /** A KEYED index family: every artifact row belongs to exactly one
    * key, and the rows of a key are a pure function of the head images
    * that carry that key (plus, at most, stored state that only a
    * rebuild changes — the IVF/PQ quantizers). That is what lets
    * [[ensureKeyed]] maintain it from the change feed by retracting and
    * re-deriving touched keys only.
    *
    * @param meta      the watermark table: `(version, corpus)` over a
    *                  catalog table, `(n_docs, max_id)` over a DataFrame
    * @param key       the retraction column every artifact table carries
    * @param keyOf     SQL expression computing `key` from a corpus row
    *                  (the feed slice carries full rows, so a deleted row
    *                  still exposes its key)
    * @param head      corpus columns the derives and the build read
    * @param artifacts each artifact table with the derive of its rows
    *                  from head images
    * @param build     the family's full build over the head projection
    *                  (it counts its own builds)
    * @param refreshes the family's CDC-apply counter
    * @param models    tables only a build writes that the derives read
    *                  (the IVF centroids, the PQ codebooks) */
  final case class Keyed(meta: String, key: String, keyOf: String,
      head: Seq[String], artifacts: Seq[(String, DataFrame => DataFrame)],
      build: DataFrame => Unit,
      refreshes: java.util.concurrent.atomic.AtomicLong,
      models: Seq[String] = Nil) {
    /** Every table the index owns besides its meta: the meta counts only
      * while all of them exist. */
    def tables: Seq[String] = artifacts.map(_._1) ++ models
  }

  /** The one route of the five DataFrame entry points: a pure scan of a
    * catalog table ([[sourceTable]]) takes the version-keyed lifecycle
    * ([[ensureKeyed]]), whose watermark also sees the count+max-preserving
    * in-place edits an append watermark cannot; any other frame takes
    * [[ensureAppendMeta]], its deltas counted on `appends`. */
  def ensureFrame(s: SparkSession, corpus: DataFrame, f: Keyed,
      appends: java.util.concurrent.atomic.AtomicLong): Unit = {
    graft.ops.ensureGraftCatalog(s)
    sourceTable(s, corpus) match {
      case Some(t) => ensureKeyed(s, t, f)
      case None => ensureAppendMeta(s, corpus, f.copy(refreshes = appends))
    }
  }

  /** Version-keyed CDC maintenance of a [[Keyed]] family over a
    * CATALOG-table corpus, dispatched by [[ensure]]:
    *
    *   - apply: the DISTINCT keys of the `cdf:v0..head` slice become a
    *     touched-key view; every artifact table retracts those keys
    *     (DELETE — a deletion-vector append on the merge-on-read
    *     artifacts, cost ∝ changes); the touched keys' surviving head
    *     images are re-derived; ONE cross-table txn ([[inTxn]]) lands
    *     every insert together with the `(version, corpus)` advance;
    *   - rebuild ([[rebuild]]): the family's full build, `merge-on-read`
    *     on every artifact table (retractions must be DV appends, not
    *     segment rewrites).
    *
    * Crash ordering: the retraction publishes immediately (row-level
    * ops never stage into [[graft.sources.SegTxn]]), the inserts and the
    * watermark advance publish atomically. A crash between the two
    * leaves meta at the old version, and the re-run replays the SAME
    * feed slice: the DELETE is a no-op on already-retracted keys and the
    * txn lands re-derive + advance together — convergent without
    * exactly-once. A crash inside a rebuild leaves no meta, so the next
    * call rebuilds. */
  def ensureKeyed(s: SparkSession, corpusTable: String, f: Keyed): Unit = {
    graft.ops.ensureGraftCatalog(s)
    ensure(s, corpusTable, f.meta, f.tables)(()) { (v0, headV) =>
      val tv = s"graft_cdc_touched_${uid()}"
      s.sql(s"SELECT DISTINCT ${f.keyOf} AS ${f.key} FROM $corpusTable " +
          s"VERSION AS OF 'cdf:$v0..$headV'")
        .createOrReplaceTempView(tv)
      try {
        graft.ops.withDesc(s, "cdc: retract") {
          f.artifacts.foreach { case (t, _) =>
            s.sql(s"DELETE FROM $t WHERE ${f.key} IN " +
              s"(SELECT ${f.key} FROM $tv)")
          }
        }
        val images = s.table(corpusTable).select(f.head.map(col): _*)
          .join(s.table(tv).select(col(f.key).as("cdc_touched_key")),
            expr(f.keyOf) === col("cdc_touched_key"), "left_semi")
        publish(s, f, images, s"CAST($headV AS BIGINT), '$corpusTable'")
      } finally s.catalog.dropTempView(tv)
    } { headV =>
      graft.ops.withDesc(s, "cdc: rebuild") {
        rebuild(s, f, s.table(corpusTable).select(f.head.map(col): _*),
          VersionLayout, s"CAST($headV AS BIGINT), '$corpusTable'") {
          f.artifacts.foreach { case (t, _) => mergeOnRead(s, t) }
        }
      }
    }
  }

  /** The append watermark of a DataFrame corpus: `f.meta` holds the
    * `(n_docs, max_id)` the index covers (the artifacts cannot show it:
    * a doc without shingles or tokens leaves no row). One count/max
    * aggregate over `corpus` then decides:
    *   - covered (same count, same max) → no-op;
    *   - the stored rows are exactly the prefix `key <= max_id` and the
    *     corpus grew past it → the rows above `max_id` are derived and
    *     published with the advanced meta ([[publish]]; counted on
    *     `f.refreshes`);
    *   - anything else (a delete, a shrink, an edit that moves the
    *     count, no usable meta) → [[rebuild]].
    * An in-place edit that keeps count and max is invisible here — which
    * is why [[ensureFrame]] never sends a pure catalog scan this way. */
  def ensureAppendMeta(s: SparkSession, corpus: DataFrame, f: Keyed): Unit = {
    val stored = metaRow(s, f.meta, f.tables, "n_docs", "max_id")
      .map(r => (r.getLong(0), r.getLong(1))).filter(_._1 > 0)
    val k = col(f.key)
    val max0 = stored.fold(-1L)(_._2)
    val r = corpus.agg(count(lit(1)), max(k), count(when(k <= max0, 1))).head
    val (n, mx) = (r.getLong(0), if (r.isNullAt(1)) -1L else r.getLong(1))
    val row = s"CAST($n AS BIGINT), CAST($mx AS BIGINT)"
    stored match {
      case Some(w) if w == ((n, mx)) => ()
      case Some((n0, _)) if mx > max0 && r.getLong(2) == n0 =>
        publish(s, f, corpus.filter(k > max0), row)
      case _ => rebuild(s, f, corpus, "n_docs BIGINT, max_id BIGINT", row)()
    }
  }

  private final val VersionLayout = "version BIGINT, corpus STRING"

  /** The one rebuild order of both lifecycles: drop the meta, run the
    * family's build over `rows`, then `after`, and write the meta (one
    * `row` of `layout`) LAST — a crash anywhere before the last step
    * leaves no meta, so the next call rebuilds instead of trusting a
    * watermark the artifacts no longer match. */
  private def rebuild(s: SparkSession, f: Keyed, rows: DataFrame,
      layout: String, row: String)(after: => Unit = ()): Unit = {
    s.sql(s"DROP TABLE IF EXISTS ${f.meta}")
    f.build(rows)
    after
    replaceMeta(s, f.meta, layout, row)
  }

  /** The publish that ends every incremental refresh of a [[Keyed]]
    * family: each artifact's derive over `rows` is inserted, and the
    * meta overwritten with the `watermark` row, in ONE cross-table txn
    * ([[inTxn]]), so "rows derived" and "watermark advanced" never
    * diverge durably. */
  private def publish(s: SparkSession, f: Keyed, rows: DataFrame,
      watermark: String): Unit = {
    val id = uid()
    val views = f.artifacts.indices.map(i => s"graft_cdc_derived_${id}_$i")
    f.artifacts.zip(views).foreach { case ((_, derive), v) =>
      derive(rows).createOrReplaceTempView(v)
    }
    try inTxn(s) {
      graft.ops.withDesc(s, "cdc: derive+insert") {
        f.artifacts.zip(views).foreach { case ((t, _), v) =>
          s.sql(s"INSERT INTO $t SELECT * FROM $v")
        }
      }
      s.sql(s"INSERT OVERWRITE ${f.meta} SELECT $watermark")
    } finally views.foreach(s.catalog.dropTempView)
    f.refreshes.incrementAndGet()
  }

  private def uid(): String =
    java.util.UUID.randomUUID().toString.replace("-", "")

  /** True when `table` resolves (schema only, no read). */
  def exists(s: SparkSession, table: String): Boolean =
    try { s.table(table).schema; true }
    catch { case _: org.apache.spark.sql.AnalysisException => false }

  /** Declare `table`'s row-level DML merge-on-read: CDC retractions then
    * land as deletion-vector appends, not segment rewrites. */
  def mergeOnRead(s: SparkSession, table: String): Unit =
    s.sql(s"ALTER TABLE $table SET TBLPROPERTIES " +
      "('graft.dml.mode'='merge-on-read')")

  /** (Re)create a `(version, corpus)` meta at `version` — the LAST step
    * of a label rebuild or a seed clone, so a crash before it leaves the
    * meta absent or stale and the next ensure rebuilds. */
  def writeMeta(s: SparkSession, meta: String, version: Long,
      corpusTable: String): Unit =
    replaceMeta(s, meta, VersionLayout,
      s"CAST($version AS BIGINT), '$corpusTable'")

  private def replaceMeta(s: SparkSession, meta: String, schema: String,
      row: String): Unit = {
    s.sql(s"DROP TABLE IF EXISTS $meta")
    s.sql(s"CREATE TABLE $meta ($schema)")
    s.sql(s"INSERT INTO $meta SELECT $row")
  }

  /** Create-or-replace an index artifact from `df`, declaring the
    * [[AutoCompactSpec]] compaction policy. */
  def createArtifact(df: DataFrame, table: String): Unit =
    df.writeTo(table)
      .tableProperty("graft.autocompact", AutoCompactSpec)
      .createOrReplace()

  /** The catalog table `df` is a PURE scan of — optional subquery
    * aliases / bare-attribute projections over one head-version
    * `graft_cat` DataSourceV2Relation whose `.versions` log resolves —
    * or None for anything else (filters, computed columns, joins, time
    * travel, branches, non-catalog sources). [[ensureFrame]] hands such
    * a corpus to [[ensureKeyed]]. Plan and schema inspection only, no
    * read. */
  def sourceTable(s: SparkSession, df: DataFrame): Option[String] = {
    import org.apache.spark.sql.catalyst.plans.logical.{LogicalPlan, Project, SubqueryAlias}
    import org.apache.spark.sql.catalyst.expressions.AttributeReference
    import org.apache.spark.sql.execution.datasources.v2.DataSourceV2Relation
    @annotation.tailrec
    def strip(p: LogicalPlan): Option[DataSourceV2Relation] = p match {
      case SubqueryAlias(_, c) => strip(c)
      case Project(es, c) if es.forall(_.isInstanceOf[AttributeReference]) =>
        strip(c)
      case r: DataSourceV2Relation => Some(r)
      case _ => None
    }
    strip(df.queryExecution.analyzed).flatMap { r =>
      (r.catalog, r.identifier) match {
        case (Some(cat), Some(id))
            if cat.name == "graft_cat" && r.timeTravelSpec.isEmpty =>
          Some((cat.name +: id.namespace :+ id.name).mkString("."))
            .filter(t => exists(s, s"$t.versions"))
        case _ => None
      }
    }
  }

  /** The atomic publish every CDC refresh ends with: one gated
    * cross-table transaction ([[graft.ops.inTxn]]) whose jobs carry the
    * `cdc: txn publish` label. */
  def inTxn(s: SparkSession)(body: => Unit): Unit =
    graft.ops.inTxn(s, Some("cdc: txn publish"))(body)
}
