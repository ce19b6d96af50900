package graft.ext

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import IndexFamily.Postings

/** PERSISTED lexical index: the inverted postings of the BM25 demo
  * (ext70) stored as `graft_cat` catalog tables with incremental append
  * maintenance — the third persisted-index family alongside [[AnnIndex]]
  * (vectors) and [[DedupIndex]] (near-dup signatures), closing the
  * round-9 north-star theme for the retrieval path too.
  *
  * Like MinHash signatures (and unlike IVF centroids), postings rows
  * and document lengths are pure PER-DOCUMENT functions, so incremental
  * maintenance is EXACT: tokenizing only the delta and appending yields
  * byte-identical state to a full rebuild. The corpus-level BM25 inputs
  * (df, n_docs, sum_dl) are NOT stored — they are cheap aggregates over
  * the stored tables computed at probe time, so they can never go stale.
  *
  * Layout (per index name):
  *   - `graft_cat.db.search_<name>_postings` (doc_id BIGINT, tok STRING,
  *     tf BIGINT) — the inverted index;
  *   - `graft_cat.db.search_<name>_docs` (doc_id BIGINT, dl BIGINT) —
  *     document lengths (every doc, including token-less ones: BM25's
  *     N and avgdl count them);
  *   - `graft_cat.db.search_<name>_meta` — the corpus watermark
  *     ([[DedupIndex]]'s discipline: coverage cannot be derived from
  *     postings — empty docs have no postings rows): `(n_docs, max_id)`
  *     from a plain DataFrame, `(version, corpus)` from [[ensureCdc]].
  *
  * The refresh publishes postings append + docs append + watermark in
  * ONE THREE-TABLE transaction (SegTxn): a torn refresh can never leave
  * dl rows without their postings (which would silently deflate tf) or
  * advance the watermark past unindexed documents. A full rebuild
  * writes meta LAST so a torn build self-heals into a rebuild.
  *
  * At 100 TB: the tokenize+explode pass over raw text is the dominant
  * cost of every lexical query; storing postings moves it to ingest,
  * and the per-query cost becomes a probe of the query terms' postings
  * (plus two metadata-scale aggregates). The postings table is
  * term-clustered (`graft.sort = tok:8`, see [[writePostings]]), so the
  * term filter also prunes whole segments via the string-prefix zone
  * maps — probe IO ∝ the query terms' segments, not the postings table.
  */
object SearchIndex {

  val builds = new java.util.concurrent.atomic.AtomicLong(0)
  val refreshes = new java.util.concurrent.atomic.AtomicLong(0)

  final case class Tables(postings: String, docs: String, meta: String)

  /** Token frame shared with ext70: lowered, whitespace-split, empties
    * dropped. */
  private val toksExpr = "filter(split(lower(text), ' '), t -> t <> '')"

  /** The postings table declares `graft.sort = tok:8`: every write
    * (build CTAS and each incremental/CDC INSERT) range-distributes and
    * sorts by term, so segments carry DISJOINT token ranges and a term
    * probe prunes via the string-prefix zone maps (q156's machinery).
    * At 100 TB this is what makes the probe cost ∝ query-term postings
    * instead of a full postings scan — the same role tok-partitioning
    * plays in a production inverted index, without a partition column.
    * Spec-pinned: the BM25 probe plans a strict subset of segments. */
  private def writePostings(tf: DataFrame, t: Tables): Unit =
    tf.writeTo(t.postings)
      .tableProperty(graft.sources.SegSort.PropKey, "tok:8")
      // sorted + autocompact: clustering decay / DV growth triggers the
      // catalog's RE-SORT compaction (not a byte-merge), so postings
      // segments stay term-disjoint across maintenance (spec-pinned)
      .tableProperty("graft.autocompact", CdcIndex.AutoCompactSpec)
      .createOrReplace()

  /** Per-document index rows — (postings, dl) — bit-identical to
    * ext70's in-query tf/dl construction. */
  private[graft] def postingsOf(docs: DataFrame): (DataFrame, DataFrame) = {
    val toks = docs.select(col("doc_id"), expr(toksExpr).as("toks"))
    val dl = toks.select(col("doc_id"), size(col("toks")).cast("long").as("dl"))
    val tf = toks.select(col("doc_id"), explode(col("toks")).as("tok"))
      .groupBy("doc_id", "tok").agg(count(lit(1)).as("tf"))
    (tf, dl)
  }

  /** Ensure the named index covers `docs` (doc_id BIGINT, text STRING).
    * Routed by [[CdcIndex.ensureFrame]]: a pure scan of a catalog table
    * takes [[ensureCdc]]'s lifecycle; any other frame the append
    * watermark (`(n_docs, max_id)` in meta): covered → no-op;
    * append-only growth → tokenize ONLY the delta, publish all three
    * tables in one txn; anything else → rebuild. */
  def ensure(s: SparkSession, docs: DataFrame, name: String): Tables =
    CdcIndex.withNameLock(s"search:$name") {
      CdcIndex.requireIndexName(name)
      CdcIndex.ensureFrame(s, docs, postingsKeyed(name), refreshes)
      tables(name)
    }

  // ------------------------------------------------- CDC maintenance

  /** CDC-applied refreshes — specs pin "deletes were maintained without
    * a rebuild" through this. */
  val cdcRefreshes = new java.util.concurrent.atomic.AtomicLong(0)

  /** Version-keyed maintenance over a CATALOG-table corpus through
    * [[CdcIndex.ensureKeyed]], keyed by `doc_id` on BOTH artifact tables:
    * one change-feed slice retracts the changed docs' postings AND dl
    * rows, re-tokenizes only the touched head images, and advances the
    * watermark. Postings and dl are per-document pure, and the
    * corpus-level BM25 inputs (df, n_docs, sum_dl) are derived at probe
    * time from the stored tables — so CDC maintenance is EXACT and the
    * probe-time stats can never go stale (spec-pinned: maintained state
    * equals a rebuild over the head). The two inserts land in the same
    * txn as the watermark, so dl rows never publish without their
    * postings. Meta: `(version BIGINT, corpus STRING)`. */
  def ensureCdc(s: SparkSession, corpusTable: String, name: String): Tables =
    CdcIndex.withNameLock(s"search:$name") {
      CdcIndex.requireIndexName(name)
      CdcIndex.ensureKeyed(s, corpusTable, postingsKeyed(name))
      tables(name)
    }

  private def tables(name: String): Tables = Tables(
    Postings.table(name, "postings"), Postings.table(name, "docs"),
    Postings.meta(name))

  /** The postings family as a [[CdcIndex.Keyed]] (keyed by `doc_id`). */
  private[graft] def postingsKeyed(name: String): CdcIndex.Keyed = {
    val t = tables(name)
    CdcIndex.Keyed(t.meta, "doc_id", "doc_id", Seq("doc_id", "text"),
      Seq(t.postings -> (postingsOf(_)._1), t.docs -> (postingsOf(_)._2)),
      writeAll(_, t), cdcRefreshes)
  }

  private def writeAll(docs: DataFrame, t: Tables): Unit = {
    val (tf, dl) = postingsOf(docs)
    writePostings(tf, t)
    CdcIndex.createArtifact(dl, t.docs)
    builds.incrementAndGet()
  }

}
