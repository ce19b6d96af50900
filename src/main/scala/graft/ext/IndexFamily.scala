package graft.ext

import org.apache.spark.sql.SparkSession

/** One persisted-index family — THE place its tables are named. An index
  * `name` of the family owns `graft_cat.db.<prefix>_<name><suffix>_<part>`
  * for each part: `data` (the table `CALL system.indexes()` reports and
  * `ensure` returns), the other tables in `owns`, and the watermark
  * `meta`. `ensure` is the family's version-keyed maintenance over a
  * catalog corpus (`(session, corpusTable, name) => data table`), whose
  * corpus is a vectors table when `vectors`, else a documents table.
  *
  * Every family-aware caller goes through [[IndexFamily.All]]: the
  * inventory classifier ([[IndexFamily.candidates]]), the base-family
  * name rejections (`CdcIndex.requireBaseFamilyName`), ext141's
  * nine-family erasure audit, the entries' and tools' index drops and
  * the completeness spec — a family added here is classified,
  * name-protected, maintained and dropped everywhere at once. */
final case class IndexFamily(id: String, prefix: String, suffix: String,
    data: String, owns: Seq[String], vectors: Boolean,
    ensure: (SparkSession, String, String) => String) {
  def table(name: String, part: String): String =
    s"graft_cat.db.${prefix}_$name${suffix}_$part"
  def meta(name: String): String = table(name, "meta")
  /** Every table an index of this family owns, its meta last. */
  def tables(name: String): Seq[String] =
    (data +: owns :+ "meta").map(table(name, _))
  def drop(s: SparkSession, name: String): Unit =
    tables(name).foreach(t => s.sql(s"DROP TABLE IF EXISTS $t"))
}

object IndexFamily {
  val Grams = IndexFamily("exact-grams", "dedup", "_gr", "grams", Nil,
    vectors = false, DedupIndex.ensureGramsCdc)
  val ExactLabels = IndexFamily("component-labels", "dedup", "_lb", "labels",
    Seq("edges", "posts"), vectors = false, DedupIndex.ensureLabelsCdc)
  val CappedLabels = IndexFamily("component-labels-capped", "dedup", "_lc",
    "labels", Seq("df", "posts"), vectors = false,
    DedupIndex.ensureLabelsCappedCdc(_, _, _))
  val Sigs = IndexFamily("minhash-signatures", "dedup", "", "sigs", Nil,
    vectors = false, DedupIndex.ensureCdc(_, _, _).sigs)
  val Postings = IndexFamily("bm25-postings", "search", "", "postings",
    Seq("docs"), vectors = false, SearchIndex.ensureCdc(_, _, _).postings)
  val Pq = IndexFamily("pq-codes", "ann", "_pq", "codes", Seq("cents"),
    vectors = true, AnnIndex.ensurePqCdc(_, _, _).codes)
  val Sq = IndexFamily("sq-codes", "ann", "_sq", "codes", Nil,
    vectors = true, AnnIndex.ensureSqCdc)
  val Graph = IndexFamily("nsw-edges", "ann", "_gr", "edges", Nil,
    vectors = true, AnnIndex.ensureGraphCdc)
  val Ivf = IndexFamily("ivf-cells", "ann", "", "cells", Seq("cents"),
    vectors = true, AnnIndex.ensureCdc(_, _, _).cells)

  /** Every persisted-index family. Within a prefix, suffixed rows MUST
    * precede the unsuffixed fallback: that is [[candidates]]' priority. */
  val All: Seq[IndexFamily] =
    Seq(Grams, ExactLabels, CappedLabels, Sigs, Postings, Pq, Sq, Graph, Ivf)

  /** The families whose meta an (unqualified) catalog table named
    * `table` can be, in priority order, each with its index name and its
    * unqualified data table. The name strips exactly ONE suffix — the
    * matched family's — never a chain: a PQ index named 'a_sq' has meta
    * `ann_a_sq_pq_meta` and is 'a_sq', not 'a'. */
  def candidates(table: String): Seq[(IndexFamily, String, String)] =
    All.flatMap { f =>
      val base = table.stripPrefix(s"${f.prefix}_").stripSuffix("_meta")
      val name = base.stripSuffix(f.suffix)
      if (table != s"${f.prefix}_${base}_meta" || base.isEmpty ||
          !base.endsWith(f.suffix)) None
      else Some((f, name, f.table(name, f.data).stripPrefix("graft_cat.db.")))
    }

  /** The family-choice record of `DedupIndex.ensureLabels`: named outside
    * the `_meta` convention (a decision record, not a watermark), so
    * [[candidates]] never classifies it. */
  def choiceTable(name: String): String =
    s"graft_cat.db.dedup_${name}_lu_choice"
}
