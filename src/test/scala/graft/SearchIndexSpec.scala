package graft

import org.apache.spark.sql.functions._

/** The persisted lexical postings index ([[graft.ext.SearchIndex]]):
  * build-once amortization, tokenization-free probe plans, and the
  * exact incremental-maintenance property (postings and dl are per-doc
  * functions, so refresh ≡ rebuild byte-for-byte).
  */
class SearchIndexSpec extends SparkTestBase {

  import graft.ext.SearchIndex

  private val d = "/root/testdata/sf0.001"

  private def docs =
    spark.read.parquet(s"$d/documents.parquet").select("doc_id", "text")

  test("stored postings answer BM25 identically to ext70; probe tokenizes nothing") {
    ops.configure(spark)
    ops.ensureGraftCatalog(spark)
    val key = "docs_" + d.replaceAll("[^a-zA-Z0-9]", "_")
    for (suffix <- Seq("postings", "docs", "meta"))
      spark.sql(s"DROP TABLE IF EXISTS graft_cat.db.search_${key}_$suffix")
    val b0 = SearchIndex.builds.get()

    val r1 = ext.Search.persistedBm25TopK(spark, d)
    val rows1 = r1.collect()
    assert(rows1.nonEmpty)
    assert(SearchIndex.builds.get() === b0 + 1)

    // identical scores to the in-query construction
    val inQuery = ext.Search.bm25TopK(spark, d).collect()
    assert(rows1.map(_.toSeq).toSeq === inQuery.map(_.toSeq).toSeq,
      "persisted-postings BM25 diverged from the in-query scores")

    // second run: no rebuild/refresh; the plan reads stored postings and
    // contains no tokenization (explode over split text)
    val rf0 = SearchIndex.refreshes.get()
    val r2 = ext.Search.persistedBm25TopK(spark, d)
    assert(r2.collect().map(_.toSeq).toSeq === rows1.map(_.toSeq).toSeq)
    assert(SearchIndex.builds.get() === b0 + 1, "second run re-built the index")
    assert(SearchIndex.refreshes.get() === rf0)
    val plan = r2.queryExecution.executedPlan.toString
      .split("== Initial Plan ==").head
    assert(!plan.contains("explode"),
      "probe plan contains a tokenization stage:\n" + plan)
    assert(plan.contains(s"search_${key}_postings"),
      "probe plan does not scan the persisted postings:\n" + plan)
  }

  test("append-only growth tokenizes only the delta; incremental == rebuild") {
    ops.configure(spark)
    ops.ensureGraftCatalog(spark)
    for (suffix <- Seq("postings", "docs", "meta"))
      spark.sql(s"DROP TABLE IF EXISTS graft_cat.db.search_spec_six_$suffix")
    val b0 = SearchIndex.builds.get()
    val rf0 = SearchIndex.refreshes.get()

    val t = SearchIndex.ensure(spark, docs.filter(col("doc_id") < 400), "spec_six")
    assert(SearchIndex.builds.get() === b0 + 1)

    // covered: no-op
    SearchIndex.ensure(spark, docs.filter(col("doc_id") < 400), "spec_six")
    assert(SearchIndex.builds.get() === b0 + 1)
    assert(SearchIndex.refreshes.get() === rf0)

    // append: the three tables advance atomically and the result equals
    // a from-scratch tokenization of the full corpus
    SearchIndex.ensure(spark, docs, "spec_six")
    assert(SearchIndex.builds.get() === b0 + 1, "append triggered a full rebuild")
    assert(SearchIndex.refreshes.get() === rf0 + 1)
    val (tfFresh, dlFresh) = SearchIndex.postingsOf(docs)
    assert(spark.table(t.postings).orderBy("doc_id", "tok").collect().map(_.toSeq).toSeq
      === tfFresh.orderBy("doc_id", "tok").collect().map(_.toSeq).toSeq,
      "incremental postings diverged from a full rebuild")
    assert(spark.table(t.docs).orderBy("doc_id").collect().map(_.toSeq).toSeq
      === dlFresh.orderBy("doc_id").collect().map(_.toSeq).toSeq,
      "incremental dl diverged from a full rebuild")
    val m = spark.table(t.meta).select("n_docs", "max_id").head
    assert((m.getLong(0), m.getLong(1)) === (500L, 499L))

    // non-append change: rebuild
    SearchIndex.ensure(spark, docs.filter(col("doc_id") < 100), "spec_six")
    assert(SearchIndex.builds.get() === b0 + 2,
      "a shrunk corpus must force a full rebuild, not a refresh")
  }

  test("postings are term-clustered: a term probe plans a strict segment subset") {
    ops.configure(spark)
    ops.ensureGraftCatalog(spark)
    Seq("postings", "docs", "meta").foreach(x =>
      spark.sql(s"DROP TABLE IF EXISTS graft_cat.db.search_spec_srt_$x"))
    val docs =
      spark.read.parquet(s"$d/documents.parquet").select("doc_id", "text")
    val t = SearchIndex.ensure(spark, docs, "spec_srt")
    // the declared graft.sort=tok:8 range-distributes the build: the
    // postings landed as >= 2 segments with DISJOINT token ranges
    val probe = spark.table(t.postings)
      .filter(col("tok").isin("spark", "merge", "vector"))
    val n = probe.count()
    assert(n > 0)
    val plan = probe.queryExecution.executedPlan.toString
      .split("== Initial Plan ==").head
    val m = """segs=(\d+)/(\d+)""".r.findFirstMatchIn(plan).getOrElse(
      fail(s"no graft_cat scan in plan:\n$plan"))
    val (planned, total) = (m.group(1).toInt, m.group(2).toInt)
    assert(total >= 2, s"sorted build landed as one segment ($plan)")
    assert(planned < total,
      s"term probe did not prune segments: $planned/$total\n$plan")
    // pruning never loses rows: unfiltered-scan-then-filter agrees
    val full = spark.table(t.postings).collect()
      .count(r => Set("spark", "merge", "vector")(r.getString(1)))
    assert(n === full.toLong)
  }

  test("multi-term OR probe plans exactly the union of per-term segment sets") {
    ops.configure(spark)
    ops.ensureGraftCatalog(spark)
    Seq("postings", "docs", "meta").foreach(x =>
      spark.sql(s"DROP TABLE IF EXISTS graft_cat.db.search_spec_uni_$x"))
    val t = SearchIndex.ensure(spark, docs, "spec_uni")

    // planned segment IDENTITIES of one probe (SegHooks.lastPlannedFiles
    // is written at scan-planning time, before runtime filtering)
    def plannedFor(terms: String*): Set[String] = {
      val q = spark.table(t.postings).filter(col("tok").isin(terms: _*))
      q.count() // forces planning; identity capture happens there
      val (tbl, files) = graft.sources.SegHooks.lastPlannedFiles.get()
      assert(tbl.contains("spec_uni_postings"), s"wrong scan captured: $tbl")
      files.toSet
    }

    val terms = Seq("spark", "merge", "vector")
    val perTerm = terms.map(tm => plannedFor(tm))
    assert(perTerm.exists(_.nonEmpty))
    // sorted build must give the OR something to prune: at least one
    // term's set is a strict subset of the union's superset-of-all
    val union = perTerm.reduce(_ ++ _)
    val multi = plannedFor(terms: _*)
    // no over-read: the 3-term probe plans exactly the union — a single
    // segment beyond it would be wasted IO at 100 TB; a segment short of
    // it would be wrong results
    assert(multi === union,
      s"3-term probe planned ${multi.size} segs, union is ${union.size}: " +
        s"extra=${multi -- union} missing=${union -- multi}")

    // a term absent from every zone map / bloom prunes to ZERO segments:
    // the answer comes from metadata alone, no data scan at all
    val absent = plannedFor("zzzzunindexedterm")
    assert(absent.isEmpty, s"absent term still scanned: $absent")
  }

  test("index autocompact: CDC churn triggers a re-sort; postings stay term-disjoint") {
    ops.configure(spark)
    ops.ensureGraftCatalog(spark)
    spark.sql("DROP TABLE IF EXISTS graft_cat.db.cmp_docs")
    Seq("postings", "docs", "meta").foreach(x =>
      spark.sql(s"DROP TABLE IF EXISTS graft_cat.db.search_spec_cmp_$x"))
    spark.sql("CREATE TABLE graft_cat.db.cmp_docs (doc_id BIGINT, " +
      "text STRING) TBLPROPERTIES ('graft.dml.mode'='merge-on-read')")
    spark.read.parquet(s"$d/documents.parquet").select("doc_id", "text")
      .filter(col("doc_id") < 200)
      .writeTo("graft_cat.db.cmp_docs").append()
    val t = SearchIndex.ensureCdc(spark, "graft_cat.db.cmp_docs", "spec_cmp")

    // churn the corpus through the feed until the postings table's DV
    // ratio crosses the declared autocompact threshold — the catalog
    // must then compact the SORTED table by re-sorting through its own
    // write path (content-identical 'zorder' label), never byte-merging
    def historyOps = spark.sql("SELECT operation FROM " +
        s"graft_cat.db.search_spec_cmp_postings.versions")
      .collect().map(_.getString(0).split('@').head).toSeq
    var rounds = 0
    while (!historyOps.contains("zorder") && rounds < 12) {
      rounds += 1
      spark.sql("UPDATE graft_cat.db.cmp_docs SET text = " +
        s"concat(text, ' churn$rounds') WHERE doc_id % 5 = ${rounds % 5}")
      SearchIndex.ensureCdc(spark, "graft_cat.db.cmp_docs", "spec_cmp")
    }
    assert(historyOps.contains("zorder"),
      s"churn never triggered the re-sort compaction: $historyOps")
    assert(!historyOps.contains("compact"),
      s"a sorted table must never byte-merge: $historyOps")

    // the compacted index still answers exactly like a rebuild over the
    // head corpus
    val head = spark.table("graft_cat.db.cmp_docs").select("doc_id", "text")
    val (tfFresh, _) = SearchIndex.postingsOf(head)
    assert(spark.table(t.postings)
        .orderBy("doc_id", "tok").collect().map(_.toSeq).toSeq
      === tfFresh.orderBy("doc_id", "tok").collect().map(_.toSeq).toSeq,
      "compacted postings diverged from a rebuild over the head")

    // term clustering SURVIVED the compaction: a term probe still plans
    // a strict subset of segments (disjoint token ranges)
    val probe = spark.table(t.postings)
      .filter(col("tok").isin("spark", "merge", "vector"))
    probe.count()
    val plan = probe.queryExecution.executedPlan.toString
      .split("== Initial Plan ==").head
    val m = """segs=(\d+)/(\d+)""".r.findFirstMatchIn(plan).getOrElse(
      fail(s"no graft_cat scan in plan:\n$plan"))
    assert(m.group(2).toInt >= 2,
      s"re-sort landed as one segment:\n$plan")
    assert(m.group(1).toInt < m.group(2).toInt,
      s"term probe no longer prunes after compaction: " +
        s"${m.group(1)}/${m.group(2)}\n$plan")
  }

  test("CDC maintenance: delete+update apply as one feed slice; index == rebuild") {
    ops.configure(spark)
    ops.ensureGraftCatalog(spark)
    val b0 = SearchIndex.builds.get()
    val c0 = SearchIndex.cdcRefreshes.get()
    val rows = ext.Search.queries("ext136_search_cdc_maintenance")(spark, d)
      .collect()
    assert(rows.nonEmpty)
    assert(SearchIndex.builds.get() === b0 + 1,
      "CDC maintenance should build exactly once (the seed)")
    assert(SearchIndex.cdcRefreshes.get() === c0 + 1,
      "the delete+update slice should apply via the feed, not a rebuild")

    // both maintained tables are row-identical to a rebuild over the head
    val head = spark.table("graft_cat.db.cdc_sdocs").select("doc_id", "text")
    val (tfFresh, dlFresh) = SearchIndex.postingsOf(head)
    assert(spark.table("graft_cat.db.search_cdc_sr_postings")
        .orderBy("doc_id", "tok").collect().map(_.toSeq).toSeq
      === tfFresh.orderBy("doc_id", "tok").collect().map(_.toSeq).toSeq,
      "CDC-maintained postings diverged from a rebuild over the head")
    assert(spark.table("graft_cat.db.search_cdc_sr_docs")
        .orderBy("doc_id").collect().map(_.toSeq).toSeq
      === dlFresh.orderBy("doc_id").collect().map(_.toSeq).toSeq,
      "CDC-maintained dl diverged from a rebuild over the head")

    // covered head: pure no-op
    SearchIndex.ensureCdc(spark, "graft_cat.db.cdc_sdocs", "cdc_sr")
    assert(SearchIndex.builds.get() === b0 + 1)
    assert(SearchIndex.cdcRefreshes.get() === c0 + 1)

    // retractions on BOTH tables went merge-on-read, never copy-on-write
    Seq("search_cdc_sr_postings", "search_cdc_sr_docs").foreach { tb =>
      val ops_ = spark.sql(
        s"SELECT operation FROM graft_cat.db.$tb.versions")
        .collect().map(_.getString(0)).toSeq
      assert(ops_.contains("delete") && !ops_.contains("rewrite"),
        s"$tb retraction not a DV append: $ops_")
    }
  }

  test("CALL system.indexes() inventories the persisted artifacts by family") {
    ops.configure(spark)
    ops.ensureGraftCatalog(spark)
    Seq("postings", "docs", "meta").foreach(x =>
      spark.sql(s"DROP TABLE IF EXISTS graft_cat.db.search_spec_inv_$x"))
    spark.sql("DROP TABLE IF EXISTS graft_cat.db.dedup_spec_inv_sigs")
    spark.sql("DROP TABLE IF EXISTS graft_cat.db.dedup_spec_inv_meta")
    val docs =
      spark.read.parquet(s"$d/documents.parquet").select("doc_id", "text")
    SearchIndex.ensure(spark, docs, "spec_inv")
    ext.DedupIndex.ensure(spark, docs, "spec_inv")
    val inv = spark.sql("CALL graft_cat.system.indexes('db')")
      .collect().map(r => (r.getString(0), r.getString(1)) ->
        (r.getString(2), r.getLong(3), r.getLong(4))).toMap
    val lex = inv.get(("bm25-postings", "spec_inv")).getOrElse(
      fail(s"postings index missing from inventory: ${inv.keys}"))
    assert(lex._1 === "db.search_spec_inv_postings")
    assert(lex._2 > 0L && lex._3 >= 2L) // live rows; tok:8-sorted segments
    val sig = inv.get(("minhash-signatures", "spec_inv")).getOrElse(
      fail(s"signature index missing from inventory: ${inv.keys}"))
    assert(sig._1 === "db.dedup_spec_inv_sigs" && sig._2 > 0L)
    // live_rows is DV-aware: retract half the signatures and re-list
    spark.sql("ALTER TABLE graft_cat.db.dedup_spec_inv_sigs " +
      "SET TBLPROPERTIES ('graft.dml.mode'='merge-on-read')")
    spark.sql("DELETE FROM graft_cat.db.dedup_spec_inv_sigs WHERE doc_id < 250")
    val after = spark.sql("CALL graft_cat.system.indexes('db')")
      .collect().map(r => (r.getString(0), r.getString(1)) -> r.getLong(3))
      .toMap
    assert(after(("minhash-signatures", "spec_inv")) < sig._2,
      "inventory live_rows did not subtract deletion vectors")
  }

  test("CDC crash replay: a retraction without its txn re-applies and converges") {
    // the documented crash window of CdcIndex.ensureKeyed, for every
    // keyed family: the DELETE published but the insert+watermark txn
    // did not — meta still points at the old version, so the next
    // ensure*Cdc replays the SAME feed slice; the re-run's retraction is
    // a no-op on already-deleted keys and the txn lands the re-derive +
    // advance together
    import graft.ext.{AnnIndex, CdcIndex, DedupIndex}
    ops.configure(spark)
    ops.ensureGraftCatalog(spark)
    val (docsT, vecsT) =
      ("graft_cat.db.cdc_crash_docs", "graft_cat.db.cdc_crash_vecs")
    val n = "cdc_cr"
    // (corpus, public ensure, the family's keyed lifecycle)
    val families: Seq[(String, () => Any, CdcIndex.Keyed)] = Seq(
      (docsT, () => DedupIndex.ensureCdc(spark, docsT, n),
        DedupIndex.sigsKeyed(n)),
      (docsT, () => DedupIndex.ensureGramsCdc(spark, docsT, n),
        DedupIndex.gramsKeyed(n)),
      (docsT, () => SearchIndex.ensureCdc(spark, docsT, n),
        SearchIndex.postingsKeyed(n)),
      (vecsT, () => AnnIndex.ensureCdc(spark, vecsT, n),
        AnnIndex.ivfKeyed(spark, n)),
      (vecsT, () => AnnIndex.ensurePqCdc(spark, vecsT, n),
        AnnIndex.pqKeyed(spark, n)),
      (vecsT, () => AnnIndex.ensureSqCdc(spark, vecsT, n),
        AnnIndex.sqKeyed(spark, n)),
      (vecsT, () => AnnIndex.ensureGraphCdc(spark, vecsT, n),
        AnnIndex.graphKeyed(n)))
    (Seq(docsT, vecsT) ++ families.flatMap { case (_, _, f) =>
      f.meta +: f.artifacts.map(_._1) }).foreach(t =>
      spark.sql(s"DROP TABLE IF EXISTS $t"))
    spark.sql(s"CREATE TABLE $docsT (doc_id BIGINT, text STRING) " +
      "TBLPROPERTIES ('graft.dml.mode'='merge-on-read')")
    docs.writeTo(docsT).append()
    spark.sql(s"CREATE TABLE $vecsT (vec_id BIGINT, label INT, " +
      "v ARRAY<DOUBLE>, norm DOUBLE) " +
      "TBLPROPERTIES ('graft.dml.mode'='merge-on-read')")
    spark.read.parquet(s"$d/embeddings.parquet")
      .selectExpr("vec_id", "label",
        "transform(embedding, x -> CAST(x AS DOUBLE)) AS v")
      .selectExpr("*", "sqrt(aggregate(v, 0D, (a, x) -> a + x * x)) AS norm")
      .writeTo(vecsT).append()
    def head(t: String) = spark.sql(s"SELECT max(v) FROM $t.versions")
      .head.getLong(0)
    families.foreach(_._2())
    val v0 = Seq(docsT, vecsT).map(t => t -> head(t)).toMap
    spark.sql(s"DELETE FROM $docsT WHERE doc_id % 5 = 0")
    spark.sql(s"UPDATE $docsT " +
      "SET text = concat(text, ' crashed refresh') WHERE doc_id % 5 = 1")
    spark.sql(s"DELETE FROM $vecsT WHERE vec_id % 5 = 0")
    spark.sql(s"UPDATE $vecsT SET v = reverse(v) WHERE vec_id % 5 = 1")

    families.foreach { case (corpus, ensure, f) =>
      // simulate the crash: ONLY the retraction half of the refresh ran
      // (deleted AND updated keys lost their rows; the replay must
      // re-insert the updated ones from the head images)
      f.artifacts.foreach { case (t, _) =>
        spark.sql(s"DELETE FROM $t WHERE ${f.key} IN (SELECT ${f.keyOf} " +
          s"FROM $corpus VERSION AS OF 'cdf:${v0(corpus)}..${head(corpus)}')")
      }
      val c0 = f.refreshes.get()
      ensure()
      assert(f.refreshes.get() === c0 + 1, s"${f.meta}: replay did not apply")
      val images = spark.table(corpus).select(f.head.map(col): _*)
      f.artifacts.foreach { case (t, derive) =>
        val (stored, fresh) = (spark.table(t), derive(images))
        assert(stored.exceptAll(fresh).count() === 0 &&
          fresh.exceptAll(stored).count() === 0,
          s"crash replay left duplicated or missing rows in $t")
      }
    }
  }
}
