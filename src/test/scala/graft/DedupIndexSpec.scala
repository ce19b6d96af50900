package graft

import org.apache.spark.sql.functions._

/** The persisted MinHash signature index ([[graft.ext.DedupIndex]]):
  * build-once amortization, hash-free probe plans, and the EXACT
  * incremental-maintenance property (per-doc signatures make
  * refresh ≡ rebuild byte-for-byte — stronger than the ANN tier's
  * approximate append discipline).
  */
class DedupIndexSpec extends SparkTestBase {

  import graft.ext.DedupIndex

  private val d = "/root/testdata/sf0.001"

  private def docs =
    spark.read.parquet(s"$d/documents.parquet").select("doc_id", "text")

  test("stored signatures answer LSH identically to ext03; probe hashes nothing") {
    ops.configure(spark)
    ops.ensureGraftCatalog(spark)
    val key = "docs_" + d.replaceAll("[^a-zA-Z0-9]", "_")
    spark.sql(s"DROP TABLE IF EXISTS graft_cat.db.dedup_${key}_sigs")
    spark.sql(s"DROP TABLE IF EXISTS graft_cat.db.dedup_${key}_meta")
    val b0 = DedupIndex.builds.get()

    val r1 = ext.Dedup.dedupIndexLsh(spark, d)
    val rows1 = r1.collect()
    assert(rows1.nonEmpty)
    assert(DedupIndex.builds.get() === b0 + 1)

    // a fresh index build is bit-identical to ext03's in-query pass
    val inQuery = ext.Dedup.dedupMinhashLsh(spark, d).collect()
    assert(rows1.map(_.toSeq).toSeq === inQuery.map(_.toSeq).toSeq,
      "persisted-index LSH diverged from the in-query build")

    // second run: no rebuild, no refresh; the plan derives bands from
    // stored h-columns — ZERO hashing stages, no shingle explode
    val rf0 = DedupIndex.refreshes.get()
    val r2 = ext.Dedup.dedupIndexLsh(spark, d)
    assert(r2.collect().map(_.toSeq).toSeq === rows1.map(_.toSeq).toSeq)
    assert(DedupIndex.builds.get() === b0 + 1, "second run re-built the index")
    assert(DedupIndex.refreshes.get() === rf0)
    val plan = r2.queryExecution.executedPlan.toString
      .split("== Initial Plan ==").head
    assert(!plan.contains("md5"),
      "probe plan contains a hashing stage:\n" + plan)
    assert(plan.contains(s"dedup_${key}_sigs"),
      "probe plan does not scan the persisted signature table:\n" + plan)
  }

  test("append-only growth signs only the delta; incremental == rebuild exactly") {
    ops.configure(spark)
    ops.ensureGraftCatalog(spark)
    spark.sql("DROP TABLE IF EXISTS graft_cat.db.dedup_spec_ddx_sigs")
    spark.sql("DROP TABLE IF EXISTS graft_cat.db.dedup_spec_ddx_meta")
    val b0 = DedupIndex.builds.get()
    val rf0 = DedupIndex.refreshes.get()

    val t = DedupIndex.ensure(spark, docs.filter(col("doc_id") < 400), "spec_ddx")
    assert(DedupIndex.builds.get() === b0 + 1)

    // covered corpus: pure no-op
    DedupIndex.ensure(spark, docs.filter(col("doc_id") < 400), "spec_ddx")
    assert(DedupIndex.builds.get() === b0 + 1)
    assert(DedupIndex.refreshes.get() === rf0)

    // append-only growth refreshes; signatures are per-doc functions, so
    // the refreshed table is EXACTLY a full rebuild's content
    DedupIndex.ensure(spark, docs, "spec_ddx")
    assert(DedupIndex.builds.get() === b0 + 1, "append triggered a full rebuild")
    assert(DedupIndex.refreshes.get() === rf0 + 1)
    val stored = spark.table(t.sigs).orderBy("doc_id")
      .collect().map(_.toSeq)
    val fresh = DedupIndex.signatures(docs).orderBy("doc_id")
      .collect().map(_.toSeq)
    assert(stored.toSeq === fresh.toSeq,
      "incremental refresh diverged from a full rebuild")
    // the watermark advanced with the corpus
    val m = spark.table(t.meta).select("n_docs", "max_id").head
    assert((m.getLong(0), m.getLong(1)) === (500L, 499L))

    // a shrunk corpus is not a prefix cover: full rebuild
    DedupIndex.ensure(spark, docs.filter(col("doc_id") < 100), "spec_ddx")
    assert(DedupIndex.builds.get() === b0 + 2,
      "a shrunk corpus must force a full rebuild, not a refresh")
  }

  test("catalog-corpus fingerprint: count/max-preserving UPDATE forces a rebuild") {
    ops.configure(spark)
    ops.ensureGraftCatalog(spark)
    spark.sql("DROP TABLE IF EXISTS graft_cat.db.fp_docs")
    spark.sql("DROP TABLE IF EXISTS graft_cat.db.dedup_spec_fp_sigs")
    spark.sql("DROP TABLE IF EXISTS graft_cat.db.dedup_spec_fp_meta")
    docs.filter(col("doc_id") < 300).writeTo("graft_cat.db.fp_docs").create()
    val b0 = DedupIndex.builds.get()
    val c0 = DedupIndex.cdcRefreshes.get()

    val t = DedupIndex.ensure(spark, spark.table("graft_cat.db.fp_docs"),
      "spec_fp")
    assert(DedupIndex.builds.get() === b0 + 1)
    // covered (same committed version): pure no-op
    DedupIndex.ensure(spark, spark.table("graft_cat.db.fp_docs"), "spec_fp")
    assert(DedupIndex.builds.get() === b0 + 1)
    assert(DedupIndex.cdcRefreshes.get() === c0)
    // a pure catalog scan is maintained by the CDC twin: the watermark
    // stored is the corpus table's committed version
    assert(spark.table(t.meta).select("version").head.getLong(0) ===
      spark.sql("SELECT max(v) FROM graft_cat.db.fp_docs.versions")
        .head.getLong(0))

    // in-place UPDATE that preserves BOTH row count and max doc_id —
    // invisible to a (cnt, max, prefixCnt) watermark, caught by the
    // version watermark (the copy-on-write rewrite the feed cannot
    // attribute row-exactly degrades to a rebuild)
    spark.sql("UPDATE graft_cat.db.fp_docs " +
      "SET text = 'graft mutated body' WHERE doc_id = 5")
    DedupIndex.ensure(spark, spark.table("graft_cat.db.fp_docs"), "spec_fp")
    assert(DedupIndex.builds.get() === b0 + 2,
      "count/max-preserving update served a stale index")
    val stored = spark.table(t.sigs).orderBy("doc_id").collect().map(_.toSeq)
    val fresh = DedupIndex.signatures(
        spark.table("graft_cat.db.fp_docs").select("doc_id", "text"))
      .orderBy("doc_id").collect().map(_.toSeq)
    assert(stored.toSeq === fresh.toSeq,
      "rebuilt index diverged from the mutated corpus")

    // append-only growth on the SAME catalog corpus applies as one
    // feed slice, not a rebuild
    docs.filter(col("doc_id") >= 300 && col("doc_id") < 400)
      .writeTo("graft_cat.db.fp_docs").append()
    DedupIndex.ensure(spark, spark.table("graft_cat.db.fp_docs"), "spec_fp")
    assert(DedupIndex.builds.get() === b0 + 2,
      "catalog append triggered a full rebuild instead of a delta sign")
    assert(DedupIndex.cdcRefreshes.get() === c0 + 1)
  }

  test("plain ensure on a CDC-built index preserves the version watermark") {
    ops.configure(spark)
    ops.ensureGraftCatalog(spark)
    spark.sql("DROP TABLE IF EXISTS graft_cat.db.fpg_docs")
    spark.sql("DROP TABLE IF EXISTS graft_cat.db.dedup_spec_cdcg_sigs")
    spark.sql("DROP TABLE IF EXISTS graft_cat.db.dedup_spec_cdcg_meta")
    spark.sql("CREATE TABLE graft_cat.db.fpg_docs (doc_id BIGINT, " +
      "text STRING) TBLPROPERTIES ('graft.dml.mode'='merge-on-read')")
    docs.filter(col("doc_id") < 300).writeTo("graft_cat.db.fpg_docs").append()
    val t = DedupIndex.ensureCdc(spark, "graft_cat.db.fpg_docs", "spec_cdcg")
    val b0 = DedupIndex.builds.get()
    val c0 = DedupIndex.cdcRefreshes.get()

    spark.sql("DELETE FROM graft_cat.db.fpg_docs WHERE doc_id % 7 = 0")
    // plain ensure over the same catalog corpus must NOT overwrite the
    // CDC meta with k-mode values (that would reset the version
    // watermark to 0 and force a full feed replay) — it delegates to
    // the exact version-keyed maintenance
    DedupIndex.ensure(spark, spark.table("graft_cat.db.fpg_docs"),
      "spec_cdcg")
    assert(DedupIndex.builds.get() === b0,
      "plain ensure rebuilt a CDC-maintained index")
    assert(DedupIndex.cdcRefreshes.get() === c0 + 1,
      "the delete should have applied as one feed slice")
    assert(spark.table(t.meta).schema.fieldNames.head === "version",
      "plain ensure clobbered the CDC meta schema")
    assert(spark.table(t.meta).select("version").head.getLong(0) ===
      spark.sql("SELECT max(v) FROM graft_cat.db.fpg_docs.versions")
        .head.getLong(0),
      "version watermark no longer at the corpus head")
    // ...and a covered head is a no-op through EITHER entry point
    DedupIndex.ensure(spark, spark.table("graft_cat.db.fpg_docs"),
      "spec_cdcg")
    DedupIndex.ensureCdc(spark, "graft_cat.db.fpg_docs", "spec_cdcg")
    assert(DedupIndex.builds.get() === b0)
    assert(DedupIndex.cdcRefreshes.get() === c0 + 1)
  }

  test("CDC index is BOUND to its corpus: naming another table rebinds, never grafts") {
    ops.configure(spark)
    ops.ensureGraftCatalog(spark)
    Seq("bindA_docs", "bindB_docs", "dedup_spec_bind_sigs",
      "dedup_spec_bind_meta").foreach(t =>
      spark.sql(s"DROP TABLE IF EXISTS graft_cat.db.$t"))
    spark.sql("CREATE TABLE graft_cat.db.bindA_docs (doc_id BIGINT, " +
      "text STRING) TBLPROPERTIES ('graft.dml.mode'='merge-on-read')")
    spark.sql("CREATE TABLE graft_cat.db.bindB_docs (doc_id BIGINT, " +
      "text STRING) TBLPROPERTIES ('graft.dml.mode'='merge-on-read')")
    docs.filter(col("doc_id") < 200).writeTo("graft_cat.db.bindA_docs").append()
    // advance A's version history past B's so the stale watermark check
    // alone would (wrongly) report B covered
    spark.sql("DELETE FROM graft_cat.db.bindA_docs WHERE doc_id % 13 = 1")
    spark.sql("DELETE FROM graft_cat.db.bindA_docs WHERE doc_id % 13 = 2")
    docs.filter(col("doc_id") >= 200 && col("doc_id") < 450)
      .writeTo("graft_cat.db.bindB_docs").append()
    val t = DedupIndex.ensureCdc(spark, "graft_cat.db.bindA_docs", "spec_bind")
    assert(spark.table(t.meta).select("corpus").head.getString(0) ===
      "graft_cat.db.bindA_docs")
    val b0 = DedupIndex.builds.get()

    // the poison call: same index name, DIFFERENT corpus, lower head
    // version — the un-bound watermark would silently no-op and serve
    // A's signatures as if they covered B
    DedupIndex.ensureCdc(spark, "graft_cat.db.bindB_docs", "spec_bind")
    assert(DedupIndex.builds.get() === b0 + 1,
      "cross-table ensureCdc neither rebuilt nor refused")
    assert(spark.table(t.meta).select("corpus").head.getString(0) ===
      "graft_cat.db.bindB_docs", "meta not rebound")
    val stored = spark.table(t.sigs).orderBy("doc_id").collect().map(_.toSeq)
    val fresh = DedupIndex.signatures(
        spark.table("graft_cat.db.bindB_docs").select("doc_id", "text"))
      .orderBy("doc_id").collect().map(_.toSeq)
    assert(stored.toSeq === fresh.toSeq,
      "rebound index does not match corpus B")

    // plain ensure over B now delegates cleanly (bound corpus matches)
    DedupIndex.ensure(spark, spark.table("graft_cat.db.bindB_docs"),
      "spec_bind")
    assert(DedupIndex.builds.get() === b0 + 1)
  }

  test("legacy 4-column CDC meta rebuilds exactly once, then applies incrementally") {
    // older builds wrote the keyed CDC metas as (version, n_docs, max_id,
    // corpus); the catalog persists across processes, so such a meta can
    // meet the (version, corpus) layout — it must self-migrate by one
    // rebuild instead of failing every 2-column watermark overwrite
    ops.configure(spark)
    ops.ensureGraftCatalog(spark)
    val corpus = "graft_cat.db.leg4_docs"
    Seq(corpus, "graft_cat.db.dedup_spec_leg4_sigs",
      "graft_cat.db.dedup_spec_leg4_meta").foreach(t =>
      spark.sql(s"DROP TABLE IF EXISTS $t"))
    spark.sql(s"CREATE TABLE $corpus (doc_id BIGINT, text STRING) " +
      "TBLPROPERTIES ('graft.dml.mode'='merge-on-read')")
    docs.filter(col("doc_id") < 300).writeTo(corpus).append()
    val t = DedupIndex.ensureCdc(spark, corpus, "spec_leg4")
    val headV = spark.sql(s"SELECT max(v) FROM $corpus.versions")
      .head.getLong(0)
    spark.sql(s"DROP TABLE ${t.meta}")
    spark.sql(s"CREATE TABLE ${t.meta} (version BIGINT, n_docs BIGINT, " +
      "max_id BIGINT, corpus STRING)")
    spark.sql(s"INSERT INTO ${t.meta} SELECT CAST($headV AS BIGINT), " +
      s"CAST(300 AS BIGINT), CAST(299 AS BIGINT), '$corpus'")
    val b0 = DedupIndex.builds.get()
    val c0 = DedupIndex.cdcRefreshes.get()

    DedupIndex.ensureCdc(spark, corpus, "spec_leg4")
    assert(DedupIndex.builds.get() === b0 + 1,
      "a legacy-layout meta must rebuild once")
    assert(spark.table(t.meta).schema.fieldNames.toSeq ===
      Seq("version", "corpus"), "the rebuild did not migrate the meta")
    DedupIndex.ensureCdc(spark, corpus, "spec_leg4")
    assert(DedupIndex.builds.get() === b0 + 1,
      "a migrated meta at the head must be a no-op")

    spark.sql(s"DELETE FROM $corpus WHERE doc_id % 7 = 0")
    DedupIndex.ensureCdc(spark, corpus, "spec_leg4")
    assert(DedupIndex.builds.get() === b0 + 1,
      "the migrated index rebuilt instead of applying the feed")
    assert(DedupIndex.cdcRefreshes.get() === c0 + 1)
    val stored = spark.table(t.sigs).orderBy("doc_id").collect().map(_.toSeq)
    val fresh = DedupIndex.signatures(
        spark.table(corpus).select("doc_id", "text"))
      .orderBy("doc_id").collect().map(_.toSeq)
    assert(stored.toSeq === fresh.toSeq,
      "incremental apply after the migration diverged from a rebuild")
  }

  test("legacy (k, n_docs, max_id) meta on a DataFrame corpus rebuilds once, then appends") {
    // older builds kept a version fingerprint `k` in the DataFrame-path
    // meta; the catalog persists across processes, so such a meta can
    // meet the (n_docs, max_id) layout — it must self-migrate by one
    // rebuild, after which the append watermark works as usual
    ops.configure(spark)
    ops.ensureGraftCatalog(spark)
    Seq("sigs", "meta").foreach(x =>
      spark.sql(s"DROP TABLE IF EXISTS graft_cat.db.dedup_spec_legk_$x"))
    val t = DedupIndex.ensure(spark, docs.filter(col("doc_id") < 300),
      "spec_legk")
    spark.sql(s"DROP TABLE ${t.meta}")
    spark.sql(s"CREATE TABLE ${t.meta} (k BIGINT, n_docs BIGINT, " +
      "max_id BIGINT)")
    spark.sql(s"INSERT INTO ${t.meta} SELECT CAST(-1 AS BIGINT), " +
      "CAST(300 AS BIGINT), CAST(299 AS BIGINT)")
    val b0 = DedupIndex.builds.get()
    val rf0 = DedupIndex.refreshes.get()

    DedupIndex.ensure(spark, docs.filter(col("doc_id") < 300), "spec_legk")
    assert(DedupIndex.builds.get() === b0 + 1,
      "a legacy-layout meta must rebuild once")
    assert(spark.table(t.meta).schema.fieldNames.toSeq ===
      Seq("n_docs", "max_id"), "the rebuild did not migrate the meta")
    DedupIndex.ensure(spark, docs.filter(col("doc_id") < 300), "spec_legk")
    assert(DedupIndex.builds.get() === b0 + 1,
      "a migrated meta over the same corpus must be a no-op")
    assert(DedupIndex.refreshes.get() === rf0)

    DedupIndex.ensure(spark, docs.filter(col("doc_id") < 400), "spec_legk")
    assert(DedupIndex.builds.get() === b0 + 1,
      "the migrated index rebuilt instead of signing the delta")
    assert(DedupIndex.refreshes.get() === rf0 + 1)
    val m = spark.table(t.meta).head
    assert((m.getLong(0), m.getLong(1)) === ((400L, 399L)))
    val stored = spark.table(t.sigs).orderBy("doc_id").collect().map(_.toSeq)
    val fresh = DedupIndex.signatures(docs.filter(col("doc_id") < 400))
      .orderBy("doc_id").collect().map(_.toSeq)
    assert(stored.toSeq === fresh.toSeq,
      "delta refresh after the migration diverged from a rebuild")
    Seq("sigs", "meta").foreach(x =>
      spark.sql(s"DROP TABLE IF EXISTS graft_cat.db.dedup_spec_legk_$x"))
  }

  test("a branch scan has no version log of its own: it takes the append watermark") {
    // the CDC twin reads `<table>.versions`, which a branch handle
    // (`t.branch_x`) does not resolve — routing it there would fail
    // every call, so it must stay on the DataFrame path
    ops.configure(spark)
    ops.ensureGraftCatalog(spark)
    Seq("br_docs", "dedup_spec_br_sigs", "dedup_spec_br_meta").foreach(t =>
      spark.sql(s"DROP TABLE IF EXISTS graft_cat.db.$t"))
    spark.sql("CREATE TABLE graft_cat.db.br_docs (doc_id BIGINT, text STRING)")
    docs.filter(col("doc_id") < 100).writeTo("graft_cat.db.br_docs").append()
    spark.sql("CALL graft_cat.system.branch('db.br_docs', 'px')")
    val b0 = DedupIndex.builds.get()
    val t = DedupIndex.ensure(spark,
      spark.table("graft_cat.db.br_docs.branch_px"), "spec_br")
    DedupIndex.ensure(spark,
      spark.table("graft_cat.db.br_docs.branch_px"), "spec_br")
    assert(DedupIndex.builds.get() === b0 + 1)
    val m = spark.table(t.meta)
    assert(m.schema.fieldNames.toSeq === Seq("n_docs", "max_id"))
    assert((m.head.getLong(0), m.head.getLong(1)) === ((100L, 99L)))
    Seq("br_docs", "dedup_spec_br_sigs", "dedup_spec_br_meta").foreach(t =>
      spark.sql(s"DROP TABLE IF EXISTS graft_cat.db.$t"))
  }

  test("content-preserving corpus commits advance the fingerprint, no rebuild") {
    ops.configure(spark)
    ops.ensureGraftCatalog(spark)
    Seq("cp_docs", "dedup_spec_cp_sigs", "dedup_spec_cp_meta").foreach(t =>
      spark.sql(s"DROP TABLE IF EXISTS graft_cat.db.$t"))
    spark.sql("CREATE TABLE graft_cat.db.cp_docs (doc_id BIGINT, " +
      "text STRING)")
    docs.filter(col("doc_id") < 300).writeTo("graft_cat.db.cp_docs").append()
    val t = DedupIndex.ensure(spark, spark.table("graft_cat.db.cp_docs"),
      "spec_cp")
    val b0 = DedupIndex.builds.get()
    val k0 = spark.table(t.meta).select("version").head.getLong(0)

    // content-identical commits: a tag and a property alter — the
    // version watermark moves, the indexed content does not
    spark.sql("CALL graft_cat.system.tag('db.cp_docs', 'cp_snap')")
    spark.sql("ALTER TABLE graft_cat.db.cp_docs " +
      "SET TBLPROPERTIES ('graft.note'='cp')")
    DedupIndex.ensure(spark, spark.table("graft_cat.db.cp_docs"), "spec_cp")
    assert(DedupIndex.builds.get() === b0,
      "a metadata-only commit forced an O(corpus) rebuild")
    val k1 = spark.table(t.meta).select("version").head.getLong(0)
    assert(k1 > k0, "watermark not advanced — next ensure re-pays the check")
    // and the advanced watermark makes the NEXT call a pure no-op
    DedupIndex.ensure(spark, spark.table("graft_cat.db.cp_docs"), "spec_cp")
    assert(DedupIndex.builds.get() === b0)
  }

  test("stream-maintained index: one build + one refresh, converges to ext03") {
    ops.configure(spark)
    ops.ensureGraftCatalog(spark)
    val b0 = DedupIndex.builds.get()
    val c0 = DedupIndex.cdcRefreshes.get()
    // the entry seeds 400 docs (first trigger -> BUILD), appends 100
    // mid-stream (second trigger -> one feed-slice CDC REFRESH), and any
    // further empty trigger finds the corpus covered (no-op)
    val rows = streaming.Streams.queries("ext133_stream_index_maintenance")(spark, d)
      .collect()
    assert(DedupIndex.builds.get() === b0 + 1,
      "streaming maintenance should build exactly once (the seed batch)")
    assert(DedupIndex.cdcRefreshes.get() === c0 + 1,
      "the mid-stream append should refresh incrementally, not rebuild")
    // ...and the stream-maintained index answers exactly like the
    // in-query ext03 pass over the same 500 docs
    val inQuery = ext.Dedup.dedupMinhashLsh(spark, d).collect()
    assert(rows.map(_.toSeq).toSeq === inQuery.map(_.toSeq).toSeq,
      "stream-maintained index diverged from the batch construction")
  }

  test("CDC maintenance: deletes/updates apply as one feed slice; result == rebuild") {
    ops.configure(spark)
    ops.ensureGraftCatalog(spark)
    val b0 = DedupIndex.builds.get()
    val c0 = DedupIndex.cdcRefreshes.get()
    // the entry: full build at the seeded version, then DELETE + UPDATE
    // commits covered by ONE ensureCdc call
    val rows = ext.Dedup.cdcIndexMaintenance(spark, d).collect()
    assert(rows.nonEmpty)
    assert(DedupIndex.builds.get() === b0 + 1,
      "CDC maintenance should build exactly once (the seed)")
    assert(DedupIndex.cdcRefreshes.get() === c0 + 1,
      "the delete+update slice should apply via the feed, not a rebuild")

    // the maintained signature table is row-identical to signing the
    // head corpus from scratch — CDC maintenance is EXACT
    val maintained = spark.table("graft_cat.db.dedup_cdc_idx_sigs")
      .orderBy("doc_id").collect().map(_.toSeq)
    val fresh = DedupIndex.signatures(
        spark.table("graft_cat.db.cdc_idx_docs").select("doc_id", "text"))
      .orderBy("doc_id").collect().map(_.toSeq)
    assert(maintained.toSeq === fresh.toSeq,
      "CDC-maintained signatures diverged from a rebuild over the head")
    // no doc divisible by 7 survived in the index
    assert(maintained.forall(r => r.head.asInstanceOf[Long] % 7 != 0))

    // covered head: pure no-op (version watermark matches)
    DedupIndex.ensureCdc(spark, "graft_cat.db.cdc_idx_docs", "cdc_idx")
    assert(DedupIndex.builds.get() === b0 + 1)
    assert(DedupIndex.cdcRefreshes.get() === c0 + 1)

    // the retraction was a merge-on-read deletion-vector append on the
    // sigs table (op='delete'), never a copy-on-write segment rewrite
    // (op='rewrite') — cost ∝ changes at 100 TB
    val ops_ = spark.sql(
      "SELECT operation FROM graft_cat.db.dedup_cdc_idx_sigs.versions")
      .collect().map(_.getString(0)).toSeq
    assert(ops_.contains("delete"),
      s"no merge-on-read retraction in sig history: $ops_")
    assert(!ops_.contains("rewrite"),
      s"sig retraction went copy-on-write: $ops_")
  }

  test("change-feed stream drives ensureCdc: deletes reach the index mid-stream") {
    ops.configure(spark)
    ops.ensureGraftCatalog(spark)
    val b0 = DedupIndex.builds.get()
    val c0 = DedupIndex.cdcRefreshes.get()
    val rows = streaming.Streams.queries("ext138_stream_cdc_index")(spark, d)
      .collect()
    assert(rows.nonEmpty)
    assert(DedupIndex.builds.get() === b0 + 1,
      "stream CDC maintenance should build exactly once (the seed batch)")
    assert(DedupIndex.cdcRefreshes.get() >= c0 + 1,
      "the mid-stream delete+update should apply via feed slices")
    // the stream-maintained index converges to exactly ext134's batch
    // construction over the same post-delete post-update corpus
    val batch = ext.Dedup.cdcIndexMaintenance(spark, d).collect()
    assert(rows.map(_.toSeq).toSeq === batch.map(_.toSeq).toSeq,
      "stream-CDC index diverged from the batch-CDC construction")
  }

  test("change-feed stream drives ensureSqCdc: the vector twin converges") {
    ops.configure(spark)
    ops.ensureGraftCatalog(spark)
    val b0 = ext.AnnIndex.sqBuilds.get()
    val c0 = ext.AnnIndex.sqCdcRefreshes.get()
    val rows = streaming.Streams.queries("ext151_stream_sq_maintenance")(spark, d)
      .collect()
    assert(rows.nonEmpty)
    assert(ext.AnnIndex.sqBuilds.get() === b0 + 1,
      "stream SQ maintenance should build exactly once (the seed batch)")
    assert(ext.AnnIndex.sqCdcRefreshes.get() >= c0 + 1,
      "the mid-stream delete+update should apply via feed slices")
    // convergence: the stream-maintained codes answer the probe exactly
    // like ext145's batch-CDC construction over the same final corpus
    val batch = ext.Similarity.sqCdcMaintenance(spark, d).collect()
    assert(rows.map(_.toSeq).toSeq === batch.map(_.toSeq).toSeq,
      "stream-maintained SQ codes diverged from the batch-CDC construction")
  }

  test("change-feed stream drives ensureLabelsCdc: deletes split mid-stream") {
    ops.configure(spark)
    ops.ensureGraftCatalog(spark)
    val b0 = DedupIndex.labelBuilds.get()
    val i0 = DedupIndex.labelIncRefreshes.get()
    val rows = streaming.Streams
      .queries("ext164_stream_label_maintenance")(spark, d).collect()
    assert(rows.nonEmpty)
    assert(DedupIndex.labelBuilds.get() === b0 + 1,
      "stream label maintenance should build exactly once (the seed)")
    assert(DedupIndex.labelIncRefreshes.get() >= i0 + 1,
      "the mid-stream append/delete/update should apply incrementally")
    // the stream-maintained labels converge to a from-scratch rebuild
    // over the same post-mutation corpus (delete-that-splits included)
    Seq("lb_labels", "lb_edges", "lb_posts", "lb_meta").foreach(x =>
      spark.sql(s"DROP TABLE IF EXISTS graft_cat.db.dedup_slbchk_$x"))
    val full = DedupIndex.ensureLabelsCdc(spark, "graft_cat.db.slb_docs",
      "slbchk")
    val rebuilt = spark.table(full)
      .select(col("doc_id"), col("comp").as("cluster"),
        (col("doc_id") === col("comp")).as("is_canonical"))
      .orderBy("doc_id").collect()
    assert(rows.map(_.toSeq).toSeq === rebuilt.map(_.toSeq).toSeq,
      "stream-maintained labels diverged from the batch rebuild")
    Seq("lb_labels", "lb_edges", "lb_posts", "lb_meta").foreach(x =>
      spark.sql(s"DROP TABLE IF EXISTS graft_cat.db.dedup_slbchk_$x"))
  }

  test("change-feed stream drives ensureLabelsCappedCdc: appends fold in, erasure rebuilds") {
    ops.configure(spark)
    ops.ensureGraftCatalog(spark)
    val b0 = DedupIndex.labelCappedBuilds.get()
    val i0 = DedupIndex.labelCappedIncRefreshes.get()
    val rows = streaming.Streams
      .queries("ext169_stream_capped_label_maintenance")(spark, d).collect()
    assert(rows.nonEmpty)
    assert(DedupIndex.labelCappedBuilds.get() >= b0 + 2,
      "the seed batch must build and the erasure slice must rebuild")
    assert(DedupIndex.labelCappedIncRefreshes.get() >= i0 + 1,
      "the mid-stream append must take the incremental path")
    // the stream-maintained capped labels converge to a from-scratch
    // capped build over the same post-mutation corpus
    Seq("lc_labels", "lc_posts", "lc_df", "lc_meta").foreach(x =>
      spark.sql(s"DROP TABLE IF EXISTS graft_cat.db.dedup_slcchk_$x"))
    val full = DedupIndex.ensureLabelsCappedCdc(spark,
      "graft_cat.db.slc_docs", "slcchk")
    val rebuilt = spark.table(full)
      .select(col("doc_id"), col("comp").as("cluster"),
        (col("doc_id") === col("comp")).as("is_canonical"))
      .orderBy("doc_id").collect()
    assert(rows.map(_.toSeq).toSeq === rebuilt.map(_.toSeq).toSeq,
      "stream-maintained capped labels diverged from the batch rebuild")
    Seq("lc_labels", "lc_posts", "lc_df", "lc_meta").foreach(x =>
      spark.sql(s"DROP TABLE IF EXISTS graft_cat.db.dedup_slcchk_$x"))
  }

  test("incremental labels: quotient merge == rebuild; replay is a fixpoint") {
    ops.configure(spark)
    ops.ensureGraftCatalog(spark)
    // pre-build the shared seeds (round-14, VERDICT r13 #5) so the
    // deltas below measure the ENTRY's own work: with the 90% index
    // arriving as a zero-copy clone, the entry must add ZERO builds and
    // exactly one incremental apply (the 10% batch)
    ext.Dedup.ensureLabelSeeds(spark, d)
    val b0 = DedupIndex.labelBuilds.get()
    val i0 = DedupIndex.labelIncRefreshes.get()
    val rows = ext.Dedup.queries("ext153_components_incremental")(spark, d)
      .collect()
    assert(rows.nonEmpty)
    assert(DedupIndex.labelBuilds.get() === b0,
      "the batch must fold into the seeded clone incrementally, not rebuild")
    assert(DedupIndex.labelIncRefreshes.get() === i0 + 1)

    // incremental == rebuilt: a from-scratch build over the SAME corpus
    // under a different index name must produce identical labels
    Seq("lb_labels", "lb_edges", "lb_posts", "lb_meta").foreach(x =>
      spark.sql(s"DROP TABLE IF EXISTS graft_cat.db.dedup_lbl_full_$x"))
    val full = DedupIndex.ensureLabelsCdc(spark, "graft_cat.db.lbl_docs",
      "lbl_full")
    assert(DedupIndex.labelBuilds.get() === b0 + 1)
    val inc = spark.table("graft_cat.db.dedup_lbl_ix_lb_labels")
      .orderBy("doc_id").collect().map(_.toSeq)
    val reb = spark.table(full).orderBy("doc_id").collect().map(_.toSeq)
    assert(inc.toSeq === reb.toSeq,
      "incremental labels diverged from the full rebuild")

    // crash replay: wind the watermark back one version and re-ensure —
    // the apply re-runs over the already-merged labels and must be a
    // FIXPOINT (same rows, no rebuild)
    val headV = spark.sql(
      "SELECT MAX(v) FROM graft_cat.db.lbl_docs.versions").head.getLong(0)
    spark.sql("INSERT OVERWRITE graft_cat.db.dedup_lbl_ix_lb_meta " +
      s"SELECT CAST(${headV - 1} AS BIGINT), 'graft_cat.db.lbl_docs'")
    DedupIndex.ensureLabelsCdc(spark, "graft_cat.db.lbl_docs", "lbl_ix")
    assert(DedupIndex.labelBuilds.get() === b0 + 1, "replay rebuilt")
    assert(DedupIndex.labelIncRefreshes.get() === i0 + 2)
    val replayed = spark.table("graft_cat.db.dedup_lbl_ix_lb_labels")
      .orderBy("doc_id").collect().map(_.toSeq)
    assert(replayed.toSeq === inc.toSeq,
      "replaying the slice changed the labels — not a fixpoint")

    // a delete slice applies INCREMENTALLY (round-12): the stored edge
    // artifact lets the apply recompute only the touched components'
    // survivors — no rebuild — and maintained must equal a from-scratch
    // build over the head corpus (splits included)
    spark.sql("DELETE FROM graft_cat.db.lbl_docs WHERE doc_id % 13 = 1")
    val t = DedupIndex.ensureLabelsCdc(spark, "graft_cat.db.lbl_docs",
      "lbl_ix")
    assert(DedupIndex.labelBuilds.get() === b0 + 1,
      "a delete slice must apply via the stored edges, not a rebuild")
    assert(DedupIndex.labelIncRefreshes.get() === i0 + 3)
    val after = spark.table(t).collect()
    assert(after.forall(_.getLong(0) % 13 != 1))
    Seq("lb_labels", "lb_edges", "lb_posts", "lb_meta").foreach(x =>
      spark.sql(s"DROP TABLE IF EXISTS graft_cat.db.dedup_lbl_del_$x"))
    val full2 = DedupIndex.ensureLabelsCdc(spark, "graft_cat.db.lbl_docs",
      "lbl_del")
    val maintained = spark.table(t).orderBy("doc_id").collect().map(_.toSeq)
    val rebuilt = spark.table(full2).orderBy("doc_id").collect().map(_.toSeq)
    assert(maintained.toSeq === rebuilt.toSeq,
      "delete-maintained labels diverged from the full rebuild")
    // and the stored edge artifact converged to the head's edge set too
    val eMaint = spark.table("graft_cat.db.dedup_lbl_ix_lb_edges")
      .orderBy("a_id", "b_id").collect().map(_.toSeq)
    val eReb = spark.table("graft_cat.db.dedup_lbl_del_lb_edges")
      .orderBy("a_id", "b_id").collect().map(_.toSeq)
    assert(eMaint.toSeq === eReb.toSeq,
      "maintained edge artifact diverged from the rebuilt one")

    // the inventory classifies the _lb meta as its own family (it must
    // not fall into the signatures branch and silently vanish)
    val inv = spark.sql("CALL graft_cat.system.indexes('db')")
      .filter(col("index_name") === "lbl_ix").collect()
    assert(inv.length === 1, s"label index missing from inventory: ${inv.toSeq}")
    assert(inv.head.getString(0) === "component-labels")
  }

  test("label replay spanning newer commits: merged doc in remapped AND newRows") {
    // A crash between the MERGE and the watermark advance, followed by
    // MORE appends, replays a slice that contains an ALREADY-MERGED doc
    // (stored label exists) whose stored comp also LOSES in the quotient
    // — putting it in both the remapped and newRows halves of the MERGE
    // source. MERGE's cardinality check rejects duplicate source keys
    // (and that failure is not the feed-refusal exception, so there is
    // no rebuild fallback): the apply must dedupe the source, converge
    // to the fixpoint, and never wedge.
    ops.configure(spark)
    ops.ensureGraftCatalog(spark)
    import graft.ext.DedupIndex
    val corpus = "graft_cat.db.lblrp_docs"
    spark.sql(s"DROP TABLE IF EXISTS $corpus")
    Seq("lb_labels", "lb_edges", "lb_posts", "lb_meta").foreach(x =>
      spark.sql(s"DROP TABLE IF EXISTS graft_cat.db.dedup_lblrp_$x"))
    spark.sql(s"CREATE TABLE $corpus (doc_id BIGINT, text STRING) " +
      "TBLPROPERTIES ('graft.dml.mode'='merge-on-read')")
    val tX = "aa bb cc dd ee"
    val tY = "ff gg hh ii jj"
    spark.sql(s"INSERT INTO $corpus VALUES (10, '$tX'), (20, '$tY')")
    DedupIndex.ensureLabelsCdc(spark, corpus, "lblrp") // build: 10→10, 20→20
    // batch A: doc 30 duplicates tY → merges into comp 20
    spark.sql(s"INSERT INTO $corpus VALUES (30, '$tY')")
    DedupIndex.ensureLabelsCdc(spark, corpus, "lblrp")
    assert(spark.table("graft_cat.db.dedup_lblrp_lb_labels")
      .filter(col("doc_id") === 30).head.getLong(1) === 20L)
    // simulate the crash: wind the watermark back BEFORE batch A
    val headV = spark.sql(s"SELECT MAX(v) FROM $corpus.versions").head.getLong(0)
    spark.sql("INSERT OVERWRITE graft_cat.db.dedup_lblrp_lb_meta " +
      s"SELECT CAST(${headV - 1} AS BIGINT), '$corpus'")
    // batch B: doc 5 (smaller than every stored comp) duplicates tY —
    // the quotient remaps comp 20 → 5, so doc 30's stored label LOSES
    // while doc 30 is simultaneously in the replayed slice's newIds
    spark.sql(s"INSERT INTO $corpus VALUES (5, '$tY')")
    val b0 = DedupIndex.labelBuilds.get()
    DedupIndex.ensureLabelsCdc(spark, corpus, "lblrp") // must not throw
    assert(DedupIndex.labelBuilds.get() === b0, "replay slice forced a rebuild")
    val got = spark.table("graft_cat.db.dedup_lblrp_lb_labels")
      .orderBy("doc_id").collect().map(r => (r.getLong(0), r.getLong(1)))
    assert(got.toSeq === Seq((5L, 5L), (10L, 10L), (20L, 5L), (30L, 5L)),
      s"post-replay labels diverged: ${got.toSeq}")
    spark.sql(s"DROP TABLE IF EXISTS $corpus")
    Seq("lb_labels", "lb_edges", "lb_posts", "lb_meta").foreach(x =>
      spark.sql(s"DROP TABLE IF EXISTS graft_cat.db.dedup_lblrp_$x"))
  }

  test("label deletes: split, no-split, and update-merge all apply incrementally") {
    ops.configure(spark)
    ops.ensureGraftCatalog(spark)
    import graft.ext.DedupIndex
    val corpus = "graft_cat.db.lblsp_docs"
    spark.sql(s"DROP TABLE IF EXISTS $corpus")
    Seq("lblsp", "lblsp2", "lblsp3", "lblsp4").foreach(n =>
      Seq("lb_labels", "lb_edges", "lb_posts", "lb_meta").foreach(x =>
        spark.sql(s"DROP TABLE IF EXISTS graft_cat.db.dedup_${n}_$x")))
    spark.sql(s"CREATE TABLE $corpus (doc_id BIGINT, text STRING) " +
      "TBLPROPERTIES ('graft.dml.mode'='merge-on-read')")
    // a 3-doc CHAIN component (J(1,2) = J(2,3) = 0.5 exactly, J(1,3) =
    // 0.2): doc 2 is the only bridge, so deleting it must SPLIT the
    // component — the case a min-label table alone cannot handle
    val t1 = "a b c d e f g h"
    val t2 = "c d e f g h i j"
    val t3 = "e f g h i j k l"
    spark.sql(s"INSERT INTO $corpus VALUES (1, '$t1'), (2, '$t2'), " +
      s"(3, '$t3'), (9, 'zz yy xx')")
    DedupIndex.ensureLabelsCdc(spark, corpus, "lblsp")
    val lbl = "graft_cat.db.dedup_lblsp_lb_labels"
    def labelMap = spark.table(lbl).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(labelMap === Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 9L -> 9L))
    val b0 = DedupIndex.labelBuilds.get()
    val i0 = DedupIndex.labelIncRefreshes.get()

    // delete-that-SPLITS: the bridge goes; 1 and 3 must part ways
    spark.sql(s"DELETE FROM $corpus WHERE doc_id = 2")
    DedupIndex.ensureLabelsCdc(spark, corpus, "lblsp")
    assert(DedupIndex.labelBuilds.get() === b0, "split delete rebuilt")
    assert(DedupIndex.labelIncRefreshes.get() === i0 + 1)
    assert(labelMap === Map(1L -> 1L, 3L -> 3L, 9L -> 9L),
      s"split not applied: $labelMap")
    // maintained == rebuilt, labels AND edge artifact
    DedupIndex.ensureLabelsCdc(spark, corpus, "lblsp2")
    assert(spark.table("graft_cat.db.dedup_lblsp2_lb_labels").collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap === labelMap)
    assert(spark.table("graft_cat.db.dedup_lblsp_lb_edges")
        .orderBy("a_id", "b_id").collect().map(_.toSeq).toSeq ===
      spark.table("graft_cat.db.dedup_lblsp2_lb_edges")
        .orderBy("a_id", "b_id").collect().map(_.toSeq).toSeq)

    // delete-that-does-NOT-split: an isolated doc goes, rest untouched
    // (b1: the lblsp2 comparison rebuild above legitimately counted)
    val b1 = DedupIndex.labelBuilds.get()
    spark.sql(s"DELETE FROM $corpus WHERE doc_id = 9")
    DedupIndex.ensureLabelsCdc(spark, corpus, "lblsp")
    assert(DedupIndex.labelBuilds.get() === b1)
    assert(labelMap === Map(1L -> 1L, 3L -> 3L))

    // update-that-MERGES: doc 3 re-texted as a duplicate of doc 1 —
    // the update slice retracts 3 and re-adds it into 1's component
    spark.sql(s"UPDATE $corpus SET text = '$t1' WHERE doc_id = 3")
    DedupIndex.ensureLabelsCdc(spark, corpus, "lblsp")
    assert(DedupIndex.labelBuilds.get() === b1, "update slice rebuilt")
    assert(DedupIndex.labelIncRefreshes.get() === i0 + 3)
    assert(labelMap === Map(1L -> 1L, 3L -> 1L))
    // converged state == rebuild over the head, again
    DedupIndex.ensureLabelsCdc(spark, corpus, "lblsp3")
    assert(spark.table("graft_cat.db.dedup_lblsp3_lb_labels").collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap === labelMap)

    spark.sql(s"DROP TABLE IF EXISTS $corpus")
    Seq("lblsp", "lblsp2", "lblsp3", "lblsp4").foreach(n =>
      Seq("lb_labels", "lb_edges", "lb_posts", "lb_meta").foreach(x =>
        spark.sql(s"DROP TABLE IF EXISTS graft_cat.db.dedup_${n}_$x")))
  }

  test("label apply crash windows: retraction landed, MERGE and txn lost") {
    // The apply's retractions run overlapped with the label MERGE, so a
    // crash can land any subset of them while the MERGE and the txn
    // (inserts + watermark) are lost. Each case applies that subset by
    // hand for a slice with a split delete, a merging update and an
    // insert, leaves the watermark behind, and re-ensures: the replay
    // must apply incrementally and equal a from-scratch build.
    ops.configure(spark)
    ops.ensureGraftCatalog(spark)
    val corpus = "graft_cat.db.lblcw_docs"
    val f = graft.ext.IndexFamily.ExactLabels
    val (ix, ref) = (f.table("lblcw", _: String), f.table("lblcw_ref", _: String))
    // chain 1-2-3 (2 the only bridge: J(1,2) = J(2,3) = 0.5), pair 4-5
    val t1 = "a b c d e f g h"
    val t3 = "e f g h i j k l"
    val cases = Seq(
      "edges retraction" -> Seq(ix("edges")),
      "postings retraction" -> Seq(ix("posts")),
      "edges + postings retraction" -> Seq(ix("edges"), ix("posts")))
    cases.foreach { case (window, landed) =>
      spark.sql(s"DROP TABLE IF EXISTS $corpus")
      f.drop(spark, "lblcw")
      f.drop(spark, "lblcw_ref")
      spark.sql(s"CREATE TABLE $corpus (doc_id BIGINT, text STRING) " +
        "TBLPROPERTIES ('graft.dml.mode'='merge-on-read')")
      spark.sql(s"INSERT INTO $corpus VALUES (1, '$t1'), " +
        s"(2, 'c d e f g h i j'), (3, '$t3'), (4, 'p q r s t'), " +
        "(5, 'p q r s t u'), (9, 'zz yy xx')")
      DedupIndex.ensureLabelsCdc(spark, corpus, "lblcw")
      def head = spark.sql(s"SELECT MAX(v) FROM $corpus.versions")
        .head.getLong(0)
      val v0 = head
      spark.sql(s"DELETE FROM $corpus WHERE doc_id = 2")
      spark.sql(s"UPDATE $corpus SET text = 'p q r s t' WHERE doc_id = 9")
      spark.sql(s"INSERT INTO $corpus VALUES (7, '$t3')")
      val ids = spark.sql(s"SELECT DISTINCT doc_id FROM $corpus " +
          s"VERSION AS OF 'cdf:$v0..$head'")
        .collect().map(_.getLong(0)).mkString(", ")
      landed.foreach {
        case t if t == ix("edges") => spark.sql(
          s"DELETE FROM $t WHERE a_id IN ($ids) OR b_id IN ($ids)")
        case t => spark.sql(s"DELETE FROM $t WHERE doc_id IN ($ids)")
      }
      val (b0, i0) =
        (DedupIndex.labelBuilds.get(), DedupIndex.labelIncRefreshes.get())
      DedupIndex.ensureLabelsCdc(spark, corpus, "lblcw")
      assert(DedupIndex.labelBuilds.get() === b0, s"$window: replay rebuilt")
      assert(DedupIndex.labelIncRefreshes.get() === i0 + 1, window)
      DedupIndex.ensureLabelsCdc(spark, corpus, "lblcw_ref")
      def rows(t: String) = spark.table(t).collect().map(_.toSeq.mkString(","))
        .sorted.toSeq
      Seq(ix("labels") -> ref("labels"), ix("edges") -> ref("edges"),
          ix("posts") -> ref("posts")).foreach { case (got, want) =>
        assert(rows(got) === rows(want), s"$window: $got diverged")
      }
      assert(spark.table(ix("labels")).collect()
        .map(r => r.getLong(0) -> r.getLong(1)).toMap ===
        Map(1L -> 1L, 3L -> 3L, 7L -> 3L, 4L -> 4L, 5L -> 4L, 9L -> 4L),
        window)
    }
    spark.sql(s"DROP TABLE IF EXISTS $corpus")
    f.drop(spark, "lblcw")
    f.drop(spark, "lblcw_ref")
  }

  test("expire_versions below the watermark: maintenance rebuilds, never wedges") {
    // retention vs CDC watermark: expire_versions may drop commits the
    // next apply's feed range needs — the feed refuses such ranges with
    // IllegalArgumentException (not the feed-refusal exception), so
    // without the retention guard the ensure would wedge permanently.
    // The guard detects the gap from the retained-version metadata and
    // takes the documented degradation path: a full rebuild.
    ops.configure(spark)
    ops.ensureGraftCatalog(spark)
    import graft.ext.DedupIndex
    val corpus = "graft_cat.db.expw_docs"
    spark.sql(s"DROP TABLE IF EXISTS $corpus")
    Seq("sigs", "meta").foreach(x =>
      spark.sql(s"DROP TABLE IF EXISTS graft_cat.db.dedup_expw_$x"))
    spark.sql(s"CREATE TABLE $corpus (doc_id BIGINT, text STRING) " +
      "TBLPROPERTIES ('graft.dml.mode'='merge-on-read')")
    docs.filter(col("doc_id") < 200).writeTo(corpus).append()
    DedupIndex.ensureCdc(spark, corpus, "expw") // build, watermark = v1
    // two more commits, then expire history down past the watermark
    docs.filter(col("doc_id") >= 200 && col("doc_id") < 300)
      .writeTo(corpus).append()
    spark.sql(s"DELETE FROM $corpus WHERE doc_id % 10 = 3")
    spark.sql(s"CALL graft_cat.system.expire_versions('db.expw_docs', 1)")
    val b0 = DedupIndex.builds.get()
    val c0 = DedupIndex.cdcRefreshes.get()
    val t = DedupIndex.ensureCdc(spark, corpus, "expw") // must not throw
    assert(DedupIndex.builds.get() === b0 + 1,
      "expired-below-watermark maintenance must degrade to a rebuild")
    assert(DedupIndex.cdcRefreshes.get() === c0)
    // the rebuilt index matches a fresh signing of the head corpus
    val stored = spark.table(t.sigs).orderBy("doc_id").collect().map(_.toSeq)
    val fresh = DedupIndex.signatures(
        spark.table(corpus).select("doc_id", "text"))
      .orderBy("doc_id").collect().map(_.toSeq)
    assert(stored.toSeq === fresh.toSeq)
    // and the re-bound watermark serves the NEXT slice incrementally
    docs.filter(col("doc_id") >= 300 && col("doc_id") < 350)
      .writeTo(corpus).append()
    DedupIndex.ensureCdc(spark, corpus, "expw")
    assert(DedupIndex.builds.get() === b0 + 1, "post-rebuild apply rebuilt again")
    assert(DedupIndex.cdcRefreshes.get() === c0 + 1)
    spark.sql(s"DROP TABLE IF EXISTS $corpus")
    Seq("sigs", "meta").foreach(x =>
      spark.sql(s"DROP TABLE IF EXISTS graft_cat.db.dedup_expw_$x"))
  }

  test("expired UPDATE commit cannot hide from the append-only proof") {
    // a plain ensure over a pure catalog scan is maintained from the
    // change feed: if an in-place UPDATE's commit record was EXPIRED out
    // of (watermark, head], the slice cannot be read, and signing just
    // the appended docs would serve a stale signature for the updated
    // doc. CdcIndex.ensure's retention guard (retained count == range
    // width) must force the rebuild instead.
    ops.configure(spark)
    ops.ensureGraftCatalog(spark)
    import graft.ext.DedupIndex
    val corpus = "graft_cat.db.expu_docs"
    spark.sql(s"DROP TABLE IF EXISTS $corpus")
    Seq("sigs", "meta").foreach(x =>
      spark.sql(s"DROP TABLE IF EXISTS graft_cat.db.dedup_expu_$x"))
    spark.sql(s"CREATE TABLE $corpus (doc_id BIGINT, text STRING) " +
      "TBLPROPERTIES ('graft.dml.mode'='merge-on-read')")
    docs.filter(col("doc_id") < 200).writeTo(corpus).append()
    // PLAIN ensure over a pure catalog scan — the CDC twin's path
    val t = DedupIndex.ensure(spark, spark.table(corpus), "expu")
    // count+max-preserving UPDATE, then an append, then expire the
    // history so the UPDATE's commit record vanishes from the range
    spark.sql(s"UPDATE $corpus SET text = 'graft expired update' " +
      "WHERE doc_id = 7")
    docs.filter(col("doc_id") >= 200 && col("doc_id") < 250)
      .writeTo(corpus).append()
    spark.sql(s"CALL graft_cat.system.expire_versions('db.expu_docs', 1)")
    val b0 = DedupIndex.builds.get()
    val c0 = DedupIndex.cdcRefreshes.get()
    DedupIndex.ensure(spark, spark.table(corpus), "expu")
    assert(DedupIndex.builds.get() === b0 + 1,
      "an expired UPDATE slipped past the retention guard — stale index")
    assert(DedupIndex.cdcRefreshes.get() === c0)
    val stored = spark.table(t.sigs).orderBy("doc_id").collect().map(_.toSeq)
    val fresh = DedupIndex.signatures(
        spark.table(corpus).select("doc_id", "text"))
      .orderBy("doc_id").collect().map(_.toSeq)
    assert(stored.toSeq === fresh.toSeq,
      "rebuilt index diverged from the mutated corpus")
    spark.sql(s"DROP TABLE IF EXISTS $corpus")
    Seq("sigs", "meta").foreach(x =>
      spark.sql(s"DROP TABLE IF EXISTS graft_cat.db.dedup_expu_$x"))
  }

  test("gram index autocompact: CDC churn compacts; grams still == rebuild") {
    ops.configure(spark)
    ops.ensureGraftCatalog(spark)
    spark.sql("DROP TABLE IF EXISTS graft_cat.db.cmpg_docs")
    Seq("gr_grams", "gr_meta").foreach(x =>
      spark.sql(s"DROP TABLE IF EXISTS graft_cat.db.dedup_spec_cmpg_$x"))
    spark.sql("CREATE TABLE graft_cat.db.cmpg_docs (doc_id BIGINT, " +
      "text STRING) TBLPROPERTIES ('graft.dml.mode'='merge-on-read')")
    docs.filter(col("doc_id") < 200).writeTo("graft_cat.db.cmpg_docs").append()
    val grams = DedupIndex.ensureGramsCdc(spark, "graft_cat.db.cmpg_docs",
      "spec_cmpg")

    // churn until the grams table's DV ratio crosses the declared
    // autocompact threshold; an UNSORTED index table byte-merges
    def historyOps = spark.sql(
        s"SELECT operation FROM $grams.versions")
      .collect().map(_.getString(0).split('@').head).toSeq
    var rounds = 0
    while (!historyOps.contains("compact") && rounds < 12) {
      rounds += 1
      spark.sql("UPDATE graft_cat.db.cmpg_docs SET text = " +
        s"concat(text, ' churn$rounds') WHERE doc_id % 5 = ${rounds % 5}")
      DedupIndex.ensureGramsCdc(spark, "graft_cat.db.cmpg_docs", "spec_cmpg")
    }
    assert(historyOps.contains("compact"),
      s"churn never triggered compaction: $historyOps")

    // the compacted index is still EXACTLY a fresh derive of the head
    val fresh = spark.table("graft_cat.db.cmpg_docs")
      .select(col("doc_id"),
        expr("filter(split(lower(text), ' '), t -> t <> '')").as("toks"))
      .select(col("doc_id"), explode(expr(
        "if(size(toks) < 8, array()," +
          " transform(sequence(0, size(toks) - 8)," +
          "           i -> md5(array_join(slice(toks, i + 1, 8), ' '))))"))
        .as("h"))
      .distinct().orderBy("doc_id", "h").collect().map(_.toSeq)
    val maintained = spark.table(grams)
      .orderBy("doc_id", "h").collect().map(_.toSeq)
    assert(maintained.toSeq === fresh.toSeq,
      "compacted gram rows diverged from a rebuild over the head")
  }

  test("MERGE INTO feeds ensureCdc: matched updates/deletes + inserts in one slice") {
    // the remaining DML shape: a MERGE whose one commit carries all
    // three change kinds must land in the index as one feed slice
    ops.configure(spark)
    ops.ensureGraftCatalog(spark)
    spark.sql("DROP TABLE IF EXISTS graft_cat.db.mrg_docs")
    Seq("sigs", "meta").foreach(x =>
      spark.sql(s"DROP TABLE IF EXISTS graft_cat.db.dedup_mrg_cdc_$x"))
    spark.sql("CREATE TABLE graft_cat.db.mrg_docs (doc_id BIGINT, " +
      "text STRING) TBLPROPERTIES ('graft.dml.mode'='merge-on-read')")
    docs.filter(col("doc_id") < 450)
      .writeTo("graft_cat.db.mrg_docs").append()
    DedupIndex.ensureCdc(spark, "graft_cat.db.mrg_docs", "mrg_cdc")
    // source: updates for %10=1, deletes for %10=2, inserts (>= 450)
    docs.filter(col("doc_id") % 10 < 3 || col("doc_id") >= 450)
      .createOrReplaceTempView("mrg_src")
    spark.sql(
      """MERGE INTO graft_cat.db.mrg_docs t
        |USING mrg_src s ON t.doc_id = s.doc_id
        |WHEN MATCHED AND s.doc_id % 10 = 1
        |  THEN UPDATE SET text = concat(s.text, ' merged')
        |WHEN MATCHED AND s.doc_id % 10 = 2 THEN DELETE
        |WHEN NOT MATCHED THEN INSERT (doc_id, text)
        |  VALUES (s.doc_id, s.text)""".stripMargin)
    val b0 = DedupIndex.builds.get()
    val c0 = DedupIndex.cdcRefreshes.get()
    DedupIndex.ensureCdc(spark, "graft_cat.db.mrg_docs", "mrg_cdc")
    assert(DedupIndex.builds.get() === b0, "MERGE forced a rebuild")
    assert(DedupIndex.cdcRefreshes.get() === c0 + 1)
    val maintained = spark.table("graft_cat.db.dedup_mrg_cdc_sigs")
      .orderBy("doc_id").collect().map(_.toSeq)
    val fresh = DedupIndex.signatures(
        spark.table("graft_cat.db.mrg_docs").select("doc_id", "text"))
      .orderBy("doc_id").collect().map(_.toSeq)
    assert(maintained.toSeq === fresh.toSeq,
      "MERGE-driven maintenance diverged from a rebuild over the head")
  }

  test("batch probe signs the batch only; corpus side reads stored signatures") {
    ops.configure(spark)
    ops.ensureGraftCatalog(spark)
    val key = "corpus_" + d.replaceAll("[^a-zA-Z0-9]", "_")
    spark.sql(s"DROP TABLE IF EXISTS graft_cat.db.dedup_${key}_sigs")
    spark.sql(s"DROP TABLE IF EXISTS graft_cat.db.dedup_${key}_meta")

    val r = ext.Dedup.dedupIndexBatchProbe(spark, d)
    val rows = r.collect()
    // pairs must straddle the split by construction
    rows.foreach { row =>
      assert(row.getLong(0) < 400L && row.getLong(1) >= 400L)
    }
    // corpus-side md5 work would show as a scan of documents feeding the
    // x-side; instead the only md5 stages hang off the batch filter
    // (doc_id >= 400). Pin: the index table is scanned, and a SECOND run
    // neither rebuilds nor refreshes.
    val b0 = DedupIndex.builds.get()
    val rf0 = DedupIndex.refreshes.get()
    val r2 = ext.Dedup.dedupIndexBatchProbe(spark, d)
    assert(r2.collect().map(_.toSeq).toSeq === rows.map(_.toSeq).toSeq)
    assert(DedupIndex.builds.get() === b0)
    assert(DedupIndex.refreshes.get() === rf0)
    val plan = r2.queryExecution.executedPlan.toString
      .split("== Initial Plan ==").head
    assert(plan.contains(s"dedup_${key}_sigs"),
      "batch probe does not read the stored corpus signatures:\n" + plan)
  }

  test("capped labels: append applies incrementally; crossings and erasure rebuild") {
    // the df-capped label family's contract (round-13): every append
    // folds in incrementally — a no-crossing batch via the plain
    // quotient apply, and a batch that pushes a shingle's df across
    // the cap (which retroactively changes UNTOUCHED docs' capped
    // shingle sets) via the expanded-touched apply: the crossing
    // shingle's <= cap stored member docs join the touched set and
    // their components recompute cluster-locally from the stored
    // postings. Erasure slices and the post-MERGE replay window
    // rebuild (linearly — the point of the cap). Every path must equal
    // a from-scratch capped build over the head corpus.
    ops.configure(spark)
    ops.ensureGraftCatalog(spark)
    import graft.ext.DedupIndex
    val corpus = "graft_cat.db.lcap_docs"
    def dropIx(n: String): Unit =
      Seq("lc_labels", "lc_posts", "lc_df", "lc_meta").foreach(x =>
        spark.sql(s"DROP TABLE IF EXISTS graft_cat.db.dedup_${n}_$x"))
    spark.sql(s"DROP TABLE IF EXISTS $corpus")
    dropIx("lcap"); dropIx("lcap_chk")
    spark.sql(s"CREATE TABLE $corpus (doc_id BIGINT, text STRING) " +
      "TBLPROPERTIES ('graft.dml.mode'='merge-on-read')")
    // seed: shingle "aa bb cc" at df = 7 (docs 0-6, one below the cap of
    // 8); a near-dup pair (100, 101) sharing most shingles; and a HUB
    // component 300-307 glued together ONLY through the shingle
    // "pp qq rr" at df = 8 exactly (doc 300 = the 3-token hub whose
    // sole shingle it is; each spoke pairs with the hub at J = 1/2) —
    // the component a later cap crossing must tear apart
    spark.range(0, 7).selectExpr("id AS doc_id",
      "concat('aa bb cc tail', id) AS text").writeTo(corpus).append()
    spark.sql(s"INSERT INTO $corpus VALUES " +
      "(100, 'xx yy zz ww vv uu'), (101, 'xx yy zz ww vv tt')")
    spark.sql(s"INSERT INTO $corpus VALUES (300, 'pp qq rr')")
    spark.range(301, 308).selectExpr("id AS doc_id",
      "concat('pp qq rr u', id) AS text").writeTo(corpus).append()
    // unrelated filler singletons: the apply's cost gate falls back to
    // a rebuild when crossing-touched docs exceed a third of the
    // corpus — production corpora dwarf any one crossing, so the spec
    // corpus must too for the incremental path to be the chosen plan
    spark.range(1000, 1060).selectExpr("id AS doc_id",
      "concat('fa', id, ' fb', id, ' fc', id, ' fd', id) AS text")
      .writeTo(corpus).append()
    val b0 = DedupIndex.labelCappedBuilds.get()
    val i0 = DedupIndex.labelCappedIncRefreshes.get()
    val t = DedupIndex.ensureLabelsCappedCdc(spark, corpus, "lcap")
    assert(DedupIndex.labelCappedBuilds.get() === b0 + 1)
    // (100, 101) share 3 of 4+4 distinct shingles -> J = 3/5 >= 0.5
    val lab0 = spark.table(t).orderBy("doc_id").collect()
    assert(lab0.filter(_.getLong(0) === 101L).head.getLong(1) === 100L,
      s"near-dup pair not clustered: ${lab0.toSeq}")
    // the hub component exists pre-crossing: every spoke labels 300
    assert((301L to 307L).forall(id =>
      lab0.filter(_.getLong(0) === id).head.getLong(1) === 300L),
      s"hub component not formed: ${lab0.toSeq}")

    // 1. pure append, no crossing ("aa bb cc" goes 7 -> 8, still <= cap;
    //    the batch doc near-dups doc 101) — INCREMENTAL, and the batch
    //    edge must merge 102 into the stored cluster 100
    spark.sql(s"INSERT INTO $corpus VALUES " +
      "(7, 'aa bb cc tail7'), (102, 'xx yy zz ww vv ss')")
    DedupIndex.ensureLabelsCappedCdc(spark, corpus, "lcap")
    assert(DedupIndex.labelCappedBuilds.get() === b0 + 1,
      "a no-crossing append must not rebuild")
    assert(DedupIndex.labelCappedIncRefreshes.get() === i0 + 1)
    val lab1 = spark.table(t).orderBy("doc_id").collect()
    assert(lab1.filter(_.getLong(0) === 102L).head.getLong(1) === 100L,
      s"appended near-dup not merged into the stored cluster: ${lab1.toSeq}")
    // incremental == rebuilt under a fresh name
    val chk = DedupIndex.ensureLabelsCappedCdc(spark, corpus, "lcap_chk")
    assert(spark.table(t).orderBy("doc_id").collect().map(_.toSeq).toSeq
      === spark.table(chk).orderBy("doc_id").collect().map(_.toSeq).toSeq,
      "incremental capped labels diverged from the from-scratch build")

    // 2. crossing append: docs 8 and 308 push "aa bb cc" and "pp qq rr"
    //    to df = 9 > cap — docs 0-7 and the whole hub component 300-307
    //    lose those shingles from their capped sets without being in
    //    the slice. The apply detects both crossings against the df
    //    sidecar, pulls the shingles' stored member docs into the
    //    touched set, and recomputes their components cluster-locally —
    //    INCREMENTALLY, never a rebuild — and the hub component must
    //    SPLIT into singletons (the glue shingle is gone; each spoke's
    //    surviving shingle is unique).
    val b1 = DedupIndex.labelCappedBuilds.get() // lcap_chk built too
    val i1 = DedupIndex.labelCappedIncRefreshes.get()
    spark.sql(s"INSERT INTO $corpus VALUES " +
      "(8, 'aa bb cc tail8'), (308, 'pp qq rr u308x')")
    DedupIndex.ensureLabelsCappedCdc(spark, corpus, "lcap")
    assert(DedupIndex.labelCappedBuilds.get() === b1,
      "a cap-crossing append must fold in incrementally, not rebuild")
    assert(DedupIndex.labelCappedIncRefreshes.get() === i1 + 1)
    val lab2 = spark.table(t).orderBy("doc_id").collect()
    assert((300L to 308L).forall(id =>
      lab2.filter(_.getLong(0) === id).head.getLong(1) === id),
      s"hub component not split by the crossing: ${lab2.toSeq}")
    dropIx("lcap_chk")
    val chk2 = DedupIndex.ensureLabelsCappedCdc(spark, corpus, "lcap_chk")
    assert(lab2.map(_.toSeq).toSeq
      === spark.table(chk2).orderBy("doc_id").collect().map(_.toSeq).toSeq,
      "crossing-append labels diverged from the from-scratch build")

    // 2b. the post-df-DELETE replay window, constructed: a crash after
    //     the apply's df retirement leaves affected shingles with
    //     stored postings but no df row. Simulate it — append a batch
    //     doc sharing the stored shingle "xx yy zz" (df 3, nowhere
    //     near the cap) and delete that shingle's df row by hand
    //     before ensuring. The missing-row path reconstructs the
    //     pre-apply df EXACTLY from the stored postings (ADVICE r13 —
    //     3 ≤ cap and 4 ≤ cap ⇒ NOT a crossing, so the shingle's
    //     member docs are never pulled into the touched set), lands
    //     the recomputed df row, and converges — incrementally.
    val i2b = DedupIndex.labelCappedIncRefreshes.get()
    val b2b = DedupIndex.labelCappedBuilds.get()
    spark.sql(s"INSERT INTO $corpus VALUES (400, 'xx yy zz qq ww')")
    spark.sql("DELETE FROM graft_cat.db.dedup_lcap_lc_df " +
      "WHERE sh = 'xx yy zz'")
    DedupIndex.ensureLabelsCappedCdc(spark, corpus, "lcap")
    assert(DedupIndex.labelCappedIncRefreshes.get() === i2b + 1 &&
      DedupIndex.labelCappedBuilds.get() === b2b,
      "the missing-df-row replay window must stay incremental")
    val dfRow = spark.sql("SELECT df FROM graft_cat.db.dedup_lcap_lc_df " +
      "WHERE sh = 'xx yy zz'").collect()
    assert(dfRow.map(_.getLong(0)).toSeq === Seq(4L),
      s"df row not re-landed at the head value: ${dfRow.toSeq}")
    dropIx("lcap_chk")
    val chk2b = DedupIndex.ensureLabelsCappedCdc(spark, corpus, "lcap_chk")
    assert(spark.table(t).orderBy("doc_id").collect().map(_.toSeq).toSeq
      === spark.table(chk2b).orderBy("doc_id").collect().map(_.toSeq).toSeq,
      "replay-window labels diverged from the from-scratch build")

    // 2c. the missing-df window where the shingle GENUINELY crosses:
    //     five more docs push "xx yy zz" from df 4 to df 9 > cap while
    //     its df row is (again) hand-deleted. The reconstruction must
    //     classify it crossed (4 ≤ cap < 9), pull its ≤ cap stored
    //     members into the touched set, and still fold in incrementally
    //     — byte-equal to a from-scratch build over the head corpus.
    val i2c = DedupIndex.labelCappedIncRefreshes.get()
    val b2c = DedupIndex.labelCappedBuilds.get()
    spark.sql(s"INSERT INTO $corpus VALUES " +
      (401 to 405).map(i => s"($i, 'xx yy zz n$i')").mkString(", "))
    spark.sql("DELETE FROM graft_cat.db.dedup_lcap_lc_df " +
      "WHERE sh = 'xx yy zz'")
    DedupIndex.ensureLabelsCappedCdc(spark, corpus, "lcap")
    assert(DedupIndex.labelCappedIncRefreshes.get() === i2c + 1 &&
      DedupIndex.labelCappedBuilds.get() === b2c,
      "the crossing missing-df-row window must stay incremental")
    dropIx("lcap_chk")
    val chk2c = DedupIndex.ensureLabelsCappedCdc(spark, corpus, "lcap_chk")
    assert(spark.table(t).orderBy("doc_id").collect().map(_.toSeq).toSeq
      === spark.table(chk2c).orderBy("doc_id").collect().map(_.toSeq).toSeq,
      "crossing-replay labels diverged from the from-scratch build")

    // 3. erasure slice -> rebuild by contract (capped edges are not
    //    append-stable; erasure-without-rebuild is the exact family)
    val b2 = DedupIndex.labelCappedBuilds.get()
    spark.sql(s"DELETE FROM $corpus WHERE doc_id = 101")
    DedupIndex.ensureLabelsCappedCdc(spark, corpus, "lcap")
    assert(DedupIndex.labelCappedBuilds.get() === b2 + 1,
      "an erasure slice must rebuild")
    assert(spark.table(t).collect().forall(_.getLong(0) != 101L))

    // 4. post-MERGE replay window: wind the watermark back one version —
    //    the replayed slice's doc_ids are already stored, so the guard
    //    must take the rebuild path and converge to the same labels
    val before = spark.table(t).orderBy("doc_id").collect().map(_.toSeq)
    val headV = spark.sql(
      s"SELECT MAX(v) FROM $corpus.versions").head.getLong(0)
    spark.sql("INSERT OVERWRITE graft_cat.db.dedup_lcap_lc_meta " +
      s"SELECT CAST(${headV - 2} AS BIGINT), '$corpus'")
    DedupIndex.ensureLabelsCappedCdc(spark, corpus, "lcap")
    assert(spark.table(t).orderBy("doc_id").collect().map(_.toSeq).toSeq
      === before.toSeq, "replay did not converge")

    // inventory classifies the _lc meta as its own family
    val inv = spark.sql("CALL graft_cat.system.indexes('db')")
      .filter(col("index_name") === "lcap").collect()
    assert(inv.length === 1 &&
      inv.head.getString(0) === "component-labels-capped",
      s"capped label family misclassified: ${inv.toSeq}")
    spark.sql(s"DROP TABLE IF EXISTS $corpus")
    dropIx("lcap"); dropIx("lcap_chk")
  }

  test("seed clones are hermetic: an entry's mutations never touch the seed") {
    // round-14 (VERDICT r13 #5): the construction entries clone the
    // shared seed and mutate only their clones — a leaked mutation
    // would silently corrupt every LATER entry's starting state in the
    // same run. Pin it: snapshot the full-cohort seed, run the
    // erasure entry (DELETE + UPDATE on its clone), assert the seed's
    // corpus and labels are byte-identical afterwards.
    ops.configure(spark)
    ops.ensureGraftCatalog(spark)
    ext.Dedup.ensureLabelSeeds(spark, d)
    def snap(): (Seq[Seq[Any]], Seq[Seq[Any]], Long) = (
      spark.table("graft_cat.db.lbfull_docs").orderBy("doc_id")
        .collect().map(_.toSeq).toSeq,
      spark.table("graft_cat.db.dedup_lbfull_ix_lb_labels")
        .orderBy("doc_id").collect().map(_.toSeq).toSeq,
      spark.sql("SELECT MAX(v) FROM graft_cat.db.lbfull_docs.versions")
        .head.getLong(0))
    val before = snap()
    val rows = ext.Dedup.queries("ext161_components_erasure")(spark, d)
      .collect()
    assert(rows.nonEmpty)
    // the entry really mutated ITS table (erased ids gone there)...
    assert(spark.table("graft_cat.db.lble_docs")
      .filter(col("doc_id") % 7 === 3).count() === 0L)
    // ...while the seed is untouched: same rows, same labels, and not
    // even a new corpus version (a write would bump the manifest)
    val after = snap()
    assert(after._3 === before._3, "a mutation committed on the seed corpus")
    assert(after._1 === before._1, "seed corpus rows changed")
    assert(after._2 === before._2, "seed labels changed")
  }

  test("ensureLabels auto-chooses the family, keeps it sticky, and force switches") {
    // VERDICT r13 #3: ONE entry point — posting stats pick exact
    // (erasure-without-rebuild) on a benign corpus and capped (linear
    // build) on a boilerplate storm; the recorded choice is reused by
    // later calls even after the corpus drifts storm-shaped; a force
    // that supersedes the record retires the old family's artifacts.
    ops.configure(spark)
    ops.ensureGraftCatalog(spark)
    import graft.ext.DedupIndex
    def dropAll(n: String): Unit =
      Seq("lb_labels", "lb_edges", "lb_posts", "lb_meta",
        "lc_labels", "lc_posts", "lc_df", "lc_meta", "lu_choice")
        .foreach(x =>
          spark.sql(s"DROP TABLE IF EXISTS graft_cat.db.dedup_${n}_$x"))
    val benign = "graft_cat.db.lau_benign"
    val storm = "graft_cat.db.lau_storm"
    Seq(benign, storm).foreach(t => spark.sql(s"DROP TABLE IF EXISTS $t"))
    dropAll("lau_b"); dropAll("lau_s"); dropAll("lau_s2")
    Seq(benign, storm).foreach(t =>
      spark.sql(s"CREATE TABLE $t (doc_id BIGINT, text STRING) " +
        "TBLPROPERTIES ('graft.dml.mode'='merge-on-read')"))
    // benign: 40 mostly-unique docs + one near-dup pair — max df tiny,
    // pairs ≪ 16 × posts ⇒ EXACT
    spark.range(0, 40).selectExpr("id AS doc_id",
      "concat('ba', id, ' bb', id, ' bc', id, ' bd', id) AS text")
      .writeTo(benign).append()
    spark.sql(s"INSERT INTO $benign VALUES " +
      "(100, 'na nb nc nd ne'), (101, 'na nb nc nd nf')")
    val tb = DedupIndex.ensureLabels(spark, benign, "lau_b")
    assert(tb === "graft_cat.db.dedup_lau_b_lb_labels",
      s"benign corpus must take the exact family: $tb")
    val ch = spark.table("graft_cat.db.dedup_lau_b_lu_choice").collect()
    assert(ch.length === 1 && ch.head.getString(0) === "exact" &&
      !ch.head.getBoolean(1) && ch.head.getLong(2) >= 1L,
      s"choice record wrong: ${ch.toSeq}")
    assert(spark.table(tb).filter(col("doc_id") === 101L)
      .head.getLong(1) === 100L, "exact labels wrong on the benign corpus")
    // storm: 200 identical boilerplate docs — max df 200 > 64 ⇒ CAPPED
    spark.range(0, 200).selectExpr("id AS doc_id",
      "'breaking boilerplate notice please subscribe today now' AS text")
      .writeTo(storm).append()
    val ts = DedupIndex.ensureLabels(spark, storm, "lau_s")
    assert(ts === "graft_cat.db.dedup_lau_s_lc_labels",
      s"storm corpus must take the capped family: $ts")
    assert(spark.table("graft_cat.db.dedup_lau_s_lu_choice")
      .head.getString(0) === "capped")
    // sticky: drift the benign corpus storm-shaped, ensure again — the
    // RECORDED exact choice must keep operating (the lb artifacts are
    // what exists; a silent family swap would strand them), with the
    // slice folded in incrementally by the exact family
    val bI = DedupIndex.labelIncRefreshes.get()
    spark.range(200, 300).selectExpr("id AS doc_id",
      "'breaking boilerplate notice please subscribe today now' AS text")
      .writeTo(benign).append()
    val tb2 = DedupIndex.ensureLabels(spark, benign, "lau_b")
    assert(tb2 === tb, "recorded choice not reused")
    assert(DedupIndex.labelIncRefreshes.get() === bI + 1,
      "the sticky path must still be the exact family's incremental apply")
    assert(spark.table("graft_cat.db.dedup_lau_b_lu_choice")
      .head.getString(0) === "exact", "choice record must not flip on drift")
    // force switch: supersede the record — capped family builds, the
    // exact artifacts are retired, the force is recorded
    val tb3 = DedupIndex.ensureLabels(spark, benign, "lau_b",
      force = Some("capped"))
    assert(tb3 === "graft_cat.db.dedup_lau_b_lc_labels")
    val ch3 = spark.table("graft_cat.db.dedup_lau_b_lu_choice").collect()
    assert(ch3.length === 1 && ch3.head.getString(0) === "capped" &&
      ch3.head.getBoolean(1), s"forced choice not recorded: ${ch3.toSeq}")
    assert(!spark.catalog.tableExists("graft_cat.db.dedup_lau_b_lb_labels"),
      "superseded exact artifacts must be retired")
    // and the switched index equals a direct capped build
    dropAll("lau_s2")
    val chk = DedupIndex.ensureLabelsCappedCdc(spark, benign, "lau_s2")
    assert(spark.table(tb3).orderBy("doc_id").collect().map(_.toSeq).toSeq
      === spark.table(chk).orderBy("doc_id").collect().map(_.toSeq).toSeq,
      "forced-capped labels diverged from a direct capped build")
    // the bare choice record is NOT an inventory row (no _meta suffix):
    // both real indexes classify, the lu_choice table classifies nothing
    val inv2 = spark.sql("CALL graft_cat.system.indexes('db')")
      .filter(col("index_name").startsWith("lau_")).collect()
    assert(inv2.map(r => (r.getString(0), r.getString(1))).toSet ===
      Set(("component-labels-capped", "lau_b"),
        ("component-labels-capped", "lau_s"),
        ("component-labels-capped", "lau_s2")),
      s"inventory wrong after the switch: ${inv2.toSeq}")
    Seq(benign, storm).foreach(t => spark.sql(s"DROP TABLE IF EXISTS $t"))
    dropAll("lau_b"); dropAll("lau_s"); dropAll("lau_s2")
  }

  test("ensureLabels decision curve: the crossover region is pinned, not a coin flip") {
    // VERDICT r14 #2: the auto constants sat between two well-separated
    // fixture regimes; the boundary itself was unexercised. The
    // decision is now a pure function (chooseLabelFamily) — pin the
    // full curve around both constants, then drive two MID-REGIME
    // corpora that straddle the pair-factor line through ensureLabels
    // end-to-end. Calibration behind the constants: the measured
    // crossover table (CrossoverProbeMain, SURVEY §21) shows the exact
    // family's build tracking the pair bound ≈ linearly — pf 16 holds
    // its build within a small multiple of the capped build while
    // keeping the erasure-without-rebuild contract; past the line the
    // quadratic term dominates.
    import graft.ext.DedupIndex
    import graft.ext.DedupIndex.{chooseLabelFamily => f}
    val pf = DedupIndex.LabelAutoPairFactor
    val mx = DedupIndex.LabelAutoMaxDf
    // the pair-factor edge, max_df benign: INCLUSIVE at pf·posts
    assert(f(10, 1000, pf * 1000 - 1) === "exact")
    assert(f(10, 1000, pf * 1000) === "exact", "the line itself is exact")
    assert(f(10, 1000, pf * 1000 + 1) === "capped")
    // the max-df edge, pair factor benign: INCLUSIVE at 64
    assert(f(mx - 1, 1000, 1000) === "exact")
    assert(f(mx, 1000, 1000) === "exact", "the line itself is exact")
    assert(f(mx + 1, 1000, 1000) === "capped")
    // both constraints must hold — either alone flips the family
    assert(f(mx + 1, 1000, pf * 1000) === "capped")
    assert(f(mx, 1000, pf * 1000 + 1) === "capped")
    // degenerate corpora: no postings → exact (nothing to go quadratic)
    assert(f(0, 0, 0) === "exact")

    // mid-regime end-to-end: B blocks × D identical docs give
    // max_df = D and pairs/posts = D−1, so D = 17 sits ON the line
    // (exact) and D = 18 just past it (capped) — the region where the
    // old fixture corpora gave no evidence
    ops.configure(spark)
    ops.ensureGraftCatalog(spark)
    def dropAll(n: String): Unit =
      Seq("lb_labels", "lb_edges", "lb_posts", "lb_meta",
        "lc_labels", "lc_posts", "lc_df", "lc_meta", "lu_choice")
        .foreach(x =>
          spark.sql(s"DROP TABLE IF EXISTS graft_cat.db.dedup_${n}_$x"))
    def blockCorpus(t: String, d: Int, blocks: Int): Unit = {
      spark.sql(s"DROP TABLE IF EXISTS $t")
      spark.sql(s"CREATE TABLE $t (doc_id BIGINT, text STRING) " +
        "TBLPROPERTIES ('graft.dml.mode'='merge-on-read')")
      spark.range(0, d.toLong * blocks).select(col("id").as("doc_id"),
          expr(s"array_join(transform(sequence(0, 11), " +
            s"j -> concat('w', id % $blocks, 'x', j)), ' ')").as("text"))
        .writeTo(t).append()
    }
    val on = "graft_cat.db.xc_on_line"
    val past = "graft_cat.db.xc_past_line"
    blockCorpus(on, 17, 6)
    blockCorpus(past, 18, 6)
    dropAll("xc_on"); dropAll("xc_past")
    val tOn = DedupIndex.ensureLabels(spark, on, "xc_on")
    assert(tOn === "graft_cat.db.dedup_xc_on_lb_labels",
      "pairs = 16×posts exactly must still take the exact family")
    val tPast = DedupIndex.ensureLabels(spark, past, "xc_past")
    assert(tPast === "graft_cat.db.dedup_xc_past_lc_labels",
      "one doc per block past the line must flip to capped")
    // the recorded stats agree with the block-corpus arithmetic
    val rOn = spark.table("graft_cat.db.dedup_xc_on_lu_choice").head
    assert(rOn.getLong(2) === 17L && rOn.getLong(4) === rOn.getLong(3) * 16L,
      s"on-line stats wrong: $rOn")
    val rPast = spark.table("graft_cat.db.dedup_xc_past_lu_choice").head
    assert(rPast.getLong(2) === 18L &&
      rPast.getLong(4) === rPast.getLong(3) * 17L,
      s"past-line stats wrong: $rPast")
    Seq(on, past).foreach(t => spark.sql(s"DROP TABLE IF EXISTS $t"))
    dropAll("xc_on"); dropAll("xc_past")
  }
}
