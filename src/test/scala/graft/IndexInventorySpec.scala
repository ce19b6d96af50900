package graft

import org.apache.spark.sql.functions._

/** `CALL system.indexes()` completeness and classification — round-11
  * fixed three families that silently vanished from the inventory via
  * older families' suffix branches; this spec prevents the fourth:
  *
  *  1. it builds ONE index of EVERY family of the registry
  *     ([[graft.ext.IndexFamily.All]] — the rows the classifier derives
  *     its candidates from, the ensure*() name validation its
  *     rejections from, and whose `ensure` and `drop` this spec calls)
  *     and asserts the inventory reports exactly that family set with
  *     each row's data table, so a new family cannot ship without
  *     inventory coverage;
  *  2. it pins the reserved-suffix name rejection at every family's
  *     ensure entry point (the collision that made indexes vanish);
  *  3. it pins the LEGACY fallback: a pre-rejection artifact whose
  *     name carries a reserved suffix still resolves via the sibling
  *     family instead of vanishing, and the display name strips
  *     exactly ONE family suffix, never a chain.
  */
class IndexInventorySpec extends SparkTestBase {

  import graft.ext.{AnnIndex, DedupIndex, IndexFamily, SearchIndex}

  private def inventory() =
    spark.sql("CALL graft_cat.system.indexes('db')")
      .collect()
      .map(r => (r.getString(0), r.getString(1), r.getString(2)))

  private def dropArtifacts(name: String): Unit =
    IndexFamily.All.foreach(_.drop(spark, name))

  test("one index of EVERY family: inventory reports the full family set") {
    ops.configure(spark)
    ops.ensureGraftCatalog(spark)
    val name = "inv8"
    dropArtifacts(name)
    val docsT = "graft_cat.db.inv8_docs"
    val vecsT = "graft_cat.db.inv8_vecs"
    spark.sql(s"DROP TABLE IF EXISTS $docsT")
    spark.sql(s"DROP TABLE IF EXISTS $vecsT")
    spark.sql(s"CREATE TABLE $docsT (doc_id BIGINT, text STRING) " +
      "TBLPROPERTIES ('graft.dml.mode'='merge-on-read')")
    spark.read.parquet(s"$sf/documents.parquet").select("doc_id", "text")
      .limit(200).writeTo(docsT).append()
    spark.sql(s"CREATE TABLE $vecsT (vec_id BIGINT, label INT, " +
      "v ARRAY<DOUBLE>, norm DOUBLE) " +
      "TBLPROPERTIES ('graft.dml.mode'='merge-on-read')")
    spark.range(0, 200).select(col("id").as("vec_id"),
        (col("id") % 7).cast("int").as("label"),
        expr("transform(sequence(0, 63), " +
          "j -> CAST((id % 97) * 0.05 + (j % 11) * 0.25 AS DOUBLE))").as("v"))
      .withColumn("norm", expr("sqrt(aggregate(v, 0D, (a, x) -> a + x * x))"))
      .writeTo(vecsT).append()

    // one index per registered family, all under the same index name;
    // each ensure returns the data table the inventory must report
    val wantTables = IndexFamily.All.map { f =>
      f.id -> f.ensure(spark, if (f.vectors) vecsT else docsT, name)
    }.toMap
    assert(wantTables ===
      IndexFamily.All.map(f => f.id -> f.table(name, f.data)).toMap)

    val rows = inventory().filter(_._2 == name)
    val wantFamilies = IndexFamily.All.map(_.id).toSet
    assert(rows.map(_._1).toSet === wantFamilies,
      s"inventory families diverged from the source of truth: ${rows.toSeq}")
    assert(rows.length === wantFamilies.size,
      s"expected exactly one row per family: ${rows.toSeq}")
    // each row's data table is its family's data table
    rows.foreach { case (family, _, dataTable) =>
      assert(s"graft_cat.$dataTable" === wantTables(family),
        s"$family data table misnamed: $dataTable")
    }
    dropArtifacts(name)
    spark.sql(s"DROP TABLE IF EXISTS $docsT")
    spark.sql(s"DROP TABLE IF EXISTS $vecsT")
  }

  test("base-family ensure entry points reject their prefix's sub-family suffixes") {
    ops.configure(spark)
    ops.ensureGraftCatalog(spark)
    val docs = spark.range(0, 5).select(col("id").as("doc_id"),
      lit("aa bb cc dd ee ff gg hh ii").as("text"))
    val vecs = spark.range(0, 5).select(col("id").as("vec_id"),
      expr("transform(sequence(0, 63), j -> CAST(j AS DOUBLE))").as("v"))
    // a MINHASH index named 'a_gr' would create dedup_a_gr_meta — the
    // SAME table an exact-grams index named 'a' owns; likewise an IVF
    // index named 'a_pq'/'a_sq'/'a_gr' vs the ANN sub-tiers. The
    // base-family entry points must reject those names (the validation
    // fires before any catalog access, so the corpus args are untouched)
    intercept[IllegalArgumentException](DedupIndex.ensure(spark, docs, "a_gr"))
    intercept[IllegalArgumentException](DedupIndex.ensure(spark, docs, "a_lb"))
    intercept[IllegalArgumentException](DedupIndex.ensure(spark, docs, "a_lc"))
    intercept[IllegalArgumentException](
      DedupIndex.ensureCdc(spark, "graft_cat.db.nope", "a_lb"))
    intercept[IllegalArgumentException](AnnIndex.ensure(spark, vecs, "a_pq"))
    intercept[IllegalArgumentException](AnnIndex.ensure(spark, vecs, "a_sq"))
    intercept[IllegalArgumentException](AnnIndex.ensure(spark, vecs, "a_gr"))
    intercept[IllegalArgumentException](
      AnnIndex.ensureCdc(spark, "graft_cat.db.nope", "a_gr"))
    // a dedup-prefix name ending in an ANN-only suffix is fine — the
    // suffixes are scoped per prefix
    spark.sql("DROP TABLE IF EXISTS graft_cat.db.dedup_ok_pq_sigs")
    spark.sql("DROP TABLE IF EXISTS graft_cat.db.dedup_ok_pq_meta")
    DedupIndex.ensure(spark, docs, "ok_pq")
    assert(inventory().contains(("minhash-signatures", "ok_pq",
      "db.dedup_ok_pq_sigs")))
    spark.sql("DROP TABLE IF EXISTS graft_cat.db.dedup_ok_pq_sigs")
    spark.sql("DROP TABLE IF EXISTS graft_cat.db.dedup_ok_pq_meta")
    // SUB-family entry points append their own suffix and stay
    // collision-free for any charset-valid name — a SQ index named
    // '*_sq' is the established convention (ext143-145) and must build
    spark.sql("DROP TABLE IF EXISTS graft_cat.db.ann_ok_sq_sq_codes")
    spark.sql("DROP TABLE IF EXISTS graft_cat.db.ann_ok_sq_sq_meta")
    val codes = AnnIndex.ensureSq(spark, vecs, "ok_sq")
    assert(spark.table(codes).count() === 5L)
    spark.sql("DROP TABLE IF EXISTS graft_cat.db.ann_ok_sq_sq_codes")
    spark.sql("DROP TABLE IF EXISTS graft_cat.db.ann_ok_sq_sq_meta")
    // the plain charset rejection still holds everywhere
    intercept[IllegalArgumentException](SearchIndex.ensure(spark, docs, "a-b"))
    intercept[IllegalArgumentException](
      AnnIndex.ensureGraphCdc(spark, "graft_cat.db.nope", "a.b"))
  }

  test("legacy reserved-suffix artifacts: sibling fallback + one-suffix names") {
    ops.configure(spark)
    ops.ensureGraftCatalog(spark)
    // a legacy MINHASH index named 'leg_gr' (built before the rejection
    // existed): its meta base ends in _gr, so the classifier first tries
    // the exact-grams branch — whose data table is absent — and must
    // fall back to the signatures family instead of dropping the row
    Seq("dedup_leg_gr_sigs", "dedup_leg_gr_meta",
      "ann_a_sq_pq_codes", "ann_a_sq_pq_cents", "ann_a_sq_pq_meta")
      .foreach(t => spark.sql(s"DROP TABLE IF EXISTS graft_cat.db.$t"))
    spark.sql("CREATE TABLE graft_cat.db.dedup_leg_gr_sigs " +
      "(doc_id BIGINT, h0 STRING)")
    spark.sql("INSERT INTO graft_cat.db.dedup_leg_gr_sigs VALUES (1, 'x')")
    spark.sql("CREATE TABLE graft_cat.db.dedup_leg_gr_meta " +
      "(k BIGINT, n_docs BIGINT, max_id BIGINT)")
    val leg = inventory().filter(_._3 == "db.dedup_leg_gr_sigs")
    assert(leg.toSeq === Seq(("minhash-signatures", "leg_gr",
      "db.dedup_leg_gr_sigs")),
      s"legacy _gr-named signature index misclassified or missing: ${leg.toSeq}")

    // a legacy PQ index named 'a_sq': meta base 'a_sq_pq' must strip
    // exactly the matched family's suffix — display 'a_sq', never 'a'
    spark.sql("CREATE TABLE graft_cat.db.ann_a_sq_pq_codes " +
      "(vec_id BIGINT, sub INT, code INT)")
    spark.sql("INSERT INTO graft_cat.db.ann_a_sq_pq_codes VALUES (1, 0, 3)")
    spark.sql("CREATE TABLE graft_cat.db.ann_a_sq_pq_meta (version BIGINT)")
    val pq = inventory().filter(_._3 == "db.ann_a_sq_pq_codes")
    assert(pq.toSeq === Seq(("pq-codes", "a_sq", "db.ann_a_sq_pq_codes")),
      s"one-suffix display name violated: ${pq.toSeq}")

    Seq("dedup_leg_gr_sigs", "dedup_leg_gr_meta",
      "ann_a_sq_pq_codes", "ann_a_sq_pq_meta")
      .foreach(t => spark.sql(s"DROP TABLE IF EXISTS graft_cat.db.$t"))
  }
}
