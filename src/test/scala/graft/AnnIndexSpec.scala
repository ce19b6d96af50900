package graft

import org.apache.spark.sql.functions._

/** The persisted ANN index ([[graft.ext.AnnIndex]]): build-once
  * amortization across queries, zero k-means stages in a probe-only
  * plan, incremental append maintenance, and rebuild on non-append
  * change.
  */
class AnnIndexSpec extends SparkTestBase {

  import graft.ext.AnnIndex

  private def mkCorpus(n: Long) =
    spark.range(0, n).select(col("id").as("vec_id"),
        expr("transform(sequence(0, 3), " +
          "j -> CAST((id % 97) * 0.05 + j * 0.25 AS DOUBLE))").as("v"))
      .withColumn("norm", expr("sqrt(aggregate(v, 0D, (a, x) -> a + x * x))"))

  test("two searches share ONE persisted build; probe plans have no k-means") {
    ops.configure(spark)
    val d = "/root/testdata/sf0.001"
    val b0 = AnnIndex.builds.get()
    // drop any index a previous suite run left so this test really builds
    ops.ensureGraftCatalog(spark)
    val key = "emb_" + d.replaceAll("[^a-zA-Z0-9]", "_")
    spark.sql(s"DROP TABLE IF EXISTS graft_cat.db.ann_${key}_cells")
    spark.sql(s"DROP TABLE IF EXISTS graft_cat.db.ann_${key}_cents")

    val r1 = ext.Similarity.persistedIvfTopK(spark, d)
    val rows1 = r1.collect()
    assert(rows1.nonEmpty)
    assert(AnnIndex.builds.get() === b0 + 1)

    // the stored index equals the in-query k-means build bit-for-bit:
    // the persisted probe-1 must be value-identical to ext20
    val inQuery = ext.Similarity.kmeansIvfTopK(spark, d).collect()
    assert(rows1.map(_.toSeq).toSeq === inQuery.map(_.toSeq).toSeq,
      "persisted-index probe diverged from the in-query build")

    // second query over the SAME index: no new build, no refresh, and
    // its plan is probe-only — no Lloyd/posexplode/assignment stages
    val rf0 = AnnIndex.refreshes.get()
    val r2 = ext.Similarity.persistedIvfProbe2(spark, d)
    assert(r2.collect().nonEmpty)
    assert(AnnIndex.builds.get() === b0 + 1, "second search re-built the index")
    assert(AnnIndex.refreshes.get() === rf0)
    val plan = r2.queryExecution.executedPlan.toString
      .split("== Initial Plan ==").head
    assert(!plan.contains("posexplode"),
      "probe plan contains a k-means Lloyd stage:\n" + plan)
    assert(plan.contains(s"ann_${key}_cells"),
      "probe plan does not scan the persisted cells table:\n" + plan)
    // ... and it matches ext37 (the in-query probe-2) value-for-value
    val p2 = ext.Similarity.kmeansIvfProbe2(spark, d).collect()
    assert(r2.collect().map(_.toSeq).toSeq === p2.map(_.toSeq).toSeq)
  }

  test("append-only growth refreshes incrementally against stored centroids") {
    ops.configure(spark)
    val b0 = AnnIndex.builds.get()
    val rf0 = AnnIndex.refreshes.get()
    ops.ensureGraftCatalog(spark)
    spark.sql("DROP TABLE IF EXISTS graft_cat.db.ann_spec_idx_cells")
    spark.sql("DROP TABLE IF EXISTS graft_cat.db.ann_spec_idx_cents")

    val t = AnnIndex.ensure(spark, mkCorpus(1000), "spec_idx")
    assert(AnnIndex.builds.get() === b0 + 1)
    val centsBefore = spark.table(t.cents).orderBy("cid")
      .collect().map(r => (r.getInt(0), r.getSeq[Double](1)))
    val oldCells = spark.table(t.cells).filter(col("vec_id") < 1000)
      .orderBy("vec_id").collect().map(r => (r.getLong(0), r.getLong(1)))

    // same corpus again: pure no-op (covered = no build, no refresh)
    AnnIndex.ensure(spark, mkCorpus(1000), "spec_idx")
    assert(AnnIndex.builds.get() === b0 + 1)
    assert(AnnIndex.refreshes.get() === rf0)

    // corpus grew by append: only the delta is assigned; the quantizer
    // and every pre-existing assignment are byte-identical
    AnnIndex.ensure(spark, mkCorpus(1200), "spec_idx")
    assert(AnnIndex.builds.get() === b0 + 1, "append triggered a full rebuild")
    assert(AnnIndex.refreshes.get() === rf0 + 1)
    val centsAfter = spark.table(t.cents).orderBy("cid")
      .collect().map(r => (r.getInt(0), r.getSeq[Double](1)))
    assert(centsAfter.toSeq === centsBefore.toSeq,
      "incremental refresh moved the stored centroids")
    val cellsAfter = spark.table(t.cells).orderBy("vec_id")
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    assert(cellsAfter.length === 1200)
    assert(cellsAfter.take(1000).toSeq === oldCells.toSeq,
      "incremental refresh rewrote pre-existing assignments")

    // the delta's cells are the true argmin over the STORED centroids
    // (recomputed independently here, ordering by (d2, cid))
    val vById = mkCorpus(1200).filter(col("vec_id") >= 1000)
      .collect().map(r => r.getLong(0) -> r.getSeq[Double](1)).toMap
    cellsAfter.drop(1000).foreach { case (id, cell) =>
      val v = vById(id)
      val best = centsBefore.map { case (cid, c) =>
        val d2 = v.zip(c).foldLeft(0.0)((a, p) =>
          a + (p._1 - p._2) * (p._1 - p._2))
        (d2, cid)
      }.min
      assert(best._2.toLong === cell, s"vec $id assigned to $cell, argmin ${best._2}")
    }
  }

  test("bucketed cells: the probe self-join is storage-partitioned (no exchange)") {
    import org.apache.spark.sql.execution.SparkPlan
    import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
    import org.apache.spark.sql.execution.exchange.ShuffleExchangeLike
    import org.apache.spark.sql.execution.joins.{ShuffledHashJoinExec, SortMergeJoinExec}
    ops.configure(spark)
    ops.ensureGraftCatalog(spark)
    spark.sql("DROP TABLE IF EXISTS graft_cat.db.ann_spec_spj_cells")
    spark.sql("DROP TABLE IF EXISTS graft_cat.db.ann_spec_spj_cents")
    val t = AnnIndex.ensure(spark, mkCorpus(2000), "spec_spj")
    spark.conf.set("spark.sql.sources.v2.bucketing.enabled", "true")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try {
      val a1 = spark.table(t.cells)
      val df = a1.filter(col("vec_id") % 50 === 0).as("q")
        .join(a1.as("c"), col("q.cell") === col("c.cell") &&
          col("q.vec_id") =!= col("c.vec_id"))
        .groupBy(col("q.vec_id").as("q_id"))
        .agg(count(lit(1)).as("n_cand"))
      assert(df.collect().nonEmpty)
      def flatten(p: SparkPlan): Seq[SparkPlan] = p match {
        case a: AdaptiveSparkPlanExec => flatten(a.executedPlan)
        case q: QueryStageExec => q +: flatten(q.plan)
        case other => other +: other.children.flatMap(flatten)
      }
      val all = flatten(df.queryExecution.executedPlan)
      val join = all.collectFirst {
        case j: SortMergeJoinExec => j
        case j: ShuffledHashJoinExec => j
      }
      assert(join.isDefined, s"no shuffle-family join planned:\n${all.head}")
      val below = join.get.children.flatMap(flatten)
      assert(!below.exists(_.isInstanceOf[ShuffleExchangeLike]),
        s"exchange below the probe join — SPJ did not engage:\n${join.get}")
    } finally {
      spark.conf.unset("spark.sql.sources.v2.bucketing.enabled")
      spark.conf.unset("spark.sql.autoBroadcastJoinThreshold")
    }
  }

  /** 64-dim corpus for the PQ tier (8 subspaces × 8 dims). */
  private def mkCorpus64(n: Long) =
    spark.range(0, n).select(col("id").as("vec_id"),
      expr("transform(sequence(0, 63), " +
        "j -> CAST((id % 97) * 0.05 + (j % 11) * 0.25 AS DOUBLE))").as("v"))

  test("PQ: stored codes answer ADC identically to ext75; probe plan learns nothing") {
    ops.configure(spark)
    val d = "/root/testdata/sf0.001"
    ops.ensureGraftCatalog(spark)
    val key = "emb_" + d.replaceAll("[^a-zA-Z0-9]", "_")
    spark.sql(s"DROP TABLE IF EXISTS graft_cat.db.ann_${key}_pq_codes")
    spark.sql(s"DROP TABLE IF EXISTS graft_cat.db.ann_${key}_pq_cents")
    val b0 = AnnIndex.pqBuilds.get()

    val r1 = ext.Similarity.persistedPqAdc(spark, d)
    val rows1 = r1.collect()
    assert(rows1.nonEmpty)
    assert(AnnIndex.pqBuilds.get() === b0 + 1)

    // a fresh PQ build is bit-identical to ext75's in-query construction
    val inQuery = ext.Similarity.pqTopK(spark, d).collect()
    assert(rows1.map(_.toSeq).toSeq === inQuery.map(_.toSeq).toSeq,
      "persisted-PQ ADC diverged from the in-query build")

    // second search: no rebuild, no refresh, and the plan is probe-only —
    // no Lloyd stage (integer-scaled sums / collect_list) anywhere; the
    // scan side is the stored codes table
    val rf0 = AnnIndex.pqRefreshes.get()
    val r2 = ext.Similarity.persistedPqAdc(spark, d)
    assert(r2.collect().map(_.toSeq).toSeq === rows1.map(_.toSeq).toSeq)
    assert(AnnIndex.pqBuilds.get() === b0 + 1, "second search re-built the index")
    assert(AnnIndex.pqRefreshes.get() === rf0)
    val plan = r2.queryExecution.executedPlan.toString
      .split("== Initial Plan ==").head
    assert(!plan.contains("collect_list"),
      "probe plan contains a codebook-learning stage:\n" + plan)
    assert(!plan.contains("round("),
      "probe plan contains the Lloyd integer-scaling stage:\n" + plan)
    assert(plan.contains(s"ann_${key}_pq_codes"),
      "probe plan does not scan the persisted codes table:\n" + plan)
  }

  test("PQ: append-only growth encodes only the delta against stored codebooks") {
    ops.configure(spark)
    ops.ensureGraftCatalog(spark)
    spark.sql("DROP TABLE IF EXISTS graft_cat.db.ann_spec_pq_pq_codes")
    spark.sql("DROP TABLE IF EXISTS graft_cat.db.ann_spec_pq_pq_cents")
    val b0 = AnnIndex.pqBuilds.get()
    val rf0 = AnnIndex.pqRefreshes.get()

    val t = AnnIndex.ensurePq(spark, mkCorpus64(1000), "spec_pq")
    assert(AnnIndex.pqBuilds.get() === b0 + 1)
    val centsBefore = spark.table(t.cents).orderBy("j", "cid")
      .collect().map(r => (r.getInt(0), r.getInt(1), r.getSeq[Double](2)))
    val oldCodes = spark.table(t.codes).orderBy("vec_id", "j")
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getInt(2)))
    assert(oldCodes.length === 8000)

    // covered corpus: pure no-op
    AnnIndex.ensurePq(spark, mkCorpus64(1000), "spec_pq")
    assert(AnnIndex.pqBuilds.get() === b0 + 1)
    assert(AnnIndex.pqRefreshes.get() === rf0)

    // append: codebooks and pre-existing codes byte-identical; only the
    // delta is encoded
    AnnIndex.ensurePq(spark, mkCorpus64(1200), "spec_pq")
    assert(AnnIndex.pqBuilds.get() === b0 + 1, "append triggered a full rebuild")
    assert(AnnIndex.pqRefreshes.get() === rf0 + 1)
    val centsAfter = spark.table(t.cents).orderBy("j", "cid")
      .collect().map(r => (r.getInt(0), r.getInt(1), r.getSeq[Double](2)))
    assert(centsAfter.toSeq === centsBefore.toSeq,
      "incremental refresh moved the stored codebooks")
    val codesAfter = spark.table(t.codes).orderBy("vec_id", "j")
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getInt(2)))
    assert(codesAfter.length === 9600)
    assert(codesAfter.take(8000).toSeq === oldCodes.toSeq,
      "incremental refresh rewrote pre-existing codes")

    // each delta code is the true argmin over the STORED codebook of its
    // subspace, ordering by (d2, cid)
    val books = centsBefore.groupBy(_._1).map { case (j, rs) =>
      j -> rs.map(r => (r._2, r._3)) }
    val vById = mkCorpus64(1200).filter(col("vec_id") >= 1000)
      .collect().map(r => r.getLong(0) -> r.getSeq[Double](1)).toMap
    codesAfter.drop(8000).foreach { case (id, j, code) =>
      val subv = vById(id).slice(j * 8, j * 8 + 8)
      val best = books(j).map { case (cid, c) =>
        val d2 = subv.zip(c).foldLeft(0.0)((a, p) =>
          a + (p._1 - p._2) * (p._1 - p._2))
        (d2, cid)
      }.min
      assert(best._2 === code,
        s"vec $id subspace $j coded $code, argmin ${best._2}")
    }
  }

  test("CDC maintenance: delete+update apply as one feed slice; cells == re-assign") {
    ops.configure(spark)
    ops.ensureGraftCatalog(spark)
    val d = "/root/testdata/sf0.001"
    val b0 = AnnIndex.builds.get()
    val c0 = AnnIndex.cdcRefreshes.get()
    val rows = ext.Similarity.queries("ext135_ann_cdc_maintenance")(spark, d)
      .collect()
    assert(rows.nonEmpty)
    assert(AnnIndex.builds.get() === b0 + 1,
      "CDC maintenance should build exactly once (the seed)")
    assert(AnnIndex.cdcRefreshes.get() === c0 + 1,
      "the delete+update slice should apply via the feed, not a rebuild")

    // the maintained cells table is row-identical to assigning the HEAD
    // corpus against the STORED centroids — the production IVF contract
    val maintained = spark.table("graft_cat.db.ann_cdc_vecs_cells")
      .select("vec_id", "cell").orderBy("vec_id").collect().map(_.toSeq)
    val fresh = ext.AnnIndex.assign(
        spark.table("graft_cat.db.cdc_vecs"),
        spark.table("graft_cat.db.ann_cdc_vecs_cents"))
      .select(col("vec_id"), col("cell").cast("bigint"))
      .orderBy("vec_id").collect().map(_.toSeq)
    assert(maintained.toSeq === fresh.toSeq,
      "CDC-maintained cells diverged from re-assignment of the head")
    // no vector divisible by 9 survived in the index
    assert(maintained.forall(r => r.head.asInstanceOf[Long] % 9 != 0))

    // covered head: pure no-op
    AnnIndex.ensureCdc(spark, "graft_cat.db.cdc_vecs", "cdc_vecs")
    assert(AnnIndex.builds.get() === b0 + 1)
    assert(AnnIndex.cdcRefreshes.get() === c0 + 1)

    // retraction went merge-on-read (DV append), never copy-on-write
    val ops_ = spark.sql(
      "SELECT operation FROM graft_cat.db.ann_cdc_vecs_cells.versions")
      .collect().map(_.getString(0)).toSeq
    assert(ops_.contains("delete") && !ops_.contains("rewrite"),
      s"cells retraction not a DV append: $ops_")
  }

  test("PQ CDC maintenance: codes follow delete+update; codes == re-encode") {
    ops.configure(spark)
    ops.ensureGraftCatalog(spark)
    val d = "/root/testdata/sf0.001"
    val b0 = AnnIndex.pqBuilds.get()
    val c0 = AnnIndex.pqCdcRefreshes.get()
    val rows = ext.Similarity.queries("ext137_pq_cdc_maintenance")(spark, d)
      .collect()
    assert(rows.nonEmpty)
    assert(AnnIndex.pqBuilds.get() === b0 + 1,
      "PQ CDC maintenance should build exactly once (the seed)")
    assert(AnnIndex.pqCdcRefreshes.get() === c0 + 1,
      "the delete+update slice should apply via the feed, not a rebuild")
    // erasure reached the derived artifact: no code row of a deleted
    // vector survives, and every code equals re-encoding the head
    val maintained = spark.table("graft_cat.db.ann_cdc_pq_pq_codes")
      .orderBy("vec_id", "j").collect().map(_.toSeq)
    assert(maintained.forall(r => r.head.asInstanceOf[Long] % 9 != 0))
    // covered head: pure no-op
    AnnIndex.ensurePqCdc(spark, "graft_cat.db.cdc_pqvecs", "cdc_pq")
    assert(AnnIndex.pqBuilds.get() === b0 + 1)
    assert(AnnIndex.pqCdcRefreshes.get() === c0 + 1)
  }

  test("a non-append corpus change triggers a full rebuild") {
    ops.configure(spark)
    ops.ensureGraftCatalog(spark)
    spark.sql("DROP TABLE IF EXISTS graft_cat.db.ann_spec_rb_cells")
    spark.sql("DROP TABLE IF EXISTS graft_cat.db.ann_spec_rb_cents")
    val b0 = AnnIndex.builds.get()
    AnnIndex.ensure(spark, mkCorpus(1000), "spec_rb")
    assert(AnnIndex.builds.get() === b0 + 1)
    // shrunk corpus: stored rows are NOT a prefix cover — rebuild
    val t = AnnIndex.ensure(spark, mkCorpus(500), "spec_rb")
    assert(AnnIndex.builds.get() === b0 + 2,
      "a shrunk corpus must force a full rebuild, not a refresh")
    assert(spark.table(t.cells).count() === 500L)
  }

  test("legacy INT-cells layout routes a grown corpus to rebuild, not a failed append") {
    ops.configure(spark)
    ops.ensureGraftCatalog(spark)
    spark.sql("DROP TABLE IF EXISTS graft_cat.db.ann_spec_legacy_cells")
    spark.sql("DROP TABLE IF EXISTS graft_cat.db.ann_spec_legacy_cents")
    // simulate an index persisted before the BIGINT/bucketed migration:
    // INT cell column, unpartitioned — a BIGINT delta append into it
    // fails analysis, so ensure() must treat the layout as "not
    // covered" and fall back to a full rebuild
    spark.sql("CREATE TABLE graft_cat.db.ann_spec_legacy_cells " +
      "(vec_id BIGINT, cell INT, v ARRAY<DOUBLE>, norm DOUBLE)")
    spark.sql("INSERT INTO graft_cat.db.ann_spec_legacy_cells " +
      "SELECT id, CAST(id % 8 AS INT), array(CAST(id AS DOUBLE)), 1.0D " +
      "FROM range(64)")
    spark.sql("CREATE TABLE graft_cat.db.ann_spec_legacy_cents " +
      "(cid INT, c ARRAY<DOUBLE>)")
    spark.sql("INSERT INTO graft_cat.db.ann_spec_legacy_cents " +
      "SELECT CAST(id AS INT), array(CAST(id AS DOUBLE)) FROM range(8)")
    val b0 = AnnIndex.builds.get()
    // corpus grew past the stored max: the old code path would append
    val t = AnnIndex.ensure(spark, mkCorpus(128), "spec_legacy")
    assert(AnnIndex.builds.get() === b0 + 1,
      "legacy layout should have routed to a full rebuild")
    assert(spark.table(t.cells).schema("cell").dataType ===
      org.apache.spark.sql.types.LongType,
      "rebuild must migrate the cells layout to BIGINT")
    assert(spark.table(t.cells).count() === 128L)
  }

  test("SQ: stored codes answer identically to ext143; probe quantizes nothing") {
    ops.configure(spark)
    ops.ensureGraftCatalog(spark)
    val d = "/root/testdata/sf0.001"
    val key = "emb_" + d.replaceAll("[^a-zA-Z0-9]", "_")
    spark.sql(s"DROP TABLE IF EXISTS graft_cat.db.ann_${key}_sq_codes")
    val b0 = AnnIndex.sqBuilds.get()

    val rows1 = ext.Similarity.persistedSqTopK(spark, d).collect()
    assert(rows1.nonEmpty)
    assert(AnnIndex.sqBuilds.get() === b0 + 1)

    // the stored-codes probe is bit-identical to ext143's in-query
    // quantization (same encode formula, same fold order)
    val inQuery = ext.Similarity.sqTopK(spark, d).collect()
    assert(rows1.map(_.toSeq).toSeq === inQuery.map(_.toSeq).toSeq,
      "persisted-SQ probe diverged from the in-query quantization")

    // second search: no rebuild/refresh; the plan reconstructs from the
    // stored (mn, mx, codes) columns — no quantize stage (array_min /
    // array_max / floor-encode) anywhere — and scans the codes table
    val rf0 = AnnIndex.sqRefreshes.get()
    val r2 = ext.Similarity.persistedSqTopK(spark, d)
    assert(r2.collect().map(_.toSeq).toSeq === rows1.map(_.toSeq).toSeq)
    assert(AnnIndex.sqBuilds.get() === b0 + 1, "second search re-built the index")
    assert(AnnIndex.sqRefreshes.get() === rf0)
    val plan = r2.queryExecution.executedPlan.toString
      .split("== Initial Plan ==").head
    assert(!plan.contains("array_min") && !plan.contains("array_max"),
      "probe plan contains a quantize stage:\n" + plan)
    assert(plan.contains(s"ann_${key}_sq_codes"),
      "probe plan does not scan the persisted codes table:\n" + plan)
  }

  test("SQ: append encodes only the delta; codes equal the row-local formula") {
    ops.configure(spark)
    ops.ensureGraftCatalog(spark)
    spark.sql("DROP TABLE IF EXISTS graft_cat.db.ann_spec_sq_sq_codes")
    val b0 = AnnIndex.sqBuilds.get()
    val rf0 = AnnIndex.sqRefreshes.get()

    val t = AnnIndex.ensureSq(spark, mkCorpus64(1000), "spec_sq")
    assert(AnnIndex.sqBuilds.get() === b0 + 1)
    val oldCodes = spark.table(t).orderBy("vec_id").collect()
      .map(r => (r.getLong(0), r.getDouble(1), r.getDouble(2),
        r.getSeq[Int](3)))
    assert(oldCodes.length === 1000)

    // covered corpus: pure no-op
    AnnIndex.ensureSq(spark, mkCorpus64(1000), "spec_sq")
    assert(AnnIndex.sqBuilds.get() === b0 + 1)
    assert(AnnIndex.sqRefreshes.get() === rf0)

    // append: pre-existing codes byte-identical; only the delta encodes
    AnnIndex.ensureSq(spark, mkCorpus64(1200), "spec_sq")
    assert(AnnIndex.sqBuilds.get() === b0 + 1, "append triggered a full rebuild")
    assert(AnnIndex.sqRefreshes.get() === rf0 + 1)
    val codesAfter = spark.table(t).orderBy("vec_id").collect()
      .map(r => (r.getLong(0), r.getDouble(1), r.getDouble(2),
        r.getSeq[Int](3)))
    assert(codesAfter.length === 1200)
    assert(codesAfter.take(1000).toSeq === oldCodes.toSeq,
      "incremental refresh rewrote pre-existing codes")

    // every delta row equals the row-local formula — SQ has no trained
    // artifact, so refresh ≡ rebuild restricted to those rows
    val vById = mkCorpus64(1200).filter(col("vec_id") >= 1000)
      .collect().map(r => r.getLong(0) -> r.getSeq[Double](1)).toMap
    codesAfter.drop(1000).foreach { case (id, mn, mx, codes) =>
      val v = vById(id)
      assert(mn === v.min && mx === v.max, s"vec $id scale ($mn, $mx)")
      val want = v.map(x =>
        if (mx > mn) math.floor((x - mn) * 255 / (mx - mn) + 0.5).toInt else 0)
      assert(codes.toSeq === want.toSeq, s"vec $id codes")
    }
  }

  test("SQ CDC maintenance: codes follow delete+update; maintained == rebuilt") {
    ops.configure(spark)
    ops.ensureGraftCatalog(spark)
    val d = "/root/testdata/sf0.001"
    val b0 = AnnIndex.sqBuilds.get()
    val c0 = AnnIndex.sqCdcRefreshes.get()
    val rows = ext.Similarity.queries("ext145_sq_cdc_maintenance")(spark, d)
      .collect()
    assert(rows.nonEmpty)
    assert(AnnIndex.sqBuilds.get() === b0 + 1,
      "SQ CDC maintenance should build exactly once (the seed)")
    assert(AnnIndex.sqCdcRefreshes.get() === c0 + 1,
      "the delete+update slice should apply via the feed, not a rebuild")

    // erasure reached the artifact, and — SQ's distinguishing property —
    // the maintained table is EXACTLY what a from-scratch encode of the
    // head produces (no frozen-quantizer caveat)
    val maintained = spark.table("graft_cat.db.ann_cdc_sq_sq_codes")
      .orderBy("vec_id").collect().map(_.toSeq)
    assert(maintained.forall(r => r.head.asInstanceOf[Long] % 9 != 0))
    val fresh = spark.table("graft_cat.db.cdc_sqvecs")
      .select(col("vec_id"), col("v"))
      .withColumn("mn", array_min(col("v")))
      .withColumn("mx", array_max(col("v")))
      .select(col("vec_id"), col("mn"), col("mx"),
        expr("transform(v, x -> if(mx > mn," +
          " CAST(floor((x - mn) * 255 / (mx - mn) + 0.5D) AS INT), 0))")
          .as("codes"))
      .orderBy("vec_id").collect().map(_.toSeq)
    assert(maintained.toSeq === fresh.toSeq,
      "CDC-maintained SQ codes diverged from a fresh encode of the head")

    // covered head: pure no-op
    AnnIndex.ensureSqCdc(spark, "graft_cat.db.cdc_sqvecs", "cdc_sq")
    assert(AnnIndex.sqBuilds.get() === b0 + 1)
    assert(AnnIndex.sqCdcRefreshes.get() === c0 + 1)

    // retraction went merge-on-read (DV append), never copy-on-write
    val ops_ = spark.sql(
      "SELECT operation FROM graft_cat.db.ann_cdc_sq_sq_codes.versions")
      .collect().map(_.getString(0)).toSeq
    assert(ops_.contains("delete") && !ops_.contains("rewrite"),
      s"codes retraction not a DV append: $ops_")
  }

  test("every DataFrame ensure on a pure catalog scan takes the exact CDC watermark") {
    // an append watermark (count, max key, prefix count) is blind to an
    // in-place UPDATE that keeps row count and max key — but when the
    // corpus frame is a PURE scan of a catalog table, each of the five
    // DataFrame entry points hands it to its ensure*Cdc twin, whose
    // committed-version watermark sees the UPDATE: one feed-slice
    // refresh, no rebuild, the updated key re-derived from its head image
    import graft.ext.{CdcIndex, DedupIndex, SearchIndex}
    import java.util.concurrent.atomic.AtomicLong
    ops.configure(spark)
    ops.ensureGraftCatalog(spark)
    val (docsT, vecsT) = ("graft_cat.db.dfcat_docs", "graft_cat.db.dfcat_vecs")
    Seq(docsT, vecsT).foreach(t => spark.sql(s"DROP TABLE IF EXISTS $t"))
    spark.sql(s"CREATE TABLE $docsT (doc_id BIGINT, text STRING) " +
      "TBLPROPERTIES ('graft.dml.mode'='merge-on-read')")
    spark.range(0, 300).select(col("id").as("doc_id"),
        expr("concat('graft doc ', id % 41, ' shares words ', id % 7, " +
          "' with its neighbours')").as("text"))
      .writeTo(docsT).append()
    spark.sql(s"CREATE TABLE $vecsT (vec_id BIGINT, v ARRAY<DOUBLE>, " +
      "norm DOUBLE) TBLPROPERTIES ('graft.dml.mode'='merge-on-read')")
    mkCorpus64(200)
      .withColumn("norm", expr("sqrt(aggregate(v, 0D, (a, x) -> a + x * x))"))
      .writeTo(vecsT).append()
    val docUpd = s"UPDATE $docsT SET text = " +
      "'graft mutated body of document five' WHERE doc_id = 5"
    val vecUpd = s"UPDATE $vecsT SET v = reverse(v) WHERE vec_id = 5"
    // (entry, corpus, count+max-preserving UPDATE, DataFrame ensure,
    //  the family's Keyed, builds counter)
    val cases: Seq[(String, String, String, org.apache.spark.sql.DataFrame => Unit,
        CdcIndex.Keyed, AtomicLong)] = Seq(
      ("DedupIndex.ensure", docsT, docUpd,
        DedupIndex.ensure(spark, _, "dfcat"), DedupIndex.sigsKeyed("dfcat"),
        DedupIndex.builds),
      ("SearchIndex.ensure", docsT, docUpd,
        SearchIndex.ensure(spark, _, "dfcat"),
        SearchIndex.postingsKeyed("dfcat"), SearchIndex.builds),
      ("AnnIndex.ensure", vecsT, vecUpd, AnnIndex.ensure(spark, _, "dfcat"),
        AnnIndex.ivfKeyed(spark, "dfcat"), AnnIndex.builds),
      ("AnnIndex.ensurePq", vecsT, vecUpd,
        df => AnnIndex.ensurePq(spark, df.select("vec_id", "v"), "dfcat"),
        AnnIndex.pqKeyed(spark, "dfcat"), AnnIndex.pqBuilds),
      ("AnnIndex.ensureSq", vecsT, vecUpd,
        df => AnnIndex.ensureSq(spark, df.select("vec_id", "v"), "dfcat"),
        AnnIndex.sqKeyed(spark, "dfcat"), AnnIndex.sqBuilds))
    cases.foreach { case (entry, corpus, upd, ensure, f, builds) =>
      (f.meta +: f.artifacts.map(_._1)).foreach(t =>
        spark.sql(s"DROP TABLE IF EXISTS $t"))
      ensure(spark.table(corpus))
      val b0 = builds.get()
      val c0 = f.refreshes.get()
      spark.sql(upd)
      ensure(spark.table(corpus))
      assert(builds.get() === b0, s"$entry: the UPDATE slice rebuilt")
      assert(f.refreshes.get() === c0 + 1,
        s"$entry: count/max-preserving UPDATE was invisible — stale index")
      val head = spark.table(corpus).select(f.head.map(col): _*)
        .filter(col(f.key) === 5)
      f.artifacts.foreach { case (t, derive) =>
        def rows(df: org.apache.spark.sql.DataFrame) =
          df.collect().map(_.toSeq).sortBy(_.toString).toSeq
        assert(rows(spark.table(t).filter(col(f.key) === 5)) ===
          rows(derive(head)), s"$entry: $t does not derive the head image")
      }
      val m = spark.table(f.meta)
      assert(m.schema.fieldNames.toSeq === Seq("version", "corpus"), entry)
      assert((m.head.getLong(0), m.head.getString(1)) === ((
        spark.sql(s"SELECT max(v) FROM $corpus.versions").head.getLong(0),
        corpus)), s"$entry: meta not at the corpus head")
    }
    (Seq(docsT, vecsT, "graft_cat.db.ann_dfcat_cents",
        "graft_cat.db.ann_dfcat_pq_cents") ++ cases.flatMap(c =>
        c._5.meta +: c._5.artifacts.map(_._1)))
      .foreach(t => spark.sql(s"DROP TABLE IF EXISTS $t"))
  }

  test("a plain rebuild invalidates the CDC watermark — no stale no-op") {
    ops.configure(spark)
    ops.ensureGraftCatalog(spark)
    spark.sql("DROP TABLE IF EXISTS graft_cat.db.spec_xm_vecs")
    Seq("sq_codes", "sq_meta").foreach(x =>
      spark.sql(s"DROP TABLE IF EXISTS graft_cat.db.ann_spec_xm_$x"))
    spark.sql("CREATE TABLE graft_cat.db.spec_xm_vecs (vec_id BIGINT, " +
      "v ARRAY<DOUBLE>) TBLPROPERTIES ('graft.dml.mode'='merge-on-read')")
    mkCorpus64(500).writeTo("graft_cat.db.spec_xm_vecs").append()
    AnnIndex.ensureSqCdc(spark, "graft_cat.db.spec_xm_vecs", "spec_xm")
    val b0 = AnnIndex.sqBuilds.get()
    // a PLAIN ensure rebuilds the same index name over a DIFFERENT
    // corpus — the stale CDC watermark must not survive it, or the next
    // ensureSqCdc would no-op over codes that encode the wrong corpus
    AnnIndex.ensureSq(spark, mkCorpus64(300), "spec_xm")
    assert(AnnIndex.sqBuilds.get() === b0 + 1)
    assert(spark.table("graft_cat.db.ann_spec_xm_sq_codes").count() === 300L)
    AnnIndex.ensureSqCdc(spark, "graft_cat.db.spec_xm_vecs", "spec_xm")
    assert(AnnIndex.sqBuilds.get() === b0 + 2,
      "stale CDC watermark served a plain-rebuilt index as covered")
    assert(spark.table("graft_cat.db.ann_spec_xm_sq_codes").count() === 500L)
  }

  test("graph: oversized cell pair join is O(n*cap), not O(n^2)") {
    ops.configure(spark)
    graft.functions.CosineSimilarity.register(spark)
    import graft.ext.AnnIndex
    val cap = AnnIndex.GraphCellCap
    // one mega-cell of 1000 vectors — the hot-cell/skewed-label shape
    // that would make an uncapped cell-local all-pairs join quadratic
    val n = 1000L
    val corpus = spark.range(0, n).select(col("id").as("vec_id"),
      lit(1).as("label"),
      expr("transform(sequence(0, 7), " +
        "j -> CAST((id % 13) * 0.5 + j AS DOUBLE))").as("v"))
    val nsub = math.ceil(n.toDouble / cap).toLong // 4 sub-buckets
    assert(nsub === 4L)
    // vec_id % 4 over 0..999 gives 4 even sub-buckets of 250
    val wantPairs = nsub * 250L * 249L // Σ n_i*(n_i-1) = 249,000
    val uncappedPairs = n * (n - 1) // 999,000
    val got = AnnIndex.graphPairs(corpus).count()
    assert(got === wantPairs,
      s"capped pair count $got != expected O(n*cap) bound $wantPairs")
    assert(got < uncappedPairs / 3,
      "cap did not materially bound the hot cell's pair join")
    // every node still gets out-edges, and they stay inside the node's
    // own sub-bucket (determinism: a rebuild reproduces them exactly)
    val edges = AnnIndex.graphEdges(corpus)
    assert(edges.select("src").distinct().count() === n)
    assert(edges.filter(col("src") % nsub =!= col("dst") % nsub).count() === 0L,
      "an out-edge crossed sub-buckets")
    // under the cap the split is a no-op: nsub = 1 reproduces the plain
    // cell-local adjacency bit-for-bit
    val small = corpus.filter(col("vec_id") < cap)
    val plainPairs = small.as("a").join(small.as("b"),
        col("a.label") === col("b.label") &&
          col("a.vec_id") =!= col("b.vec_id"))
      .count()
    assert(AnnIndex.graphPairs(small).count() === plainPairs,
      "cap engaged below the threshold")
  }

  test("graph: stored edges probe equals the in-query build; ensure is idempotent") {
    ops.configure(spark)
    ops.ensureGraftCatalog(spark)
    val d = "/root/testdata/sf0.001"
    val b0 = AnnIndex.graphBuilds.get()
    val r1 = ext.Similarity.persistedGraphTopK(spark, d)
    val rows1 = r1.collect()
    assert(rows1.nonEmpty)
    // the entry calls ensureGraphCdc twice (build, then covered no-op)
    assert(AnnIndex.graphBuilds.get() === b0 + 1,
      "covered head must be a no-op, not a second build")
    // the stored-edges probe is bit-identical to ext146's in-query graph
    val inQuery = ext.Similarity.graphAnnBeam(spark, d).collect()
    assert(rows1.map(_.toSeq).toSeq === inQuery.map(_.toSeq).toSeq,
      "persisted-graph probe diverged from the in-query build")
    // and the probe plan scans the persisted edges table
    val plan = r1.queryExecution.executedPlan.toString
      .split("== Initial Plan ==").head
    assert(plan.contains("ann_gr_ix_gr_edges"),
      "probe plan does not scan the persisted edges table:\n" + plan)
  }

  test("graph CDC maintenance: cell-granular retract+re-derive; maintained == rebuilt") {
    ops.configure(spark)
    ops.ensureGraftCatalog(spark)
    val d = "/root/testdata/sf0.001"
    val b0 = AnnIndex.graphBuilds.get()
    val c0 = AnnIndex.graphCdcRefreshes.get()
    val rows = ext.Similarity.queries("ext148_graph_cdc_maintenance")(spark, d)
      .collect()
    assert(rows.nonEmpty)
    assert(AnnIndex.graphBuilds.get() === b0 + 1,
      "graph CDC maintenance should build exactly once (the seed)")
    assert(AnnIndex.graphCdcRefreshes.get() === c0 + 1,
      "the delete+update slice should apply via the feed, not a rebuild")

    // erasure reached the artifact on BOTH edge ends (a deleted vector
    // must vanish as src and as dst — dst removal is exactly why the
    // graph maintains at cell granularity)
    val maintained = spark.table("graft_cat.db.ann_cdc_gr_gr_edges")
      .orderBy("cell", "src", "dst").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    assert(maintained.forall { case (_, s0, d0) => s0 % 9 != 0 && d0 % 9 != 0 })

    // maintained ≡ rebuilt: the edges equal a from-scratch derivation
    // over the head corpus (same top-4 in-cell contract)
    val wn = spark.table("graft_cat.db.cdc_grvecs")
      .select(col("vec_id"), col("label"), col("v"))
      .withColumn("norm", expr("sqrt(aggregate(v, 0D, (a, x) -> a + x * x))"))
    val dotAB =
      "aggregate(zip_with(a.v, b.v, (x, y) -> x * y), 0D, (acc, x) -> acc + x)"
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("src").orderBy(col("cos").desc, col("dst"))
    val fresh = wn.as("a").join(wn.as("b"),
        col("a.label") === col("b.label") && col("a.vec_id") =!= col("b.vec_id"))
      .select(col("a.label").cast("bigint").as("cell"),
        col("a.vec_id").as("src"), col("b.vec_id").as("dst"),
        (expr(dotAB) / (col("a.norm") * col("b.norm"))).as("cos"))
      .withColumn("rk", row_number().over(w)).filter(col("rk") <= 4)
      .orderBy("cell", "src", "dst").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    assert(maintained.toSeq === fresh.toSeq,
      "CDC-maintained graph edges diverged from a fresh per-cell derive")

    // covered head: pure no-op
    AnnIndex.ensureGraphCdc(spark, "graft_cat.db.cdc_grvecs", "cdc_gr")
    assert(AnnIndex.graphBuilds.get() === b0 + 1)
    assert(AnnIndex.graphCdcRefreshes.get() === c0 + 1)
  }

  test("bench probe split: ext146/ext170 materialize their build in the entry call") {
    // VERDICT r14 #8: the persisted graph entries (ext147/ext172) get an
    // honest probe decomposition in BENCH_RUN for free — their ensure*
    // build runs eagerly inside the entry function, so the post-frame
    // count Bench times is the walk. The in-query twins used to hide the
    // adjacency (and, for ext170, the quantizer) build inside the lazy
    // plan; they now localCheckpoint those legs inside the entry call.
    // Pin it structurally: the returned frame's analyzed plan bottoms
    // out in checkpointed leaves, and the in-cell pair-join + top-4
    // window that BUILD the adjacency are no longer in the probe plan
    // (the walk keeps its own row_number windows, so count leaves, not
    // windows).
    ops.configure(spark)
    val d = "/root/testdata/sf0.001"
    def ckptLeaves(df: org.apache.spark.sql.DataFrame): Int =
      df.queryExecution.analyzed.collect {
        case l: org.apache.spark.sql.execution.LogicalRDD => l
      }.size
    val beam = ext.Similarity.queries("ext146_graph_ann_beam")(spark, d)
    assert(ckptLeaves(beam) >= 1,
      "ext146's adjacency must be a materialized leaf, not a lazy pair join")
    val prod = ext.Similarity.queries("ext170_graph_recall_prod_cell")(spark, d)
    assert(ckptLeaves(prod) >= 3,
      "ext170 must materialize corpus, entry frontier AND adjacency eagerly")
    // and the eager build changed nothing about the answers
    assert(beam.count() > 0 && prod.count() > 0)
  }
}
