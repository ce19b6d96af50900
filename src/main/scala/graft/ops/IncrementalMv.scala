package graft.ops

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Incremental materialized-view maintenance driven by the change feed.
  *
  * The reference serves dashboards from pre-aggregated summary tables it
  * rebuilds wholesale on every pipeline run (`transformation.py`'s
  * aggregate dims) — fine when the fact fits one DuckDB file, fatal at
  * 100 TB where a rebuild re-scans the world for a day of churn. This
  * module closes the loop the engine already has both halves of:
  * [[graft.plans.MvRewrite]] routes readers AT summary tables, and the
  * catalog's change feed (`VERSION AS OF 'cdf:a..b'`,
  * [[graft.sources.SegTable.cdfTable]]) reads EXACTLY a range's changed
  * rows from manifest arithmetic. Refresh therefore costs the churn, not
  * the table:
  *
  *   - the MV stores mergeable partials (COUNT(*), SUM(v)) keyed by the
  *     grouping — the same partial-merge discipline as ext81/ext99;
  *   - refresh folds the feed's signed deltas (+1/+v per insert image,
  *     -1/-v per delete pre-image; an UPDATE is its delete+insert pair)
  *     into per-group adjustments, FULL OUTER-merges them onto the
  *     stored partials, and drops groups whose count reaches zero —
  *     algebraically identical to a full re-aggregation of the head
  *     snapshot, which is what the q173 oracle pins;
  *   - the MV partials and the refresh watermark (the last folded fact
  *     version, a one-row catalog table) publish in ONE cross-table
  *     transaction ([[graft.sources.SegTxn]]): a crash between the two
  *     commits leaves an intent record that `initialize()`/`txn_recover`
  *     rolls forward, so "partials applied" and "watermark advanced" can
  *     never diverge durably — the failure mode that silently
  *     double-applies a day of churn on the next refresh.
  *
  * Refreshes are single-maintainer by design (Delta's OPTIMIZE
  * discipline): concurrent refreshers are not merged, they are expected
  * to be serialized by whatever schedules maintenance. A racing WRITER
  * is safe — the delta scan is pinned to the head version the watermark
  * will record, so commits landing mid-refresh are simply next
  * refresh's churn.
  *
  * The helper keys the MV on any list of grouping expressions with
  * COUNT/SUM partials. When the groups are plain fact COLUMNS, the MV
  * is exactly the shape [[graft.plans.MvRollupRewrite]] routes
  * coarser-grained dashboards at (q174 closes that loop end-to-end:
  * catalog fact → maintained catalog MV → transparent rewrite).
  */
object IncrementalMv {

  /** One refresh's outcome: `changesScanned` = change-feed rows the
    * delta aggregation read (the churn — the cost witness), `refreshed`
    * = whether anything was published, `headVersion` = the fact version
    * the MV now reflects, `deltaPlan` = the delta scan's executed plan
    * (spec hook: proves the read is the CDF slice, not a snapshot). */
  case class RefreshResult(changesScanned: Long, refreshed: Boolean,
      headVersion: Long, deltaPlan: String)

  private def factTable(s: SparkSession, fact: String) = {
    ensureGraftCatalog(s)
    s.sessionState.catalogManager.catalog("graft_cat")
      .asInstanceOf[graft.sources.GraftCatalog]
      .segTable(fact.stripPrefix("graft_cat."))
  }

  /** Full build: aggregate the fact AT a pinned head version and publish
    * MV + watermark atomically. `groups` maps fact-side SQL expressions
    * to MV column names (plain column names keep the MV eligible for
    * [[graft.plans.MvRollupRewrite]] routing); the MV's schema is the
    * group columns plus (cnt BIGINT, sum_v BIGINT); `meta` is (k BIGINT,
    * last_v BIGINT); `valSql` is the summed expression. Returns the
    * watermark version. */
  def build(s: SparkSession, fact: String, mv: String, meta: String,
      groups: Seq[(String, String)], valSql: String): Long = {
    val headV = factTable(s, fact).currentVersion
    val sel = groups.map { case (e, n) => s"$e AS $n" }.mkString(", ")
    val by = groups.map(_._1).mkString(", ")
    inTxn(s) {
      s.sql(
        s"""INSERT OVERWRITE $mv
           |SELECT $sel, COUNT(*) AS cnt,
           |  CAST(SUM($valSql) AS BIGINT) AS sum_v
           |FROM $fact VERSION AS OF $headV
           |GROUP BY $by""".stripMargin)
      s.sql(s"INSERT OVERWRITE $meta SELECT CAST(0 AS BIGINT) AS k, " +
        s"CAST($headV AS BIGINT) AS last_v")
    }
    headV
  }

  /** Incremental refresh: fold the change feed `(watermark, head]` into
    * the stored partials. No-op (nothing scanned, nothing published)
    * when the watermark is already at head. */
  def refresh(s: SparkSession, fact: String, mv: String, meta: String,
      groups: Seq[(String, String)], valSql: String): RefreshResult = {
    val t = factTable(s, fact)
    val headV = t.currentVersion
    val lastV = {
      val r = s.sql(s"SELECT MAX(last_v) AS v FROM $meta").head
      require(!r.isNullAt(0), s"$mv has no watermark in $meta — run build() first")
      r.getLong(0)
    }
    if (headV == lastV)
      return RefreshResult(0L, refreshed = false, headV, deltaPlan = "")

    // retention guard (the CdcIndex.ensure discipline): expire_versions
    // may have dropped commits inside (lastV, headV] — the change feed
    // then refuses the range and the refresh would fail identically
    // forever. Detect the gap from the retained-version metadata and
    // degrade to the documented full re-BUILD, which re-binds the
    // watermark above the expiration horizon.
    // The feed resolves `at(lastV)` as the delta's base, so lastV
    // itself must be retained too — count [lastV, headV] inclusive.
    val retained = s.table(s"$fact.versions")
      .filter(s"v >= $lastV AND v <= $headV").count()
    if (retained < headV - lastV + 1) {
      val v = build(s, fact, mv, meta, groups, valSql)
      return RefreshResult(0L, refreshed = true, v,
        deltaPlan = "rebuild: history expired below the watermark")
    }

    // Signed per-group deltas from the feed — the ONLY fact-side read,
    // and it reads the range's churn (insert slices from new segments,
    // delete pre-images from surviving files, DV-growth diffs), never a
    // snapshot. localCheckpoint: the delta is at most one row per
    // touched group; checkpointing lets the witness count and the merge
    // share one CDF pass.
    val sel = groups.map { case (e, n) => s"$e AS $n" }.mkString(", ")
    val by = groups.map(_._1).mkString(", ")
    val deltaQ = s.sql(
      s"""SELECT $sel, COUNT(*) AS n_changes,
         |  CAST(SUM(CASE WHEN _change_type = 'insert' THEN 1 ELSE -1 END)
         |    AS BIGINT) AS d_cnt,
         |  CAST(SUM(CASE WHEN _change_type = 'insert' THEN ($valSql)
         |    ELSE -($valSql) END) AS BIGINT) AS d_sum
         |FROM $fact VERSION AS OF 'cdf:$lastV..$headV'
         |GROUP BY $by""".stripMargin)
    val plan = deltaQ.queryExecution.executedPlan.toString
    val delta = deltaQ.localCheckpoint()
    val scanned = {
      import org.apache.spark.sql.functions.{coalesce, lit, sum}
      delta.agg(coalesce(sum("n_changes"), lit(0L))).head.getLong(0)
    }

    val view = s"graft_mv_delta_${java.util.UUID.randomUUID().toString.replace("-", "")}"
    delta.createOrReplaceTempView(view)
    // null-safe equality: NULL group keys aggregate into one group, so
    // the merge must join them as one group too
    val on = groups.map { case (_, n) => s"m.$n <=> d.$n" }.mkString(" AND ")
    val mergedKeys = groups.map { case (_, n) =>
      s"COALESCE(m.$n, d.$n) AS $n" }.mkString(", ")
    try inTxn(s) {
      // Self-read overwrite is safe here twice over: segments are
      // immutable files the manifest swap never mutates, and inside an
      // open txn the overwrite STAGES — the read plans against the
      // committed manifest.
      s.sql(
        s"""INSERT OVERWRITE $mv
           |SELECT $mergedKeys,
           |  COALESCE(m.cnt, 0L) + COALESCE(d.d_cnt, 0L) AS cnt,
           |  COALESCE(m.sum_v, 0L) + COALESCE(d.d_sum, 0L) AS sum_v
           |FROM $mv m FULL OUTER JOIN $view d ON $on
           |WHERE COALESCE(m.cnt, 0L) + COALESCE(d.d_cnt, 0L) > 0""".stripMargin)
      s.sql(s"INSERT OVERWRITE $meta SELECT CAST(0 AS BIGINT) AS k, " +
        s"CAST($headV AS BIGINT) AS last_v")
    } finally s.catalog.dropTempView(view)
    RefreshResult(scanned, refreshed = true, headV, plan)
  }

  /** Register the maintained MV for transparent
    * [[graft.plans.MvRollupRewrite]] routing: any dashboard aggregate
    * over the FACT whose grouping is a strict subset of `groupCols`
    * (and whose aggregates are COUNT / SUM of `sumCol`) is served from
    * the MV instead — without the query changing a character. Requires
    * the MV built with plain-column `groups` (expression groupings have
    * no fact-side column to match). */
  def registerForRewrite(s: SparkSession, fact: String, mv: String,
      groupCols: Seq[String], sumCol: String): Unit = {
    graft.plans.MvRewrite.register(s)
    graft.plans.MvRegistry.register(graft.plans.MvRegistry.MvDef(
      factPath = fact, mvPath = mv, groupCols = groupCols.toSet,
      sumMap = Map(sumCol -> "sum_v"), countCol = "cnt"))
  }

  type Q = (SparkSession, String) => DataFrame

  /** q173 — the end-to-end claim: build at v1, four DML waves (append,
    * MoR delete, MoR update, whole-group delete), ONE incremental
    * refresh folds them, a second refresh no-ops. Witness legs pin the
    * refresh's scan cost AT the churn (w1) and the no-op (w2); the
    * group legs hash-match a full DuckDB re-aggregation of the final
    * fact state — fold ≡ rebuild. */
  val q173IncrementalMv: Q = (s, _) => {
    ensureGraftCatalog(s)
    Seq("mvf", "mv_s", "mv_meta").foreach(t =>
      s.sql(s"DROP TABLE IF EXISTS graft_cat.db.$t"))
    s.sql(
      """CREATE TABLE graft_cat.db.mvf (id BIGINT, v BIGINT)
        |TBLPROPERTIES ('graft.dml.mode'='merge-on-read')""".stripMargin)
    s.sql("CREATE TABLE graft_cat.db.mv_s (g BIGINT, cnt BIGINT, sum_v BIGINT)")
    s.sql("CREATE TABLE graft_cat.db.mv_meta (k BIGINT, last_v BIGINT)")
    s.read.format("graft.sources.SeqSourceProvider")
      .option("rows", "2000").option("parts", "4").load()
      .createOrReplaceTempView("graft_seq_mv")
    s.sql("INSERT INTO graft_cat.db.mvf SELECT id, v FROM graft_seq_mv WHERE id < 1500") // v1
    build(s, "graft_cat.db.mvf", "graft_cat.db.mv_s", "graft_cat.db.mv_meta",
      Seq("id % 10" -> "g"), "v")
    s.sql("INSERT INTO graft_cat.db.mvf SELECT id, v FROM graft_seq_mv WHERE id >= 1500") // v2
    s.sql("DELETE FROM graft_cat.db.mvf WHERE v < 100")                                   // v3
    s.sql("UPDATE graft_cat.db.mvf SET v = v + 10000 WHERE id % 10 = 3")                  // v4
    s.sql("DELETE FROM graft_cat.db.mvf WHERE id % 10 = 7")                               // v5
    val r1 = refresh(s, "graft_cat.db.mvf", "graft_cat.db.mv_s",
      "graft_cat.db.mv_meta", Seq("id % 10" -> "g"), "v")
    val r2 = refresh(s, "graft_cat.db.mvf", "graft_cat.db.mv_s",
      "graft_cat.db.mv_meta", Seq("id % 10" -> "g"), "v")
    s.sql(
      s"""SELECT leg, n, v_sum FROM (
         |  SELECT concat('g_', CAST(g AS STRING)) AS leg, cnt AS n,
         |    sum_v AS v_sum
         |  FROM graft_cat.db.mv_s
         |  UNION ALL
         |  SELECT 'w1_scanned', CAST(${r1.changesScanned} AS BIGINT),
         |    CAST(${if (r1.refreshed) 1L else 0L} AS BIGINT)
         |  UNION ALL
         |  SELECT 'w2_noop', CAST(${r2.changesScanned} AS BIGINT),
         |    CAST(${if (r2.refreshed) 1L else 0L} AS BIGINT))
         |ORDER BY leg""".stripMargin)
  }

  /** q174 — the complete lakehouse MV loop on catalog tables: a
    * merge-on-read fact, a maintained catalog MV (q173's fold), and
    * TRANSPARENT serving — after [[registerForRewrite]], the dashboard
    * query `SELECT g1, COUNT(*), SUM(v) FROM fact GROUP BY g1` (a
    * strict coarsening of the MV's (g1, g2) grain) is rewritten by
    * [[graft.plans.MvRollupRewrite]] to re-aggregate the MV — the
    * `w_served` witness pins that the executed plan scans the MV and
    * never the fact. The oracle re-aggregates the final fact state from
    * first principles, so hash equality proves the ENTIRE loop: fold ≡
    * rebuild AND rewrite ≡ direct. At 100 TB the dashboard reads a few
    * thousand summary rows instead of the fact, and keeping it fresh
    * costs the churn. */
  val q174MvRewriteServe: Q = (s, _) => {
    ensureGraftCatalog(s)
    Seq("rw_f", "rw_mv", "rw_meta").foreach(t =>
      s.sql(s"DROP TABLE IF EXISTS graft_cat.db.$t"))
    s.sql(
      """CREATE TABLE graft_cat.db.rw_f (id BIGINT, g1 BIGINT, g2 BIGINT, v BIGINT)
        |TBLPROPERTIES ('graft.dml.mode'='merge-on-read')""".stripMargin)
    s.sql("CREATE TABLE graft_cat.db.rw_mv (g1 BIGINT, g2 BIGINT, cnt BIGINT, sum_v BIGINT)")
    s.sql("CREATE TABLE graft_cat.db.rw_meta (k BIGINT, last_v BIGINT)")
    s.read.format("graft.sources.SeqSourceProvider")
      .option("rows", "3000").option("parts", "4").load()
      .createOrReplaceTempView("graft_seq_rw")
    s.sql(
      """INSERT INTO graft_cat.db.rw_f
        |SELECT id, id % 50 AS g1, id % 7 AS g2, v FROM graft_seq_rw
        |WHERE id < 2000""".stripMargin)                                       // v1
    build(s, "graft_cat.db.rw_f", "graft_cat.db.rw_mv", "graft_cat.db.rw_meta",
      Seq("g1" -> "g1", "g2" -> "g2"), "v")
    registerForRewrite(s, "graft_cat.db.rw_f", "graft_cat.db.rw_mv",
      Seq("g1", "g2"), "v")
    s.sql(
      """INSERT INTO graft_cat.db.rw_f
        |SELECT id, id % 50 AS g1, id % 7 AS g2, v FROM graft_seq_rw
        |WHERE id >= 2000""".stripMargin)                                      // v2
    s.sql("DELETE FROM graft_cat.db.rw_f WHERE v < 100")                       // v3
    s.sql("UPDATE graft_cat.db.rw_f SET v = v + 1000 WHERE g2 = 3")            // v4
    val r = refresh(s, "graft_cat.db.rw_f", "graft_cat.db.rw_mv",
      "graft_cat.db.rw_meta", Seq("g1" -> "g1", "g2" -> "g2"), "v")
    val dash = s.sql(
      """SELECT g1, COUNT(*) AS n, SUM(v) AS v_sum
        |FROM graft_cat.db.rw_f GROUP BY g1""".stripMargin)
    val plan = dash.queryExecution.executedPlan.toString
    val served = plan.contains("rw_mv") && !plan.contains("rw_f")
    dash.createOrReplaceTempView("graft_rw_dash")
    s.sql(
      s"""SELECT leg, n, v_sum FROM (
         |  SELECT concat('g_', CAST(g1 AS STRING)) AS leg, n, v_sum
         |  FROM graft_rw_dash
         |  UNION ALL
         |  SELECT 'w_served', CAST(${if (served) 1L else 0L} AS BIGINT),
         |    CAST(${r.changesScanned} AS BIGINT))
         |ORDER BY leg""".stripMargin)
  }

  def queries: Map[String, Q] = Map(
    "q173_incremental_mv" -> q173IncrementalMv,
    "q174_mv_rewrite_serve" -> q174MvRewriteServe)

  def oracleSql: Map[String, String] = Map(
    // final fact state: all 2000 seq rows, minus v<100 (v3), minus group
    // 7 (v5), with group 3 survivors shifted +10000 (v4). Churn w1 =
    // 500 v2 inserts + |v<100| delete pre-images + 2·|g3 survivors|
    // update pairs + |g7 survivors| delete pre-images; w2 pins the
    // no-op. Group legs are a FULL re-aggregation — fold ≡ rebuild.
    "q173_incremental_mv" ->
      """WITH seq AS (
        |  SELECT r.range AS id, (r.range * 2654435761) % 1000 AS v
        |  FROM range(2000) r),
        |final AS (
        |  SELECT id, CASE WHEN id % 10 = 3 THEN v + 10000 ELSE v END AS v
        |  FROM seq WHERE v >= 100 AND id % 10 <> 7),
        |churn AS (
        |  SELECT (SELECT COUNT(*) FROM seq WHERE id >= 1500)
        |       + (SELECT COUNT(*) FROM seq WHERE v < 100)
        |       + 2 * (SELECT COUNT(*) FROM seq WHERE id % 10 = 3 AND v >= 100)
        |       + (SELECT COUNT(*) FROM seq WHERE id % 10 = 7 AND v >= 100) AS n)
        |SELECT leg, n, v_sum FROM (
        |  SELECT concat('g_', CAST(id % 10 AS VARCHAR)) AS leg,
        |    COUNT(*) AS n, CAST(SUM(v) AS BIGINT) AS v_sum
        |  FROM final GROUP BY id % 10
        |  UNION ALL
        |  SELECT 'w1_scanned', (SELECT n FROM churn), CAST(1 AS BIGINT)
        |  UNION ALL
        |  SELECT 'w2_noop', CAST(0 AS BIGINT), CAST(0 AS BIGINT))
        |ORDER BY leg""".stripMargin,
    // final fact: 3000 rows minus v<100, g2=3 survivors shifted +1000;
    // dashboard re-aggregates per g1 — identical whether served from
    // the fact or the MV, which is exactly the transparency claim
    // w_served pins from the plan side. Churn = 1000 v2 inserts +
    // |v<100| delete pre-images + 2·|g2=3 survivors| update pairs.
    "q174_mv_rewrite_serve" ->
      """WITH seq AS (
        |  SELECT r.range AS id, (r.range * 2654435761) % 1000 AS v
        |  FROM range(3000) r),
        |final AS (
        |  SELECT id, id % 50 AS g1,
        |    CASE WHEN id % 7 = 3 THEN v + 1000 ELSE v END AS v
        |  FROM seq WHERE v >= 100),
        |churn AS (
        |  SELECT CAST(1000 AS BIGINT)
        |       + (SELECT COUNT(*) FROM seq WHERE v < 100)
        |       + 2 * (SELECT COUNT(*) FROM seq WHERE id % 7 = 3 AND v >= 100) AS n)
        |SELECT leg, n, v_sum FROM (
        |  SELECT concat('g_', CAST(g1 AS VARCHAR)) AS leg, COUNT(*) AS n,
        |    CAST(SUM(v) AS BIGINT) AS v_sum
        |  FROM final GROUP BY g1
        |  UNION ALL
        |  SELECT 'w_served', CAST(1 AS BIGINT), (SELECT n FROM churn))
        |ORDER BY leg""".stripMargin)
}
