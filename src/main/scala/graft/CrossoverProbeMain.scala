package graft

import org.apache.spark.sql.functions._

/** Local measurement harness for the ensureLabels exact/capped
  * crossover (round-15, VERDICT r14 #2): builds BLOCK corpora that
  * sweep the decision stats through the boundary region and times both
  * families' build plus a fixed one-block append apply at each point.
  * Not part of the driver contract — results land in SURVEY §21 and
  * calibrate [[graft.ext.DedupIndex.LabelAutoPairFactor]] /
  * [[graft.ext.DedupIndex.LabelAutoMaxDf]].
  *
  * Corpus family (deterministic): B blocks × D docs, all docs of a
  * block share one distinct T-token text → every shingle has df = D,
  * so posts = B·D·(T−2), pairs = posts·(D−1), i.e. max_df = D and
  * pairs/posts = D−1 sweep TOGETHER through the pair-factor boundary
  * (D = 17 is the last exact point). A `hot` variant plants one D-doc
  * block inside a df=2 base big enough to hold the global pair factor
  * under the line, sweeping max_df through 64 alone.
  *
  * Usage: runMain graft.CrossoverProbeMain [nDocsPerPoint]
  * Prints one JSON line per (variant, D): the stats, the auto choice,
  * and both families' measured build/apply seconds.
  */
object CrossoverProbeMain {
  def main(args: Array[String]): Unit = {
    val nDocs = args.headOption.map(_.toInt).getOrElse(40000)
    val spark = Harness.session()
    graft.ops.configure(spark)
    graft.ops.ensureGraftCatalog(spark)
    val pid = ProcessHandle.current().pid()

    // T = 12 tokens → 10 shingles per doc
    def blockText(block: org.apache.spark.sql.Column) =
      array_join(transform(sequence(lit(0), lit(11)),
        j => concat(lit("w"), block.cast("string"), lit("x"),
          j.cast("string"))), " ")

    /** B blocks × D docs of identical per-block text (n is trimmed to a
      * multiple of D so every block is exactly D docs — a remainder
      * block would nudge max_df past the point's nominal D). */
    def blockCorpus(name: String, d: Int, n: Long): String = {
      val t = s"graft_cat.db.xover_${name}_$pid"
      val nAdj = (n / d) * d
      spark.sql(s"DROP TABLE IF EXISTS $t")
      spark.sql(s"CREATE TABLE $t (doc_id BIGINT, text STRING) " +
        "TBLPROPERTIES ('graft.dml.mode'='merge-on-read')")
      spark.range(0, nAdj).select(col("id").as("doc_id"),
          blockText(col("id") % lit(nAdj / d)).as("text"))
        .writeTo(t).append()
      t
    }

    /** df=2 base + ONE hot block of D identical docs (max_df = D while
      * the global pair factor stays ≈1, far below the line). */
    def hotCorpus(name: String, d: Int, n: Long): String = {
      val t = s"graft_cat.db.xover_${name}_$pid"
      val base = ((n - d) / 2) * 2 // whole pairs
      spark.sql(s"DROP TABLE IF EXISTS $t")
      spark.sql(s"CREATE TABLE $t (doc_id BIGINT, text STRING) " +
        "TBLPROPERTIES ('graft.dml.mode'='merge-on-read')")
      spark.range(0, base + d).select(col("id").as("doc_id"),
          when(col("id") < d, blockText(lit(-1)))
            .otherwise(blockText((col("id") - d) % lit(base / 2))).as("text"))
        .writeTo(t).append()
      t
    }

    def stats(t: String): (Long, Long, Long) = {
      val st = graft.ext.Dedup.shingles(
          spark.table(t).select(col("doc_id"), col("text")))
        .groupBy("sh").agg(count(lit(1)).as("df"))
        .agg(coalesce(max("df"), lit(0L)),
          coalesce(sum("df"), lit(0L)),
          coalesce(sum(expr("df * (df - 1)")), lit(0L))).head
      (st.getLong(0), st.getLong(1), st.getLong(2))
    }

    def dropIx(name: String): Unit = {
      Seq("lb_labels", "lb_edges", "lb_posts", "lb_meta",
        "lc_labels", "lc_posts", "lc_df", "lc_meta", "lu_choice")
        .foreach(x => spark.sql(
          s"DROP TABLE IF EXISTS graft_cat.db.dedup_${name}_$x"))
    }

    /** Build + one-block append apply for ONE family; returns secs. */
    def measure(t: String, name: String, d: Int,
        capped: Boolean): (Double, Double) = {
      dropIx(name)
      val t0 = System.nanoTime()
      if (capped) graft.ext.DedupIndex.ensureLabelsCappedCdc(spark, t, name)
      else graft.ext.DedupIndex.ensureLabelsCdc(spark, t, name)
      val build = (System.nanoTime() - t0) / 1e9
      // fixed-size append: one NEW block of D docs (fresh ids)
      val base = spark.table(t).agg(max("doc_id")).head.getLong(0) + 1
      spark.range(0, d).select((col("id") + base).as("doc_id"),
          blockText(lit(999999)).as("text"))
        .writeTo(t).append()
      val t1 = System.nanoTime()
      if (capped) graft.ext.DedupIndex.ensureLabelsCappedCdc(spark, t, name)
      else graft.ext.DedupIndex.ensureLabelsCdc(spark, t, name)
      val apply = (System.nanoTime() - t1) / 1e9
      dropIx(name)
      (build, apply)
    }

    def probe(variant: String, d: Int,
        mk: (String, Int, Long) => String): Unit = {
      val t = mk(s"${variant}_$d", d, nDocs.toLong)
      val (mx, ps, pr) = stats(t)
      val choice = graft.ext.DedupIndex.chooseLabelFamily(mx, ps, pr)
      val (eb, ea) = measure(t, s"xoe_${variant}_$d", d, capped = false)
      val (cb, ca) = measure(t, s"xoc_${variant}_$d", d, capped = true)
      spark.sql(s"DROP TABLE IF EXISTS $t")
      println(f"""{"variant":"$variant","d":$d,"max_df":$mx,"posts":$ps,"pairs":$pr,"pf":${pr.toDouble / ps}%.1f,"choice":"$choice","exact_build_s":$eb%.2f,"exact_apply_s":$ea%.2f,"capped_build_s":$cb%.2f,"capped_apply_s":$ca%.2f}""")
      Harness.release(spark)
    }

    // warmup (codegen/catalog) on a tiny point
    probe("warm", 8, (n, d, _) => blockCorpus(n, d, 512))
    // the pair-factor sweep: D−1 crosses 16 between D=17 and D=18
    Seq(9, 13, 17, 18, 21, 33).foreach(d => probe("block", d, blockCorpus))
    // the hot-df sweep: max_df crosses 64 between 63 and 65 while the
    // global pair factor stays low
    Seq(33, 63, 65, 129).foreach(d => probe("hot", d, hotCorpus))
    spark.stop()
  }
}
