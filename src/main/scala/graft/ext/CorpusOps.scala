package graft.ext

import graft.dw.Keys
import graft.ops.{table, Dec, Q}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Corpus-curation operators a production LLM training-data pipeline runs
  * after the per-document scoring tier (TextAnalysis) and alongside the
  * dedup tier (Dedup): span-level exact dedup, repetition-based quality
  * rules, temperature-weighted domain mixing, length-bucketed batch
  * packing, count-based bigram-LM scoring, and the deterministic global
  * shuffle that fixes the final training order.
  *
  * Determinism discipline (the driver hash-compares against DuckDB):
  * pseudo-randomness is the Lehmer-style integer hash
  * `(id * 2654435761) mod 2^31` (same idiom as TrainingPrep's negatives),
  * cross-partition double sums are staged through DECIMAL (see
  * `ops.dsum`), and every output ends in a total-order sort.
  */
object CorpusOps {

  /** Tokens of the lowered text, empty strings dropped — the shared
    * front-end of every operator here. */
  private[ext] val toksExpr = "filter(split(lower(text), ' '), t -> t <> '')"

  /** C4-style span-level exact dedup: split each document into
    * non-overlapping 8-token spans, keep only the globally FIRST
    * occurrence (min (doc_id, span_idx)) of each distinct span, and
    * reassemble the surviving text per document in original span order.
    *
    * Scale: span construction is array-local inside the projection (no
    * explode until the span rows exist); the winner pick is one keyed
    * shuffle on the span digest; reassembly is one keyed shuffle on
    * doc_id. Nothing is broadcast, nothing is all-pairs — at 100 TB the
    * digest shuffle would carry (digest, packed-position) only and
    * semi-join the span text back, the same two-exchange shape.
    */
  val spanDedup: Q = (s, d) => {
    val docs = table(s, d, "documents")
      .select(col("doc_id"), expr(toksExpr).as("toks"))
    val spans = docs.select(
      col("doc_id"),
      posexplode(expr(
        "if(size(toks) = 0, array()," +
          " transform(sequence(0, cast(ceil(size(toks) / 8.0) as int) - 1)," +
          "           i -> array_join(slice(toks, i * 8 + 1, 8), ' ')))"))
        .as(Seq("span_idx", "span")))
    // packed (doc_id, span_idx) — span_idx < 100000 by construction, so
    // the pack preserves lexicographic order of the pair
    val keyed = spans
      .withColumn("h", md5(col("span")))
      .withColumn("pk", col("doc_id") * 100000L + col("span_idx"))
    val kept = keyed
      .withColumn("keeper", min("pk").over(Window.partitionBy("h")))
      .filter(col("pk") === col("keeper"))
    val rebuilt = kept.groupBy("doc_id").agg(
      count(lit(1)).as("n_kept"),
      array_join(
        expr("transform(array_sort(collect_list(struct(span_idx, span)))," +
          " x -> x.span)"), " ").as("dedup_text"))
    docs
      .select(col("doc_id"),
        expr("cast(ceil(size(toks) / 8.0) as bigint)").as("n_spans"))
      .join(rebuilt, Seq("doc_id"), "left")
      .select(col("doc_id"), col("n_spans"),
        coalesce(col("n_kept"), lit(0L)).as("n_kept"),
        coalesce(col("dedup_text"), lit("")).as("dedup_text"))
      .orderBy("doc_id")
  }

  /** ExactSubstr-style duplicated-span analysis (Lee et al. 2022,
    * "Deduplicating Training Data Makes Language Models Better"), the
    * OVERLAPPING counterpart of [[spanDedup]]'s non-overlapping C4 spans:
    * every stride-1 8-token window is hashed; a window whose digest occurs
    * more than once corpus-wide marks its token range [pos, pos+7] as
    * duplicated; per document the marked ranges are merged into maximal
    * spans (gaps-and-islands — all ranges are equal-length, so a new span
    * starts exactly when pos jumps past prev_pos + 7) and reported as
    * span/token counts plus the removed fraction.
    *
    * Scale: the gram tier shuffles DIGESTS, not text — a two-level hash
    * agg (map-side partial) finds duplicated digests, and a left-semi join
    * brings back only the duplicated positions (at 100 TB the dup-digest
    * side is orders of magnitude smaller than the gram stream). The merge
    * tier is one window sort per document partition, keyed by doc_id.
    * Nothing is all-pairs and the raw text never re-shuffles.
    */
  val exactSubstrDedup: Q = (s, d) => {
    val K = 8
    val docs = table(s, d, "documents")
      .select(col("doc_id"), expr(toksExpr).as("toks"))
    val grams = docs.select(
      col("doc_id"),
      posexplode(expr(
        s"if(size(toks) < $K, array()," +
          s" transform(sequence(0, size(toks) - $K)," +
          s"           i -> md5(array_join(slice(toks, i + 1, $K), ' '))))"))
        .as(Seq("pos", "h")))
    val dupDigests = grams.groupBy("h")
      .agg(count(lit(1)).as("cnt")).filter(col("cnt") > 1).select("h")
    val dup = grams.join(dupDigests, Seq("h"), "left_semi")
      .select("doc_id", "pos")
    islandStats(docs, dup, K)
  }

  /** Screen an incoming batch against a persisted gram index: derive the
    * batch's stride-1 8-gram digests, mark every position whose digest
    * appears ANYWHERE in the indexed corpus (one left-semi join against
    * the stored digests — batch-sized work, the corpus grams are never
    * re-derived), merge into maximal spans. The probe half of
    * [[DedupIndex.ensureGramsCdc]]. */
  private[ext] def screenAgainst(s: org.apache.spark.sql.SparkSession,
      gramsTable: String, batch: org.apache.spark.sql.DataFrame) = {
    val K = 8
    val docs = batch.select(col("doc_id"), expr(toksExpr).as("toks"))
    val positions = docs.select(
      col("doc_id"),
      posexplode(expr(
        s"if(size(toks) < $K, array()," +
          s" transform(sequence(0, size(toks) - $K)," +
          s"           i -> md5(array_join(slice(toks, i + 1, $K), ' '))))"))
        .as(Seq("pos", "h")))
    val hits = positions
      .join(s.table(gramsTable).select("h"), Seq("h"), "left_semi")
      .select("doc_id", "pos")
    islandStats(docs, hits, K)
  }

  /** ext149 — exact-substring BATCH SCREENING from the persisted gram
    * index: the corpus (doc_id % 5 <> 3) builds the index once
    * ([[DedupIndex.ensureGramsCdc]]); the incoming batch (the % 5 = 3
    * slice — a re-scrape, an eval set, a contamination suspect) is
    * screened with batch-sized work. The second ensure call is a
    * covered no-op (spec-pinned); the flagged spans are ext142's island
    * machinery over index hits instead of corpus-wide duplicate counts. */
  val gramIndexScreen: Q = (s, d) => {
    graft.ops.ensureGraftCatalog(s)
    s.sql("DROP TABLE IF EXISTS graft_cat.db.gram_docs")
    IndexFamily.Grams.drop(s, "gram_ix")
    s.sql("CREATE TABLE graft_cat.db.gram_docs (doc_id BIGINT, " +
      "text STRING) TBLPROPERTIES ('graft.dml.mode'='merge-on-read')")
    val all = table(s, d, "documents").select(col("doc_id"), col("text"))
    all.filter(col("doc_id") % 5 =!= 3)
      .writeTo("graft_cat.db.gram_docs").append()
    DedupIndex.ensureGramsCdc(s, "graft_cat.db.gram_docs", "gram_ix") // build
    // covered head: the second ensure is a no-op (spec-pinned)
    val grams = DedupIndex.ensureGramsCdc(s, "graft_cat.db.gram_docs", "gram_ix")
    screenAgainst(s, grams, all.filter(col("doc_id") % 5 === 3))
  }

  /** ext150 — CDC-DRIVEN MAINTENANCE OF THE GRAM INDEX: the corpus takes
    * a right-to-erasure DELETE (doc_id % 9 = 0) and an in-place edit
    * (% 11 = 4 docs gain a trailing ' graftpad' token — new tail grams),
    * and [[DedupIndex.ensureGramsCdc]] follows via one feed slice:
    * retract the changed doc_ids' gram rows, re-derive only the touched
    * head images (per-doc pure — maintained ≡ rebuilt exactly). The
    * screen must hash-match the oracle that derives the post-mutation
    * corpus grams directly. */
  val gramCdcMaintenance: Q = (s, d) => {
    graft.ops.ensureGraftCatalog(s)
    s.sql("DROP TABLE IF EXISTS graft_cat.db.cdc_gram_docs")
    IndexFamily.Grams.drop(s, "cdc_gram")
    s.sql("CREATE TABLE graft_cat.db.cdc_gram_docs (doc_id BIGINT, " +
      "text STRING) TBLPROPERTIES ('graft.dml.mode'='merge-on-read')")
    val all = table(s, d, "documents").select(col("doc_id"), col("text"))
    all.filter(col("doc_id") % 5 =!= 3)
      .writeTo("graft_cat.db.cdc_gram_docs").append()
    DedupIndex.ensureGramsCdc(s, "graft_cat.db.cdc_gram_docs", "cdc_gram")
    s.sql("DELETE FROM graft_cat.db.cdc_gram_docs WHERE doc_id % 9 = 0")
    s.sql("UPDATE graft_cat.db.cdc_gram_docs " +
      "SET text = concat(text, ' graftpad') WHERE doc_id % 11 = 4")
    // ONE feed slice spans both commits
    val grams =
      DedupIndex.ensureGramsCdc(s, "graft_cat.db.cdc_gram_docs", "cdc_gram")
    screenAgainst(s, grams, all.filter(col("doc_id") % 5 === 3))
  }

  /** Shared tail of ext142 and the gram-index screens (ext149/ext150):
    * merge the marked positions into maximal spans per document
    * (gaps-and-islands over one window sort) and report per-doc counts.
    * `docs` = (doc_id, toks); `dup` = (doc_id, pos) marked gram starts. */
  private[ext] def islandStats(docs: org.apache.spark.sql.DataFrame,
      dup: org.apache.spark.sql.DataFrame,
      K: Int): org.apache.spark.sql.DataFrame = {
    val w = Window.partitionBy("doc_id").orderBy("pos")
    val islands = dup
      .withColumn("prev", lag("pos", 1).over(w))
      .withColumn("island",
        sum(when(col("prev").isNull || col("pos") > col("prev") + (K - 1), 1L)
          .otherwise(0L)).over(w))
    val spans = islands.groupBy("doc_id", "island").agg(
      count(lit(1)).as("n_grams_in"),
      (max("pos") - min("pos") + K).as("span_len"))
    val perDoc = spans.groupBy("doc_id").agg(
      sum("n_grams_in").as("n_dup_grams"),
      count(lit(1)).as("n_spans"),
      sum("span_len").as("n_removed"),
      max("span_len").as("longest_span"))
    docs
      .select(col("doc_id"), size(col("toks")).cast("long").as("n_tokens"))
      .join(perDoc, Seq("doc_id"), "left")
      .select(col("doc_id"), col("n_tokens"),
        coalesce(col("n_dup_grams"), lit(0L)).as("n_dup_grams"),
        coalesce(col("n_spans"), lit(0L)).as("n_spans"),
        coalesce(col("n_removed"), lit(0L)).as("n_removed"),
        coalesce(col("longest_span"), lit(0L)).as("longest_span"),
        when(col("n_tokens") > 0,
          coalesce(col("n_removed"), lit(0L)).cast("double") / col("n_tokens"))
          .otherwise(lit(0.0)).as("frac_removed"))
      .orderBy("doc_id")
  }

  /** The DuckDB restatement of [[islandStats]] — the shared oracle tail:
    * expects CTEs `docs` (doc_id, toks) and `dup` (doc_id, pos). */
  private[ext] val islandOracleTailSql: String =
    """islands AS (
      |  SELECT doc_id, pos,
      |    CAST(SUM(CASE WHEN prev IS NULL OR pos > prev + 7 THEN 1 ELSE 0 END)
      |      OVER (PARTITION BY doc_id ORDER BY pos) AS BIGINT) AS island
      |  FROM (SELECT doc_id, pos,
      |          LAG(pos) OVER (PARTITION BY doc_id ORDER BY pos) AS prev
      |        FROM dup)),
      |spans AS (
      |  SELECT doc_id, island, COUNT(*) AS n_grams_in,
      |    MAX(pos) - MIN(pos) + 8 AS span_len
      |  FROM islands GROUP BY doc_id, island),
      |per_doc AS (
      |  SELECT doc_id,
      |    CAST(SUM(n_grams_in) AS BIGINT) AS n_dup_grams,
      |    COUNT(*) AS n_spans,
      |    CAST(SUM(span_len) AS BIGINT) AS n_removed,
      |    CAST(MAX(span_len) AS BIGINT) AS longest_span
      |  FROM spans GROUP BY doc_id)
      |SELECT d.doc_id, CAST(len(d.toks) AS BIGINT) AS n_tokens,
      |  COALESCE(p.n_dup_grams, 0) AS n_dup_grams,
      |  COALESCE(p.n_spans, 0) AS n_spans,
      |  COALESCE(p.n_removed, 0) AS n_removed,
      |  COALESCE(p.longest_span, 0) AS longest_span,
      |  CASE WHEN len(d.toks) > 0
      |       THEN CAST(COALESCE(p.n_removed, 0) AS DOUBLE) / len(d.toks)
      |       ELSE 0.0 END AS frac_removed
      |FROM docs d LEFT JOIN per_doc p ON d.doc_id = p.doc_id
      |ORDER BY d.doc_id""".stripMargin

  /** Gopher/MassiveText-style repetition + shape rules: per-document word
    * stats, top-unigram fraction, duplicate-bigram fraction, stopword
    * fraction, and the resulting keep/drop flag.
    *
    * Scale: unigram stats are explode → two-level hash agg keyed by
    * (doc_id, token) then doc_id — both benefit from map-side partial
    * aggregation; bigram distinctness is computed array-locally inside
    * the projection (no shuffle). Every ratio is a single division of two
    * per-doc integers, so Spark and DuckDB produce bit-identical doubles.
    */
  val gopherRules: Q = (s, d) => gopherCore(s, d).orderBy("doc_id")

  /** Unsorted [[gopherRules]] — reused by the ensemble (ext66) without
    * burying a pointless total-order sort inside a join input. */
  private[ext] def gopherCore(s: org.apache.spark.sql.SparkSession, d: String) = {
    val uni = table(s, d, "documents")
      .select(col("doc_id"), explode(expr(toksExpr)).as("tok"))
      .groupBy("doc_id", "tok").agg(count(lit(1)).as("c"))
    val perDoc = uni.groupBy("doc_id").agg(
      sum("c").as("n_tokens"),
      sum(length(col("tok")) * col("c")).as("n_word_chars"),
      max("c").as("top_unigram"),
      sum(when(col("tok").isin("the", "a", "of", "and", "is"), col("c"))
        .otherwise(0L)).as("n_stop"))
    val big = table(s, d, "documents")
      .select(col("doc_id"), expr(toksExpr).as("toks"))
      .select(col("doc_id"),
        expr("if(size(toks) < 2, array()," +
          " transform(sequence(1, size(toks) - 1)," +
          "           i -> concat(element_at(toks, i), ' ', element_at(toks, i + 1))))")
          .as("bigrams"))
      .select(col("doc_id"),
        size(col("bigrams")).cast("long").as("n_bigrams"),
        size(array_distinct(col("bigrams"))).cast("long").as("n_distinct_bigrams"))
    perDoc.join(big, Seq("doc_id"))
      .select(
        col("doc_id"), col("n_tokens"),
        (col("n_word_chars").cast("double") / col("n_tokens")).as("mean_word_len"),
        (col("top_unigram").cast("double") / col("n_tokens")).as("top_unigram_frac"),
        when(col("n_bigrams") === 0L, lit(0.0))
          .otherwise((col("n_bigrams") - col("n_distinct_bigrams")).cast("double") /
            col("n_bigrams")).as("dup_bigram_frac"),
        (col("n_stop").cast("double") / col("n_tokens")).as("stopword_frac"))
      .withColumn("quality_flag",
        when(col("n_tokens").between(20L, 200L) &&
          col("mean_word_len").between(2.0, 10.0) &&
          col("top_unigram_frac") <= 0.2 &&
          col("dup_bigram_frac") <= 0.6 &&
          col("stopword_frac") >= 0.01, "keep").otherwise("drop"))
  }

  /** Temperature-weighted domain mixture (the multilingual/multi-source
    * t=0.5 sampling rule): per-source budget share ∝ sqrt(n_source),
    * overall budget = half the corpus, acceptance by deterministic
    * per-doc uniform u < rate.
    *
    * Scale: per-source stats are one tiny keyed agg (≤ #sources rows) —
    * broadcast back to the corpus, so selection is a map-side filter.
    * The sqrt-weight normalizer sums ≤ #sources doubles staged through
    * DECIMAL so both engines add exactly.
    */
  val domainMixture: Q = (s, d) => {
    val docs = table(s, d, "documents").select("doc_id", "source")
    val counts = docs.groupBy("source").agg(count(lit(1)).as("n_docs"))
    val tot = counts.agg(
      sum(sqrt(col("n_docs").cast("double")).cast(Dec)).as("sum_sqrt"),
      sum("n_docs").as("n_total"))
    val rates = counts.crossJoin(broadcast(tot)).select(
      col("source"), col("n_docs"),
      least(lit(1.0),
        (col("n_total") / lit(2)) *
          (sqrt(col("n_docs").cast("double")).cast(Dec).cast("double") /
            col("sum_sqrt").cast("double")) / col("n_docs")).as("rate"))
    val selected = docs
      .join(broadcast(rates), Seq("source"))
      .filter(
        ((col("doc_id") * lit(2654435761L)) % lit(2147483648L)).cast("double") /
          lit(2147483648.0) < col("rate"))
      .groupBy("source").agg(count(lit(1)).as("n_selected"))
    rates.join(selected, Seq("source"), "left")
      .select(col("source"), col("n_docs"),
        col("rate").cast(Dec).cast("double").as("rate"),
        coalesce(col("n_selected"), lit(0L)).as("n_selected"))
      .orderBy("source")
  }

  /** Length-grouped batch packing: bucket documents by token count
    * (width-16 buckets), fill batches of 8 in doc_id order within each
    * bucket, and report per-batch padding waste — the measure
    * length-grouped batching exists to minimize.
    *
    * Scale: one keyed window per bucket (batch fill is sequential within
    * a bucket by definition); buckets are independent, so parallelism =
    * #buckets × #batches. At 100 TB the in-bucket row_number becomes
    * Keys.rangeIds on (bucket, doc_id) — same ids, no single-task window.
    */
  val lengthBatching: Q = (s, d) => {
    val docs = table(s, d, "documents")
      .select(col("doc_id"),
        expr(s"cast(size($toksExpr) as bigint)").as("n_tokens"))
      .withColumn("bucket", expr("n_tokens div 16"))
    val batched = docs.withColumn("rn",
      row_number().over(Window.partitionBy("bucket").orderBy("doc_id")))
      .withColumn("batch_id", expr("(rn - 1) div 8"))
    batched.groupBy("bucket", "batch_id").agg(
      count(lit(1)).as("n_docs"),
      max("n_tokens").as("max_tokens"),
      (max("n_tokens") * count(lit(1)) - sum("n_tokens")).as("padding_tokens"))
      .orderBy("bucket", "batch_id")
  }

  /** Cross-engine-deterministic log2 of a positive integer expression.
    *
    * libm `ln`/`log2` are NOT correctly-rounded IEEE ops, so the JVM and
    * DuckDB can differ by an ulp — enough to flip a DECIMAL cast and fail
    * the driver's hash compare (observed: 1e-4 drift on summed scores).
    * This evaluates log2 with ONLY correctly-rounded operations, so both
    * engines produce bit-identical doubles: the integer exponent comes
    * from the binary digit count (`length(bin(n)) - 1`, exact), the
    * mantissa m = n / 2^e ∈ [1,2) from one correctly-rounded division
    * (2^e is exact for e ≤ 62), and log2(m) from a fixed degree-5
    * least-squares polynomial (max abs err 3.2e-5 — a scoring signal,
    * not a math library) evaluated in identical Horner order from
    * identical literals. The SQL text is shared verbatim between the
    * Spark plan (`expr`) and the DuckDB oracle.
    */
  private[ext] def detLog2(n: String): String = {
    val m = s"(CAST($n AS DOUBLE) / power(2.0, length(bin($n)) - 1))"
    s"((length(bin($n)) - 1) + (((((0.043428363 * $m - 0.404862309) * $m + " +
      s"1.593884548) * $m - 3.492466043) * $m + 5.046852936) * $m - 2.786805564))"
  }

  /** Per-bigram smoothed negative log-likelihood in nats, as shared SQL:
    * p = (c2 + 0.5) / (c1 + 0.5 v) = num / den with num = 2 c2 + 1,
    * den = 2 c1 + v, so -ln p = (log2 den - log2 num) · ln 2. */
  private val nllStepSql: String =
    s"CAST((${detLog2("den")} - ${detLog2("num")}) * 0.6931471805599453" +
      " AS DECIMAL(18, 6))"

  /** Count-based bigram language-model scoring (add-half smoothing):
    * train the LM on the corpus itself (bigram + unigram-prefix counts,
    * vocabulary size), then score every document by its summed negative
    * log-likelihood — the classic perplexity-flavored quality signal.
    *
    * Scale: bigrams are built array-locally, counts are two map-side-
    * combining keyed aggs whose results are vocabulary-sized (≪ corpus),
    * the score join is keyed on the bigram, and the per-doc sum is
    * DECIMAL-staged so partial-aggregation order cannot change the
    * result. Nothing driver-side; V is a broadcast scalar. The log is
    * [[detLog2]] — bit-identical across engines by construction.
    */
  val bigramNll: Q = (s, d) => nllCore(s, d).orderBy("doc_id")

  /** ext118 — curriculum packing: training-order construction by
    * difficulty. Documents are scored by their bigram-LM negative
    * log-likelihood (the ext63 signal; docs too short for bigrams score
    * 0 = easiest), ordered easiest-first per source shard, and packed
    * into 512-token bins IN THAT ORDER — the curriculum-learning
    * counterpart of ext48's ingestion-order packing. Output is the bin
    * manifest with each bin's difficulty band; the bands are
    * non-decreasing along a shard's bins, which is the curriculum
    * property the spec pins.
    *
    * Determinism: the difficulty doubles are ext63's DECIMAL-staged
    * sums (exact cross-engine), the order carries a doc_id tiebreak,
    * and bin arithmetic is exact integers. Scale: the LM counts are
    * vocabulary-sized keyed aggs, the scoring join is keyed on the
    * bigram, and the packing window partitions by source shard — the
    * same per-shard stream real pipelines pack by. */
  val curriculumPacking: Q = (s, d) => {
    val budget = 512L
    val toks = table(s, d, "documents")
      .select(col("doc_id"), col("source"),
        size(expr(toksExpr)).cast("long").as("n_tokens"))
    val scored = toks
      .join(nllCore(s, d).select(col("doc_id"), col("nll")), Seq("doc_id"), "left")
      .withColumn("difficulty", coalesce(col("nll"), lit(0.0)))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("source").orderBy(col("difficulty"), col("doc_id"))
      .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding, 0)
    scored
      .withColumn("cum", sum(col("n_tokens")).over(w))
      .withColumn("bin", expr(s"(cum - n_tokens) DIV $budget"))
      .groupBy("source", "bin")
      .agg(count(lit(1)).as("n_docs"), sum(col("n_tokens")).as("bin_tokens"),
        min(col("difficulty")).as("d_min"), max(col("difficulty")).as("d_max"))
      .orderBy("source", "bin")
  }

  /** Unsorted [[bigramNll]] — reused by the ensemble (ext66). */
  private def nllCore(s: org.apache.spark.sql.SparkSession, d: String) = {
    val docs = table(s, d, "documents")
      .select(col("doc_id"), expr(toksExpr).as("toks"))
    val bi = docs.select(col("doc_id"),
      explode(expr(
        "if(size(toks) < 2, array()," +
          " transform(sequence(1, size(toks) - 1)," +
          "           i -> struct(element_at(toks, i) as w1, element_at(toks, i + 1) as w2)))"))
        .as("b"))
      .select(col("doc_id"), col("b.w1").as("w1"), col("b.w2").as("w2"))
    val c2 = bi.groupBy("w1", "w2").agg(count(lit(1)).as("c2"))
    val c1 = bi.groupBy("w1").agg(count(lit(1)).as("c1"))
    val vocab = docs.select(explode(col("toks")).as("t"))
      .agg(countDistinct(col("t")).as("v"))
    bi.join(c2, Seq("w1", "w2")).join(c1, Seq("w1")).crossJoin(broadcast(vocab))
      .withColumn("num", lit(2L) * col("c2") + lit(1L))
      .withColumn("den", lit(2L) * col("c1") + col("v"))
      .withColumn("nll_step", expr(nllStepSql))
      .groupBy("doc_id").agg(
        count(lit(1)).as("n_bigrams"),
        // no DecOut re-rounding: these sums use all 6 decimals, and a
        // scale-4 tie rounds HALF_UP in Spark but half-even in DuckDB.
        // Unscaled values stay < 2^53, so decimal(·,6) → double is exact
        // (hence identical) in both engines.
        sum("nll_step").cast("double").as("nll"))
  }

  /** Deterministic distributed global shuffle — the final fix of training
    * order: rank every document by a salted digest of its id, assign the
    * dense global sample index with the scale-safe two-phase range-id
    * scheme (never a partitionless window), and derive the microbatch.
    *
    * Scale: repartitionByRange on the digest + per-partition offsets is
    * exactly how a 100 TB corpus gets a reproducible global permutation;
    * the only driver traffic is one count per partition.
    */
  val globalShuffle: Q = (s, d) => {
    val docs = table(s, d, "documents")
      .select(col("doc_id"), col("source"),
        md5(concat(lit("shuf:"), col("doc_id").cast("string"))).as("k"))
    Keys.rangeIds(docs, "sample_idx", Seq(col("k")))
      .select(col("sample_idx"), col("doc_id"), col("source"),
        expr("(sample_idx - 1) div 256").as("microbatch"))
      .orderBy("sample_idx")
  }

  /** Incremental dedup — the production shape: an incoming batch is
    * checked against the ALREADY-INDEXED corpus digest index instead of
    * recomputing the full corpus self-join. Docs with id < 400 stand in
    * for the indexed corpus, id ≥ 400 for the incoming batch; each batch
    * doc is classified `dup_of_corpus` (digest already indexed),
    * `dup_in_batch` (an earlier batch doc has it), or `new`.
    *
    * Scale: the index side projects to digests only (bodies never read
    * past the scan), the membership check is one digest-keyed left-semi-
    * shaped join, and the within-batch pick is a keyed min — the
    * steady-state cost is proportional to the BATCH, not the corpus,
    * which is the whole point of incremental dedup at 100 TB.
    */
  val incrementalDedup: Q = (s, d) => {
    val digested = table(s, d, "documents")
      .select(col("doc_id"),
        md5(regexp_replace(lower(trim(col("text"))), "\\s+", " ")).as("h"))
    val corpusIdx = digested.filter(col("doc_id") < 400).select("h").distinct()
    val batch = digested.filter(col("doc_id") >= 400)
    val inCorpus = batch
      .join(corpusIdx.withColumn("in_corpus", lit(true)), Seq("h"), "left")
    val firstInBatch = batch.groupBy("h").agg(min("doc_id").as("first_id"))
    inCorpus.join(firstInBatch, Seq("h"))
      .select(col("doc_id"), col("h").as("digest"),
        when(col("in_corpus"), "dup_of_corpus")
          .when(col("doc_id") > col("first_id"), "dup_in_batch")
          .otherwise("new").as("status"))
      .orderBy("doc_id")
  }

  /** Quality-signal ensemble — the tiers composed into ONE lazy plan:
    * Gopher shape rules (ext60) join bigram-LM scores (ext63), the NLL
    * percentile comes from the scale-safe range-partitioned rank (never
    * a partitionless window), and the final keep decision combines the
    * rule flag with a 90th-percentile perplexity cut.
    *
    * Scale: both signal frames are keyed on doc_id; the percentile rank
    * is Keys.rangeIds over (nll, doc_id) — a range exchange plus
    * per-partition offsets — and n arrives as a broadcast scalar, so no
    * stage sees a single-task funnel.
    */
  val qualityEnsemble: Q = (s, d) => {
    val signals = gopherCore(s, d)
      .select("doc_id", "n_tokens", "quality_flag")
      .join(nllCore(s, d).select("doc_id", "nll"), Seq("doc_id"))
    val ranked = Keys.rangeIds(signals, "nll_rank",
      Seq(col("nll"), col("doc_id")))
    val n = ranked.agg(count(lit(1)).as("n_docs"))
    ranked.crossJoin(broadcast(n))
      .withColumn("nll_pct",
        (col("nll_rank") - 1).cast("double") / (col("n_docs") - 1))
      .select(col("doc_id"), col("n_tokens"), col("quality_flag"), col("nll"),
        col("nll_pct"),
        expr("cast(floor(nll_pct * 10) as bigint)").as("nll_decile"),
        when(col("quality_flag") === "keep" && col("nll_pct") <= 0.9, "keep")
          .otherwise("drop").as("decision"))
      .orderBy("doc_id")
  }

  /** Priority expression of [[weightedSample]] — shared verbatim with the
    * oracle. A-ES key: -ln(u)/w with u = (hash+1)/2^31 rational, so
    * -ln(u) = (31 - log2(hash+1)) · ln 2 — integer-exact inputs, the
    * engine-portable [[detLog2]], and only correctly-rounded IEEE ops. */
  private val samplePrioritySql: String =
    s"(31 - ${detLog2("num")}) * 0.6931471805599453 / n_chars"

  /** Weighted sampling without replacement (Efraimidis-Spirakis A-ES):
    * draw 50 documents with inclusion probability proportional to length
    * (n_chars) by ranking on -ln(u)/w and keeping the smallest keys.
    *
    * Scale: the priority is a map-side scalar per row and the draw is a
    * TakeOrdered top-k — ONE scan, no shuffle, no sequential sampler
    * state, at any corpus size; this is the standard distributed
    * formulation of weighted reservoir sampling. Determinism: u comes
    * from the Lehmer hash (no RNG) and the log is [[detLog2]], so both
    * engines rank identically bit-for-bit.
    */
  val weightedSample: Q = (s, d) => {
    table(s, d, "documents")
      .select(col("doc_id"), col("n_chars"))
      .filter(col("n_chars") > 0)
      .withColumn("num",
        (col("doc_id") * lit(2654435761L)) % lit(2147483648L) + lit(1L))
      .withColumn("priority", expr(samplePrioritySql))
      .orderBy(col("priority"), col("doc_id"))
      .limit(50)
      .select(col("doc_id"), col("n_chars"), col("priority"))
  }

  /** Exact distributed quantiles (p25/p50/p75/p90/p99) of per-document
    * token counts, per source and corpus-wide — WITHOUT a global sort
    * (the naive exact formulation) and WITHOUT a sketch's error bar
    * (approx_percentile): counts collapse onto the VALUE DOMAIN first
    * (`groupBy(source, n_tokens)` — map-side combine, so the shuffle
    * carries distinct values, not documents), then one distinct-value-
    * sized cumulative window picks, for each p, the smallest value whose
    * rank reaches ⌈p·N/100⌉. The threshold test is pure integer
    * arithmetic (`100·cum ≥ p·total`), so both engines agree bit-for-bit.
    *
    * Scale: exchange 1 is (source, value)-keyed with partial aggregation
    * — at 100 TB it carries |sources|×|distinct lengths| rows (thousands),
    * not 10^11 documents; exchange 2 windows over that same tiny set.
    * The corpus-wide group rides the per-source counts (a re-aggregation
    * of the FIRST shuffle's output, not a second scan). This is the
    * production shape for "exact length-distribution percentiles over
    * the whole corpus" that dashboards otherwise approximate.
    */
  val exactQuantiles: Q = (s, d) => {
    val docs = table(s, d, "documents")
      .select(col("source"),
        expr(s"cast(size($toksExpr) as bigint)").as("n_tokens"))
    val perSrc = docs.groupBy(col("source"), col("n_tokens"))
      .agg(count(lit(1)).as("c"))
    val counts = perSrc.unionByName(
      perSrc.groupBy("n_tokens").agg(sum("c").as("c"))
        .select(lit("__all").as("source"), col("n_tokens"), col("c")))
    val cum = counts
      .withColumn("cum",
        sum("c").over(Window.partitionBy("source").orderBy("n_tokens")))
      .withColumn("total", sum("c").over(Window.partitionBy("source")))
    cum
      .select(col("source"), col("n_tokens"), col("cum"), col("total"),
        explode(expr("array(25, 50, 75, 90, 99)")).as("p"))
      .filter(col("cum") * lit(100L) >= col("total") * col("p"))
      .groupBy("source", "p")
      .agg(min("n_tokens").as("q"), min("total").as("n_docs"))
      .orderBy("source", "p")
  }

  val queries: Map[String, Q] = Map(
    "ext125_exact_quantiles" -> exactQuantiles,
    "ext79_weighted_sample" -> weightedSample,
    "ext65_incremental_dedup" -> incrementalDedup,
    "ext66_quality_ensemble" -> qualityEnsemble,
    "ext59_span_dedup" -> spanDedup,
    "ext142_exact_substr_dedup" -> exactSubstrDedup,
    "ext149_gram_index_screen" -> gramIndexScreen,
    "ext150_gram_cdc_maintenance" -> gramCdcMaintenance,
    "ext60_gopher_rules" -> gopherRules,
    "ext61_domain_mixture" -> domainMixture,
    "ext62_length_batching" -> lengthBatching,
    "ext63_bigram_nll" -> bigramNll,
    "ext118_curriculum_packing" -> curriculumPacking,
    "ext64_global_shuffle" -> globalShuffle)

  private[ext] val toksSql =
    "list_filter(string_split(lower(text), ' '), t -> t <> '')"

  /** Gopher-rule CTEs shared by the ext60 oracle and the ext66 ensemble
    * oracle (final CTE `m` carries the metrics, flag via [[gopherFlagSql]]). */
  private[ext] val gopherCtesSql: String =
    s"""uni AS (
       |  SELECT doc_id, tok, COUNT(*) AS c FROM (
       |    SELECT doc_id, unnest($toksSql) AS tok FROM documents)
       |  GROUP BY doc_id, tok),
       |per_doc AS (
       |  SELECT doc_id,
       |    CAST(SUM(c) AS BIGINT) AS n_tokens,
       |    CAST(SUM(length(tok) * c) AS BIGINT) AS n_word_chars,
       |    MAX(c) AS top_unigram,
       |    CAST(SUM(CASE WHEN tok IN ('the', 'a', 'of', 'and', 'is')
       |             THEN c ELSE 0 END) AS BIGINT) AS n_stop
       |  FROM uni GROUP BY doc_id),
       |big AS (
       |  SELECT doc_id,
       |    CAST(len(bigrams) AS BIGINT) AS n_bigrams,
       |    CAST(len(list_distinct(bigrams)) AS BIGINT) AS n_distinct_bigrams
       |  FROM (
       |    SELECT doc_id,
       |      CASE WHEN len(toks) < 2 THEN []
       |           ELSE list_transform(range(1, len(toks)),
       |                               i -> toks[i] || ' ' || toks[i + 1]) END AS bigrams
       |    FROM (SELECT doc_id, $toksSql AS toks FROM documents))),
       |m AS (
       |  SELECT p.doc_id, p.n_tokens,
       |    CAST(p.n_word_chars AS DOUBLE) / p.n_tokens AS mean_word_len,
       |    CAST(p.top_unigram AS DOUBLE) / p.n_tokens AS top_unigram_frac,
       |    CASE WHEN b.n_bigrams = 0 THEN 0.0
       |         ELSE CAST(b.n_bigrams - b.n_distinct_bigrams AS DOUBLE) / b.n_bigrams
       |    END AS dup_bigram_frac,
       |    CAST(p.n_stop AS DOUBLE) / p.n_tokens AS stopword_frac
       |  FROM per_doc p JOIN big b ON p.doc_id = b.doc_id)""".stripMargin

  private[ext] val gopherFlagSql: String =
    """CASE WHEN n_tokens BETWEEN 20 AND 200
      |        AND mean_word_len BETWEEN 2.0 AND 10.0
      |        AND top_unigram_frac <= 0.2
      |        AND dup_bigram_frac <= 0.6
      |        AND stopword_frac >= 0.01 THEN 'keep' ELSE 'drop' END""".stripMargin

  /** Bigram-LM CTEs shared by the ext63 oracle and the ext66 ensemble
    * oracle (final CTE `nllagg`: doc_id, n_bigrams, nll). */
  private val nllCtesSql: String =
    s"""nlldocs AS (
       |  SELECT doc_id, $toksSql AS toks FROM documents),
       |bi AS (
       |  SELECT doc_id,
       |    unnest(toks[1 : len(toks) - 1]) AS w1,
       |    unnest(toks[2 : len(toks)]) AS w2
       |  FROM nlldocs WHERE len(toks) >= 2),
       |c2 AS (SELECT w1, w2, COUNT(*) AS c2 FROM bi GROUP BY w1, w2),
       |c1 AS (SELECT w1, COUNT(*) AS c1 FROM bi GROUP BY w1),
       |vocab AS (
       |  SELECT COUNT(DISTINCT t) AS v FROM (
       |    SELECT unnest(toks) AS t FROM nlldocs)),
       |scored AS (
       |  SELECT b.doc_id, 2 * c2.c2 + 1 AS num, 2 * c1.c1 + v AS den
       |  FROM bi b
       |  JOIN c2 ON b.w1 = c2.w1 AND b.w2 = c2.w2
       |  JOIN c1 ON b.w1 = c1.w1
       |  CROSS JOIN vocab),
       |nllagg AS (
       |  SELECT doc_id, COUNT(*) AS n_bigrams,
       |    CAST(SUM($nllStepSql) AS DOUBLE) AS nll
       |  FROM scored GROUP BY doc_id)""".stripMargin

  val oracleSql: Map[String, String] = Map(
    // same value-domain collapse, same integer threshold 100·cum ≥ p·total
    "ext125_exact_quantiles" ->
      s"""WITH tk AS (
         |  SELECT source, CAST(len($toksSql) AS BIGINT) AS n_tokens
         |  FROM documents),
         |base AS (
         |  SELECT source, n_tokens FROM tk
         |  UNION ALL SELECT '__all', n_tokens FROM tk),
         |counts AS (
         |  SELECT source, n_tokens, COUNT(*) AS c FROM base GROUP BY 1, 2),
         |cum AS (
         |  SELECT source, n_tokens,
         |    SUM(c) OVER (PARTITION BY source ORDER BY n_tokens) AS cum,
         |    SUM(c) OVER (PARTITION BY source) AS total
         |  FROM counts),
         |pr AS (SELECT * FROM cum, (SELECT unnest([25, 50, 75, 90, 99]) AS p))
         |SELECT source, CAST(p AS INT) AS p, MIN(n_tokens) AS q,
         |  CAST(MIN(total) AS BIGINT) AS n_docs
         |FROM pr WHERE cum * 100 >= total * p
         |GROUP BY source, p ORDER BY source, p""".stripMargin,
    // same LM restatement (nllagg), same easiest-first (difficulty,
    // doc_id) order, same exact-integer bin arithmetic
    "ext118_curriculum_packing" ->
      s"""WITH $nllCtesSql,
         |tk AS (
         |  SELECT doc_id, source, CAST(len($toksSql) AS BIGINT) AS n_tokens
         |  FROM documents),
         |sc AS (
         |  SELECT tk.doc_id, tk.source, tk.n_tokens,
         |    COALESCE(nllagg.nll, CAST(0 AS DOUBLE)) AS difficulty
         |  FROM tk LEFT JOIN nllagg ON tk.doc_id = nllagg.doc_id),
         |c AS (
         |  SELECT source, n_tokens, difficulty,
         |    SUM(n_tokens) OVER (PARTITION BY source
         |      ORDER BY difficulty, doc_id
         |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum
         |  FROM sc)
         |SELECT source, CAST((cum - n_tokens) // 512 AS BIGINT) AS bin,
         |  COUNT(*) AS n_docs, CAST(SUM(n_tokens) AS BIGINT) AS bin_tokens,
         |  MIN(difficulty) AS d_min, MAX(difficulty) AS d_max
         |FROM c GROUP BY 1, 2 ORDER BY source, bin""".stripMargin,
    "ext79_weighted_sample" ->
      s"""WITH sdocs AS (
         |  SELECT doc_id, n_chars,
         |    (doc_id * 2654435761) % 2147483648 + 1 AS num
         |  FROM documents WHERE n_chars > 0)
         |SELECT doc_id, n_chars,
         |  $samplePrioritySql AS priority
         |FROM sdocs
         |ORDER BY priority, doc_id
         |LIMIT 50""".stripMargin,
    "ext65_incremental_dedup" ->
      """WITH digested AS (
        |  SELECT doc_id,
        |    md5(regexp_replace(lower(trim(text)), '\s+', ' ', 'g')) AS h
        |  FROM documents),
        |corpus AS (SELECT DISTINCT h FROM digested WHERE doc_id < 400),
        |batch AS (SELECT * FROM digested WHERE doc_id >= 400),
        |firsts AS (SELECT h, MIN(doc_id) AS first_id FROM batch GROUP BY h)
        |SELECT b.doc_id, b.h AS digest,
        |  CASE WHEN c.h IS NOT NULL THEN 'dup_of_corpus'
        |       WHEN b.doc_id > f.first_id THEN 'dup_in_batch'
        |       ELSE 'new' END AS status
        |FROM batch b
        |LEFT JOIN corpus c ON b.h = c.h
        |JOIN firsts f ON b.h = f.h
        |ORDER BY b.doc_id""".stripMargin,
    "ext66_quality_ensemble" ->
      s"""WITH $gopherCtesSql,
         |$nllCtesSql,
         |sig AS (
         |  SELECT m.doc_id, m.n_tokens, $gopherFlagSql AS quality_flag, a.nll
         |  FROM m JOIN nllagg a ON m.doc_id = a.doc_id),
         |ranked AS (
         |  SELECT *,
         |    ROW_NUMBER() OVER (ORDER BY nll, doc_id) AS nll_rank,
         |    COUNT(*) OVER () AS n_docs
         |  FROM sig)
         |SELECT doc_id, n_tokens, quality_flag, nll,
         |  CAST(nll_rank - 1 AS DOUBLE) / (n_docs - 1) AS nll_pct,
         |  CAST(floor((CAST(nll_rank - 1 AS DOUBLE) / (n_docs - 1)) * 10)
         |       AS BIGINT) AS nll_decile,
         |  CASE WHEN quality_flag = 'keep'
         |        AND CAST(nll_rank - 1 AS DOUBLE) / (n_docs - 1) <= 0.9
         |       THEN 'keep' ELSE 'drop' END AS decision
         |FROM ranked ORDER BY doc_id""".stripMargin,
    "ext59_span_dedup" ->
      s"""WITH docs AS (
         |  SELECT doc_id, $toksSql AS toks FROM documents),
         |spans AS (
         |  SELECT doc_id, i AS span_idx,
         |    array_to_string(toks[i * 8 + 1 : i * 8 + 8], ' ') AS span
         |  FROM docs, UNNEST(range(0, CAST(ceil(len(toks) / 8.0) AS INT))) AS u(i)),
         |kept AS (
         |  SELECT * FROM (
         |    SELECT doc_id, span_idx, span,
         |      doc_id * 100000 + span_idx AS pk,
         |      MIN(doc_id * 100000 + span_idx) OVER (PARTITION BY md5(span)) AS keeper
         |    FROM spans)
         |  WHERE pk = keeper),
         |rebuilt AS (
         |  SELECT doc_id, COUNT(*) AS n_kept,
         |    string_agg(span, ' ' ORDER BY span_idx) AS dedup_text
         |  FROM kept GROUP BY doc_id)
         |SELECT d.doc_id, CAST(ceil(len(d.toks) / 8.0) AS BIGINT) AS n_spans,
         |  COALESCE(r.n_kept, 0) AS n_kept,
         |  COALESCE(r.dedup_text, '') AS dedup_text
         |FROM docs d LEFT JOIN rebuilt r ON d.doc_id = r.doc_id
         |ORDER BY d.doc_id""".stripMargin,
    "ext142_exact_substr_dedup" ->
      s"""WITH docs AS (
         |  SELECT doc_id, $toksSql AS toks FROM documents),
         |grams AS (
         |  SELECT doc_id, i AS pos, md5(array_to_string(toks[i+1 : i+8], ' ')) AS h
         |  FROM docs, UNNEST(range(0, GREATEST(len(toks) - 7, 0))) AS u(i)),
         |dup AS (
         |  SELECT doc_id, pos FROM (
         |    SELECT doc_id, pos, COUNT(*) OVER (PARTITION BY h) AS cnt FROM grams)
         |  WHERE cnt > 1),
         |$islandOracleTailSql""".stripMargin,
    "ext149_gram_index_screen" ->
      s"""WITH corpus AS (
         |  SELECT doc_id, text FROM documents WHERE doc_id % 5 <> 3),
         |cd AS (SELECT doc_id, $toksSql AS toks FROM corpus),
         |cg AS (
         |  SELECT DISTINCT md5(array_to_string(toks[i+1 : i+8], ' ')) AS h
         |  FROM cd, UNNEST(range(0, GREATEST(len(toks) - 7, 0))) AS u(i)),
         |docs AS (
         |  SELECT doc_id, $toksSql AS toks FROM documents WHERE doc_id % 5 = 3),
         |grams AS (
         |  SELECT doc_id, i AS pos, md5(array_to_string(toks[i+1 : i+8], ' ')) AS h
         |  FROM docs, UNNEST(range(0, GREATEST(len(toks) - 7, 0))) AS u(i)),
         |dup AS (
         |  SELECT doc_id, pos FROM grams WHERE h IN (SELECT h FROM cg)),
         |$islandOracleTailSql""".stripMargin,
    "ext150_gram_cdc_maintenance" ->
      s"""WITH corpus AS (
         |  SELECT doc_id,
         |    CASE WHEN doc_id % 11 = 4 THEN text || ' graftpad' ELSE text END
         |      AS text
         |  FROM documents WHERE doc_id % 5 <> 3 AND doc_id % 9 <> 0),
         |cd AS (SELECT doc_id, $toksSql AS toks FROM corpus),
         |cg AS (
         |  SELECT DISTINCT md5(array_to_string(toks[i+1 : i+8], ' ')) AS h
         |  FROM cd, UNNEST(range(0, GREATEST(len(toks) - 7, 0))) AS u(i)),
         |docs AS (
         |  SELECT doc_id, $toksSql AS toks FROM documents WHERE doc_id % 5 = 3),
         |grams AS (
         |  SELECT doc_id, i AS pos, md5(array_to_string(toks[i+1 : i+8], ' ')) AS h
         |  FROM docs, UNNEST(range(0, GREATEST(len(toks) - 7, 0))) AS u(i)),
         |dup AS (
         |  SELECT doc_id, pos FROM grams WHERE h IN (SELECT h FROM cg)),
         |$islandOracleTailSql""".stripMargin,
    "ext60_gopher_rules" ->
      s"""WITH $gopherCtesSql
         |SELECT *, $gopherFlagSql AS quality_flag
         |FROM m ORDER BY doc_id""".stripMargin,
    "ext61_domain_mixture" ->
      """WITH counts AS (
        |  SELECT source, COUNT(*) AS n_docs FROM documents GROUP BY source),
        |tot AS (
        |  SELECT SUM(CAST(sqrt(CAST(n_docs AS DOUBLE)) AS DECIMAL(18, 6))) AS sum_sqrt,
        |    CAST(SUM(n_docs) AS BIGINT) AS n_total
        |  FROM counts),
        |rates AS (
        |  SELECT source, n_docs,
        |    least(1.0,
        |      (n_total / 2) *
        |      (CAST(CAST(sqrt(CAST(n_docs AS DOUBLE)) AS DECIMAL(18, 6)) AS DOUBLE) /
        |       CAST(sum_sqrt AS DOUBLE)) / n_docs) AS rate
        |  FROM counts, tot),
        |sel AS (
        |  SELECT d.source, COUNT(*) AS n_selected
        |  FROM documents d JOIN rates r ON d.source = r.source
        |  WHERE CAST((d.doc_id * 2654435761) % 2147483648 AS DOUBLE) / 2147483648.0
        |        < r.rate
        |  GROUP BY d.source)
        |SELECT r.source, r.n_docs,
        |  CAST(CAST(r.rate AS DECIMAL(18, 6)) AS DOUBLE) AS rate,
        |  COALESCE(s.n_selected, 0) AS n_selected
        |FROM rates r LEFT JOIN sel s ON r.source = s.source
        |ORDER BY r.source""".stripMargin,
    "ext62_length_batching" ->
      s"""WITH docs AS (
         |  SELECT doc_id, CAST(len($toksSql) AS BIGINT) AS n_tokens
         |  FROM documents),
         |batched AS (
         |  SELECT *, n_tokens // 16 AS bucket,
         |    (ROW_NUMBER() OVER (PARTITION BY n_tokens // 16 ORDER BY doc_id) - 1) // 8
         |      AS batch_id
         |  FROM docs)
         |SELECT bucket, batch_id, COUNT(*) AS n_docs,
         |  MAX(n_tokens) AS max_tokens,
         |  CAST(MAX(n_tokens) * COUNT(*) - SUM(n_tokens) AS BIGINT) AS padding_tokens
         |FROM batched GROUP BY bucket, batch_id
         |ORDER BY bucket, batch_id""".stripMargin,
    "ext63_bigram_nll" ->
      s"""WITH $nllCtesSql
         |SELECT doc_id, n_bigrams, nll
         |FROM nllagg ORDER BY doc_id""".stripMargin,
    "ext64_global_shuffle" ->
      """SELECT
        |  ROW_NUMBER() OVER (ORDER BY md5('shuf:' || CAST(doc_id AS VARCHAR)))
        |    AS sample_idx,
        |  doc_id, source,
        |  (ROW_NUMBER() OVER (ORDER BY md5('shuf:' || CAST(doc_id AS VARCHAR))) - 1)
        |    // 256 AS microbatch
        |FROM documents ORDER BY sample_idx""".stripMargin)
}
