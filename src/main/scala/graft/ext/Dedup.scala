package graft.ext

import graft.ops.{table, Q}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Deduplication operators for training-data pipelines, over the
  * `documents` fixture (builder brief; BASELINE.json north star).
  *
  * All hashing is md5 (identical bytes→hex in Spark and DuckDB), so every
  * stage is cross-engine deterministic and oracle-checkable — no
  * engine-private hash functions in results.
  *
  * Scale design (100 TB):
  *   - exact dedup: hash-groupBy on a 128-bit digest — one shuffle of
  *     (digest, doc_id), never the document bodies.
  *   - n-gram Jaccard: inverted-index self-join on shingles (pairs only
  *     materialize for docs sharing a shingle) — never a cross join. The
  *     optional `dfCap` parameter drops high-document-frequency posting
  *     lists to bound skew at corpus scale (the oracle checks the exact
  *     uncapped semantics).
  *   - MinHash+LSH: 16-hash signatures, 4 bands x 4 rows; candidate pairs
  *     come from band-bucket joins (cost ~ sum over buckets of k²),
  *     verified against the full signature. This is the standard
  *     shingle→minhash→band→bucket-join pipeline. Hashes are computed
  *     inline per occurrence — nothing shingle-keyed is ever broadcast
  *     (distinct shingles don't saturate; see dedupMinhashLsh).
  *   - SimHash: 32-bit fingerprints; candidates from 8-bit chunk buckets
  *     (any pair within hamming distance 3 shares at least one of 4
  *     chunks — pigeonhole), verified with bit_count(xor).
  *   - embedding near-dup: cosine within coarse buckets (label = IVF
  *     cell); brute force inside the bucket only.
  */
object Dedup {

  /** Word-level shingles of size 3 over lowercased whitespace tokens.
    * Shared with [[DedupIndex]] so the persisted signature build cannot
    * drift from the in-query construction.
    *
    * `widen` (round-16, VERDICT r15 #2): ONLY consumers whose per-row
    * work downstream of the shingling dominates the inserted exchange
    * ask for the single-task fixture scan to be re-partitioned — the
    * md5-heavy signature derivations (ext03/ext106, the DedupIndex sig
    * builds serving ext131/133/134) and the full-corpus posting builds.
    * The blanket widen of round 15 regressed the cheap consumers
    * 10-40% (ext86b/140/150 et al., PERF r15): a shingle join/aggregate
    * over the fixture scan is cheaper single-task than shuffled. */
  private[graft] def shingles(docs: DataFrame,
      widen: Boolean = false): DataFrame =
    (if (widen) graft.ops.widenForCompute(docs) else docs)
      .select(col("doc_id"), split(lower(trim(col("text"))), " ").as("toks"))
      .filter(size(col("toks")) >= 3) // sequence() descends for stop<start
      .select(col("doc_id"), explode(expr(
        "transform(sequence(0, size(toks)-3), i -> concat_ws(' ', toks[i], toks[i+1], toks[i+2]))"))
        .as("sh"))
      .distinct()

  /** Exact dedup: md5 over normalized text, keep min doc_id per group
    * (hash-groupBy — the only full pass; no bodies cross the shuffle). */
  val dedupExact: Q = (s, d) =>
    table(s, d, "documents")
      .select(col("doc_id"),
        md5(regexp_replace(lower(trim(col("text"))), "\\s+", " ")).as("h"))
      .groupBy("h")
      .agg(min(col("doc_id")).as("doc_id_kept"), count(lit(1)).as("group_size"))
      .select("doc_id_kept", "group_size", "h")
      .orderBy("doc_id_kept")

  /** Exact word-3-gram Jaccard via inverted-index join; top-20 pairs.
    * `dfCap`: optional document-frequency cap — shingles appearing in more
    * than `dfCap` documents are dropped before the self-join, bounding the
    * worst posting-list from contributing O(df²) pairs (the standard skew
    * guard at corpus scale). None = exact semantics (what the oracle
    * checks).
    */
  def ngramJaccard(docs: DataFrame, dfCap: Option[Int] = None): DataFrame = {
    // cached: consumed by the self-join (twice) and the size aggregation
    val all = shingles(docs)
    val sh = dfCap.fold(all) { cap =>
      val rare = all.groupBy("sh").agg(count(lit(1)).as("df"))
        .filter(col("df") <= cap).select("sh")
      all.join(rare, "sh")
    }.persist()
    val sizes = sh.groupBy("doc_id").agg(count(lit(1)).as("n"))
    val inter = sh.as("a").join(sh.as("b"),
        col("a.sh") === col("b.sh") && col("a.doc_id") < col("b.doc_id"))
      .groupBy(col("a.doc_id").as("a_id"), col("b.doc_id").as("b_id"))
      .agg(count(lit(1)).as("inter"))
    inter
      .join(sizes.withColumnRenamed("doc_id", "a_id").withColumnRenamed("n", "n_a"), "a_id")
      .join(sizes.withColumnRenamed("doc_id", "b_id").withColumnRenamed("n", "n_b"), "b_id")
      .select(col("a_id"), col("b_id"), col("inter"), col("n_a"), col("n_b"),
        (col("inter").cast("double") / (col("n_a") + col("n_b") - col("inter"))).as("jaccard"))
      .orderBy(col("jaccard").desc, col("a_id"), col("b_id"))
      .limit(20)
  }

  val dedupNgramJaccard: Q = (s, d) => ngramJaccard(table(s, d, "documents"))

  /** ext02b — the CAPPED configuration of [[ngramJaccard]], driver-checked:
    * at 100 TB the df cap is mandatory (a boilerplate shingle in df docs
    * contributes O(df²) join pairs), so the scale-safe path needs its own
    * oracle row, not just the spec's no-op-cap equality. df ≤ 8 drops hot
    * posting lists BEFORE the self-join; doc shingle-set sizes are
    * measured on the capped index (both legs restate that). */
  val dedupNgramJaccardCapped: Q = (s, d) =>
    ngramJaccard(table(s, d, "documents"), dfCap = Some(8))

  /** ASYMMETRIC containment C(A→B) = |sh(A) ∩ sh(B)| / |sh(A)| over the
    * same shingle inverted index as ext02 — the quote/boilerplate
    * detector: a short doc fully embedded in a longer one scores ~1.0
    * here while its Jaccard stays low (size mismatch drowns the
    * intersection). Broder's containment companion to resemblance; the
    * direction matters, so both (A→B) and (B→A) are emitted per pair.
    *
    * Scale: identical shape to ext02 — inverted-index self-join keyed on
    * the shingle, never all-pairs; the per-direction division is a
    * row-local map over the joined pair counts, and the top-20 is a
    * TakeOrdered, not a sort. `dfCap` is the same document-frequency skew
    * guard as [[ngramJaccard]]: a boilerplate shingle appearing in df
    * documents contributes O(df²) join pairs, so at corpus scale hot
    * posting lists MUST be dropped before the self-join (None = exact
    * semantics, what the oracle checks).
    */
  def containment(docs: DataFrame, dfCap: Option[Int] = None): DataFrame = {
    val all = shingles(docs)
    val sh = dfCap.fold(all) { cap =>
      val rare = all.groupBy("sh").agg(count(lit(1)).as("df"))
        .filter(col("df") <= cap).select("sh")
      all.join(rare, "sh")
    }.persist()
    val sizes = sh.groupBy("doc_id").agg(count(lit(1)).as("n"))
    val inter = sh.as("a").join(sh.as("b"),
        col("a.sh") === col("b.sh") && col("a.doc_id") < col("b.doc_id"))
      .groupBy(col("a.doc_id").as("a_id"), col("b.doc_id").as("b_id"))
      .agg(count(lit(1)).as("inter"))
    val sized = inter
      .join(sizes.withColumnRenamed("doc_id", "a_id").withColumnRenamed("n", "n_a"), "a_id")
      .join(sizes.withColumnRenamed("doc_id", "b_id").withColumnRenamed("n", "n_b"), "b_id")
    // both directions: containment of the SMALLER shingle set in the pair
    // is the signal; emit each direction explicitly so the consumer can
    // pick per-direction thresholds
    // symmetrized ROW-LOCALLY (explode of a 2-struct array, not a union
    // of two selects): `sized` embeds the expensive shingle self-join
    // and is not cached, so a union would evaluate that subplan TWICE —
    // the explode emits both directions from one pass
    sized.select(explode(array(
        struct(col("a_id").as("src_id"), col("b_id").as("dst_id"),
          col("inter"), col("n_a").as("n_src"),
          (col("inter").cast("double") / col("n_a")).as("containment")),
        struct(col("b_id").as("src_id"), col("a_id").as("dst_id"),
          col("inter"), col("n_b").as("n_src"),
          (col("inter").cast("double") / col("n_b")).as("containment")))).as("e"))
      .select(col("e.src_id").as("src_id"), col("e.dst_id").as("dst_id"),
        col("e.inter").as("inter"), col("e.n_src").as("n_src"),
        col("e.containment").as("containment"))
      .orderBy(col("containment").desc, col("src_id"), col("dst_id"))
      .limit(20)
  }

  val dedupContainment: Q = (s, d) => containment(table(s, d, "documents"))

  /** ext86b — capped twin of [[containment]] (see [[dedupNgramJaccardCapped]]
    * for why the capped path gets its own driver-checked row). */
  val dedupContainmentCapped: Q = (s, d) =>
    containment(table(s, d, "documents"), dfCap = Some(8))

  /** MinHash signatures (16 hashes) + LSH banding (4 bands x 4 rows):
    * shingle → minhash → band → bucket-join → signature-verified estimate.
    * Output: candidate pairs with >= 8/16 matching minhashes. */
  val dedupMinhashLsh: Q = (s, d) => {
    val sh = shingles(table(s, d, "documents"), widen = true)
    // the 16 hashes are computed INLINE on the occurrence rows — no join.
    // (A distinct-shingle hash table would have to be broadcast or
    // shuffle-joined back; distinct word-3-grams grow near-linearly with
    // corpus size, so at 100 TB that table is billions of rows and a
    // broadcast OOMs the driver. 16 md5s per occurrence is pure map-side
    // CPU and scales with the data.) All 16 minhashes are then taken in
    // ONE aggregation pass — partial agg ships one 17-column row per doc;
    // cached because the plan consumes it three times (bands + both
    // verify sides).
    val hashCols = (0 to 15).map(j =>
      md5(concat(col("sh"), lit(s"#$j"))).as(s"hv$j"))
    val sigCols = (0 to 15).map(j => min(col(s"hv$j")).as(s"h$j"))
    val sig = sh.select(col("doc_id") +: hashCols: _*)
      .groupBy("doc_id").agg(sigCols.head, sigCols.tail: _*).persist()
    val bandStructs = (0 to 3).map(b =>
      s"struct(CAST($b AS INT) AS band, concat_ws('|', h${4 * b}, h${4 * b + 1}, h${4 * b + 2}, h${4 * b + 3}) AS band_key)")
      .mkString("array(", ", ", ")")
    val bands = sig
      .select(col("doc_id"), explode(expr(bandStructs)).as("bk"))
      .select(col("doc_id"), col("bk.band").as("band"), col("bk.band_key").as("band_key"))
    val candidates = bands.as("x").join(bands.as("y"),
        col("x.band") === col("y.band") && col("x.band_key") === col("y.band_key") &&
          col("x.doc_id") < col("y.doc_id"))
      .select(col("x.doc_id").as("a_id"), col("y.doc_id").as("b_id"))
      .distinct()
    val matchSum = (0 to 15).map(j => s"IF(a.h$j = b.h$j, 1, 0)").mkString(" + ")
    candidates
      .join(sig.as("a"), col("a_id") === col("a.doc_id"))
      .join(sig.as("b"), col("b_id") === col("b.doc_id"))
      .select(col("a_id"), col("b_id"),
        expr(s"CAST($matchSum AS BIGINT)").as("n_match"))
      .filter(col("n_match") >= 8)
      .select(col("a_id"), col("b_id"), col("n_match"),
        (col("n_match").cast("double") / 16).as("est_jaccard"))
      .orderBy(col("n_match").desc, col("a_id"), col("b_id"))
  }

  /** Band derivation over a signature frame — ext03's LSH banding
    * (4 bands × 4 rows over h0..h15), row-local: no hashing, no shuffle. */
  private[ext] def bandsOf(sig: DataFrame): DataFrame = {
    val bandStructs = (0 to 3).map(b =>
      s"struct(CAST($b AS INT) AS band, concat_ws('|', h${4 * b}, h${4 * b + 1}, h${4 * b + 2}, h${4 * b + 3}) AS band_key)")
      .mkString("array(", ", ", ")")
    sig.select(col("doc_id"), explode(expr(bandStructs)).as("bk"))
      .select(col("doc_id"), col("bk.band").as("band"),
        col("bk.band_key").as("band_key"))
  }

  private val sigMatchSum =
    (0 to 15).map(j => s"IF(a.h$j = b.h$j, 1, 0)").mkString(" + ")

  /** ext130 — ext03's candidate-pair search over the PERSISTED signature
    * index ([[DedupIndex]]): identical semantics (and oracle), but the
    * plan contains ZERO hashing stages — bands derive row-locally from
    * the stored h-columns and verification compares stored columns. The
    * shingle→16×md5→min pass (the dominant per-run cost at corpus
    * scale) is amortized into the index build and maintained per ingest
    * batch, not per dedup run. The production layout would bucket a
    * materialized band table by band_key so the bucket join is
    * storage-partitioned; at fixture scale the row-local derivation is
    * the better plan (no second table to keep consistent). */
  val dedupIndexLsh: Q = (s, d) => {
    val t = DedupIndex.ensure(s,
      table(s, d, "documents").select(col("doc_id"), col("text")),
      "docs_" + d.replaceAll("[^a-zA-Z0-9]", "_"))
    lshOverSig(s.table(t.sigs))
  }

  /** ext03's band→bucket→verify chain over a signature frame — shared by
    * ext130 (batch-maintained index) and ext133 (stream-maintained
    * index): bands derive row-locally, verification compares stored
    * h-columns, zero hashing anywhere. */
  private[graft] def lshOverSig(sig: DataFrame): DataFrame = {
    val bands = bandsOf(sig)
    val candidates = bands.as("x").join(bands.as("y"),
        col("x.band") === col("y.band") &&
          col("x.band_key") === col("y.band_key") &&
          col("x.doc_id") < col("y.doc_id"))
      .select(col("x.doc_id").as("a_id"), col("y.doc_id").as("b_id"))
      .distinct()
    candidates
      .join(sig.as("a"), col("a_id") === col("a.doc_id"))
      .join(sig.as("b"), col("b_id") === col("b.doc_id"))
      .select(col("a_id"), col("b_id"),
        expr(s"CAST($sigMatchSum AS BIGINT)").as("n_match"))
      .filter(col("n_match") >= 8)
      .select(col("a_id"), col("b_id"), col("n_match"),
        (col("n_match").cast("double") / 16).as("est_jaccard"))
      .orderBy(col("n_match").desc, col("a_id"), col("b_id"))
  }

  /** ext131 — incremental batch-vs-corpus near-dup probe, the
    * steady-state production shape (ext65's discipline lifted from
    * exact to near-dup): the indexed corpus (docs < 400) is read as
    * STORED signatures; only the incoming batch (docs ≥ 400) is
    * shingled and signed in-query; candidates are corpus×batch band
    * collisions, verified at ≥ 8/16 matching minhashes. Per-batch cost
    * is signing the BATCH plus a band-keyed join against the stored
    * index — proportional to the batch, never the corpus, which is the
    * whole point at 100 TB. */
  val dedupIndexBatchProbe: Q = (s, d) => {
    val docs = table(s, d, "documents").select(col("doc_id"), col("text"))
    val t = DedupIndex.ensure(s, docs.filter(col("doc_id") < 400),
      "corpus_" + d.replaceAll("[^a-zA-Z0-9]", "_"))
    val corpusSig = s.table(t.sigs)
    // signing the batch is the per-batch cost; cached because the plan
    // consumes it twice (bands + verify side)
    val batchSig = DedupIndex.signatures(docs.filter(col("doc_id") >= 400))
      .persist()
    val cand = bandsOf(corpusSig).as("x").join(bandsOf(batchSig).as("y"),
        col("x.band") === col("y.band") &&
          col("x.band_key") === col("y.band_key"))
      .select(col("x.doc_id").as("corpus_id"), col("y.doc_id").as("batch_id"))
      .distinct()
    cand
      .join(corpusSig.as("a"), col("corpus_id") === col("a.doc_id"))
      .join(batchSig.as("b"), col("batch_id") === col("b.doc_id"))
      .select(col("corpus_id"), col("batch_id"),
        expr(s"CAST($sigMatchSum AS BIGINT)").as("n_match"))
      .filter(col("n_match") >= 8)
      .select(col("corpus_id"), col("batch_id"), col("n_match"),
        (col("n_match").cast("double") / 16).as("est_jaccard"))
      .orderBy(col("n_match").desc, col("corpus_id"), col("batch_id"))
  }

  /** ext134 — CDC-DRIVEN INDEX MAINTENANCE: the corpus is a catalog
    * table that CHANGES IN PLACE (a right-to-erasure DELETE, then an
    * in-place UPDATE of surviving docs), and the signature index follows
    * via [[DedupIndex.ensureCdc]]: one change-feed slice between the
    * covered version and the head retracts the changed docs' signatures
    * (a deletion-vector append on the merge-on-read sigs table) and
    * re-signs only the touched head images — cost ∝ changes, never the
    * corpus. The append-only watermark of ext130/ext133 cannot cover
    * either mutation (both would force a full rebuild); the version-
    * keyed watermark + feed makes maintenance exact. The final LSH
    * probe over the maintained signatures must hash-match the oracle
    * recomputed over the post-delete post-update corpus.
    *
    * At 100 TB this closes the erasure story for derived artifacts:
    * q155's pipeline erases the PRIMARY table; this entry shows the
    * persisted index tier tracking it with feed-sized work instead of a
    * corpus-wide re-shingle. */
  val cdcIndexMaintenance: Q = (s, d) => {
    graft.ops.ensureGraftCatalog(s)
    s.sql("DROP TABLE IF EXISTS graft_cat.db.cdc_idx_docs")
    IndexFamily.Sigs.drop(s, "cdc_idx")
    s.sql("CREATE TABLE graft_cat.db.cdc_idx_docs (doc_id BIGINT, " +
      "text STRING) TBLPROPERTIES ('graft.dml.mode'='merge-on-read')")
    table(s, d, "documents").select(col("doc_id"), col("text"))
      .writeTo("graft_cat.db.cdc_idx_docs").append()
    DedupIndex.ensureCdc(s, "graft_cat.db.cdc_idx_docs", "cdc_idx") // build
    s.sql("DELETE FROM graft_cat.db.cdc_idx_docs WHERE doc_id % 7 = 0")
    s.sql("UPDATE graft_cat.db.cdc_idx_docs " +
      "SET text = concat(text, ' graft cdc rev') WHERE doc_id % 11 = 3")
    // ONE feed slice spans both commits
    val t = DedupIndex.ensureCdc(s, "graft_cat.db.cdc_idx_docs", "cdc_idx")
    lshOverSig(s.table(t.sigs))
  }

  /** ext106 — LSH candidate recall against the exact ground truth: every
    * exact n-gram-Jaccard pair (ext02's machinery, un-truncated) is
    * checked for membership in ext03's band-bucket candidate set, and
    * recall is reported per similarity tier (J ≥ 0.5 / 0.7 / 0.9). This
    * is the dedup twin of ext95's ANN recall eval — the metric that
    * tunes (bands × rows) in production: banding theory (Leskovec et
    * al., MMDS ch.3) predicts P(candidate) = 1−(1−J^r)^b, so recall
    * must rise steeply with the tier, which the spec asserts.
    *
    * Scale: ONE shingle index feeds both legs (persisted); the exact leg
    * is the inverted-index join (never all-pairs), the LSH leg is the
    * band-bucket join, and the tier explode multiplies only the
    * PAIR-level rows (thousands), not shingles. The exact leg is the
    * expensive half at corpus scale — production evaluates on a fixed
    * document sample, same as ext95's query sample; the operator shape
    * is unchanged by that narrowing.
    */
  val lshRecallEval: Q = (s, d) => {
    val sh = shingles(table(s, d, "documents"), widen = true).persist()
    val sizes = sh.groupBy("doc_id").agg(count(lit(1)).as("n"))
    val inter = sh.as("a").join(sh.as("b"),
        col("a.sh") === col("b.sh") && col("a.doc_id") < col("b.doc_id"))
      .groupBy(col("a.doc_id").as("a_id"), col("b.doc_id").as("b_id"))
      .agg(count(lit(1)).as("inter"))
    val truth = inter
      .join(sizes.withColumnRenamed("doc_id", "a_id").withColumnRenamed("n", "n_a"), "a_id")
      .join(sizes.withColumnRenamed("doc_id", "b_id").withColumnRenamed("n", "n_b"), "b_id")
      .select(col("a_id"), col("b_id"),
        (col("inter").cast("double") / (col("n_a") + col("n_b") - col("inter"))).as("jaccard"))
    val hashCols = (0 to 15).map(j =>
      md5(concat(col("sh"), lit(s"#$j"))).as(s"hv$j"))
    val sigCols = (0 to 15).map(j => min(col(s"hv$j")).as(s"h$j"))
    val sig = sh.select(col("doc_id") +: hashCols: _*)
      .groupBy("doc_id").agg(sigCols.head, sigCols.tail: _*)
    val bandStructs = (0 to 3).map(b =>
      s"struct(CAST($b AS INT) AS band, concat_ws('|', h${4 * b}, h${4 * b + 1}, h${4 * b + 2}, h${4 * b + 3}) AS band_key)")
      .mkString("array(", ", ", ")")
    val bands = sig
      .select(col("doc_id"), explode(expr(bandStructs)).as("bk"))
      .select(col("doc_id"), col("bk.band").as("band"), col("bk.band_key").as("band_key"))
    val candidates = bands.as("x").join(bands.as("y"),
        col("x.band") === col("y.band") && col("x.band_key") === col("y.band_key") &&
          col("x.doc_id") < col("y.doc_id"))
      .select(col("x.doc_id").as("a_id"), col("y.doc_id").as("b_id"))
      .distinct()
      .withColumn("hit", lit(1))
    truth.join(candidates, Seq("a_id", "b_id"), "left")
      .select(col("jaccard"), coalesce(col("hit"), lit(0)).as("hit"))
      .select(explode(array(lit(0.5), lit(0.7), lit(0.9))).as("t"),
        col("jaccard"), col("hit"))
      .filter(col("jaccard") >= col("t"))
      .groupBy("t")
      .agg(count(lit(1)).as("n_true"), sum(col("hit")).as("n_hit"))
      .select(col("t"), col("n_true"), col("n_hit"),
        (col("n_hit").cast("double") / col("n_true").cast("double")).as("recall"))
      .orderBy("t")
  }

  /** SimHash: 32-bit fingerprint from distinct-token hashes; candidate
    * pairs from 8-bit chunk buckets, verified by hamming distance <= 2. */
  val dedupSimhash: Q = (s, d) => {
    // one-pass native kernel (graft.functions.SimHash64): the per-doc
    // distinct-token array is fingerprinted inside whole-stage codegen —
    // no explode, no distinct shuffle, no sign-table broadcast, no
    // 32-column aggregation exchange (the relational formulation this
    // replaced is restated by the oracle and differentially checked in
    // NativeExprSpec). The empty-token filter preserves the original
    // semantics: docs with no tokens produced no aggregate row there, so
    // they must not enter the pair search here either.
    graft.functions.SimHash64.register(s)
    // the token-presence gate runs on the RAW text (trim non-empty ⇔ at
    // least one token), not on size(toks): a filter on the derived array
    // would make CollapseProject inline — and so evaluate — the
    // array_distinct build twice per row
    // repartition first: the fixture corpus is one small parquet split, so
    // without it the whole hashing pass runs on one core (at real scale
    // the scan has thousands of splits and this shuffle is unnecessary —
    // it moves only the raw text, ~300 B/doc, and buys full parallelism)
    val fp = table(s, d, "documents")
      .filter(trim(col("text")) =!= "")
      .repartition(col("doc_id"))
      .select(col("doc_id"),
        expr("graft_simhash(array_distinct(filter(split(lower(trim(text)), ' '), t -> t <> '')))")
          .as("simhash"))
      .persist()
    val chunks = fp.select(col("doc_id"), col("simhash"),
      explode(expr("sequence(0, 3)")).as("c"))
      .withColumn("chunk_val", expr("shiftright(simhash, c * 8) & 255"))
    // hamming is evaluated inside the bucket join so only qualifying pairs
    // reach the dedup shuffle (vocab overlap makes buckets skewed — the
    // pre-distinct filter is the difference between shuffling ~2M and
    // ~13M pairs at sf0.1; same result set either way)
    chunks.as("x").join(chunks.as("y"),
        col("x.c") === col("y.c") && col("x.chunk_val") === col("y.chunk_val") &&
          col("x.doc_id") < col("y.doc_id") &&
          expr("bit_count(x.simhash ^ y.simhash) <= 2"))
      .select(col("x.doc_id").as("a_id"), col("y.doc_id").as("b_id"),
        expr("CAST(bit_count(x.simhash ^ y.simhash) AS INT)").as("hamming"))
      .distinct()
      .orderBy(col("hamming"), col("a_id"), col("b_id"))
  }

  /** Embedding near-dup: top-20 cosine pairs inside coarse buckets
    * (label = IVF cell assignment); brute force inside the bucket only.
    * Scored with the native codegen'd graft_cosine — one fused
    * allocation-free loop per pair; its left-to-right accumulation order
    * is identical to the HOF `aggregate(zip_with(...)) / (norm*norm)`
    * fold, so results stay bit-identical to the DuckDB oracle's
    * sequential list_sum (the pair join is the hot path: all
    * within-bucket pairs flow through the kernel before TakeOrdered
    * keeps 20). */
  val dedupEmbedding: Q = (s, d) => {
    graft.functions.CosineSimilarity.register(s)
    val vecs = table(s, d, "embeddings")
      .select(col("vec_id"), col("label"),
        expr("transform(embedding, x -> CAST(x AS DOUBLE))").as("v"))
    val pairs = vecs.as("a").join(vecs.as("b"),
        col("a.label") === col("b.label") && col("a.vec_id") < col("b.vec_id"))
      .select(col("a.vec_id").as("a_id"), col("b.vec_id").as("b_id"),
        col("a.label").as("label"),
        expr("graft_cosine(a.v, b.v)").as("cosine"))
    pairs
      .orderBy(col("cosine").desc, col("a_id"), col("b_id"))
      .limit(20)
  }

  /** Edit-distance near-dup scoring: prefix-blocked candidate pairs (equal
    * 12-char prefix — the cheap blocking key), verified with Levenshtein
    * over the 60-char head. Blocking keeps the self-join linear in block
    * sizes instead of all-pairs; the O(len²)-per-pair DP is confined to
    * candidates and a fixed-length head — the standard fuzzy-matching
    * shape at corpus scale. */
  val dedupLevenshtein: Q = (s, d) => {
    val docs = table(s, d, "documents")
      .select(col("doc_id"), lower(trim(col("text"))).as("t"))
      .select(col("doc_id"), substring(col("t"), 1, 12).as("blk"),
        substring(col("t"), 1, 60).as("head"))
    docs.as("a").join(docs.as("b"),
        col("a.blk") === col("b.blk") && col("a.doc_id") < col("b.doc_id"))
      .select(col("a.doc_id").as("a_id"), col("b.doc_id").as("b_id"),
        levenshtein(col("a.head"), col("b.head")).as("edit_dist"))
      .filter(col("edit_dist") <= 10)
      .orderBy(col("edit_dist"), col("a_id"), col("b_id"))
  }

  /** Train/eval decontamination — the pretraining-hygiene operator: which
    * held-out documents leak into the training corpus? Eval docs (here
    * doc_id % 10 == 0) are scored by how many of their distinct 3-gram
    * shingles appear ANYWHERE in the train split.
    *
    * Scale plan: a LEFT SEMI join on the shingle key — the train side
    * never multiplies eval rows (no pair blowup, unlike a contamination
    * *attribution* join), so the cost is one shuffle of the two shingle
    * sets; at 100 TB this is the standard decontamination sweep with the
    * train side optionally pre-bucketed by shingle. */
  val decontamination: Q = (s, d) => {
    val sh = shingles(table(s, d, "documents"))
    val evalSh = sh.filter(col("doc_id") % 10 === 0)
    val trainSh = sh.filter(col("doc_id") % 10 =!= 0)
    val sizes = evalSh.groupBy("doc_id").agg(count(lit(1)).as("n_sh"))
    val shared = evalSh.join(trainSh.select("sh"), Seq("sh"), "left_semi")
      .groupBy("doc_id").agg(count(lit(1)).as("n_shared"))
    sizes.join(shared, Seq("doc_id"), "left")
      .select(col("doc_id").as("eval_id"), col("n_sh"),
        coalesce(col("n_shared"), lit(0L)).as("n_shared"),
        (coalesce(col("n_shared"), lit(0L)).cast("double") / col("n_sh"))
          .as("contamination"))
      .orderBy("eval_id")
  }

  /** ext122 — memorization ladder (the Carlini-style extraction audit):
    * for each held-out document, the LONGEST n ∈ {3, 5, 8} at which it
    * shares a verbatim n-gram with the training split. ext30 measures
    * how MUCH of an eval doc leaks (3-gram coverage ratio); this
    * measures how LONG the leaked spans get — the length axis is what
    * distinguishes topical overlap (short n) from memorized passages
    * (long n), and `max_n = 0` is the clean-room certificate.
    *
    * Scale: one shingle pass per rung over the SAME tokenized scan,
    * each a LEFT SEMI join on the n-gram key (train side never
    * multiplies eval rows); rungs shrink as n grows. At 100 TB the
    * standard extension is suffix-hash laddering (double n until miss),
    * which reuses exactly this per-rung join shape. */
  val memorizationLadder: Q = (s, d) => {
    val toks = table(s, d, "documents")
      .select(col("doc_id"), split(lower(trim(col("text"))), " ").as("toks"))
    def grams(n: Int): DataFrame = toks
      .filter(size(col("toks")) >= n)
      .select(col("doc_id"), explode(expr(
        s"transform(sequence(0, size(toks)-$n), " +
          s"i -> concat_ws(' ', slice(toks, i + 1, $n)))")).as("sh"))
      .distinct()
    val hits = Seq(3, 5, 8).map { n =>
      val g = grams(n)
      g.filter(col("doc_id") % 10 === 0)
        .join(g.filter(col("doc_id") % 10 =!= 0).select("sh"), Seq("sh"), "left_semi")
        .select(col("doc_id")).distinct()
        .withColumn(s"hit_$n", lit(1))
    }
    val evalDocs = toks.filter(col("doc_id") % 10 === 0)
      .select(col("doc_id").as("eval_id"))
    hits.zip(Seq(3, 5, 8)).foldLeft(evalDocs) { case (acc, (h, n)) =>
        acc.join(h.withColumnRenamed("doc_id", "eval_id"), Seq("eval_id"), "left")
          .withColumn(s"hit_$n", coalesce(col(s"hit_$n"), lit(0)))
      }
      .withColumn("max_n", expr(
        "CASE WHEN hit_8 = 1 THEN 8 WHEN hit_5 = 1 THEN 5 " +
          "WHEN hit_3 = 1 THEN 3 ELSE 0 END"))
      .orderBy("eval_id")
  }

  /** Vocabulary heavy hitters: top-50 tokens by document frequency — the
    * vocab-construction pass of a tokenizer-training pipeline. Two keyed
    * shuffles (distinct doc-token pairs, then token counts) and a
    * TakeOrdered; no full sort. */
  val vocabTopDf: Q = (s, d) =>
    table(s, d, "documents")
      .select(col("doc_id"), explode(split(lower(trim(col("text"))), " ")).as("tok"))
      .filter(col("tok") =!= "")
      .distinct()
      .groupBy("tok").agg(count(lit(1)).as("df"))
      .orderBy(col("df").desc, col("tok"))
      .limit(50)

  /** Both directions of the undirected edges `(a, b)` as `(src, dst)`
    * rows, from ONE evaluation of `edges` (explode, not union — an
    * uncached pair pipeline under a union runs twice). */
  private[graft] def undirected(edges: DataFrame, a: String = "a_id",
      b: String = "b_id"): DataFrame =
    edges.select(explode(array(
        struct(col(a).as("src"), col(b).as("dst")),
        struct(col(b).as("src"), col(a).as("dst")))).as("e"))
      .select(col("e.src").as("src"), col("e.dst").as("dst"))

  /** Dedup-cluster consolidation: pairwise near-dup hits are only half
    * the operator — production pipelines then union the pairs into
    * CONNECTED COMPONENTS and keep one canonical doc per cluster (A~B,
    * B~C must collapse to one survivor even though A,C never paired).
    * Min-label propagation over the undirected pair graph, iterated on
    * the driver until a fixpoint (the standard Pregel-style loop: each
    * iteration is one distributed join+groupBy; the driver only sees the
    * converged? count, never the data — at 100 TB the iteration count is
    * the component diameter, single digits for dedup graphs). The oracle
    * computes true components with a recursive CTE, so convergence — not
    * just plausibility — is what hash-matching proves. */
  val dedupComponents: Q = (s, d) => {
    val pairs = ngramJaccard(table(s, d, "documents")).select("a_id", "b_id")
    // ccOverEdges measures the graph and sizes the loop width to it
    val (labels, _) = ccOverEdges(s, undirected(pairs))
    labels
      .select(col("id").as("doc_id"), col("comp").as("cluster"),
        (col("id") === col("comp")).as("is_canonical"))
      .orderBy("doc_id")
  }

  /** ext38b — the CAPPED configuration of [[dedupComponents]]: the
    * production guard for component discovery at corpus scale, where the
    * frontier loop's shuffle volume tracks the EDGE count and one
    * boilerplate-heavy node of degree d contributes d rows to every
    * iteration. Two caps compose: the pair GENERATION runs on the
    * df-capped inverted index (ext02b's discipline — no O(df²) posting
    * blowup), and the edge set is then degree-capped to each node's
    * top-4 strongest neighbours (row_number per src by jaccard desc, dst
    * tiebreak — deterministic on both engines), re-symmetrized so the
    * graph stays undirected. Near-dup clusters survive K-nearest-edge
    * capping because true duplicate edges carry the highest weights —
    * the standard bounded-neighbour-list trade (cf. SemDeDup §3) — and
    * the oracle's recursive CTE over the SAME capped edges proves the
    * propagation converged to those components exactly. */
  val dedupComponentsCapped: Q = (s, d) => {
    val pairs = ngramJaccard(table(s, d, "documents"), dfCap = Some(8))
      .select(col("a_id"), col("b_id"), col("jaccard"))
    // row-local symmetrization (explode, not union): the capped-index
    // pair pipeline is the expensive subplan and is uncached — a union
    // of two selects over it evaluates it twice, and the second union
    // below would square that to four pair-pipeline runs per query
    val sym = pairs.select(explode(array(
        struct(col("a_id").as("src"), col("b_id").as("dst"), col("jaccard")),
        struct(col("b_id").as("src"), col("a_id").as("dst"), col("jaccard")))).as("e"))
      .select(col("e.src").as("src"), col("e.dst").as("dst"),
        col("e.jaccard").as("jaccard"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("src").orderBy(col("jaccard").desc, col("dst"))
    val kept = sym.withColumn("rk", row_number().over(w))
      .filter(col("rk") <= 4).select("src", "dst")
    val (labels, _) = ccOverEdges(s, undirected(kept, "src", "dst").distinct())
    labels
      .select(col("id").as("doc_id"), col("comp").as("cluster"),
        (col("id") === col("comp")).as("is_canonical"))
      .orderBy("doc_id")
  }

  /** ext121 — dedup-cluster canonical selection: the step AFTER
    * component discovery in a production dedup pipeline — per near-dup
    * cluster, KEEP the best-quality member (longest text, doc_id
    * tiebreak — the quality proxy; swap in ext66's ensemble score at
    * will) and count what gets dropped. Composes ext38's components
    * with a per-cluster rank; the rank is a per-cluster window over
    * cluster-sized groups (never corpus-wide), and the census output is
    * cluster-count-sized.
    */
  val canonicalSelection: Q = (s, d) => {
    val comp = dedupComponents(s, d).select(col("doc_id"), col("cluster"))
    val docs = table(s, d, "documents").select(col("doc_id"), col("n_chars"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("cluster").orderBy(col("n_chars").desc, col("doc_id"))
    comp.join(docs, Seq("doc_id"))
      .withColumn("rk", row_number().over(w))
      .groupBy("cluster").agg(
        count(lit(1)).as("n_members"),
        sum(when(col("rk") === 1, col("doc_id")).otherwise(0L))
          .as("canonical_id"),
        max(col("n_chars")).as("n_chars_max"),
        (count(lit(1)) - 1).as("n_dropped"))
      .orderBy("cluster")
  }

  /** Loop width for [[connectedComponents]], derived from the SYMMETRIC
    * edge count (round-13, VERDICT r12 #4): every loop iteration
    * shuffles ~|edges| label rows, so the width should track the graph,
    * not the session's fact-table default — 4 partitions floor (the
    * micro-graph case every fixture hits), one partition per ~256k edge
    * rows above that, ceiling at the session shuffle width (the loop
    * never needs MORE tasks than a full-width shuffle would get). */
  private[graft] val CcEdgeRowsPerPartition = 262144L
  private[graft] def ccWidth(s: SparkSession, symEdgeCount: Long): Int = {
    val cap = math.max(s.conf.get("spark.sql.shuffle.partitions").toInt, 4)
    val need = symEdgeCount / CcEdgeRowsPerPartition + 1L
    math.min(math.max(4L, need), cap.toLong).toInt
  }

  /** Materialize a symmetric edge pipeline ONCE at full parallelism,
    * derive the loop width from the measured edge count, re-lay the
    * cached graph out at that width, and run [[connectedComponents]] on
    * it. Returns the converged labels (already lineage-truncated by the
    * loop) — the edge caches are released before returning. Centralizes
    * what every component call site used to hand-roll with a hardcoded
    * `repartition(4)`.
    *
    * `pairBound`: an optional PRE-JOIN upper bound on the symmetric
    * edge count (VERDICT r13 #1). When the caller can compute one
    * cheaply — the exact label family reads the persisted edge table's
    * manifest row count, the capped family one aggregate over its df
    * sidecar (Σ min(df,cap)·(min(df,cap)−1)) — the INITIAL
    * materialization is laid out at the derived width directly, so a
    * billion-edge graph never funnels its first cache pass (and its
    * memory/spill pressure) through the 4-partition floor before the
    * measured count can widen it. Callers without a cheap bound (the
    * fixture-scale in-query entries, the cluster-local apply-path
    * subgraphs whose size the touched-set contracts already bound)
    * keep the floor: at micro-graph scale the wide-first layout was
    * measured ~30% SLOWER on the label entries (SURVEY §19.4). */
  private[graft] val lastCcInitWidth =
    new java.util.concurrent.atomic.AtomicInteger(0)

  /** Opt-in capture of one loop iteration's EXECUTED plan (round-16,
    * VERDICT r15 #1: the 3-exchanges-per-iteration claim must be
    * checkable — ExtensionsSpec pins the count and `graft.Harness
    * plans` (selector `cc_iteration`) commits the text as plans/r16
    * evidence). Off by default: rendering the adaptive plan to a string
    * each iteration is pure overhead on a real run. */
  private[graft] val ccCapturePlan =
    new java.util.concurrent.atomic.AtomicBoolean(false)
  private[graft] val lastCcIterPlan =
    new java.util.concurrent.atomic.AtomicReference[String]("")

  /** Shuffle-exchange count of the captured iteration's jump half,
    * computed on the executed TREE (the toString form nests each cached
    * subplan's own adaptive echo, so text counting is unreliable).
    * Query stages are traversed; cached subplans (the stepped frame's
    * build, whose dst-aggregate exchange is the propagate half's one
    * shuffle) are not — they are separate materializations. */
  private[graft] val lastCcIterShuffles =
    new java.util.concurrent.atomic.AtomicInteger(-1)
  private def countShuffles(
      p: org.apache.spark.sql.execution.SparkPlan): Int = {
    import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
    import org.apache.spark.sql.execution.exchange.ShuffleExchangeLike
    val self = p match { case _: ShuffleExchangeLike => 1; case _ => 0 }
    val nested = p match {
      case a: AdaptiveSparkPlanExec => countShuffles(a.executedPlan)
      case q: QueryStageExec => countShuffles(q.plan)
      case _ => 0
    }
    self + nested + p.children.map(countShuffles).sum
  }

  /** Symmetric-edge count at or below which [[ccOverEdges]] computes the
    * components in ONE task instead of driving the distributed loop
    * (round-15, guide §1.1 first-principles: for a graph this small the
    * theoretically cheapest execution is one pass with zero shuffles —
    * the loop's per-iteration cost at micro scale is pure scheduling:
    * measured ~1 s/iteration × 3-5 iterations per invocation across
    * every label apply, vs ~0.2 s total for the single-task pass). One
    * loop partition's worth of edges is the natural bound: a graph the
    * loop would run at the 4-partition floor anyway. The distributed
    * loop — unchanged — remains the path for everything larger (the
    * storm rehearsals and any real corpus), so the scale shape is
    * untouched; this is the same measured-size dispatch AQE applies
    * when it demotes a shuffle join to broadcast. */
  private[graft] val SmallCcSymEdgeCutoff: Long = CcEdgeRowsPerPartition

  /** Exact min-label components of a micro graph in one executor task:
    * union-find with path compression, always linking the larger root
    * under the smaller so each root IS its component's min id — the
    * identical fixpoint the propagation loop converges to, computed in
    * one pass. Output is eagerly local-checkpointed (self-contained,
    * like the loop's converged frame) and laid out at the loop width
    * (the ccWidth layout contract). */
  private def smallCc(s: SparkSession, sym: org.apache.spark.sql.DataFrame,
      width: Int): org.apache.spark.sql.DataFrame = {
    import s.implicits._
    val one = sym.select(col("src"), col("dst")).as[(Long, Long)].rdd
      .coalesce(1).mapPartitions { it =>
        val parent = new java.util.HashMap[java.lang.Long, java.lang.Long]()
        def find(x: Long): Long = {
          var r = x
          while (parent.get(r) != r) r = parent.get(r)
          var c = x
          while (c != r) { val nx = parent.get(c); parent.put(c, r); c = nx }
          r
        }
        it.foreach { case (a, b) =>
          if (!parent.containsKey(a)) parent.put(a, a)
          if (!parent.containsKey(b)) parent.put(b, b)
          val ra = find(a); val rb = find(b)
          if (ra < rb) parent.put(rb, ra)
          else if (rb < ra) parent.put(ra, rb)
        }
        val out = new scala.collection.mutable.ArrayBuffer[(Long, Long)](
          parent.size)
        val ks = parent.keySet().iterator()
        while (ks.hasNext) { val k = ks.next(); out += ((k.longValue, find(k))) }
        out.iterator
      }
    val rows = one
      .partitionBy(new org.apache.spark.HashPartitioner(width))
      .mapPartitions(_.map(t => org.apache.spark.sql.Row(t._1, t._2)),
        preservesPartitioning = true)
    // eager local checkpoint, like the loop's converged frame: the
    // result must stay valid after the caller unpersists the edge cache
    rows.localCheckpoint()
    rows.count()
    s.createDataFrame(rows, org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("id",
        org.apache.spark.sql.types.LongType, nullable = false),
      org.apache.spark.sql.types.StructField("comp",
        org.apache.spark.sql.types.LongType, nullable = false))))
  }
  private[graft] def ccOverEdges(
      s: SparkSession,
      sym: org.apache.spark.sql.DataFrame,
      pairBound: Option[Long] = None)
      : (org.apache.spark.sql.DataFrame, Int) = {
    // materialize the WIDE pair pipeline ONCE. With a pair-bound hint
    // the cache is laid out at the hint-derived width directly
    // (repartition, not coalesce — coalesce would propagate a narrow
    // width UP into the pair build and serialize it); WITHOUT a hint
    // (round-16) the pipeline's own output layout is cached as-is —
    // the old repartition-to-the-4-partition-floor both funneled a big
    // no-hint graph through 4 tasks AND paid one pure-overhead exchange
    // on every micro-graph apply (the dominant CC call shape at fixture
    // scale); the measured count then lays the loop input out at the
    // derived width (the micro case never reaches the loop at all —
    // smallCc reads the cache in one task regardless of its layout).
    // initW = 0 records "cached unlaid".
    val initW = pairBound.map(ccWidth(s, _)).getOrElse(0)
    lastCcInitWidth.set(initW)
    // hash-lay the hinted cache out on `src` (round-15): the loop joins
    // labels on src every iteration, so a src-hash cache satisfies that
    // join's distribution directly and the per-iteration edge
    // re-shuffle disappears (guide §2.4 — two operations keyed the same
    // way share one exchange). A boilerplate-hot node skews its hash
    // partition, but the OLD loop hash-shuffled the same rows on src
    // every iteration anyway — the skew moved from per-iteration to
    // once-at-cache, strictly less work.
    val first = (pairBound match {
      case Some(_) => sym.repartition(initW, col("src"))
      case None => sym
    }).persist()
    val n = first.count()
    val w = ccWidth(s, n)
    // measured-size dispatch (round-15): a micro graph takes the
    // single-task exact path — the loop's distributed machinery is pure
    // overhead below one partition's worth of edges
    if (n <= SmallCcSymEdgeCutoff) {
      val labs = graft.ops.withDesc(s, "cc: small union-find")(
        smallCc(s, first, w))
      first.unpersist(blocking = false)
      return (labs, 1)
    }
    val edges =
      if (w == initW) first
      else {
        // the bound under-shot (or no hint on a big graph) — or
        // OVER-shot (round-16, VERDICT r15 #3): in both directions the
        // loop runs at the measured width `w`, so the edge cache must be
        // re-laid at `w` on `src` or the propagate join's
        // co-partitioning breaks and an exchange returns every
        // iteration. A micro-shuffle against the cache; the pair
        // pipeline never re-runs.
        val e = first.repartition(w, col("src")).persist()
        e.count()
        first.unpersist(blocking = false)
        e
      }
    val out = graft.ops.withDesc(s, "cc: iterate")(
      connectedComponents(s, edges, w))
    // the converged frame is localCheckpoint'ed by the loop, so the edge
    // cache is dead weight from here
    edges.unpersist(blocking = false)
    out
  }

  /** Connected components over an undirected edge set (`src`,`dst`, both
    * directions present) by min-label propagation WITH pointer jumping:
    * each iteration first propagates the min label across edges, then
    * shortcuts `comp ← min(comp, comp-of-comp)` — so label chains halve
    * every round and convergence is O(log diameter) instead of
    * O(diameter). Checkpoint-free: only the per-iteration label frame is
    * persisted; the driver sees one aggregate scalar per iteration (the
    * label-sum signature, strictly decreasing until the fixpoint), never
    * the data. Returns the converged labels and the iteration count (the
    * count is asserted logarithmic on a chain graph in ExtensionsSpec).
    */
  private[graft] def connectedComponents(
      s: SparkSession,
      edges: org.apache.spark.sql.DataFrame,
      width: Int = 4)
      : (org.apache.spark.sql.DataFrame, Int) = {
    // each loop iteration pays one shuffle per join/groupBy — scope the
    // parallelism to the graph size for the loop instead of the session's
    // fact-table width (any heavy upstream pair pipeline is expected to
    // be cached by the caller, so only the micro-shuffles see this);
    // `width` is derived from the edge count by [[ccOverEdges]].
    // The width is applied with EXPLICIT hash repartitions on the join/
    // agg keys, never by mutating `spark.sql.shuffle.partitions`
    // (round-15, VERDICT r14 #5): the session conf is shared by every
    // concurrent query in the driver, so the old set/restore both
    // re-planned unrelated concurrent work at micro-graph width and
    // could restore a stale value when two CC loops interleaved. Each
    // keyed repartition lands exactly where the old conf-width shuffle
    // did (the downstream join/agg reuses the hash layout, so no extra
    // exchange is introduced — plan-pinned in ExtensionsSpec).
    var labels = edges.select(col("src").as("id"))
      .repartition(width, col("id")).distinct()
      .withColumn("comp", col("id"))
      .persist()
    var iters = 0
    locally {
      // labels only ever DECREASE under min-propagation, so the label sum
      // strictly decreases until the fixpoint — one aggregate per
      // iteration detects convergence without a compare join
      def signature(df: org.apache.spark.sql.DataFrame): Long =
        // coalesce: sum over ZERO rows is null (empty pair graph — e.g. a
        // corpus with no qualifying shingle pairs) and must read as a
        // stable signature, not an NPE
        df.agg(coalesce(sum("comp"), lit(0L))).head().getLong(0)
      var sig = signature(labels)
      var converged = false
      // the checkpoint RDD backing the previous round's label frame:
      // Dataset.unpersist only clears the SQL cache, it does NOT release
      // localCheckpoint storage, so without explicit RDD unpersist every
      // iteration pins its label frame in the block manager for the life
      // of the JVM (observed as cross-query slowdown in long bench runs)
      var prevCkpt: Option[org.apache.spark.rdd.RDD[_]] = None
      while (!converged) {
        iters += 1
        // min incoming neighbour label per node, OUTER-joined back onto
        // the label frame (round-15 restructure, guide §2.4): the old
        // shape unioned the FULL label set into the propagated rows and
        // re-shuffled both through one width-keyed exchange every round
        // — but labels checkpoint id-hash-partitioned and the edge cache
        // is src-hash-partitioned, so the propagate join needs NO
        // exchange at all and only the dst-keyed aggregate shuffles
        // (propagated rows only, never the label set). 5 exchanges per
        // iteration → 3, same math: min(own, min over incoming).
        val stepped = edges
          .join(labels, col("src") === col("id"))
          .select(col("dst"), col("comp"))
          .repartition(width, col("dst"))
          .groupBy(col("dst")).agg(min("comp").as("pmin"))
          .withColumnRenamed("dst", "id")
          .join(labels, Seq("id"), "right")
          .select(col("id"),
            least(col("comp"), coalesce(col("pmin"), col("comp"))).as("comp"))
          .persist()
        // pointer jump: every comp value is itself an id present in the
        // label frame, so a self-join rewrites comp to its own label —
        // the left join is belt-and-braces for labels mid-convergence.
        // The parents side reads the id-partitioned cache directly (the
        // p_id key IS id), so only the comp side exchanges.
        val parents = stepped.select(col("id").as("p_id"), col("comp").as("p_comp"))
        // localCheckpoint, NOT persist: the self-join doubles the LOGICAL
        // plan every round, so without lineage truncation analysis cost is
        // 2^iterations (observed as an analyzer OOM on a 64-chain).
        // Eager local checkpoint caches partitions executor-locally and
        // cuts the plan to a leaf; on a real cluster with executor churn
        // use checkpoint(reliable dir) instead — same shape, same cost.
        // The re-key on id keeps the NEXT iteration's propagate join
        // exchange-free, and the converged frame at the loop width (the
        // ExtensionsSpec layout pin). The signature rides the SAME
        // materialization as a CollectMetrics observation (round-15,
        // guide §1.2: one job per iteration, not two — the
        // post-checkpoint aggregate job was half the loop's fixed cost
        // at micro-graph scale).
        val obs = new org.apache.spark.sql.Observation()
        val jumpedPlan = stepped.repartition(width, col("comp"))
          .join(parents, col("comp") === col("p_id"), "left")
          .select(col("id"),
            least(col("comp"), coalesce(col("p_comp"), col("comp"))).as("comp"))
          .repartition(width, col("id"))
          .observe(obs, coalesce(sum("comp"), lit(0L)).as("sig"))
        val jumped = jumpedPlan.localCheckpoint(true)
        val newSig = obs.get("sig").asInstanceOf[Long]
        // the checkpoint truncated `jumped` to a leaf — the executed
        // iteration plan lives on the pre-checkpoint frame
        if (ccCapturePlan.get()) {
          lastCcIterPlan.set(jumpedPlan.queryExecution.executedPlan.toString)
          lastCcIterShuffles.set(
            countShuffles(jumpedPlan.queryExecution.executedPlan))
        }
        stepped.unpersist()
        labels.unpersist()
        // jumped is eagerly materialized, so the previous round's
        // checkpoint blocks are no longer referenced — free them now
        prevCkpt.foreach(_.unpersist(blocking = false))
        prevCkpt = jumped.queryExecution.analyzed.collectFirst {
          case l: org.apache.spark.sql.execution.LogicalRDD => l.rdd
        }
        labels = jumped
        converged = newSig == sig
        sig = newSig
      }
    }
    (labels, iters)
  }

  // ------------- shared label-index seeds (VERDICT r13 #5) -------------

  /** The bounded construction cohort every label entry shares (the
    * ext141/ext153 discipline: entry cost stays fixture-sized at any
    * SF). */
  private def cohortDocs(s: SparkSession, d: String) =
    table(s, d, "documents").select(col("doc_id"), col("text"))
      .filter(col("doc_id") < 2500)

  /** The fixture dir whose shared label seeds are currently built —
    * reseeding happens on every dir switch (bench warms at sf0.001
    * then times at sf0.1), so a stale seed can never serve another
    * fixture's entries. */
  private val seededDir =
    new java.util.concurrent.atomic.AtomicReference[String]("")

  /** Query-name prefixes of the entries that consume the shared label
    * seeds — defined HERE, next to [[ensureLabelSeeds]], so Bench's
    * warmup guard (which pre-builds the seeds only when one of these is
    * selected) can never silently go stale when the next seed-consuming
    * entry is added (round-15 ADVICE). */
  private[graft] val SeedConsumerPrefixes: Set[String] =
    Set("ext141_", "ext141b_", "ext153_", "ext161_", "ext167_", "ext171_")

  /** Build the SHARED label-index seeds once per (JVM, fixture dir)
    * (VERDICT r13 #5): ext153/ext161/ext167/ext171 all used to pay a
    * from-scratch build of the same 90%-of-cohort index before the
    * apply their contracts actually demonstrate — ~4 identical builds
    * per bench/verify run. The seeds are:
    *   - `lbseed_docs` + `lbseed_ix` — the EXACT family over the 90%
    *     cohort (the pre-append state ext153/ext171 start from);
    *   - `lbfull_docs` + `lbfull_ix` — the exact family over the FULL
    *     cohort (the pre-mutation state ext161/ext141 start from);
    *   - `lcseed_docs` + `lcseed_ix` — the CAPPED family over the 90%
    *     cohort (ext167's pre-append state);
    *   - `lcfull_docs` + `lcfull_ix` — the capped family over the FULL
    *     cohort (ext141's [[cloneSeedIndexTo]] re-binds its artifacts
    *     onto the shared `er_docs` clone for the ninth erasure family).
    * Entries then ZERO-COPY CLONE corpus + artifacts under their own
    * names ([[cloneLabelIndex]]) and mutate only the clones — hermetic
    * per entry, byte-identical outputs, one expensive build per run.
    * The first label entry of a run absorbs the seed cost; the rest run
    * clone + apply only.
    *
    * The fast path re-verifies one seed table actually EXISTS (not just
    * the dir flag): if the warehouse/catalog is dropped or recreated
    * within the JVM while the fixture dir is unchanged, the flag alone
    * would send every later entry to a clone from a missing source
    * table (round-15 ADVICE).
    *
    * Deliberately a single JVM-global lock, NOT striped like the
    * ensure* entry points (round-15): the seed artifacts live under
    * FIXED shared names (`lbseed_docs` …), so two concurrent seeders —
    * even for different fixture dirs — write the same tables and must
    * serialize; this is bench/verify fixture infrastructure, not a
    * per-corpus production path. */
  private[graft] def ensureLabelSeeds(s: SparkSession, d: String): Unit =
    synchronized {
      if (seededDir.get() == d) {
        graft.ops.ensureGraftCatalog(s)
        if (s.catalog.tableExists("graft_cat.db.lbseed_docs")) return
        seededDir.set("") // flag was stale — reseed below
      }
      graft.ops.ensureGraftCatalog(s)
      Seq("exact", "full", "capped", "lcfull").map(seedNames).foreach {
        case (docs, ix, family) =>
          s.sql(s"DROP TABLE IF EXISTS graft_cat.db.$docs")
          family.drop(s, ix)
      }
      // all four seed states are DIRECT from-scratch builds: the
      // measured decomposition (round 14) put a from-scratch build at
      // ~3 s vs ~16 s for an incremental append-apply at fixture scale
      // (the apply's many-small-stages overhead dominates far below the
      // corpus sizes it exists for), so deriving the full states via
      // clone+apply would cost 5× what it saves
      val docs = cohortDocs(s, d)
      val seed90 = docs.filter(col("doc_id") % 10 =!= 7)
      def corpus(name: String, rows: org.apache.spark.sql.DataFrame): String = {
        val t = s"graft_cat.db.$name"
        s.sql(s"CREATE TABLE $t (doc_id BIGINT, text STRING) " +
          "TBLPROPERTIES ('graft.dml.mode'='merge-on-read')")
        rows.writeTo(t).append()
        t
      }
      // four independent (corpus, index-name) pairs — overlap the builds
      // (optimization guide §2.6; the striped "label:<ix>" locks keep
      // same-index calls serialized, and each build writes its own
      // artifact set). Measured r15: the seed phase is many small
      // stages, so overlapping cuts its wall-clock without changing any
      // artifact.
      graft.ops.inParallel[String](Seq(
        () => DedupIndex.ensureLabelsCdc(s,
          corpus("lbseed_docs", seed90), "lbseed_ix"),
        () => DedupIndex.ensureLabelsCdc(s,
          corpus("lbfull_docs", docs), "lbfull_ix"),
        () => DedupIndex.ensureLabelsCappedCdc(s,
          corpus("lcseed_docs", seed90), "lcseed_ix"),
        () => DedupIndex.ensureLabelsCappedCdc(s,
          corpus("lcfull_docs", docs), "lcfull_ix")))
      seededDir.set(d)
    }

  private def seedNames(seed: String): (String, String, IndexFamily) =
    seed match {
      case "exact" => ("lbseed_docs", "lbseed_ix", IndexFamily.ExactLabels)
      case "full" => ("lbfull_docs", "lbfull_ix", IndexFamily.ExactLabels)
      case "capped" => ("lcseed_docs", "lcseed_ix", IndexFamily.CappedLabels)
      case "lcfull" => ("lcfull_docs", "lcfull_ix", IndexFamily.CappedLabels)
      case other => throw new IllegalArgumentException(s"bad seed: $other")
    }

  /** Zero-copy clone of a built seed label index under an entry's own
    * names: corpus + artifact data tables via `CALL system.clone`
    * (metadata-only — segments are referenced, never copied), then the
    * meta watermark re-bound to the CLONED corpus at its clone head
    * version, so the next ensure() over the clone no-ops until the
    * entry's own mutations land and then applies exactly their slice. */
  private[graft] def cloneLabelIndex(s: SparkSession, seed: String,
      toCorpus: String, toIx: String): Unit =
    graft.ops.withDesc(s, "lbl: clone seed") {
      val (srcCorpus, _, _) = seedNames(seed)
      val toShort = toCorpus.stripPrefix("graft_cat.db.")
      s.sql(s"DROP TABLE IF EXISTS $toCorpus")
      s.sql(s"CALL graft_cat.system.clone('db.$srcCorpus', 'db.$toShort')")
      cloneSeedIndexTo(s, seed, toIx, toCorpus)
    }

  /** Clone ONLY a seed's index artifacts under `toIx`, binding their
    * meta watermark to `boundCorpus` at its CURRENT head — the corpus
    * must be content-identical to the seed's at that head (a clone of
    * it, or a clone-sibling like ext141's shared `er_docs`). */
  private[graft] def cloneSeedIndexTo(s: SparkSession, seed: String,
      toIx: String, boundCorpus: String): Unit = {
    val (_, srcIx, family) = seedNames(seed)
    family.drop(s, toIx)
    def short(t: String) = t.stripPrefix("graft_cat.")
    // every table but the meta (last), which is re-bound below
    family.tables(srcIx).init.zip(family.tables(toIx)).foreach {
      case (a, b) => s.sql(
        s"CALL graft_cat.system.clone('${short(a)}', '${short(b)}')") }
    CdcIndex.writeMeta(s, family.meta(toIx),
      CdcIndex.headVersion(s, boundCorpus), boundCorpus)
  }

  /** ext153 — INCREMENTAL COMPONENT LABELS from the persisted label
    * index ([[DedupIndex.ensureLabelsCdc]]): the 90%-cohort index
    * (doc_id % 10 <> 7) arrives as a zero-copy clone of the shared
    * seed, the remaining 10% appends as the batch, and the ensure call
    * folds it in INCREMENTALLY — batch-incident edges
    * only, contracted onto the stored labels, component discovery on
    * the merge-activity-sized quotient, one atomic MERGE. The final
    * labels must hash-match the oracle's recursive-CTE components over
    * the same cohort — incremental ≡ rebuilt, the union-find-by-min
    * exactness argument, checked end to end. Edge = exact Jaccard ≥ 0.5
    * (pairwise, hence append-stable — a capped or top-k graph would
    * not be). The cohort is BOUNDED at 2500 ids (round-13, VERDICT r12
    * #5 — the ext141/ext161 discipline): this entry demonstrates the
    * incremental CONTRACT, so its bench cost must stay fixture-sized
    * at any SF; corpus-proportional build-vs-apply scaling is measured
    * where it belongs, ScaleRehearsal's `lbl` probe (10×: build 9.2×,
    * apply 1.4×). The 90% pre-append index comes from the SHARED seed
    * ([[ensureLabelSeeds]], cloned zero-copy — VERDICT r13 #5); the
    * apply this entry demonstrates runs against the clone. */
  val componentsIncremental: Q = (s, d) => {
    graft.ops.ensureGraftCatalog(s)
    ensureLabelSeeds(s, d)
    cloneLabelIndex(s, "exact", "graft_cat.db.lbl_docs", "lbl_ix")
    // 90/10 split INSIDE the bounded cohort (a fixed id cutoff for the
    // batch would make it most of the cohort at small SFs)
    cohortDocs(s, d).filter(col("doc_id") % 10 === 7)
      .writeTo("graft_cat.db.lbl_docs").append()
    // incremental: quotient merge, never a corpus-wide re-shingle
    val labels = DedupIndex.ensureLabelsCdc(s, "graft_cat.db.lbl_docs", "lbl_ix")
    s.table(labels)
      .select(col("doc_id"), col("comp").as("cluster"),
        (col("doc_id") === col("comp")).as("is_canonical"))
      .orderBy("doc_id")
  }

  /** ext161 — DELETE/UPDATE-TOLERANT COMPONENT LABELS (round-12): the
    * persisted label index takes a slice that DELETES docs (possibly
    * splitting components — the case a min-label table alone cannot
    * derive) and RE-TEXTS others (retract + re-add), and the apply is
    * cluster-local over the stored edge artifact
    * ([[DedupIndex.ensureLabelsCdc]]'s D-phase/N-phase), never a
    * rebuild. The final labels must hash-match the oracle's
    * recursive-CTE components over the post-mutation corpus —
    * maintained ≡ rebuilt, splits included. The demo cohort is BOUNDED
    * (first 2500 ids — round-13 tightened from 4000 to the shared
    * ext141/ext153 cohort, VERDICT r12 #5): entry cost must stay
    * fixture-sized at any SF — corpus-proportional build scaling is
    * ScaleRehearsal's `lbl`/`lblstorm` probes' job, not a bench
    * entry's; this entry measures DELETE/UPDATE tolerance, which is
    * id-local. */
  val componentsErasure: Q = (s, d) => {
    graft.ops.ensureGraftCatalog(s)
    // the full-cohort pre-mutation index comes from the SHARED seed
    // (zero-copy clone — VERDICT r13 #5); this entry's contract is the
    // DELETE/UPDATE apply, which runs against the clone
    ensureLabelSeeds(s, d)
    cloneLabelIndex(s, "full", "graft_cat.db.lble_docs", "lble_ix")
    s.sql("DELETE FROM graft_cat.db.lble_docs WHERE doc_id % 7 = 3")
    s.sql("UPDATE graft_cat.db.lble_docs " +
      "SET text = text || ' graft lbl rev' WHERE doc_id % 11 = 5")
    // ONE feed slice spans both commits; cluster-local apply
    val labels = DedupIndex.ensureLabelsCdc(s, "graft_cat.db.lble_docs",
      "lble_ix")
    s.table(labels)
      .select(col("doc_id"), col("comp").as("cluster"),
        (col("doc_id") === col("comp")).as("is_canonical"))
      .orderBy("doc_id")
  }

  /** ext167 — the DF-CAPPED persisted label family
    * ([[DedupIndex.ensureLabelsCappedCdc]]), the 100 TB-safe default:
    * the 90% index arrives as a clone of the shared capped seed, the
    * remaining 10% appends, ensure —
    * the apply either folds the batch in incrementally (quotient merge
    * over cap-filtered postings) or, if the batch flips any stored
    * shingle's cap status, degrades to the LINEAR capped rebuild; both
    * paths are exact, and the oracle restates the capped semantics
    * from scratch (df ≤ 8 over the FULL head corpus, sizes on the
    * capped sets, ALL J ≥ 0.5 pairs — no top-k cut) so incremental ≡
    * rebuilt is what hash-matching proves. Erasure slices rebuild by
    * contract (capped edges are not append-stable); the exact family
    * (ext161) remains the erasure-without-rebuild path. */
  val componentsCappedCdc: Q = (s, d) => {
    graft.ops.ensureGraftCatalog(s)
    // 90% capped pre-append state from the SHARED seed (VERDICT r13 #5)
    ensureLabelSeeds(s, d)
    cloneLabelIndex(s, "capped", "graft_cat.db.lcc_docs", "lcc_ix")
    cohortDocs(s, d).filter(col("doc_id") % 10 === 7)
      .writeTo("graft_cat.db.lcc_docs").append()
    val labels = DedupIndex.ensureLabelsCappedCdc(s,
      "graft_cat.db.lcc_docs", "lcc_ix")
    s.table(labels)
      .select(col("doc_id"), col("comp").as("cluster"),
        (col("doc_id") === col("comp")).as("is_canonical"))
      .orderBy("doc_id")
  }

  /** ext171 — the UNIFIED label entry point
    * ([[DedupIndex.ensureLabels]], VERDICT r13 #3): the same bounded
    * 90/10 cohort as ext153, driven through the ONE call a user makes —
    * the first ensure measures the corpus posting stats (max df 7 and
    * pairs ≈ 1.1 × posts here — benign), picks the EXACT family,
    * records the choice in `lu_choice`, and delegates (the delegate
    * finds the seeded clone's watermark covering the head — the build
    * itself is the shared seed's, VERDICT r13 #5); the second ensure
    * REUSES the recorded choice (no re-scan of the stats) and folds the
    * appended 10% in through the exact family's incremental quotient
    * merge. The recorded family is emitted as a column and the oracle
    * restates it as the literal 'exact' — the auto-choice itself is
    * part of the hash check, so a drifted heuristic fails correctness,
    * not just a spec. (The storm-side choice — capped — is pinned in
    * DedupIndexSpec, where a boilerplate fixture is cheap.) */
  val componentsAutoFamily: Q = (s, d) => {
    graft.ops.ensureGraftCatalog(s)
    // the exact-family 90% state from the SHARED seed (VERDICT r13 #5);
    // the auto entry still pays ITS OWN work — the posting-stats
    // aggregate, the choice record, and the incremental apply — while
    // the build it would delegate to is already covered by the clone
    ensureLabelSeeds(s, d)
    cloneLabelIndex(s, "exact", "graft_cat.db.lua_docs", "lua_ix")
    s.sql(s"DROP TABLE IF EXISTS ${IndexFamily.choiceTable("lua_ix")}")
    DedupIndex.ensureLabels(s, "graft_cat.db.lua_docs", "lua_ix") // choice
    cohortDocs(s, d).filter(col("doc_id") % 10 === 7)
      .writeTo("graft_cat.db.lua_docs").append()
    val labels = DedupIndex.ensureLabels(s, "graft_cat.db.lua_docs", "lua_ix")
    val fam = s.table(IndexFamily.choiceTable("lua_ix"))
      .select(col("family"))
    s.table(labels)
      .select(col("doc_id"), col("comp").as("cluster"),
        (col("doc_id") === col("comp")).as("is_canonical"))
      .crossJoin(broadcast(fam)) // broadcast-scalar: one recorded row
      .orderBy("doc_id")
  }

  val queries: Map[String, Q] = Map(
    "ext153_components_incremental" -> componentsIncremental,
    "ext167_components_capped_cdc" -> componentsCappedCdc,
    "ext161_components_erasure" -> componentsErasure,
    "ext171_label_auto_family" -> componentsAutoFamily,
    "ext38_dedup_components" -> dedupComponents,
    "ext38b_dedup_components_capped" -> dedupComponentsCapped,
    "ext121_canonical_selection" -> canonicalSelection,
    "ext30_decontamination" -> decontamination,
    "ext122_memorization_ladder" -> memorizationLadder,
    "ext31_vocab_topdf" -> vocabTopDf,
    "ext01_dedup_exact" -> dedupExact,
    "ext02_dedup_ngram_jaccard" -> dedupNgramJaccard,
    "ext02b_dedup_ngram_jaccard_capped" -> dedupNgramJaccardCapped,
    "ext86_dedup_containment" -> dedupContainment,
    "ext86b_dedup_containment_capped" -> dedupContainmentCapped,
    "ext03_dedup_minhash_lsh" -> dedupMinhashLsh,
    "ext130_dedup_index_lsh" -> dedupIndexLsh,
    "ext131_dedup_index_batch" -> dedupIndexBatchProbe,
    "ext134_cdc_index_maintenance" -> cdcIndexMaintenance,
    "ext106_lsh_recall_eval" -> lshRecallEval,
    "ext04_dedup_simhash" -> dedupSimhash,
    "ext05_dedup_embedding" -> dedupEmbedding,
    "ext26_dedup_levenshtein" -> dedupLevenshtein)

  /** The ext38 component chain as CTEs (shingles .. reach) — shared by
    * the ext38 and ext121 oracles. */
  private lazy val compCtesSql: String =
    s"""$shinglesSql,
       |sz AS (SELECT doc_id, COUNT(*) AS n FROM sh GROUP BY doc_id),
       |inter AS (
       |  SELECT a.doc_id AS a_id, b.doc_id AS b_id, COUNT(*) AS inter
       |  FROM sh a JOIN sh b ON a.sh = b.sh AND a.doc_id < b.doc_id
       |  GROUP BY 1, 2),
       |pairs AS (
       |  SELECT a_id, b_id FROM (
       |    SELECT a_id, b_id,
       |      CAST(inter AS DOUBLE) / (sa.n + sb.n - inter) AS jaccard
       |    FROM inter
       |    JOIN sz sa ON sa.doc_id = a_id
       |    JOIN sz sb ON sb.doc_id = b_id
       |    ORDER BY jaccard DESC, a_id, b_id LIMIT 20)),
       |edges AS (SELECT a_id AS src, b_id AS dst FROM pairs
       |          UNION ALL SELECT b_id, a_id FROM pairs),
       |nodes AS (SELECT DISTINCT src AS id FROM edges),
       |reach(id, r) AS (
       |  SELECT id, id FROM nodes
       |  UNION
       |  SELECT e.dst, rr.r FROM reach rr JOIN edges e ON e.src = rr.id)""".stripMargin

  /** The exact-components recursive CTE over the bounded 2500-id
    * cohort — ext153's oracle, shared by ext171 (which appends the
    * recorded family literal to the select). */
  private def exactComponentsCohortSql(extraCols: String = ""): String =
    s"""WITH RECURSIVE docs_b AS (
       |  SELECT doc_id, text FROM documents WHERE doc_id < 2500),
       |${shinglesSqlFrom("docs_b")},
       |sz AS (SELECT doc_id, COUNT(*) AS n FROM sh GROUP BY doc_id),
       |inter AS (
       |  SELECT a.doc_id AS a_id, b.doc_id AS b_id, COUNT(*) AS inter
       |  FROM sh a JOIN sh b ON a.sh = b.sh AND a.doc_id < b.doc_id
       |  GROUP BY 1, 2),
       |pairs AS (
       |  SELECT a_id, b_id FROM inter
       |  JOIN sz sa ON sa.doc_id = a_id
       |  JOIN sz sb ON sb.doc_id = b_id
       |  WHERE CAST(inter AS DOUBLE) / (sa.n + sb.n - inter) >= 0.5),
       |edges AS (SELECT a_id AS src, b_id AS dst FROM pairs
       |          UNION ALL SELECT b_id, a_id FROM pairs),
       |nodes AS (SELECT DISTINCT src AS id FROM edges),
       |reach(id, r) AS (
       |  SELECT id, id FROM nodes
       |  UNION
       |  SELECT e.dst, rr.r FROM reach rr JOIN edges e ON e.src = rr.id),
       |comp AS (SELECT id, MIN(r) AS c FROM reach GROUP BY id)
       |SELECT d.doc_id, COALESCE(c.c, d.doc_id) AS cluster,
       |  COALESCE(c.c, d.doc_id) = d.doc_id AS is_canonical$extraCols
       |FROM docs_b d LEFT JOIN comp c ON d.doc_id = c.id
       |ORDER BY d.doc_id""".stripMargin

  /** The 3-token shingle CTE chain over any (doc_id, text) relation —
    * ext134 re-bases it on a CDC-mutated corpus. */
  private def shinglesSqlFrom(base: String) =
    s"""tok AS (SELECT doc_id, string_split(lower(trim(text)), ' ') AS toks FROM $base),
       |sh AS (SELECT DISTINCT doc_id,
       |         unnest([toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2]
       |                 for i in range(1, len(toks)-1)]) AS sh
       |       FROM tok WHERE len(toks) >= 3)""".stripMargin

  private[ext] val shinglesSql = shinglesSqlFrom("documents")

  /** The ext38b component chain: pair generation on the df-capped index,
    * then a per-node top-`deg` strongest-edge cut (row_number by jaccard
    * desc, dst tiebreak) re-symmetrized — the SQL restatement of the
    * capped twin, feeding the same recursive reach. */
  private def compCtesCappedSql(dfCap: Int, deg: Int): String =
    s"""${cappedShinglesSql(dfCap)},
       |sz AS (SELECT doc_id, COUNT(*) AS n FROM shc GROUP BY doc_id),
       |inter AS (
       |  SELECT a.doc_id AS a_id, b.doc_id AS b_id, COUNT(*) AS inter
       |  FROM shc a JOIN shc b ON a.sh = b.sh AND a.doc_id < b.doc_id
       |  GROUP BY 1, 2),
       |pairs AS (
       |  SELECT a_id, b_id, jaccard FROM (
       |    SELECT a_id, b_id,
       |      CAST(inter AS DOUBLE) / (sa.n + sb.n - inter) AS jaccard
       |    FROM inter
       |    JOIN sz sa ON sa.doc_id = a_id
       |    JOIN sz sb ON sb.doc_id = b_id
       |    ORDER BY jaccard DESC, a_id, b_id LIMIT 20)),
       |sym AS (SELECT a_id AS src, b_id AS dst, jaccard FROM pairs
       |        UNION ALL SELECT b_id, a_id, jaccard FROM pairs),
       |kept AS (
       |  SELECT src, dst FROM (
       |    SELECT src, dst, row_number() OVER (PARTITION BY src
       |      ORDER BY jaccard DESC, dst) AS rk FROM sym)
       |  WHERE rk <= $deg),
       |edges AS (SELECT DISTINCT * FROM (
       |  SELECT src, dst FROM kept UNION ALL SELECT dst, src FROM kept)),
       |nodes AS (SELECT DISTINCT src AS id FROM edges),
       |reach(id, r) AS (
       |  SELECT id, id FROM nodes
       |  UNION
       |  SELECT e.dst, rr.r FROM reach rr JOIN edges e ON e.src = rr.id)""".stripMargin

  /** The df-capped inverted index: shingles kept only when their document
    * frequency is ≤ cap — the SQL restatement of the `dfCap` guard. Doc
    * sizes downstream are measured on THIS capped set, matching the Spark
    * side. */
  private def cappedShinglesSql(cap: Int) =
    s"""$shinglesSql,
       |shc AS (
       |  SELECT s.doc_id, s.sh FROM sh s
       |  JOIN (SELECT sh FROM sh GROUP BY sh HAVING COUNT(*) <= $cap) r
       |    USING (sh))""".stripMargin

  /** ext03's sig→band→candidate→verify oracle body — everything after
    * the shingle CTEs, base-relation-agnostic (shared with ext134's
    * CDC-mutated corpus). */
  private val minhashLshBodySql =
    """sig AS (
       |  SELECT doc_id, j, MIN(md5(sh || '#' || j)) AS h
       |  FROM sh, range(16) r(j) GROUP BY doc_id, j),
       |bands AS (
       |  SELECT doc_id, CAST(j // 4 AS INT) AS band,
       |         string_agg(h, '|' ORDER BY j) AS band_key
       |  FROM sig GROUP BY doc_id, CAST(j // 4 AS INT)),
       |cand AS (
       |  SELECT DISTINCT x.doc_id AS a_id, y.doc_id AS b_id
       |  FROM bands x JOIN bands y
       |    ON x.band = y.band AND x.band_key = y.band_key AND x.doc_id < y.doc_id),
       |m AS (
       |  SELECT a_id, b_id,
       |         CAST(SUM(CASE WHEN sa.h = sb.h THEN 1 ELSE 0 END) AS BIGINT) AS n_match
       |  FROM cand
       |  JOIN sig sa ON sa.doc_id = a_id
       |  JOIN sig sb ON sb.doc_id = b_id AND sb.j = sa.j
       |  GROUP BY a_id, b_id)
       |SELECT a_id, b_id, n_match, CAST(n_match AS DOUBLE) / 16 AS est_jaccard
       |FROM m WHERE n_match >= 8
       |ORDER BY n_match DESC, a_id, b_id""".stripMargin

  private[graft] lazy val minhashLshOracleSql =
    s"""WITH $shinglesSql,
       |$minhashLshBodySql""".stripMargin

  /** ext03's chain over the canonical CDC-mutated corpus (delete
    * doc_id%7, append-update doc_id%11=3) — shared by ext134 (batch
    * ensureCdc) and ext138 (the change-feed STREAM driving ensureCdc):
    * both maintenance paths must converge to exactly this state. */
  private[graft] lazy val cdcMutatedLshOracleSql =
    s"""WITH documents_cdc AS (
       |  SELECT doc_id,
       |    CASE WHEN doc_id % 11 = 3 THEN text || ' graft cdc rev'
       |         ELSE text END AS text
       |  FROM documents WHERE doc_id % 7 <> 0),
       |${shinglesSqlFrom("documents_cdc")},
       |$minhashLshBodySql""".stripMargin

  /** The df-capped recursive-components chain over a (doc_id, text)
    * CTE named `base` — df ≤ 8 measured cohort-wide, per-doc sizes on
    * the CAPPED sets, ALL J ≥ 0.5 pairs (no top-k cut), min-label
    * reach. Shared by ext167 (batch CDC) and ext169 (streamed). */
  private def cappedComponentsSqlOver(base: String): String =
    s"""${shinglesSqlFrom(base)},
       |shc AS (
       |  SELECT s.doc_id, s.sh FROM sh s
       |  JOIN (SELECT sh FROM sh GROUP BY sh HAVING COUNT(*) <= 8) r
       |    USING (sh)),
       |sz AS (SELECT doc_id, COUNT(*) AS n FROM shc GROUP BY doc_id),
       |inter AS (
       |  SELECT a.doc_id AS a_id, b.doc_id AS b_id, COUNT(*) AS inter
       |  FROM shc a JOIN shc b ON a.sh = b.sh AND a.doc_id < b.doc_id
       |  GROUP BY 1, 2),
       |pairs AS (
       |  SELECT a_id, b_id FROM inter
       |  JOIN sz sa ON sa.doc_id = a_id
       |  JOIN sz sb ON sb.doc_id = b_id
       |  WHERE CAST(inter AS DOUBLE) / (sa.n + sb.n - inter) >= 0.5),
       |edges AS (SELECT a_id AS src, b_id AS dst FROM pairs
       |          UNION ALL SELECT b_id, a_id FROM pairs),
       |nodes AS (SELECT DISTINCT src AS id FROM edges),
       |reach(id, r) AS (
       |  SELECT id, id FROM nodes
       |  UNION
       |  SELECT e.dst, rr.r FROM reach rr JOIN edges e ON e.src = rr.id),
       |comp AS (SELECT id, MIN(r) AS c FROM reach GROUP BY id)
       |SELECT d.doc_id, COALESCE(c.c, d.doc_id) AS cluster,
       |  COALESCE(c.c, d.doc_id) = d.doc_id AS is_canonical
       |FROM $base d LEFT JOIN comp c ON d.doc_id = c.id
       |ORDER BY d.doc_id""".stripMargin

  /** ext169's oracle — the CAPPED components over the stream-mutated
    * cohort (seed+append < 600, then DELETE %9=0 and re-text %11=4). */
  private[graft] lazy val streamCappedLabelOracleSql: String =
    s"""WITH RECURSIVE documents_m AS (
       |  SELECT doc_id,
       |    CASE WHEN doc_id % 11 = 4 THEN text || ' graft slc rev'
       |         ELSE text END AS text
       |  FROM documents WHERE doc_id < 600 AND doc_id % 9 <> 0),
       |${cappedComponentsSqlOver("documents_m")}""".stripMargin

  /** ext164's oracle — recursive components over the stream-mutated
    * cohort (seed+append, then DELETE %9=0 and re-text %11=4), shared
    * with Streams so the streamed maintenance and the batch oracle
    * restate one corpus. */
  private[graft] lazy val streamLabelOracleSql: String =
    s"""WITH RECURSIVE documents_m AS (
       |  SELECT doc_id,
       |    CASE WHEN doc_id % 11 = 4 THEN text || ' graft slb rev'
       |         ELSE text END AS text
       |  FROM documents WHERE doc_id < 600 AND doc_id % 9 <> 0),
       |${shinglesSqlFrom("documents_m")},
       |sz AS (SELECT doc_id, COUNT(*) AS n FROM sh GROUP BY doc_id),
       |inter AS (
       |  SELECT a.doc_id AS a_id, b.doc_id AS b_id, COUNT(*) AS inter
       |  FROM sh a JOIN sh b ON a.sh = b.sh AND a.doc_id < b.doc_id
       |  GROUP BY 1, 2),
       |pairs AS (
       |  SELECT a_id, b_id FROM inter
       |  JOIN sz sa ON sa.doc_id = a_id
       |  JOIN sz sb ON sb.doc_id = b_id
       |  WHERE CAST(inter AS DOUBLE) / (sa.n + sb.n - inter) >= 0.5),
       |edges AS (SELECT a_id AS src, b_id AS dst FROM pairs
       |          UNION ALL SELECT b_id, a_id FROM pairs),
       |nodes AS (SELECT DISTINCT src AS id FROM edges),
       |reach(id, r) AS (
       |  SELECT id, id FROM nodes
       |  UNION
       |  SELECT e.dst, rr.r FROM reach rr JOIN edges e ON e.src = rr.id),
       |comp AS (SELECT id, MIN(r) AS c FROM reach GROUP BY id)
       |SELECT d.doc_id, COALESCE(c.c, d.doc_id) AS cluster,
       |  COALESCE(c.c, d.doc_id) = d.doc_id AS is_canonical
       |FROM documents_m d LEFT JOIN comp c ON d.doc_id = c.id
       |ORDER BY d.doc_id""".stripMargin

  val oracleSql: Map[String, String] = Map(
    // delete/update-tolerant labels: the cluster-local apply over the
    // stored edges must equal the recursive components of the
    // POST-MUTATION corpus — maintained == rebuilt, splits included
    "ext161_components_erasure" ->
      s"""WITH RECURSIVE documents_m AS (
         |  SELECT doc_id,
         |    CASE WHEN doc_id % 11 = 5 THEN text || ' graft lbl rev'
         |         ELSE text END AS text
         |  FROM documents WHERE doc_id % 7 <> 3 AND doc_id < 2500),
         |${shinglesSqlFrom("documents_m")},
         |sz AS (SELECT doc_id, COUNT(*) AS n FROM sh GROUP BY doc_id),
         |inter AS (
         |  SELECT a.doc_id AS a_id, b.doc_id AS b_id, COUNT(*) AS inter
         |  FROM sh a JOIN sh b ON a.sh = b.sh AND a.doc_id < b.doc_id
         |  GROUP BY 1, 2),
         |pairs AS (
         |  SELECT a_id, b_id FROM inter
         |  JOIN sz sa ON sa.doc_id = a_id
         |  JOIN sz sb ON sb.doc_id = b_id
         |  WHERE CAST(inter AS DOUBLE) / (sa.n + sb.n - inter) >= 0.5),
         |edges AS (SELECT a_id AS src, b_id AS dst FROM pairs
         |          UNION ALL SELECT b_id, a_id FROM pairs),
         |nodes AS (SELECT DISTINCT src AS id FROM edges),
         |reach(id, r) AS (
         |  SELECT id, id FROM nodes
         |  UNION
         |  SELECT e.dst, rr.r FROM reach rr JOIN edges e ON e.src = rr.id),
         |comp AS (SELECT id, MIN(r) AS c FROM reach GROUP BY id)
         |SELECT d.doc_id, COALESCE(c.c, d.doc_id) AS cluster,
         |  COALESCE(c.c, d.doc_id) = d.doc_id AS is_canonical
         |FROM documents_m d LEFT JOIN comp c ON d.doc_id = c.id
         |ORDER BY d.doc_id""".stripMargin,
    // capped label family: maintained labels must equal from-scratch
    // recursive components over the df-capped (<= 8, cohort-wide df)
    // J>=0.5 graph — the capped semantics restated end to end. Cohort
    // bounded at 2500 ids (the ext141/ext153/ext161 discipline).
    "ext167_components_capped_cdc" ->
      s"""WITH RECURSIVE docs_b AS (
         |  SELECT doc_id, text FROM documents WHERE doc_id < 2500),
         |${cappedComponentsSqlOver("docs_b")}""".stripMargin,
    // incremental labels (quotient merge over the stored index) must
    // equal the from-scratch recursive components over the J>=0.5 graph
    // of the same bounded cohort — incremental == rebuilt, hash-checked
    "ext153_components_incremental" -> exactComponentsCohortSql(),
    // the unified entry's oracle: the SAME exact-components CTE (the
    // benign cohort's stats pick the exact family) plus the recorded
    // family as a literal — hash-matching pins the auto-choice itself
    "ext171_label_auto_family" ->
      exactComponentsCohortSql(", 'exact' AS family"),
    // true components via recursive CTE over the same top-20 pair edges;
    // matching it proves the Spark label propagation CONVERGED
    "ext38_dedup_components" ->
      s"""WITH RECURSIVE $compCtesSql
         |SELECT id AS doc_id, MIN(r) AS cluster,
         |  id = MIN(r) AS is_canonical
         |FROM reach GROUP BY id ORDER BY doc_id""".stripMargin,
    // capped twin: df-capped pair generation + per-node top-4 edge cut;
    // same recursive reach proves convergence on the capped graph
    "ext38b_dedup_components_capped" ->
      s"""WITH RECURSIVE ${compCtesCappedSql(8, 4)}
         |SELECT id AS doc_id, MIN(r) AS cluster,
         |  id = MIN(r) AS is_canonical
         |FROM reach GROUP BY id ORDER BY doc_id""".stripMargin,
    // same component chain; canonical = best quality (longest text,
    // doc_id tiebreak) per cluster via an identical rank on both engines
    "ext121_canonical_selection" ->
      s"""WITH RECURSIVE $compCtesSql,
         |comp AS (SELECT id AS doc_id, MIN(r) AS cluster
         |         FROM reach GROUP BY id),
         |m AS (
         |  SELECT c.cluster, c.doc_id, d.n_chars,
         |    row_number() OVER (PARTITION BY c.cluster
         |      ORDER BY d.n_chars DESC, c.doc_id) AS rk
         |  FROM comp c JOIN documents d ON c.doc_id = d.doc_id)
         |SELECT cluster,
         |  CAST(COUNT(*) AS BIGINT) AS n_members,
         |  CAST(SUM(CASE WHEN rk = 1 THEN doc_id ELSE 0 END) AS BIGINT)
         |    AS canonical_id,
         |  CAST(MAX(n_chars) AS BIGINT) AS n_chars_max,
         |  CAST(COUNT(*) - 1 AS BIGINT) AS n_dropped
         |FROM m GROUP BY cluster ORDER BY cluster""".stripMargin,
    // same per-rung distinct n-grams and semi-join membership
    "ext122_memorization_ladder" ->
      """WITH toks AS (
        |  SELECT doc_id, string_split(lower(trim(text)), ' ') AS toks
        |  FROM documents),
        |g3 AS (SELECT DISTINCT doc_id,
        |         unnest([array_to_string(toks[i:i+2], ' ')
        |                 for i in range(1, len(toks) - 1)]) AS sh
        |       FROM toks WHERE len(toks) >= 3),
        |g5 AS (SELECT DISTINCT doc_id,
        |         unnest([array_to_string(toks[i:i+4], ' ')
        |                 for i in range(1, len(toks) - 3)]) AS sh
        |       FROM toks WHERE len(toks) >= 5),
        |g8 AS (SELECT DISTINCT doc_id,
        |         unnest([array_to_string(toks[i:i+7], ' ')
        |                 for i in range(1, len(toks) - 6)]) AS sh
        |       FROM toks WHERE len(toks) >= 8),
        |h3 AS (SELECT DISTINCT doc_id FROM g3
        |       WHERE doc_id % 10 = 0
        |         AND sh IN (SELECT sh FROM g3 WHERE doc_id % 10 <> 0)),
        |h5 AS (SELECT DISTINCT doc_id FROM g5
        |       WHERE doc_id % 10 = 0
        |         AND sh IN (SELECT sh FROM g5 WHERE doc_id % 10 <> 0)),
        |h8 AS (SELECT DISTINCT doc_id FROM g8
        |       WHERE doc_id % 10 = 0
        |         AND sh IN (SELECT sh FROM g8 WHERE doc_id % 10 <> 0)),
        |ev AS (SELECT doc_id AS eval_id FROM toks WHERE doc_id % 10 = 0)
        |SELECT eval_id,
        |  CASE WHEN h3.doc_id IS NULL THEN 0 ELSE 1 END AS hit_3,
        |  CASE WHEN h5.doc_id IS NULL THEN 0 ELSE 1 END AS hit_5,
        |  CASE WHEN h8.doc_id IS NULL THEN 0 ELSE 1 END AS hit_8,
        |  CASE WHEN h8.doc_id IS NOT NULL THEN 8
        |       WHEN h5.doc_id IS NOT NULL THEN 5
        |       WHEN h3.doc_id IS NOT NULL THEN 3 ELSE 0 END AS max_n
        |FROM ev
        |LEFT JOIN h3 ON h3.doc_id = eval_id
        |LEFT JOIN h5 ON h5.doc_id = eval_id
        |LEFT JOIN h8 ON h8.doc_id = eval_id
        |ORDER BY eval_id""".stripMargin,
    "ext30_decontamination" ->
      s"""WITH $shinglesSql,
         |ev AS (SELECT doc_id, sh FROM sh WHERE doc_id % 10 = 0),
         |tr AS (SELECT DISTINCT sh FROM sh WHERE doc_id % 10 <> 0),
         |sz AS (SELECT doc_id, COUNT(*) AS n_sh FROM ev GROUP BY doc_id),
         |shared AS (
         |  SELECT doc_id, COUNT(*) AS n_shared FROM ev
         |  WHERE sh IN (SELECT sh FROM tr) GROUP BY doc_id)
         |SELECT sz.doc_id AS eval_id, n_sh,
         |  COALESCE(n_shared, 0) AS n_shared,
         |  CAST(COALESCE(n_shared, 0) AS DOUBLE) / n_sh AS contamination
         |FROM sz LEFT JOIN shared ON sz.doc_id = shared.doc_id
         |ORDER BY eval_id""".stripMargin,
    "ext31_vocab_topdf" ->
      """WITH toks AS (
        |  SELECT DISTINCT doc_id, unnest(string_split(lower(trim(text)), ' ')) AS tok
        |  FROM documents)
        |SELECT tok, COUNT(*) AS df FROM toks WHERE tok <> ''
        |GROUP BY tok ORDER BY df DESC, tok LIMIT 50""".stripMargin,
    "ext01_dedup_exact" ->
      """SELECT MIN(doc_id) AS doc_id_kept, COUNT(*) AS group_size, h
        |FROM (SELECT doc_id, md5(regexp_replace(lower(trim(text)), '\s+', ' ', 'g')) AS h
        |      FROM documents)
        |GROUP BY h ORDER BY doc_id_kept""".stripMargin,
    "ext86_dedup_containment" ->
      s"""WITH $shinglesSql,
         |sz AS (SELECT doc_id, COUNT(*) AS n FROM sh GROUP BY doc_id),
         |inter AS (
         |  SELECT a.doc_id AS a_id, b.doc_id AS b_id, COUNT(*) AS inter
         |  FROM sh a JOIN sh b ON a.sh = b.sh AND a.doc_id < b.doc_id
         |  GROUP BY 1, 2),
         |sized AS (
         |  SELECT i.a_id, i.b_id, i.inter, sa.n AS n_a, sb.n AS n_b
         |  FROM inter i
         |  JOIN sz sa ON sa.doc_id = i.a_id
         |  JOIN sz sb ON sb.doc_id = i.b_id),
         |bidir AS (
         |  SELECT a_id AS src_id, b_id AS dst_id, inter, n_a AS n_src,
         |    CAST(inter AS DOUBLE) / n_a AS containment
         |  FROM sized
         |  UNION ALL
         |  SELECT b_id, a_id, inter, n_b,
         |    CAST(inter AS DOUBLE) / n_b
         |  FROM sized)
         |SELECT * FROM bidir
         |ORDER BY containment DESC, src_id, dst_id LIMIT 20""".stripMargin,
    "ext02b_dedup_ngram_jaccard_capped" ->
      s"""WITH ${cappedShinglesSql(8)},
         |sz AS (SELECT doc_id, COUNT(*) AS n FROM shc GROUP BY doc_id),
         |inter AS (
         |  SELECT a.doc_id AS a_id, b.doc_id AS b_id, COUNT(*) AS inter
         |  FROM shc a JOIN shc b ON a.sh = b.sh AND a.doc_id < b.doc_id
         |  GROUP BY 1, 2)
         |SELECT a_id, b_id, inter, sa.n AS n_a, sb.n AS n_b,
         |  CAST(inter AS DOUBLE) / (sa.n + sb.n - inter) AS jaccard
         |FROM inter
         |JOIN sz sa ON sa.doc_id = a_id
         |JOIN sz sb ON sb.doc_id = b_id
         |ORDER BY jaccard DESC, a_id, b_id LIMIT 20""".stripMargin,
    "ext86b_dedup_containment_capped" ->
      s"""WITH ${cappedShinglesSql(8)},
         |sz AS (SELECT doc_id, COUNT(*) AS n FROM shc GROUP BY doc_id),
         |inter AS (
         |  SELECT a.doc_id AS a_id, b.doc_id AS b_id, COUNT(*) AS inter
         |  FROM shc a JOIN shc b ON a.sh = b.sh AND a.doc_id < b.doc_id
         |  GROUP BY 1, 2),
         |sized AS (
         |  SELECT i.a_id, i.b_id, i.inter, sa.n AS n_a, sb.n AS n_b
         |  FROM inter i
         |  JOIN sz sa ON sa.doc_id = i.a_id
         |  JOIN sz sb ON sb.doc_id = i.b_id),
         |bidir AS (
         |  SELECT a_id AS src_id, b_id AS dst_id, inter, n_a AS n_src,
         |    CAST(inter AS DOUBLE) / n_a AS containment
         |  FROM sized
         |  UNION ALL
         |  SELECT b_id, a_id, inter, n_b,
         |    CAST(inter AS DOUBLE) / n_b
         |  FROM sized)
         |SELECT * FROM bidir
         |ORDER BY containment DESC, src_id, dst_id LIMIT 20""".stripMargin,
    "ext02_dedup_ngram_jaccard" ->
      s"""WITH $shinglesSql,
         |sz AS (SELECT doc_id, COUNT(*) AS n FROM sh GROUP BY doc_id),
         |inter AS (
         |  SELECT a.doc_id AS a_id, b.doc_id AS b_id, COUNT(*) AS inter
         |  FROM sh a JOIN sh b ON a.sh = b.sh AND a.doc_id < b.doc_id
         |  GROUP BY 1, 2)
         |SELECT a_id, b_id, inter, sa.n AS n_a, sb.n AS n_b,
         |  CAST(inter AS DOUBLE) / (sa.n + sb.n - inter) AS jaccard
         |FROM inter
         |JOIN sz sa ON sa.doc_id = a_id
         |JOIN sz sb ON sb.doc_id = b_id
         |ORDER BY jaccard DESC, a_id, b_id LIMIT 20""".stripMargin,
    "ext03_dedup_minhash_lsh" -> minhashLshOracleSql,
    // ext130 probes the PERSISTED signature index; a fresh build is
    // bit-identical to ext03's in-query construction, so the same
    // oracle applies verbatim
    "ext130_dedup_index_lsh" -> minhashLshOracleSql,
    // ext134 = ext03's chain over the POST-DELETE POST-UPDATE corpus:
    // matching it proves the CDC-maintained index equals a rebuild
    "ext134_cdc_index_maintenance" -> cdcMutatedLshOracleSql,
    // ext131 = the corpus x batch split over the same signatures: the
    // oracle signs everything (per-doc signatures are split-invariant)
    // and restricts candidates to corpus-side < 400 <= batch-side
    "ext131_dedup_index_batch" ->
      s"""WITH $shinglesSql,
         |sig AS (
         |  SELECT doc_id, j, MIN(md5(sh || '#' || j)) AS h
         |  FROM sh, range(16) r(j) GROUP BY doc_id, j),
         |bands AS (
         |  SELECT doc_id, CAST(j // 4 AS INT) AS band,
         |         string_agg(h, '|' ORDER BY j) AS band_key
         |  FROM sig GROUP BY doc_id, CAST(j // 4 AS INT)),
         |cand AS (
         |  SELECT DISTINCT x.doc_id AS corpus_id, y.doc_id AS batch_id
         |  FROM bands x JOIN bands y
         |    ON x.band = y.band AND x.band_key = y.band_key
         |   AND x.doc_id < 400 AND y.doc_id >= 400),
         |m AS (
         |  SELECT corpus_id, batch_id,
         |         CAST(SUM(CASE WHEN sa.h = sb.h THEN 1 ELSE 0 END) AS BIGINT) AS n_match
         |  FROM cand
         |  JOIN sig sa ON sa.doc_id = corpus_id
         |  JOIN sig sb ON sb.doc_id = batch_id AND sb.j = sa.j
         |  GROUP BY corpus_id, batch_id)
         |SELECT corpus_id, batch_id, n_match,
         |  CAST(n_match AS DOUBLE) / 16 AS est_jaccard
         |FROM m WHERE n_match >= 8
         |ORDER BY n_match DESC, corpus_id, batch_id""".stripMargin,
    // both legs restated over the shared shingle CTE; the tier explode is
    // a values-join so each tier row re-filters the marked pairs
    "ext106_lsh_recall_eval" ->
      s"""WITH $shinglesSql,
         |sz AS (SELECT doc_id, COUNT(*) AS n FROM sh GROUP BY doc_id),
         |inter AS (
         |  SELECT a.doc_id AS a_id, b.doc_id AS b_id, COUNT(*) AS inter
         |  FROM sh a JOIN sh b ON a.sh = b.sh AND a.doc_id < b.doc_id
         |  GROUP BY 1, 2),
         |truth AS (
         |  SELECT a_id, b_id,
         |    CAST(inter AS DOUBLE) / (sa.n + sb.n - inter) AS jaccard
         |  FROM inter
         |  JOIN sz sa ON sa.doc_id = a_id
         |  JOIN sz sb ON sb.doc_id = b_id),
         |sig AS (
         |  SELECT doc_id, j, MIN(md5(sh || '#' || j)) AS h
         |  FROM sh, range(16) r(j) GROUP BY doc_id, j),
         |bands AS (
         |  SELECT doc_id, CAST(j // 4 AS INT) AS band,
         |         string_agg(h, '|' ORDER BY j) AS band_key
         |  FROM sig GROUP BY doc_id, CAST(j // 4 AS INT)),
         |cand AS (
         |  SELECT DISTINCT x.doc_id AS a_id, y.doc_id AS b_id
         |  FROM bands x JOIN bands y
         |    ON x.band = y.band AND x.band_key = y.band_key
         |   AND x.doc_id < y.doc_id),
         |marked AS (
         |  SELECT t.jaccard,
         |    CASE WHEN c.a_id IS NULL THEN 0 ELSE 1 END AS hit
         |  FROM truth t LEFT JOIN cand c
         |    ON c.a_id = t.a_id AND c.b_id = t.b_id),
         |tiers AS (SELECT unnest([CAST(0.5 AS DOUBLE), CAST(0.7 AS DOUBLE),
         |                         CAST(0.9 AS DOUBLE)]) AS t)
         |SELECT t, COUNT(*) AS n_true, CAST(SUM(hit) AS BIGINT) AS n_hit,
         |  CAST(SUM(hit) AS DOUBLE) / CAST(COUNT(*) AS DOUBLE) AS recall
         |FROM tiers JOIN marked ON marked.jaccard >= t
         |GROUP BY t ORDER BY t""".stripMargin,
    "ext04_dedup_simhash" ->
      """WITH toks AS (
        |  SELECT DISTINCT doc_id, unnest(string_split(lower(trim(text)), ' ')) AS tok
        |  FROM documents),
        |toksf AS (SELECT doc_id, tok FROM toks WHERE tok <> ''),
        |bits AS (
        |  SELECT doc_id, j,
        |         SUM(CASE WHEN substr(md5(tok || '#' || j), 1, 1) >= '8'
        |             THEN 1 ELSE -1 END) AS bal
        |  FROM toksf, range(32) r(j) GROUP BY doc_id, j),
        |fp AS (
        |  SELECT doc_id,
        |         CAST(SUM(CASE WHEN bal > 0 THEN (CAST(1 AS BIGINT) << j) ELSE 0 END) AS BIGINT) AS simhash
        |  FROM bits GROUP BY doc_id),
        |chunks AS (
        |  SELECT doc_id, simhash, c, (simhash >> (c * 8)) & 255 AS chunk_val
        |  FROM fp, range(4) r(c)),
        |pairs AS (
        |  SELECT DISTINCT x.doc_id AS a_id, y.doc_id AS b_id,
        |         x.simhash AS sh_a, y.simhash AS sh_b
        |  FROM chunks x JOIN chunks y
        |    ON x.c = y.c AND x.chunk_val = y.chunk_val AND x.doc_id < y.doc_id)
        |SELECT a_id, b_id, CAST(bit_count(xor(sh_a, sh_b)) AS INT) AS hamming
        |FROM pairs WHERE bit_count(xor(sh_a, sh_b)) <= 2
        |ORDER BY hamming, a_id, b_id""".stripMargin,
    "ext26_dedup_levenshtein" ->
      """WITH docs AS (SELECT doc_id, lower(trim(text)) AS t FROM documents),
        |d2 AS (SELECT doc_id, substr(t, 1, 12) AS blk, substr(t, 1, 60) AS head FROM docs)
        |SELECT a.doc_id AS a_id, b.doc_id AS b_id,
        |  CAST(levenshtein(a.head, b.head) AS INT) AS edit_dist
        |FROM d2 a JOIN d2 b ON a.blk = b.blk AND a.doc_id < b.doc_id
        |WHERE levenshtein(a.head, b.head) <= 10
        |ORDER BY edit_dist, a_id, b_id""".stripMargin,
    "ext05_dedup_embedding" ->
      """WITH v AS (
        |  SELECT vec_id, label, embedding::DOUBLE[] AS v,
        |         sqrt(list_sum([x * x for x in embedding::DOUBLE[]])) AS norm
        |  FROM embeddings)
        |SELECT a.vec_id AS a_id, b.vec_id AS b_id, a.label AS label,
        |  list_sum([a.v[i] * b.v[i] for i in range(1, len(a.v) + 1)]) / (a.norm * b.norm) AS cosine
        |FROM v a JOIN v b ON a.label = b.label AND a.vec_id < b.vec_id
        |ORDER BY cosine DESC, a_id, b_id LIMIT 20""".stripMargin)
}
