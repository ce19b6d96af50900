package graft.ops

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Semi-structured operators (SURVEY.md §2.5 E1-E8 + §2.1 sources/catalog).
  *
  * The reference's workhorse transforms are row-wise Python loops over
  * split/explode/map/JSON shapes (`/root/reference/transformation.py`
  * :149-155,174-182,201-229,252-256,304-322,389-403). Here each shape is a
  * single declarative plan: `explode(split(...))`, `explode(MapType col)`,
  * `from_json` + explode over array-of-struct — all inside whole-stage
  * codegen, no UDFs (§2.10: zero custom expressions needed for parity).
  *
  * Scale: explode is a Generate operator — no shuffle; the only shuffles
  * here are the final group-bys on exploded keys (bounded cardinality).
  */
object SemiStructured {

  /** E1-E4: split + explode + non-empty filter (checkin dates, elite years,
    * friends, categories — transformation.py:252-256,389-403,149-155). */
  val q24WordExplode: Q = (s, d) =>
    table(s, d, "documents")
      .select(explode(split(col("text"), " ")).as("word"))
      .filter(col("word") =!= "")
      .groupBy("word")
      .agg(count(lit(1)).as("n"))
      .orderBy(col("n").desc, col("word"))
      .limit(50)

  /** E7/D7: JSON scalar extraction with schema (from_json null-on-invalid
    * matches json.loads try/except at transformation.py:310-314). */
  val q25JsonScalar: Q = (s, d) =>
    table(s, d, "events")
      .select(col("event_type"),
        from_json(col("props"), StructType(Seq(StructField("k", LongType)))).getField("k").as("k"))
      .groupBy("event_type")
      .agg(count(lit(1)).as("n"),
        sum(col("k")).as("k_sum"),
        min(col("k")).as("k_min"),
        max(col("k")).as("k_max"))
      .orderBy("event_type")

  /** E5: map explode — (key, value) rows from a MapType column, the
    * attributes/hours shape (transformation.py:174-182,203-225). */
  val q26JsonMapExplode: Q = (s, d) =>
    table(s, d, "events")
      .select(explode(from_json(col("props"), MapType(StringType, LongType))))
      .groupBy(col("key"))
      .agg(count(lit(1)).as("n_events"), sum(col("value")).as("total"))
      .orderBy("key")

  /** E7: array-of-struct JSON parse + explode + struct field access (covid
    * highlights, transformation.py:304-322). Parses the table's REAL props
    * JSON wrapped into a one-element array — a single `from_json` per row.
    *
    * `explode_outer` is load-bearing: with plain `explode`, Catalyst's
    * InferFiltersFromGenerate adds `size(parse)>0 AND isnotnull(parse)`
    * below the Generate, and because `from_json` is a CodegenFallback
    * expression the inferred filter re-evaluates the parse 3x per row
    * (observed 27 s vs ~0.5 s at sf0.1). Outer generate infers no filter,
    * and null-parse rows surface as null structs — matching the oracle's
    * row-preserving flat semantics exactly. */
  val q27JsonArrayStruct: Q = (s, d) => {
    val arraySchema = ArrayType(StructType(Seq(StructField("k", LongType))))
    table(s, d, "events")
      .select(col("event_type"),
        from_json(concat(lit("["), col("props"), lit("]")), arraySchema).as("hl"))
      .select(col("event_type"), explode_outer(col("hl")).as("h"))
      .select(col("event_type").as("t"), col("h.k").as("v"))
      .groupBy("t")
      .agg(count(lit(1)).as("n"), sum(col("v")).as("v_sum"))
      .orderBy("t")
  }

  /** E6/F5: the reference's hour-range parse — "H:M-H:M" split on '-' then
    * ':' with close-hour % 24 wraparound (transformation.py:201-229). The
    * range string is constructed un-wrapped (close hour may be 24..31) so
    * pmod does real work, like the reference's "24:0" -> 0. */
  val q28HourRangeParse: Q = (s, d) =>
    events(s, d)
      .filter(col("event_id") <= 200)
      .select(col("event_id"),
        concat(hour(col("ts")).cast("string"), lit(":"),
          minute(col("ts")).cast("string"), lit("-"),
          (hour(col("ts")) + 8).cast("string"), lit(":"),
          minute(col("ts")).cast("string")).as("time_range"))
      .select(col("event_id"), col("time_range"),
        element_at(split(element_at(split(col("time_range"), "-"), 1), ":"), 1)
          .cast("int").as("open_hour"),
        pmod(element_at(split(element_at(split(col("time_range"), "-"), 2), ":"), 1)
          .cast("int"), lit(24)).as("close_hour"))
      .orderBy("event_id")

  /** S6/S8/S9: DataFrame registration + catalog listing + SQL serving —
    * the DuckDB role in the reference (con.register + SHOW TABLES,
    * transformation.py:531, test_sql.py:8-14). */
  val q29CatalogViews: Q = (s, d) => {
    table(s, d, "lineitem").createOrReplaceTempView("graft_lineitem_v")
    table(s, d, "orders").createOrReplaceTempView("graft_orders_v")
    s.sql("SHOW TABLES")
      // exact names, not a prefix filter: other queries in the same session
      // also register graft_-prefixed views and run in map order
      .filter(col("tableName").isin("graft_lineitem_v", "graft_orders_v"))
      .select(col("tableName").as("table_name"))
      .orderBy("table_name")
  }

  /** S9: ad-hoc SQL over a registered view (test_sql.py:13-14), the whole
    * Catalyst SQL lifecycle: parse -> analyze -> optimize -> execute. */
  val q30SqlServing: Q = (s, d) => {
    table(s, d, "orders").createOrReplaceTempView("graft_orders_sql")
    s.sql(
      """SELECT o_orderstatus,
        |  COUNT(*) AS n,
        |  CAST(CAST(SUM(CAST(o_totalprice AS DECIMAL(18,6))) AS DECIMAL(38,4)) AS DOUBLE) AS total
        |FROM graft_orders_sql
        |GROUP BY o_orderstatus ORDER BY o_orderstatus""".stripMargin)
  }

  /** S1: schema-enforced NDJSON scan (pd.read_json(lines=True),
    * transformation.py:53-75). Round-trips a dim through NDJSON on local
    * disk — at scale this is the partitioned `spark.read.schema(s).json`
    * path over an object store, chunking subsumed by file splits. */
  val q31NdjsonSource: Q = (s, d) => {
    val tmp = scratchDir(s, "ndjson_region")
    table(s, d, "region").write.mode("overwrite").json(tmp)
    val schema = StructType(Seq(
      StructField("r_regionkey", IntegerType), StructField("r_name", StringType)))
    s.read.schema(schema).json(tmp)
      .select("r_regionkey", "r_name")
      .orderBy("r_regionkey")
  }

  /** S2: schema-enforced CSV scan with header (pd.read_csv,
    * transformation.py:77-87). */
  val q32CsvSource: Q = (s, d) => {
    val tmp = scratchDir(s, "csv_nation")
    table(s, d, "nation").write.mode("overwrite").option("header", "true").csv(tmp)
    val schema = StructType(Seq(
      StructField("n_nationkey", IntegerType), StructField("n_name", StringType),
      StructField("n_regionkey", IntegerType)))
    s.read.schema(schema).option("header", "true").csv(tmp)
      .select("n_nationkey", "n_name", "n_regionkey")
      .orderBy("n_nationkey")
  }

  /** Columnar-source coverage beyond parquet: ORC round-trip (Spark ships
    * the ORC reader/writer natively; predicate pushdown and column
    * pruning work the same way). Doubles and strings survive the
    * round-trip bit-exactly, so the original-table oracle applies. */
  val q57OrcSource: Q = (s, d) => {
    val tmp = scratchDir(s, "orc_supplier")
    table(s, d, "supplier").write.mode("overwrite").orc(tmp)
    s.read.orc(tmp)
      .select("s_suppkey", "s_name", "s_nationkey", "s_acctbal")
      .orderBy("s_suppkey")
  }

  /** q117 — XML source (Spark 4 ships the former spark-xml in core): the
    * nation dim round-trips through `rowTag` XML and re-aggregates. XML
    * is the one semi-structured wire format the catalog still lacked
    * (NDJSON q31, CSV q32, ORC q57, variant q60); the scan distributes
    * like any FileFormat — each file splits on row-tag boundaries, so a
    * 100 TB XML drop parallelizes without a preprocessing pass. */
  val q117XmlSource: Q = (s, d) => {
    val tmp = scratchDir(s, "xml_nation")
    table(s, d, "nation")
      .select(col("n_nationkey"), col("n_name"), col("n_regionkey"))
      .write.mode("overwrite")
      .option("rootTag", "nations").option("rowTag", "nation")
      .format("xml").save(tmp)
    s.read.option("rowTag", "nation").format("xml").load(tmp)
      .groupBy(col("n_regionkey").cast("long").as("rk"))
      .agg(count(lit(1)).as("n_nations"), min(col("n_name")).as("first_name"))
      .orderBy("rk")
  }

  /** q118 — whole-file binary ingestion (`binaryFile`), the entry point of
    * every multimodal pipeline (ext12/ext13 consume such bytes): documents
    * are staged as partitioned UTF-8 text files, re-read as opaque
    * (path, content: binary) rows, and reconciled byte-for-byte against
    * the table they came from (text bytes + 1 newline per row — the text
    * sink's framing). Per-file rows never shuffle here: the byte length is
    * projected out before the aggregate, so at 100 TB the exchange carries
    * (source, long) pairs, not payloads. */
  val q118BinaryFile: Q = (s, d) => {
    val tmp = scratchDir(s, "binfile_docs")
    // pin the non-null contract explicitly on BOTH legs: the text sink
    // cannot write a null row, and a null `source` partition becomes
    // __HIVE_DEFAULT_PARTITION__ here while the oracle keeps a NULL group
    table(s, d, "documents").select(col("text"), col("source"))
      .filter(col("text").isNotNull && col("source").isNotNull)
      .write.mode("overwrite").partitionBy("source").text(tmp)
    // partition INFERENCE (not recursiveFileLookup + path parsing)
    // recovers `source`: directory names are Hive-escaped on write
    // ('a b' → a%20b), and inference unescapes them — a regexp over the
    // raw path would diverge from the oracle for any escapable value
    s.read.format("binaryFile")
      .option("pathGlobFilter", "*.txt")
      .load(tmp)
      .select(col("source"),
        length(col("content")).cast("long").as("len"))
      .groupBy("source")
      .agg(sum(col("len")).as("total_bytes"))
      .orderBy("source")
  }

  /** Malformed-input surface of the NDJSON source: PERMISSIVE mode routes
    * unparseable lines into the corrupt-record column instead of failing
    * the scan (the distributed generalization of the reference's per-row
    * try/except skip, transformation.py:85-93) — at 100 TB a single bad
    * byte must quarantine one row, not kill a 1000-executor job. Every
    * 5th nation line is staged broken; the oracle reconstructs both
    * populations from the clean table. */
  val q59CorruptRecords: Q = (s, d) => {
    val tmp = scratchDir(s, "ndjson_corrupt")
    table(s, d, "nation")
      .select(when(col("n_nationkey") % 5 === 0,
          concat(lit("{\"broken\": "), col("n_nationkey")))
        .otherwise(to_json(struct(col("n_nationkey"), col("n_name"))))
        .as("value"))
      .write.mode("overwrite").text(tmp)
    val schema = StructType(Seq(
      StructField("n_nationkey", IntegerType), StructField("n_name", StringType),
      StructField("_corrupt_record", StringType)))
    s.read.schema(schema)
      .option("mode", "PERMISSIVE")
      .option("columnNameOfCorruptRecord", "_corrupt_record")
      .json(tmp)
      .select(col("n_nationkey"), col("n_name"),
        col("_corrupt_record").as("corrupt"))
      .orderBy(col("corrupt").asc_nulls_first, col("n_nationkey"))
  }

  /** Spark 4 VARIANT — the open-ended semi-structured type: `parse_json`
    * once into the binary variant encoding, then typed `variant_get`
    * extraction by path. Unlike `from_json` this needs NO up-front schema,
    * and unlike string `get_json_object` the parse cost is paid once per
    * row, not per extraction — the modern lake-house JSON story. */
  val q60Variant: Q = (s, d) =>
    events(s, d)
      .select(col("event_type"),
        expr("variant_get(parse_json(props), '$.k', 'int')").as("k"))
      .groupBy("event_type")
      .agg(sum(col("k")).as("k_sum"), min(col("k")).as("k_min"),
        max(col("k")).as("k_max"), count(lit(1)).as("n"))
      .orderBy("event_type")

  /** SQL LATERAL derived table — the correlated per-row subrelation shape:
    * each customer row drives an aggregate over ITS orders. Catalyst
    * decorrelates this into an aggregate + join (no per-row re-execution),
    * which is the plan a hand-written join would get. */
  val q61Lateral: Q = (s, d) => {
    table(s, d, "customer").createOrReplaceTempView("graft_cust_lat")
    table(s, d, "orders").createOrReplaceTempView("graft_ord_lat")
    s.sql(
      """SELECT c.c_custkey, t.n_orders, t.total
        |FROM graft_cust_lat c,
        |LATERAL (
        |  SELECT COUNT(*) AS n_orders,
        |    CAST(CAST(SUM(CAST(o.o_totalprice AS DECIMAL(18,6))) AS DECIMAL(38,4)) AS DOUBLE) AS total
        |  FROM graft_ord_lat o WHERE o.o_custkey = c.c_custkey) t
        |WHERE c.c_custkey <= 300
        |ORDER BY c.c_custkey""".stripMargin)
  }

  /** Query over the custom DataSource V2 connector
    * ([[graft.sources.SeqSourceProvider]]): the full third-party-source
    * lifecycle — provider → table → pruned scan → 8 planned splits →
    * per-partition readers — under the oracle. Column pruning reaches
    * the reader (SourcesSpec asserts the scan description). */
  val q63CustomSource: Q = (s, _) =>
    s.read.format("graft.sources.SeqSourceProvider")
      .option("rows", "20000").option("parts", "8").load()
      .filter(col("v") < 500)
      .groupBy((col("id") % 10).as("bucket"))
      .agg(count(lit(1)).as("n"), sum(col("v")).as("v_sum"))
      .orderBy("bucket")

  /** Round trip through the custom DSv2 SINK
    * ([[graft.sources.NdjsonSinkProvider]]): rows from the custom source
    * stream through per-task writers, the two-phase commit publishes a
    * manifest, and the standard JSON reader consumes only the committed
    * part files — the oracle over the generated relation pins losslessness
    * of the whole write/commit/read cycle. */
  val q64CustomSink: Q = (s, _) => {
    val dir = scratchDir(s, "dsv2_sink")
    s.read.format("graft.sources.SeqSourceProvider")
      .option("rows", "5000").option("parts", "4").load()
      .write.format("graft.sources.NdjsonSinkProvider")
      .option("path", dir).mode("overwrite").save()
    val schema = StructType(Seq(
      StructField("id", LongType), StructField("v", LongType)))
    // read through the MANIFEST — the committed-snapshot contract: only
    // files the driver-side commit published are visible, never stale
    // parts from an earlier wider write or an aborted attempt
    val committed = graft.sources.NdjsonManifest.committedFiles(dir)
    s.read.schema(schema).json(committed: _*)
      .groupBy((col("id") % 7).as("g"))
      .agg(count(lit(1)).as("n"), sum(col("v")).as("v_sum"))
      .orderBy("g")
  }

  /** Aggregate pushdown into the custom source: COUNT(*)/MIN(id)/MAX(id)
    * with no grouping are metadata on an ordered range — the scan returns
    * ONE pre-aggregated row and Spark plans no aggregate at all (the
    * parquet-footer-count trick, generalized; declined under pushed
    * filters, see SourcesSpec). */
  val q66AggPushdown: Q = (s, _) => {
    s.read.format("graft.sources.SeqSourceProvider")
      .option("rows", "50000").option("parts", "8").load()
      .createOrReplaceTempView("graft_seq_agg")
    s.sql("SELECT COUNT(*) AS n, MIN(id) AS id_min, MAX(id) AS id_max FROM graft_seq_agg")
  }

  /** Source-reported statistics driving the join strategy: the custom
    * source implements `SupportsReportStatistics`, so its post-pushdown
    * size estimate (500 rows × 16 B) reaches Catalyst and the planner
    * picks BroadcastHashJoin for the orders⋈seq join with NO explicit
    * `broadcast()` hint — exactly how a parquet scan's footer stats make
    * small-dim broadcasts automatic. Without the interface a v2 relation
    * costs `spark.sql.defaultSizeInBytes` (Long.MaxValue) and this plan
    * would shuffle 100 TB of fact rows instead (plan asserted in
    * SourcesSpec). */
  val q67SourceStatsJoin: Q = (s, d) => {
    val dim = s.read.format("graft.sources.SeqSourceProvider")
      .option("rows", "500").option("parts", "2").load()
    table(s, d, "orders")
      .join(dim, col("o_orderkey") % 500 === col("id"))
      .groupBy((col("id") % 5).as("g"))
      .agg(count(lit(1)).as("n"), sum(col("v")).as("v_sum"),
        sum(col("o_orderkey")).as("key_sum"))
      .orderBy("g")
  }

  /** Runtime (DPP-style) filtering into the custom source: the filtered
    * nation dimension executes first, its distinct join keys flow into
    * `SeqScan.filter` as an IN predicate, and the source narrows its
    * planned id-range BEFORE any task launches — splits outside the
    * surviving [min,max) are never read (observed via
    * `SeqSource.lastRuntimeFilter` in SourcesSpec). The dim keys are
    * spread with a prime stride so the narrowed range is a strict subset
    * of the 16 planned splits. */
  val q68SourceRuntimeFilter: Q = (s, d) => {
    val fact = s.read.format("graft.sources.SeqSourceProvider")
      .option("rows", "200000").option("parts", "16").load()
    val dim = table(s, d, "nation")
      .filter(col("n_regionkey") < 2)
      .select((col("n_nationkey") * lit(7919L)).as("k"), col("n_name"))
    fact.join(dim, col("id") === col("k"))
      .select(col("n_name"), col("id"), col("v"))
      .orderBy("id")
  }

  /** Write-side layout contract (`RequiresDistributionAndOrdering`): the
    * SINK declares clustering (`g`), in-task ordering (`id`) and an exact
    * partition count, and Spark plans the exchange + sort before the
    * write — no user-side repartition/sortWithinPartitions. The files
    * come out bucketed (every `g` wholly inside one file) and sorted,
    * i.e. skippable and merge-joinable downstream; SourcesSpec asserts
    * the physical layout, the oracle pins losslessness. */
  val q74SinkDistribution: Q = (s, _) => {
    val dir = scratchDir(s, "dsv2_sink_clustered")
    s.read.format("graft.sources.SeqSourceProvider")
      .option("rows", "5000").option("parts", "4").load()
      .withColumn("g", col("id") % 10)
      .write.format("graft.sources.NdjsonSinkProvider")
      .option("path", dir).option("clusterBy", "g").option("sortBy", "id")
      .option("numParts", "5")
      .mode("overwrite").save()
    val schema = StructType(Seq(StructField("id", LongType),
      StructField("v", LongType), StructField("g", LongType)))
    s.read.schema(schema)
      .json(graft.sources.NdjsonManifest.committedFiles(dir): _*)
      .groupBy("g")
      .agg(count(lit(1)).as("n"), sum(col("v")).as("v_sum"),
        min(col("id")).as("id_min"), max(col("id")).as("id_max"))
      .orderBy("g")
  }

  /** Storage-partitioned join (`SupportsReportPartitioning` +
    * `HasPartitionKey` + `spark.sql.sources.v2.bucketing.enabled`): both
    * sides report `KeyGroupedPartitioning([b], 8)` with the bucket value
    * on every split, and Spark plans the join with NO exchange on either
    * side — bucket i zips with bucket i straight off the scan (asserted
    * in SourcesSpec). This is the co-located bucket join as a DSv2
    * contract: at 100 TB the nightly fact-fact join moves zero rows over
    * the network. */
  val q82StoragePartitionedJoin: Q = (s0, _) => {
    // SPJ needs two non-default confs at PLANNING time (which is action
    // time — the returned frame is lazy), so run it in an isolated
    // session (own SQLConf, shared SparkContext) instead of mutating the
    // caller's session and leaking relaxed co-partition checks into
    // every later query
    val s = s0.newSession()
    s.conf.set("spark.sql.shuffle.partitions",
      s0.conf.get("spark.sql.shuffle.partitions"))
    s.conf.set("spark.sql.sources.v2.bucketing.enabled", "true")
    // join keys (id, b) are a SUPERSET of the partition keys (b); the
    // strict co-partition check wants them identical — the subset check
    // (partition-key positions align on both sides) is what SPJ needs
    s.conf.set("spark.sql.requireAllClusterKeysForCoPartition", "false")
    def src(rows: Long) = s.read.format("graft.sources.SeqSourceProvider")
      .option("rows", rows.toString).option("buckets", "8").load()
    // both sides above the broadcast threshold (reported stats ≈ 19/13 MB)
    // so the planner faces the shuffle-vs-storage-partitioned choice the
    // feature exists for — and takes the exchange-free zip
    val a = src(1200000).select(col("id"), col("b"), col("v").as("va"))
    val c = src(800000).select(col("id").as("id2"), col("b").as("b2"),
      col("v").as("vb"))
    a.join(c, col("id") === col("id2") && col("b") === col("b2"))
      .groupBy((col("id") % 4).as("g"))
      .agg(count(lit(1)).as("n"), sum(col("va") + col("vb")).as("v_sum"))
      .orderBy("g")
  }

  /** Custom catalog plugin ([[graft.sources.GraftCatalog]], the catalog
    * tier of the DSv2 ladder): CREATE TABLE / INSERT INTO / SELECT run
    * entirely against OUR `TableCatalog` — no Hive, no session catalog,
    * no temp views. The INSERT's rows flow executor → commit message →
    * atomic driver publish (the v2 batch-write protocol); the oracle pins
    * the round trip. */
  val q83CustomCatalog: Q = (s, _) => {
    ensureGraftCatalog(s)
    s.sql("DROP TABLE IF EXISTS graft_cat.db.seq_copy")
    s.sql("CREATE TABLE graft_cat.db.seq_copy (id BIGINT, v BIGINT)")
    s.read.format("graft.sources.SeqSourceProvider")
      .option("rows", "3000").option("parts", "4").load()
      .createOrReplaceTempView("graft_seq_for_cat")
    s.sql("INSERT INTO graft_cat.db.seq_copy SELECT id, v FROM graft_seq_for_cat")
    s.sql(
      """SELECT id % 6 AS g, COUNT(*) AS n, SUM(v) AS v_sum
        |FROM graft_cat.db.seq_copy GROUP BY 1 ORDER BY g""".stripMargin)
  }

  /** DELETE pushed to the catalog table (`SupportsDeleteV2`): the WHERE
    * tree (comparisons + OR) crosses the connector boundary as v2
    * predicates and the TABLE evaluates them — a metadata/storage-side
    * delete, no rewrite job, no read-modify-write plan. Unsupported
    * predicate shapes are refused at analysis (canDeleteWhere), never
    * silently misapplied. */
  val q84CatalogDelete: Q = (s, _) => {
    ensureGraftCatalog(s)
    s.sql("DROP TABLE IF EXISTS graft_cat.db.del_t")
    s.sql("CREATE TABLE graft_cat.db.del_t (id BIGINT, v BIGINT)")
    s.read.format("graft.sources.SeqSourceProvider")
      .option("rows", "2000").option("parts", "4").load()
      .createOrReplaceTempView("graft_seq_for_del")
    s.sql("INSERT INTO graft_cat.db.del_t SELECT id, v FROM graft_seq_for_del")
    s.sql("DELETE FROM graft_cat.db.del_t WHERE id >= 1500 OR v < 100")
    s.sql(
      """SELECT COUNT(*) AS n, SUM(v) AS v_sum, MIN(id) AS id_min,
        |  MAX(id) AS id_max
        |FROM graft_cat.db.del_t""".stripMargin)
  }

  /** Metadata column (`SupportsMetadataColumns`): `_split` — the split a
    * row came from — is requested like any column and materialized ONLY
    * then (pruning applies); per-split row counts and id ranges are the
    * connector analog of per-file lineage via `_metadata.file_path`. */
  val q85MetadataColumns: Q = (s, _) =>
    s.read.format("graft.sources.SeqSourceProvider")
      .option("rows", "20000").option("parts", "8").load()
      .select(col("_split"), col("id"))
      .groupBy("_split")
      .agg(count(lit(1)).as("n"), min(col("id")).as("id_min"),
        max(col("id")).as("id_max"))
      .orderBy("_split")

  /** Catalog-resolved scalar function (v2 `FunctionCatalog`):
    * `graft_cat.db.mulmod(x)` resolves through OUR catalog to a
    * connector-defined `ScalarFunction` with the codegen-friendly magic
    * `invoke` — no session-level registration anywhere. */
  val q86CatalogFunction: Q = (s, d) => {
    ensureGraftCatalog(s)
    table(s, d, "customer").createOrReplaceTempView("graft_cust_fn")
    s.sql(
      """SELECT c_custkey, graft_cat.db.mulmod(c_custkey) AS h
        |FROM graft_cust_fn WHERE c_custkey <= 400
        |ORDER BY c_custkey""".stripMargin)
  }

  /** Catalog time travel (`VERSION AS OF`): every committed mutation
    * archives its post-image under a bumped version, so v1 (first load),
    * v2 (second load) and v3 (after DELETE) are all consistent frozen
    * reads of the SAME table — the catalog-level twin of ext51's
    * epoch-manifest snapshots. One query reads all three histories plus
    * latest and proves them pairwise-consistent under the oracle. */
  val q87CatalogTimeTravel: Q = (s, _) => {
    ensureGraftCatalog(s)
    s.sql("DROP TABLE IF EXISTS graft_cat.db.tt")
    s.sql("CREATE TABLE graft_cat.db.tt (id BIGINT, v BIGINT)")
    s.read.format("graft.sources.SeqSourceProvider")
      .option("rows", "1000").option("parts", "2").load()
      .createOrReplaceTempView("graft_seq_tt")
    s.sql("INSERT INTO graft_cat.db.tt SELECT id, v FROM graft_seq_tt WHERE id < 600")
    s.sql("INSERT INTO graft_cat.db.tt SELECT id, v FROM graft_seq_tt WHERE id >= 600")
    s.sql("DELETE FROM graft_cat.db.tt WHERE id >= 800")
    s.sql(
      """SELECT ver, COUNT(*) AS n, SUM(v) AS v_sum, MAX(id) AS id_max FROM (
        |  SELECT 'v1' AS ver, * FROM graft_cat.db.tt VERSION AS OF 1
        |  UNION ALL SELECT 'v2', * FROM graft_cat.db.tt VERSION AS OF 2
        |  UNION ALL SELECT 'v3', * FROM graft_cat.db.tt VERSION AS OF 3
        |  UNION ALL SELECT 'latest', * FROM graft_cat.db.tt)
        |GROUP BY ver ORDER BY ver""".stripMargin)
  }

  /** q129 — optimistic concurrency on the manifest log: TWO independent
    * catalog instances (a second catalog name over the SAME warehouse
    * dir — i.e. a second writer with its own cached table handle) commit
    * interleaved INSERTs. The second writer's handle still believes v0
    * when it commits; its conditional append (expected-version check
    * under the manifest lock, `SegStore.commitVersion`) loses the race,
    * re-reads the log, rebases onto the winner's head, and lands as v2 —
    * BOTH writers' rows survive, which is exactly the lost-update test.
    * `VERSION AS OF 2` appearing with the full row population in the
    * hash-checked output IS the proof the rebase happened (without it
    * the log would hold two v1 lines and the reopened read would miss
    * writer A's segments).
    *
    * Scale: the commit races on the MANIFEST only (a few KB of names +
    * stats) — data files are immutable and land before the commit, so
    * contention cost is a re-read of the version log, never data IO; at
    * 1000 concurrent writers this is the same bounded-retry conditional
    * append Iceberg/Delta run against their object stores. */
  val q129ConcurrentCommits: Q = (s, _) => {
    ensureGraftCatalog(s)
    // resolve writer B's catalog once (the manager caches the instance),
    // then restore the conf — same no-leak discipline as
    // ensureGraftCatalog; SQL keeps resolving graft_cat2 from the cache
    val wh = sys.props("java.io.tmpdir") + "/graft_warehouse/graft_cat"
    val keys = Seq("spark.sql.catalog.graft_cat2" -> "graft.sources.GraftCatalog",
      "spark.sql.catalog.graft_cat2.warehouse" -> wh)
    val saved = keys.map { case (k, _) => k -> s.conf.getAll.get(k) }
    keys.foreach { case (k, v) => s.conf.set(k, v) }
    s.sessionState.catalogManager.catalog("graft_cat2")
    saved.foreach {
      case (k, Some(v)) => s.conf.set(k, v)
      case (k, None) => s.conf.unset(k)
    }
    s.sql("DROP TABLE IF EXISTS graft_cat.db.cc_t")
    s.sql("CREATE TABLE graft_cat.db.cc_t (id BIGINT, v BIGINT)")
    // writer B caches its OWN handle at v0 (refresh drops any cross-run
    // stale handle first, then the load below re-opens from disk)
    s.sql("REFRESH TABLE graft_cat2.db.cc_t")
    s.sql("SELECT COUNT(*) FROM graft_cat2.db.cc_t").collect()
    s.read.format("graft.sources.SeqSourceProvider")
      .option("rows", "2000").option("parts", "2").load()
      .createOrReplaceTempView("graft_seq_cc")
    s.sql("INSERT INTO graft_cat.db.cc_t SELECT id, v FROM graft_seq_cc WHERE id < 1000")
    // stale-handle commit: expected v0, disk head v1 → rebase → v2
    s.sql("INSERT INTO graft_cat2.db.cc_t SELECT id, v FROM graft_seq_cc WHERE id >= 1000")
    s.sql("REFRESH TABLE graft_cat.db.cc_t") // adopt the converged log
    s.sql(
      """SELECT ver, COUNT(*) AS n, SUM(v) AS v_sum FROM (
        |  SELECT 'v2_both' AS ver, * FROM graft_cat.db.cc_t VERSION AS OF 2
        |  UNION ALL SELECT 'latest', * FROM graft_cat.db.cc_t)
        |GROUP BY ver ORDER BY ver""".stripMargin)
  }

  /** UPDATE through the catalog table (`SupportsRowLevelOperations`,
    * group-based): Spark rewrites the statement into scan → compute
    * replacement rows (updated ∪ untouched) → the operation's write,
    * which commits atomically — copy-on-write DML, the strategy file
    * formats use at file granularity. Original `v < 1000` always, so
    * updated rows are detectable by `v >= 1000`. */
  val q88CatalogUpdate: Q = (s, _) => {
    ensureGraftCatalog(s)
    s.sql("DROP TABLE IF EXISTS graft_cat.db.upd_t")
    s.sql("CREATE TABLE graft_cat.db.upd_t (id BIGINT, v BIGINT)")
    s.read.format("graft.sources.SeqSourceProvider")
      .option("rows", "1000").option("parts", "2").load()
      .createOrReplaceTempView("graft_seq_upd")
    s.sql("INSERT INTO graft_cat.db.upd_t SELECT id, v FROM graft_seq_upd")
    s.sql("UPDATE graft_cat.db.upd_t SET v = v + 1000 WHERE id % 10 < 3")
    s.sql(
      """SELECT COUNT(*) AS n, SUM(v) AS v_sum,
        |  SUM(CASE WHEN v >= 1000 THEN 1 ELSE 0 END) AS n_updated
        |FROM graft_cat.db.upd_t""".stripMargin)
  }

  /** MERGE INTO the catalog table — the full upsert statement: matched
    * target rows take the source's value, unmatched source rows insert;
    * one group-based rewrite, one atomic commit. */
  val q89CatalogMerge: Q = (s, _) => {
    ensureGraftCatalog(s)
    s.sql("DROP TABLE IF EXISTS graft_cat.db.mrg_t")
    s.sql("CREATE TABLE graft_cat.db.mrg_t (id BIGINT, v BIGINT)")
    s.read.format("graft.sources.SeqSourceProvider")
      .option("rows", "1500").option("parts", "2").load()
      .createOrReplaceTempView("graft_seq_mrg")
    s.sql("INSERT INTO graft_cat.db.mrg_t SELECT id, v FROM graft_seq_mrg WHERE id < 1000")
    s.sql(
      """MERGE INTO graft_cat.db.mrg_t t
        |USING (SELECT id, v + 5000 AS w FROM graft_seq_mrg WHERE id >= 500) s
        |ON t.id = s.id
        |WHEN MATCHED THEN UPDATE SET v = s.w
        |WHEN NOT MATCHED THEN INSERT (id, v) VALUES (s.id, s.w)""".stripMargin)
    s.sql(
      """SELECT id DIV 500 AS band, COUNT(*) AS n, SUM(v) AS v_sum
        |FROM graft_cat.db.mrg_t GROUP BY 1 ORDER BY band""".stripMargin)
  }

  /** The FULL MERGE surface: conditional multi-WHEN clauses plus the
    * Spark-4 `WHEN NOT MATCHED BY SOURCE` branches, which act on TARGET
    * rows the source never mentions — the piece that turns MERGE into a
    * complete snapshot-reconciliation primitive (retire stale rows,
    * touch-up survivors) in one statement. The planner rewrites this as a
    * single FULL OUTER join over the row-level-operation scan; the
    * group-based copy-on-write machinery is the same as q89's.
    */
  val q101MergeBySource: Q = (s, _) => {
    ensureGraftCatalog(s)
    s.sql("DROP TABLE IF EXISTS graft_cat.db.mrgsrc_t")
    s.sql("CREATE TABLE graft_cat.db.mrgsrc_t (id BIGINT, v BIGINT)")
    s.read.format("graft.sources.SeqSourceProvider")
      .option("rows", "1500").option("parts", "2").load()
      .createOrReplaceTempView("graft_seq_mrgsrc")
    s.sql("INSERT INTO graft_cat.db.mrgsrc_t SELECT id, v FROM graft_seq_mrgsrc WHERE id < 1000")
    s.sql(
      """MERGE INTO graft_cat.db.mrgsrc_t t
        |USING (SELECT id, v + 5000 AS w FROM graft_seq_mrgsrc WHERE id >= 500) s
        |ON t.id = s.id
        |WHEN MATCHED AND s.w % 2 = 0 THEN UPDATE SET v = s.w
        |WHEN MATCHED THEN DELETE
        |WHEN NOT MATCHED THEN INSERT (id, v) VALUES (s.id, s.w)
        |WHEN NOT MATCHED BY SOURCE AND t.id < 100 THEN DELETE
        |WHEN NOT MATCHED BY SOURCE THEN UPDATE SET v = t.v + 1""".stripMargin)
    s.sql(
      """SELECT id DIV 250 AS band, COUNT(*) AS n, SUM(v) AS v_sum
        |FROM graft_cat.db.mrgsrc_t GROUP BY 1 ORDER BY band""".stripMargin)
  }

  /** ALTER TABLE schema evolution on the catalog table — metadata-only
    * (the Iceberg column-id strategy, [[graft.sources.GraftCatalog]]):
    * ADD COLUMN publishes a new manifest version, old segments never
    * rewrite; rows written before a column existed read NULL — or the
    * column's existence DEFAULT when one is declared; RENAME is a pure
    * metadata swap (stored rows are keyed by column id, not name).
    * Catalog twin of q77's read-side `unionByName` evolution. */
  val q90CatalogAlter: Q = (s, _) => {
    ensureGraftCatalog(s)
    s.sql("DROP TABLE IF EXISTS graft_cat.db.alt_t")
    s.sql("CREATE TABLE graft_cat.db.alt_t (id BIGINT, v BIGINT)")
    s.read.format("graft.sources.SeqSourceProvider")
      .option("rows", "2500").option("parts", "2").load()
      .createOrReplaceTempView("graft_seq_alt")
    s.sql("INSERT INTO graft_cat.db.alt_t SELECT id, v FROM graft_seq_alt WHERE id < 1000")
    s.sql("ALTER TABLE graft_cat.db.alt_t ADD COLUMN w BIGINT")
    s.sql("ALTER TABLE graft_cat.db.alt_t RENAME COLUMN v TO val")
    s.sql(
      """INSERT INTO graft_cat.db.alt_t
        |SELECT id, v, id * 3 FROM graft_seq_alt WHERE id >= 1000 AND id < 2000""".stripMargin)
    s.sql("ALTER TABLE graft_cat.db.alt_t ADD COLUMN d BIGINT DEFAULT 7")
    s.sql(
      """INSERT INTO graft_cat.db.alt_t (id, val, w)
        |SELECT id, v, id * 3 FROM graft_seq_alt WHERE id >= 2000""".stripMargin)
    s.sql(
      """SELECT id DIV 500 AS band, COUNT(*) AS n, SUM(val) AS val_sum,
        |  SUM(w) AS w_sum, SUM(d) AS d_sum
        |FROM graft_cat.db.alt_t GROUP BY 1 ORDER BY band""".stripMargin)
  }

  /** Identity-partitioned catalog table: INSERT routes each task's rows
    * into one segment per partition value, so the pushed `g IN (…)`
    * prunes whole segments at scan PLANNING (SourcesSpec asserts the
    * survivor count via SegHooks) — partition pruning as a pure
    * consequence of the zone-maps, no separate partition metadata. */
  val q91CatalogPartitioned: Q = (s, _) => {
    ensureGraftCatalog(s)
    s.sql("DROP TABLE IF EXISTS graft_cat.db.part_t")
    s.sql(
      """CREATE TABLE graft_cat.db.part_t (id BIGINT, v BIGINT, g BIGINT)
        |PARTITIONED BY (g)""".stripMargin)
    s.read.format("graft.sources.SeqSourceProvider")
      .option("rows", "4000").option("parts", "4").load()
      .createOrReplaceTempView("graft_seq_part")
    s.sql("INSERT INTO graft_cat.db.part_t SELECT id, v, id % 8 FROM graft_seq_part")
    s.sql(
      """SELECT g, COUNT(*) AS n, SUM(v) AS v_sum
        |FROM graft_cat.db.part_t WHERE g IN (2, 5) GROUP BY g ORDER BY g""".stripMargin)
  }

  /** q119 — bloom-filter data skipping on a NON-layout column: orders
    * lands in graft_cat hash-scattered by customer, so every segment's
    * o_orderkey zone spans the whole key domain and zone maps alone keep
    * all segments for a point lookup. The per-segment column blooms
    * ([[graft.sources.SegBloom]]) answer the point question instead —
    * the IN probe plans only the segments whose blooms admit one of the
    * keys (BloomSpec pins the planned-segment count). This is the
    * secondary-key needle-lookup pattern (Parquet column blooms /
    * ClickHouse bloom skip indexes): at 100 TB it's the difference
    * between scanning every file of a customer-laid-out fact and
    * touching the handful that can hold the wanted order ids. */
  val q119CatalogBloomPrune: Q = (s, d) => {
    ensureGraftCatalog(s)
    s.sql("DROP TABLE IF EXISTS graft_cat.db.bloom_t")
    s.sql(
      """CREATE TABLE graft_cat.db.bloom_t
        |(o_orderkey BIGINT, o_custkey BIGINT, o_totalprice DOUBLE)""".stripMargin)
    table(s, d, "orders").createOrReplaceTempView("graft_ord_bloom")
    s.sql(
      """INSERT INTO graft_cat.db.bloom_t
        |SELECT /*+ REPARTITION(8, o_custkey) */
        |  o_orderkey, o_custkey, o_totalprice
        |FROM graft_ord_bloom""".stripMargin)
    s.sql(
      """SELECT o_orderkey, o_custkey, o_totalprice
        |FROM graft_cat.db.bloom_t
        |WHERE o_orderkey IN (3, 700, 1300)
        |ORDER BY o_orderkey""".stripMargin)
  }

  /** q121 — aggregate pushdown to the catalog MANIFEST: ungrouped
    * COUNT(*)/MIN/MAX over a graft_cat table fold row counts and
    * zone-maps instead of opening a single segment file (complete DSv2
    * aggregate pushdown; `SegAggScan`). The spec pins the hook and the
    * plan shape; the oracle recomputes from the raw table, proving the
    * manifest arithmetic. The q66 twin answers from an ordered range
    * SOURCE; this answers from committed table METADATA — the "SELECT
    * COUNT(*) in milliseconds on a petabyte table" lakehouse property. */
  val q121CatalogAggPushdown: Q = (s, d) => {
    ensureGraftCatalog(s)
    s.sql("DROP TABLE IF EXISTS graft_cat.db.agg_t")
    s.sql("CREATE TABLE graft_cat.db.agg_t (k BIGINT, c BIGINT, p DOUBLE)")
    table(s, d, "orders").createOrReplaceTempView("graft_ord_agg")
    s.sql(
      """INSERT INTO graft_cat.db.agg_t
        |SELECT /*+ REPARTITION(4) */ o_orderkey, o_custkey, o_totalprice
        |FROM graft_ord_agg""".stripMargin)
    s.sql(
      """SELECT COUNT(*) AS n, MIN(k) AS min_k, MAX(k) AS max_k,
        |  MIN(c) AS min_c, MAX(c) AS max_c
        |FROM graft_cat.db.agg_t""".stripMargin)
  }

  /** q123 — CHECK constraints on the catalog write path
    * ([[graft.sources.SegCheck]]): the `graft.check` table property is
    * validated at DDL time, persisted in the manifest, and enforced on
    * EVERY writer task (INSERT, streaming, row-level replacement) with
    * SQL CHECK semantics (NULL passes, only definite FALSE rejects) —
    * the Delta-style write contract that keeps a 1000-writer ingest from
    * ever committing a bad row. The catalog entry loads customer under
    * the constraint and serves an aggregate; the spec drives the
    * rejection, NULL-pass, and bad-DDL paths. */
  val q123CatalogCheckConstraint: Q = (s, d) => {
    ensureGraftCatalog(s)
    s.sql("DROP TABLE IF EXISTS graft_cat.db.chk_t")
    s.sql(
      """CREATE TABLE graft_cat.db.chk_t (k BIGINT, bal DOUBLE)
        |TBLPROPERTIES ('graft.check' = 'k >= 0 AND bal > -1000.0')""".stripMargin)
    table(s, d, "customer").createOrReplaceTempView("graft_cust_chk")
    s.sql(
      """INSERT INTO graft_cat.db.chk_t
        |SELECT c_custkey, c_acctbal FROM graft_cust_chk""".stripMargin)
    s.sql(
      """SELECT COUNT(*) AS n,
        |  CAST(CAST(SUM(CAST(bal AS DECIMAL(18,6)))
        |       AS DECIMAL(38,4)) AS DOUBLE) AS total_bal
        |FROM graft_cat.db.chk_t""".stripMargin)
  }

  /** q125 — GROUPED aggregate pushdown to the manifest: on an
    * identity-partitioned table every segment is single-valued on the
    * partition column (the writer routes rows by it), so `GROUP BY g`
    * with COUNT/MIN/MAX is a manifest fold per segment cluster — one
    * metadata row per partition value, zero segment files opened. The
    * per-partition row-count dashboard ("how big is each day/tenant")
    * answered without touching data; days/bucket transforms and null
    * partition rows decline to a real scan. */
  val q125CatalogGroupAggPushdown: Q = (s, _) => {
    ensureGraftCatalog(s)
    s.sql("DROP TABLE IF EXISTS graft_cat.db.gagg_t")
    s.sql(
      """CREATE TABLE graft_cat.db.gagg_t (id BIGINT, v BIGINT, g BIGINT)
        |PARTITIONED BY (g)""".stripMargin)
    s.read.format("graft.sources.SeqSourceProvider")
      .option("rows", "4000").option("parts", "4").load()
      .createOrReplaceTempView("graft_seq_gagg")
    s.sql("INSERT INTO graft_cat.db.gagg_t SELECT id, v, id % 8 FROM graft_seq_gagg")
    s.sql(
      """SELECT g, COUNT(*) AS n, MIN(id) AS min_id, MAX(id) AS max_id
        |FROM graft_cat.db.gagg_t GROUP BY g ORDER BY g""".stripMargin)
  }

  /** q126 — SQL-defined scalar UDFs (`CREATE FUNCTION … RETURN expr`,
    * Spark 4's SQL UDF surface): business logic declared ONCE in SQL and
    * reused across queries, analyzed and inlined into the calling plan —
    * codegen-friendly, no JVM closure, no serialization, unlike a Scala
    * UDF. The discount arithmetic rounds to exact integer cents inside
    * the UDF so the aggregate stays hash-stable cross-engine. */
  val q126SqlUdf: Q = (s, d) => {
    table(s, d, "lineitem").createOrReplaceTempView("graft_li_udf")
    s.sql(
      """CREATE OR REPLACE TEMPORARY FUNCTION graft_disc_cents(p DOUBLE, d DOUBLE)
        |RETURNS BIGINT RETURN CAST(round(p * (1.0 - d) * 100, 0) AS BIGINT)""".stripMargin)
    s.sql(
      """CREATE OR REPLACE TEMPORARY FUNCTION graft_qty_band(q DOUBLE)
        |RETURNS STRING RETURN CASE WHEN q < 10 THEN 'low'
        |  WHEN q < 30 THEN 'mid' ELSE 'high' END""".stripMargin)
    s.sql(
      """SELECT graft_qty_band(l_quantity) AS band, COUNT(*) AS n,
        |  CAST(SUM(graft_disc_cents(l_extendedprice, l_discount)) AS BIGINT)
        |    AS disc_cents
        |FROM graft_li_udf GROUP BY 1 ORDER BY 1""".stripMargin)
  }

  /** q127 — SQL table functions (`CREATE FUNCTION … RETURNS TABLE`): a
    * declared relation-producing function joins like any table — the
    * parameterized-view surface (DuckDB gives the reference table macros;
    * this is the Spark 4 twin). */
  val q127SqlTableFunction: Q = (s, d) => {
    table(s, d, "orders").createOrReplaceTempView("graft_ord_tvf")
    s.sql(
      """CREATE OR REPLACE TEMPORARY FUNCTION graft_buckets(n INT)
        |RETURNS TABLE (x INT) RETURN SELECT explode(sequence(1, n)) AS x""".stripMargin)
    s.sql(
      """SELECT f.x, COUNT(*) AS n_orders
        |FROM graft_ord_tvf o JOIN graft_buckets(5) f
        |  ON CAST((o.o_orderkey % 5) + 1 AS INT) = f.x
        |GROUP BY f.x ORDER BY f.x""".stripMargin)
  }

  /** Table-valued functions in FROM: `range()` generates the relation and
    * a LATERAL `explode()` expands a per-row sequence — the generator
    * side of modern SQL (DuckDB gives the reference range/unnest for
    * free; Spark plans Range + Generate, no table scan at all). */
  val q92Tvf: Q = (s, _) =>
    s.sql(
      """SELECT t.id, e.x
        |FROM range(0, 200) t,
        |LATERAL explode(sequence(0, t.id % 4)) AS e(x)
        |ORDER BY t.id, e.x""".stripMargin)

  /** SQL session variables + EXECUTE IMMEDIATE — the parameterized-query
    * serving surface (DuckDB gives the reference prepared statements; the
    * Spark-4 twins are `DECLARE VARIABLE`, `SET VAR`, and dynamic SQL with
    * `?` markers bound via USING). The variable flows through the dynamic
    * statement at ANALYSIS time, so the executed plan is the ordinary
    * pushed-filter scan — no re-parse per row, no literal injection.
    */
  val q100SqlVariables: Q = (s, d) => {
    table(s, d, "orders").createOrReplaceTempView("graft_ord_var")
    s.sql("DECLARE OR REPLACE VARIABLE graft_status STRING DEFAULT 'O'")
    s.sql("SET VARIABLE graft_status = 'F'")
    s.sql(
      """EXECUTE IMMEDIATE
        |  'SELECT o_orderpriority, COUNT(*) AS n,
        |     CAST(CAST(SUM(CAST(o_totalprice AS DECIMAL(18,6))) AS DECIMAL(38,4)) AS DOUBLE) AS total
        |   FROM graft_ord_var WHERE o_orderstatus = ?
        |   GROUP BY o_orderpriority ORDER BY o_orderpriority'
        |  USING graft_status""".stripMargin)
  }

  /** Error-safe TRY_ functions — the ANSI-mode companion surface: with
    * ANSI semantics on, a bad cast or division-by-zero fails the whole
    * job at 100 TB; `try_cast`/`try_divide` degrade row-local errors to
    * NULL so the pipeline quantifies them instead (the per-row error-
    * skip discipline X4 applies at the reference's load stage, expressed
    * in plain SQL). DuckDB has no try_divide — the oracle restates it as
    * the NULLIF guard, the same null-on-zero semantics.
    */
  val q103TryFunctions: Q = (s, d) => {
    table(s, d, "orders").createOrReplaceTempView("graft_ord_try")
    s.sql(
      """SELECT o_orderpriority,
        |  COUNT(*) AS n,
        |  COUNT(try_divide(o_totalprice, o_custkey % 2)) AS n_div0_ok,
        |  MIN(try_divide(o_totalprice, o_custkey % 3)) AS min_ratio,
        |  COUNT(try_cast(substr(o_orderpriority, 1, 1) AS INT)) AS n_prio_ids,
        |  COUNT(try_cast(o_orderstatus AS INT)) AS n_status_ints
        |FROM graft_ord_try
        |GROUP BY o_orderpriority ORDER BY o_orderpriority""".stripMargin)
  }

  /** Non-identity partition transforms on the catalog (q104): a
    * `days(ts)`-partitioned fact (epoch-micros BIGINT — order-preserving
    * routing, so plain zone-map range pruning IS day pruning) and a
    * `bucket(8, id)`-partitioned table (hash routing; equality/IN
    * literals prune by bucket membership — SegPrune.bucketEqTri). The
    * shapes every real table format serves: date-keyed facts pruned by a
    * day range, key-bucketed tables pruned by point lookups. The
    * partition-count assertions live in SourcesSpec ("days/bucket
    * transform pruning"); this entry pins VALUE correctness through the
    * oracle. 4000 rows at one per 30 minutes span ~83 days; the filters
    * touch 2 days resp. 3 point ids. */
  val q104CatalogTransforms: Q = (s, _) => {
    ensureGraftCatalog(s)
    s.sql("DROP TABLE IF EXISTS graft_cat.db.days_t")
    s.sql("DROP TABLE IF EXISTS graft_cat.db.buck_t")
    s.sql(
      """CREATE TABLE graft_cat.db.days_t (ts BIGINT, v BIGINT)
        |PARTITIONED BY (days(ts))""".stripMargin)
    s.sql(
      """CREATE TABLE graft_cat.db.buck_t (id BIGINT, v BIGINT)
        |PARTITIONED BY (bucket(8, id))""".stripMargin)
    s.read.format("graft.sources.SeqSourceProvider")
      .option("rows", "4000").option("parts", "4").load()
      .createOrReplaceTempView("graft_seq_tf")
    s.sql("INSERT INTO graft_cat.db.days_t SELECT id * 1800000000, v FROM graft_seq_tf")
    s.sql("INSERT INTO graft_cat.db.buck_t SELECT id, v FROM graft_seq_tf")
    s.sql(
      """SELECT part, n, v_sum FROM (
        |  SELECT 'days' AS part, COUNT(*) AS n, SUM(v) AS v_sum
        |  FROM graft_cat.db.days_t
        |  WHERE ts >= 10 * 86400000000 AND ts < 12 * 86400000000
        |  UNION ALL
        |  SELECT 'bucket' AS part, COUNT(*) AS n, SUM(v) AS v_sum
        |  FROM graft_cat.db.buck_t WHERE id IN (100, 2075, 3999)
        |) ORDER BY part""".stripMargin)
  }

  /** Set confs for `body`, then restore EXACTLY (unset what was unset) —
    * the ConfLeakSpec discipline for queries that need a non-default
    * session conf. */
  private def withConfs[T](s: SparkSession, kv: (String, String)*)
      (body: => T): T = {
    val saved = kv.map { case (k, _) => k -> s.conf.getAll.get(k) }
    kv.foreach { case (k, v) => s.conf.set(k, v) }
    try body finally saved.foreach {
      case (k, Some(v)) => s.conf.set(k, v)
      case (k, None) => s.conf.unset(k)
    }
  }

  /** Storage-partitioned join on co-bucketed catalog tables (q105): both
    * sides are `bucket(8, id)`-partitioned, the scans report
    * `KeyGroupedPartitioning` (SegScan), and under
    * `spark.sql.sources.v2.bucketing.enabled` Spark matches the two
    * reports through the catalog's [[graft.sources.BucketFunction]] and
    * plans the equi-join with NO exchange on either side — the
    * co-located fact-fact join that at 100 TB replaces two full shuffles
    * with zero data movement. Broadcast is disabled inside the scope so
    * the demo exercises the SPJ path, not a broadcast shortcut; the
    * result is materialized INSIDE the conf scope (physical planning is
    * lazy — restoring the conf first would silently fall back to
    * shuffles). The no-exchange plan shape is spec-asserted in
    * SourcesSpec; this entry pins the values through the oracle. */
  val q105CatalogSpj: Q = (s, _) => {
    ensureGraftCatalog(s)
    s.sql("DROP TABLE IF EXISTS graft_cat.db.spj_a")
    s.sql("DROP TABLE IF EXISTS graft_cat.db.spj_b")
    s.sql(
      """CREATE TABLE graft_cat.db.spj_a (id BIGINT, v BIGINT)
        |PARTITIONED BY (bucket(8, id))""".stripMargin)
    s.sql(
      """CREATE TABLE graft_cat.db.spj_b (id BIGINT, w BIGINT)
        |PARTITIONED BY (bucket(8, id))""".stripMargin)
    s.read.format("graft.sources.SeqSourceProvider")
      .option("rows", "4000").option("parts", "4").load()
      .createOrReplaceTempView("graft_seq_spj")
    s.sql("INSERT INTO graft_cat.db.spj_a SELECT id, v FROM graft_seq_spj")
    s.sql(
      """INSERT INTO graft_cat.db.spj_b
        |SELECT id, v + id % 7 FROM graft_seq_spj WHERE id % 3 <> 0""".stripMargin)
    withConfs(s,
      "spark.sql.sources.v2.bucketing.enabled" -> "true",
      "spark.sql.autoBroadcastJoinThreshold" -> "-1") {
      // freeze DISTRIBUTED (localCheckpoint materializes the partitions
      // on executors) so restoring the bucketing/broadcast confs after
      // this block cannot re-plan the storage-partitioned join — the
      // band count grows with the table, so a driver-side collect would
      // not scale where a checkpoint does
      s.sql(
        """SELECT a.id DIV 500 AS band, COUNT(*) AS n,
          |  SUM(a.v + b.w) AS vw_sum
          |FROM graft_cat.db.spj_a a JOIN graft_cat.db.spj_b b ON a.id = b.id
          |GROUP BY a.id DIV 500 ORDER BY band""".stripMargin)
        .localCheckpoint()
    }
  }

  /** Incremental changes read (q106): two INSERT commits, then
    * `VERSION AS OF '1..'` reads ONLY the segments committed after
    * version 1 — manifest arithmetic, no table diff, and the read is a
    * normal distributed DSv2 scan (pushdown, pruning). The polling
    * pattern every downstream incremental pipeline needs ("process what
    * landed since my last run") priced at the new data, not the table.
    * Append-only strictness (refusing ranges that compacted or rewrote
    * segments) is spec-asserted in SourcesSpec. */
  val q106CatalogChanges: Q = (s, _) => {
    ensureGraftCatalog(s)
    s.sql("DROP TABLE IF EXISTS graft_cat.db.chg_t")
    s.sql("CREATE TABLE graft_cat.db.chg_t (id BIGINT, v BIGINT)")
    s.read.format("graft.sources.SeqSourceProvider")
      .option("rows", "4000").option("parts", "4").load()
      .createOrReplaceTempView("graft_seq_chg")
    s.sql("INSERT INTO graft_cat.db.chg_t SELECT id, v FROM graft_seq_chg WHERE id < 2000")
    s.sql("INSERT INTO graft_cat.db.chg_t SELECT id, v FROM graft_seq_chg WHERE id >= 2000")
    s.sql(
      """SELECT id DIV 500 AS band, COUNT(*) AS n, SUM(v) AS v_sum
        |FROM graft_cat.db.chg_t VERSION AS OF '1..'
        |GROUP BY 1 ORDER BY band""".stripMargin)
  }

  /** q136 — net-changes changelog over a version range CONTAINING
    * ROW-LEVEL REWRITES, the tier the append-only fast path (q106)
    * refuses by contract. Per commit step, inserts = `AS OF v EXCEPT ALL
    * AS OF v-1` and deletes = the reverse — a distributed snapshot diff,
    * exactly Iceberg's changelog-scan fallback when no eager change
    * files exist (Delta CDF's alternative is writing change files at
    * commit time, priced on every write instead). An UPDATE therefore
    * surfaces as its delete+insert pair, tagged with `_commit_version` /
    * `_change_type`. Scale contract: the diff is priced at two snapshot
    * scans per step (shuffle on the full row as the EXCEPT key), so
    * production bounds the range and uses q106's segment arithmetic
    * wherever the range is append-only; the two tiers compose into a
    * complete CDC story for any history. */
  /** q150 — time travel by WALL CLOCK (`TIMESTAMP AS OF`): the
    * Delta/Iceberg companion to `VERSION AS OF` — "what did this table
    * look like at 3am" without knowing version numbers. Every manifest
    * commit stamps a strictly-monotonic millisecond timestamp
    * ([[graft.sources.SegTable]] publish), and the catalog's
    * `loadTable(ident, timestampMicros)` resolves to the latest version
    * committed at or before the asked instant. Determinism: wall-clock
    * values never reach the output — the query reads v1's OWN commit
    * stamp from the `.versions` metadata table (q135) and asks for
    * exactly that instant, so the travel lands on v1 (monotonicity
    * guarantees no later commit shares the millisecond) and the output
    * is the v1 row population, which the oracle restates. At 100 TB the
    * resolution is pure manifest arithmetic — no data IO scales with
    * the question. */
  val q150TimestampTravel: Q = (s, _) => {
    ensureGraftCatalog(s)
    s.sql("DROP TABLE IF EXISTS graft_cat.db.tt_t")
    s.sql("CREATE TABLE graft_cat.db.tt_t (id BIGINT, v BIGINT)")
    s.read.format("graft.sources.SeqSourceProvider")
      .option("rows", "2400").option("parts", "2").load()
      .createOrReplaceTempView("graft_seq_tt")
    s.sql("INSERT INTO graft_cat.db.tt_t SELECT id, v FROM graft_seq_tt WHERE id < 1200")
    val tsV1 = s.sql("SELECT max(ts_ms) FROM graft_cat.db.tt_t.versions")
      .head.getLong(0) // metadata-sized driver read, one long
    s.sql("INSERT INTO graft_cat.db.tt_t SELECT id, v FROM graft_seq_tt WHERE id >= 1200")
    s.sql(
      s"""SELECT leg, n, sum_v FROM (
         |  SELECT 'asof_v1' AS leg, COUNT(*) AS n, SUM(v) AS sum_v
         |  FROM graft_cat.db.tt_t TIMESTAMP AS OF timestamp_millis($tsV1)
         |  UNION ALL
         |  SELECT 'latest', COUNT(*), SUM(v) FROM graft_cat.db.tt_t)
         |ORDER BY leg""".stripMargin)
  }

  /** q151 — `CALL system.zorder`: multi-dimensional clustering (Delta's
    * OPTIMIZE ZORDER BY, [[graft.sources.ZOrderProcedure]]). The fixture
    * is a 64×64 grid scattered across 4 ingest segments — before the
    * rewrite every segment spans the full range of BOTH keys, so a 2-D
    * box predicate prunes nothing; after it each segment covers a small
    * Morton rectangle and the SAME zone maps prune the box to ~1 of 8
    * segments (spec-pinned via the scan hook). Output: the rewrite's
    * before/after segment counts and the box aggregate — the box result
    * is layout-independent, which is the semantics-preservation claim.
    * `rows_rewritten` and the post-rewrite per-segment row split depend
    * only on manifest arithmetic; the range sampler may move boundaries
    * slightly between runs but all 8 partitions stay populated on a
    * uniform 4096-key space. */
  val q151ZOrderCluster: Q = (s, _) => {
    ensureGraftCatalog(s)
    s.sql("DROP TABLE IF EXISTS graft_cat.db.zo_t")
    s.sql("CREATE TABLE graft_cat.db.zo_t (a BIGINT, b BIGINT, v BIGINT)")
    s.read.format("graft.sources.SeqSourceProvider")
      .option("rows", "4096").option("parts", "4").load()
      .createOrReplaceTempView("graft_seq_zo")
    s.sql(
      """INSERT INTO graft_cat.db.zo_t
        |SELECT id % 64, id div 64, v FROM graft_seq_zo""".stripMargin)
    val rewrite = s.sql("CALL graft_cat.system.zorder('db.zo_t', 'a', 'b', 8)")
      .select(lit("rewrite").as("leg"),
        col("segments_before").as("n"), col("segments_after").as("val"))
    val box = s.sql(
      """SELECT 'box' AS leg, COUNT(*) AS n, CAST(SUM(v) AS BIGINT) AS val
        |FROM graft_cat.db.zo_t
        |WHERE a BETWEEN 0 AND 15 AND b BETWEEN 0 AND 15""".stripMargin)
    rewrite.unionAll(box).orderBy("leg")
  }

  /** q152 — named version refs (Iceberg tags, [[graft.sources
    * .TagProcedure]]): `CALL system.tag('db.t', 'rel1')` pins the
    * current snapshot under a name; `VERSION AS OF 'rel1'` reads it
    * forever after, whatever lands on the table since. The ref is a
    * `graft.tag.rel1` property COMMIT — it versions with the table,
    * persists in the manifest across processes, and UNSET TBLPROPERTIES
    * deletes it (spec-pinned, with the numeric-name and no-such-version
    * refusals). The release-pinning workflow this enables at 100 TB:
    * training jobs read `VERSION AS OF 'dataset-v2.1'` while ingest
    * keeps appending — reproducibility without copying a byte. */
  val q152VersionTags: Q = (s, _) => {
    ensureGraftCatalog(s)
    s.sql("DROP TABLE IF EXISTS graft_cat.db.tag_t")
    s.sql("CREATE TABLE graft_cat.db.tag_t (id BIGINT, v BIGINT)")
    s.read.format("graft.sources.SeqSourceProvider")
      .option("rows", "3000").option("parts", "2").load()
      .createOrReplaceTempView("graft_seq_tag")
    s.sql("INSERT INTO graft_cat.db.tag_t SELECT id, v FROM graft_seq_tag WHERE id < 1500")
    s.sql("CALL graft_cat.system.tag('db.tag_t', 'rel1')") // pins v1
    s.sql("INSERT INTO graft_cat.db.tag_t SELECT id, v FROM graft_seq_tag WHERE id >= 1500")
    s.sql(
      """SELECT leg, n, sum_v FROM (
        |  SELECT 'rel1' AS leg, COUNT(*) AS n, CAST(SUM(v) AS BIGINT) AS sum_v
        |  FROM graft_cat.db.tag_t VERSION AS OF 'rel1'
        |  UNION ALL
        |  SELECT 'latest', COUNT(*), CAST(SUM(v) AS BIGINT)
        |  FROM graft_cat.db.tag_t)
        |ORDER BY leg""".stripMargin)
  }

  /** q153 — `CALL system.rollback` + operation history: the bad-write
    * undo (Delta RESTORE). A delete takes the table to v3; rollback
    * restores v2's content AS A NEW VERSION (v4) — history is never
    * rewritten, the deleted state stays time-travelable, and the
    * `.versions` metadata table now narrates the whole episode through
    * its `operation` column (create/append/delete/rollback — Delta's
    * DESCRIBE HISTORY surface). Output: the post-rollback population
    * (equal to v2's, the restore-correctness claim the oracle restates)
    * plus the operation ledger. */
  val q153Rollback: Q = (s, _) => {
    ensureGraftCatalog(s)
    s.sql("DROP TABLE IF EXISTS graft_cat.db.rb_t")
    s.sql("CREATE TABLE graft_cat.db.rb_t (id BIGINT, v BIGINT)")
    s.read.format("graft.sources.SeqSourceProvider")
      .option("rows", "2000").option("parts", "2").load()
      .createOrReplaceTempView("graft_seq_rb")
    s.sql("INSERT INTO graft_cat.db.rb_t SELECT id, v FROM graft_seq_rb WHERE id < 1000")
    s.sql("INSERT INTO graft_cat.db.rb_t SELECT id, v FROM graft_seq_rb WHERE id >= 1000")
    s.sql("DELETE FROM graft_cat.db.rb_t WHERE id >= 500") // the bad write
    s.sql("CALL graft_cat.system.rollback('db.rb_t', 2)")
    val pop = s.sql(
      """SELECT 'restored' AS leg, COUNT(*) AS n, CAST(SUM(v) AS BIGINT) AS x
        |FROM graft_cat.db.rb_t""".stripMargin)
    val ledger = s.sql(
      """SELECT concat('v', CAST(v AS STRING)) AS leg, n_rows AS n,
        |  CAST(NULL AS BIGINT) AS x
        |FROM graft_cat.db.rb_t.versions WHERE operation = 'rollback'""".stripMargin)
    val ops = s.sql(
      """SELECT concat('op_', operation) AS leg, COUNT(*) AS n,
        |  CAST(NULL AS BIGINT) AS x
        |FROM graft_cat.db.rb_t.versions GROUP BY operation""".stripMargin)
    pop.unionAll(ledger).unionAll(ops).orderBy("leg")
  }

  /** q154 — auto-compaction on write ([[graft.sources.SegTable]]
    * maybeAutoCompact): the table declares
    * `graft.autocompact = 'targetBytes:minFiles'` and every batch
    * write that leaves ≥ minFiles sub-target segments compacts inline —
    * small-file hygiene as a steady-state property of the table, not a
    * scheduled job. Six 1-segment inserts with minFiles=4: the 4th
    * insert trips one compaction (4 → 1 segments), the remaining two
    * accumulate (the merged file alone never re-compacts — the
    * anti-thrash guard), landing at 3 files. The operation ledger and
    * the final file/row census are the deterministic output. */
  val q154AutoCompact: Q = (s, _) => {
    ensureGraftCatalog(s)
    s.sql("DROP TABLE IF EXISTS graft_cat.db.ac_t")
    s.sql(
      """CREATE TABLE graft_cat.db.ac_t (id BIGINT, v BIGINT)
        |TBLPROPERTIES ('graft.autocompact' = '1048576:4')""".stripMargin)
    s.read.format("graft.sources.SeqSourceProvider")
      .option("rows", "3000").option("parts", "1").load()
      .createOrReplaceTempView("graft_seq_ac")
    (0 until 6).foreach { i =>
      s.sql(
        s"""INSERT INTO graft_cat.db.ac_t
           |SELECT id, v FROM graft_seq_ac
           |WHERE id >= ${i * 500} AND id < ${(i + 1) * 500}""".stripMargin)
    }
    val files = s.sql(
      """SELECT 'files' AS leg, COUNT(*) AS n, CAST(SUM(rows) AS BIGINT) AS x
        |FROM graft_cat.db.ac_t.files""".stripMargin)
    val ops = s.sql(
      """SELECT concat('op_', operation) AS leg, COUNT(*) AS n,
        |  CAST(NULL AS BIGINT) AS x
        |FROM graft_cat.db.ac_t.versions GROUP BY operation""".stripMargin)
    val total = s.sql(
      """SELECT 'rows' AS leg, COUNT(*) AS n, CAST(SUM(v) AS BIGINT) AS x
        |FROM graft_cat.db.ac_t""".stripMargin)
    files.unionAll(ops).unionAll(total).orderBy("leg")
  }

  /** q155 — right-to-erasure maintenance pipeline, the composition the
    * three retention procedures exist for: a row-level DELETE removes
    * the subject's rows from the CURRENT version, but the copied-on-
    * write ORIGINAL segment is still referenced by history (time travel
    * must work — that is the lakehouse contract, and the compliance
    * catch); `expire_versions` truncates history to the post-delete
    * snapshot and GCs the superseded file, `vacuum` sweeps anything
    * unreferenced. Only after BOTH is the data physically gone — the
    * spec pins that the expired version is unreadable and the original
    * segment file deleted, while this query pins the surviving
    * population and the exact file/GC census. At 100 TB every step is
    * manifest arithmetic plus deletes of known files; the only data IO
    * was the DELETE's own copy-on-write rewrite. */
  val q155ErasurePipeline: Q = (s, _) => {
    ensureGraftCatalog(s)
    s.sql("DROP TABLE IF EXISTS graft_cat.db.er_t")
    s.sql("CREATE TABLE graft_cat.db.er_t (id BIGINT, v BIGINT)")
    s.read.format("graft.sources.SeqSourceProvider")
      .option("rows", "2000").option("parts", "2").load()
      .createOrReplaceTempView("graft_seq_er")
    s.sql("INSERT INTO graft_cat.db.er_t SELECT id, v FROM graft_seq_er WHERE id < 1000")
    s.sql("INSERT INTO graft_cat.db.er_t SELECT id, v FROM graft_seq_er WHERE id >= 1000")
    s.sql("DELETE FROM graft_cat.db.er_t WHERE id < 250") // the erasure subject
    val expired = s.sql("CALL graft_cat.system.expire_versions('db.er_t', 1)")
      .select(lit("expire").as("leg"), col("versions_expired").as("n"),
        col("files_deleted").as("x"))
    val swept = s.sql("CALL graft_cat.system.vacuum('db.er_t', 0)")
      .select(lit("vacuum").as("leg"), col("orphans_deleted").as("n"),
        col("live_files").as("x"))
    val pop = s.sql(
      """SELECT 'rows' AS leg, COUNT(*) AS n, CAST(SUM(v) AS BIGINT) AS x
        |FROM graft_cat.db.er_t""".stripMargin)
    expired.unionAll(swept).unionAll(pop).orderBy("leg")
  }

  /** q156 — STRING zone maps: every segment records the order-preserving
    * 8-byte prefix range (+ bloom) of each string column, so predicates
    * on strings prune whole segments exactly like BIGINT zone maps — no
    * partitioning declaration needed, the ingest batching IS the
    * clustering (here: one source per INSERT, the standard
    * per-tenant/per-day load pattern). Equality uses zones + bloom;
    * range predicates use the prefix order, conservative at prefix ties
    * ([[graft.sources.SegPrune]] — never claims a definite verdict a
    * suffix could overturn). The spec pins the planned-segment counts
    * (1 of 4 for `=`, 2 of 4 for `>=`); this query pins the values. */
  val q156StringPrune: Q = (s, _) => {
    ensureGraftCatalog(s)
    s.sql("DROP TABLE IF EXISTS graft_cat.db.sz_t")
    s.sql("CREATE TABLE graft_cat.db.sz_t (id BIGINT, src STRING, v BIGINT)")
    s.read.format("graft.sources.SeqSourceProvider")
      .option("rows", "4000").option("parts", "1").load()
      .createOrReplaceTempView("graft_seq_sz")
    (0 until 4).foreach { i =>
      s.sql(
        s"""INSERT INTO graft_cat.db.sz_t
           |SELECT id, 'tenant_$i', v FROM graft_seq_sz
           |WHERE id >= ${i * 1000} AND id < ${(i + 1) * 1000}""".stripMargin)
    }
    s.sql(
      """SELECT leg, n, sum_v FROM (
        |  SELECT 'eq' AS leg, COUNT(*) AS n, CAST(SUM(v) AS BIGINT) AS sum_v
        |  FROM graft_cat.db.sz_t WHERE src = 'tenant_2'
        |  UNION ALL
        |  SELECT 'range', COUNT(*), CAST(SUM(v) AS BIGINT)
        |  FROM graft_cat.db.sz_t WHERE src >= 'tenant_2')
        |ORDER BY leg""".stripMargin)
  }

  /** q157 — CTAS / RTAS against the catalog: `CREATE TABLE … AS SELECT`
    * (with an identity partition transform — the writer routes per key
    * during the CTAS itself) and `REPLACE TABLE … AS SELECT` (drop +
    * recreate + load as one statement). Spark drives both through the
    * TableCatalog create/drop + append write path; the query pins that
    * the CTAS'd table routes per-partition segments (the partition
    * filter prunes at planning — spec) and that RTAS fully supersedes
    * the old definition (new schema, new population). */
  val q157Ctas: Q = (s, _) => {
    ensureGraftCatalog(s)
    s.sql("DROP TABLE IF EXISTS graft_cat.db.ct_t")
    s.read.format("graft.sources.SeqSourceProvider")
      .option("rows", "3000").option("parts", "2").load()
      .createOrReplaceTempView("graft_seq_ct")
    s.sql("DROP TABLE IF EXISTS graft_cat.db.ct_r")
    s.sql(
      """CREATE TABLE graft_cat.db.ct_t PARTITIONED BY (g) AS
        |SELECT id, v, id % 4 AS g FROM graft_seq_ct""".stripMargin)
    s.sql(
      """CREATE TABLE graft_cat.db.ct_r AS
        |SELECT id, v FROM graft_seq_ct WHERE id < 1000""".stripMargin)
    s.sql(
      """REPLACE TABLE graft_cat.db.ct_r AS
        |SELECT id, v * 10 AS w FROM graft_seq_ct WHERE id < 500""".stripMargin)
    val ctas = s.sql(
      """SELECT 'ctas_g2' AS leg, COUNT(*) AS n, CAST(SUM(v) AS BIGINT) AS x
        |FROM graft_cat.db.ct_t WHERE g = 2""".stripMargin)
    val rtas = s.sql(
      """SELECT 'rtas' AS leg, COUNT(*) AS n, CAST(SUM(w) AS BIGINT) AS x
        |FROM graft_cat.db.ct_r""".stripMargin)
    ctas.unionAll(rtas).orderBy("leg")
  }

  /** q158 — declared sort order on a STRING column: the write plans a
    * range exchange + sort on the string key (Spark's
    * RequiresDistributionAndOrdering — same machinery as q134's BIGINT
    * sort), so each task receives a DISJOINT lexicographic range and
    * the string PREFIX zone maps (q156) come out disjoint too — range
    * predicates on the sort key prune to the segments whose prefix
    * window they intersect. The ingest arrives intentionally SHUFFLED
    * (keys scattered across input splits); the declared sort, not the
    * arrival order, produces the clustering. */
  val q158SortedStringWrite: Q = (s, _) => {
    ensureGraftCatalog(s)
    s.sql("DROP TABLE IF EXISTS graft_cat.db.ss_t")
    s.sql(
      """CREATE TABLE graft_cat.db.ss_t (k STRING, v BIGINT)
        |TBLPROPERTIES ('graft.sort' = 'k:4')""".stripMargin)
    s.read.format("graft.sources.SeqSourceProvider")
      .option("rows", "4000").option("parts", "4").load()
      .createOrReplaceTempView("graft_seq_ss")
    // key = shuffled hex-ish token; scattered over splits by id order
    s.sql(
      """INSERT INTO graft_cat.db.ss_t
        |SELECT concat('k', lpad(CAST((id * 2654435761) % 4096 AS STRING), 4, '0'),
        |              '_', CAST(id AS STRING)), v
        |FROM graft_seq_ss""".stripMargin)
    s.sql(
      """SELECT leg, n, sum_v FROM (
        |  SELECT 'low' AS leg, COUNT(*) AS n, CAST(SUM(v) AS BIGINT) AS sum_v
        |  FROM graft_cat.db.ss_t WHERE k < 'k1000'
        |  UNION ALL
        |  SELECT 'mid', COUNT(*), CAST(SUM(v) AS BIGINT)
        |  FROM graft_cat.db.ss_t WHERE k >= 'k2000' AND k < 'k3000')
        |ORDER BY leg""".stripMargin)
  }

  /** q159 — write-audit-publish (Iceberg's WAP pattern), composed from
    * primitives this catalog already has: each ingest batch lands as a
    * version, the AUDIT reads ONLY that batch through the incremental
    * version-range scan (`VERSION AS OF 'v..'` — priced at the delta,
    * never the table), a passing batch is published by pinning the
    * `published` tag to its version, and a failing batch is UNDONE with
    * rollback — the published tag keeps pointing at the last good
    * state throughout. Batch 2 genuinely violates the policy (v ≥ 900)
    * so the query exercises the failure leg; output pins both audit
    * censuses, the final population (= batch 1), and that the
    * `published` ref serves the audited state. */
  val q159WriteAuditPublish: Q = (s, _) => {
    ensureGraftCatalog(s)
    s.sql("DROP TABLE IF EXISTS graft_cat.db.wap_t")
    s.sql("CREATE TABLE graft_cat.db.wap_t (id BIGINT, v BIGINT)")
    s.read.format("graft.sources.SeqSourceProvider")
      .option("rows", "3000").option("parts", "2").load()
      .createOrReplaceTempView("graft_seq_wap")
    def audit(fromV: Long): Long = s.sql(
      s"""SELECT COUNT(*) FROM graft_cat.db.wap_t VERSION AS OF '$fromV..'
         |WHERE v >= 900""".stripMargin).head.getLong(0)
    // batch 1: pre-filtered to the policy — audit passes, publish
    s.sql(
      """INSERT INTO graft_cat.db.wap_t
        |SELECT id, v FROM graft_seq_wap WHERE id < 1500 AND v < 900""".stripMargin)
    val audit1 = audit(0L)
    if (audit1 == 0L)
      s.sql("CALL graft_cat.system.tag('db.wap_t', 'published', 1)")
    // batch 2: raw — violates the policy, audit fails, roll back
    s.sql(
      """INSERT INTO graft_cat.db.wap_t
        |SELECT id, v FROM graft_seq_wap WHERE id >= 1500""".stripMargin)
    val audit2 = audit(2L)
    if (audit2 > 0L)
      s.sql("CALL graft_cat.system.rollback('db.wap_t', 2)")
    val legs = s.sql(
      """SELECT 'published' AS leg, COUNT(*) AS n, CAST(SUM(v) AS BIGINT) AS x
        |FROM graft_cat.db.wap_t VERSION AS OF 'published'
        |UNION ALL
        |SELECT 'final', COUNT(*), CAST(SUM(v) AS BIGINT)
        |FROM graft_cat.db.wap_t""".stripMargin)
    import org.apache.spark.sql.functions.lit
    legs.unionAll(
        legs.sparkSession.range(1).select(lit("audits").as("leg"),
          lit(audit1).as("n"), lit(audit2).as("x")))
      .orderBy("leg")
  }

  /** q160 — NOT NULL column constraints: the DDL flows into the v2
    * write path as a runtime null assertion (Spark wraps nullable
    * sources with AssertNotNull — nullable SOURCES are fine, null
    * VALUES abort), and the abort is ATOMIC under this catalog's
    * two-phase commit: the failing batch stages segments but never
    * publishes a manifest version, so no partial state is visible —
    * same abort contract as CHECK (q123). Output pins the surviving
    * population and the version ledger (exactly one append; the failed
    * batch left no version). */
  val q160NotNull: Q = (s, _) => {
    ensureGraftCatalog(s)
    s.sql("DROP TABLE IF EXISTS graft_cat.db.nn_t")
    s.sql("CREATE TABLE graft_cat.db.nn_t (id BIGINT NOT NULL, v BIGINT)")
    s.read.format("graft.sources.SeqSourceProvider")
      .option("rows", "2000").option("parts", "2").load()
      .createOrReplaceTempView("graft_seq_nn")
    s.sql("INSERT INTO graft_cat.db.nn_t SELECT id, v FROM graft_seq_nn WHERE id < 1000")
    val failed =
      try {
        s.sql(
          """INSERT INTO graft_cat.db.nn_t
            |SELECT if(id = 1500, NULL, id), v FROM graft_seq_nn
            |WHERE id >= 1000""".stripMargin)
        0L
      } catch { case _: Throwable => 1L }
    s.sql(
      s"""SELECT leg, n, x FROM (
         |  SELECT 'rows' AS leg, COUNT(*) AS n, CAST(SUM(v) AS BIGINT) AS x
         |  FROM graft_cat.db.nn_t
         |  UNION ALL
         |  SELECT 'aborted', $failed, NULL
         |  UNION ALL
         |  SELECT 'appends', COUNT(*), NULL
         |  FROM graft_cat.db.nn_t.versions WHERE operation = 'append')
         |ORDER BY leg""".stripMargin)
  }

  /** q161 — `CALL system.evolve_spec`: partition-spec evolution
    * ([[graft.sources.EvolveSpecProcedure]]), Iceberg's signature
    * metadata operation. The table starts identity-partitioned on a
    * coarse group key, takes a batch, then evolves to `bucket:4:id` —
    * one metadata-only manifest commit, no data rewritten — and takes a
    * second batch routed by the new spec. The `needle` leg is the
    * correctness claim: a point lookup spanning one PRE-evolution row
    * and one POST-evolution row must find both — bucket pruning may
    * only trust the writer invariant on segments stamped with the
    * current spec ([[graft.sources.Seg.spec]]), so the pre-evolution
    * segment degrades to zone-map pruning instead of being dropped by a
    * bucket test its rows never satisfied. At 100 TB this is the only
    * viable fix for a mis-partitioned table: history stays as written,
    * new data lands right, layout converges through normal compaction. */
  val q161EvolveSpec: Q = (s, _) => {
    ensureGraftCatalog(s)
    s.sql("DROP TABLE IF EXISTS graft_cat.db.ev_t")
    s.sql(
      """CREATE TABLE graft_cat.db.ev_t (id BIGINT, v BIGINT, g BIGINT)
        |PARTITIONED BY (g)""".stripMargin)
    s.read.format("graft.sources.SeqSourceProvider")
      .option("rows", "4000").option("parts", "4").load()
      .createOrReplaceTempView("graft_seq_ev")
    s.sql(
      """INSERT INTO graft_cat.db.ev_t
        |SELECT id, v, id % 4 FROM graft_seq_ev WHERE id < 2000""".stripMargin)
    s.sql("CALL graft_cat.system.evolve_spec('db.ev_t', 'bucket:4:id')")
    s.sql(
      """INSERT INTO graft_cat.db.ev_t
        |SELECT id, v, id % 4 FROM graft_seq_ev WHERE id >= 2000""".stripMargin)
    s.sql(
      """SELECT leg, n, sum_v FROM (
        |  SELECT 'all' AS leg, COUNT(*) AS n, CAST(SUM(v) AS BIGINT) AS sum_v
        |  FROM graft_cat.db.ev_t
        |  UNION ALL
        |  SELECT 'needle', COUNT(*), CAST(SUM(v) AS BIGINT)
        |  FROM graft_cat.db.ev_t WHERE id IN (7, 2345)
        |  UNION ALL
        |  SELECT 'evolve', COUNT(*), CAST(MAX(v) AS BIGINT)
        |  FROM graft_cat.db.ev_t.versions WHERE operation = 'evolve-spec')
        |ORDER BY leg""".stripMargin)
  }

  /** q162 — named branches + fast-forward merge
    * ([[graft.sources.BranchProcedure]] /
    * [[graft.sources.FastForwardProcedure]]): Iceberg's writable-ref
    * surface. `CALL system.branch` seeds a SECOND version log in the
    * same table directory (zero bytes copied); the branch then takes a
    * multi-commit pipeline — an append and a row-level DELETE — fully
    * isolated from main (the `main_v1` leg proves main never saw them);
    * `CALL system.fast_forward` adopts the branch head as main's next
    * version in one metadata commit, refused if main diverged. The
    * 100 TB workflow this enables: land + validate a risky pipeline on
    * a branch, merge with one manifest append — or drop the branch and
    * main never knew. */
  val q162BranchMerge: Q = (s, _) => {
    ensureGraftCatalog(s)
    s.sql("DROP TABLE IF EXISTS graft_cat.db.br_t")
    s.sql("CREATE TABLE graft_cat.db.br_t (id BIGINT, v BIGINT)")
    s.read.format("graft.sources.SeqSourceProvider")
      .option("rows", "2000").option("parts", "2").load()
      .createOrReplaceTempView("graft_seq_br")
    s.sql("INSERT INTO graft_cat.db.br_t SELECT id, v FROM graft_seq_br WHERE id < 1000")
    s.sql("CALL graft_cat.system.branch('db.br_t', 'dev')") // forks at v1
    s.sql(
      """INSERT INTO graft_cat.db.br_t.branch_dev
        |SELECT id, v FROM graft_seq_br WHERE id >= 1000""".stripMargin)
    s.sql("DELETE FROM graft_cat.db.br_t.branch_dev WHERE v < 100")
    val ff = s.sql("CALL graft_cat.system.fast_forward('db.br_t', 'dev')")
      .select(lit("ff").as("leg"), col("commits_merged").as("n"),
        col("main_version").as("sum_v"))
    s.sql(
      """SELECT leg, n, sum_v FROM (
        |  SELECT 'main_v1' AS leg, COUNT(*) AS n,
        |    CAST(SUM(v) AS BIGINT) AS sum_v
        |  FROM graft_cat.db.br_t VERSION AS OF 1
        |  UNION ALL
        |  SELECT 'branch', COUNT(*), CAST(SUM(v) AS BIGINT)
        |  FROM graft_cat.db.br_t.branch_dev
        |  UNION ALL
        |  SELECT 'merged', COUNT(*), CAST(SUM(v) AS BIGINT)
        |  FROM graft_cat.db.br_t)""".stripMargin)
      .unionAll(ff).orderBy("leg")
  }

  /** q163 — merge-on-read DML with positional deletion vectors
    * (`'graft.dml.mode'='merge-on-read'`, Spark's `SupportsDelta` —
    * [[graft.sources.SegDv]]): DELETE/UPDATE attach a sorted-positions
    * sidecar to each touched segment instead of rewriting its group
    * (the Iceberg positional-delete / Delta deletion-vector strategy;
    * the reference rewrites whole frames, `transformation.py:140-685`).
    * The witness leg pins the 100 TB claim from the manifest itself:
    * ZERO data segments rewritten by the DML, 40 rows vectored. The
    * travel legs prove snapshots cross the vectors both ways (pre-DML
    * reads un-deleted; the MoR snapshot stays byte-identical after
    * compaction purges its vectors into clean segments). */
  val q163MergeOnRead: Q = (s, _) => {
    ensureGraftCatalog(s)
    s.sql("DROP TABLE IF EXISTS graft_cat.db.mor_q")
    s.sql(
      """CREATE TABLE graft_cat.db.mor_q (id BIGINT, v BIGINT)
        |TBLPROPERTIES ('graft.dml.mode'='merge-on-read')""".stripMargin)
    s.read.format("graft.sources.SeqSourceProvider")
      .option("rows", "2000").option("parts", "4").load()
      .createOrReplaceTempView("graft_seq_mor")
    s.sql("INSERT INTO graft_cat.db.mor_q SELECT id, v FROM graft_seq_mor")
    val cat = s.sessionState.catalogManager.catalog("graft_cat")
      .asInstanceOf[graft.sources.GraftCatalog]
    val t = cat.segTable("db.mor_q")
    val v0 = t.currentVersion
    val filesBefore = t.currentSegs.map(_.file).toSet
    s.sql("DELETE FROM graft_cat.db.mor_q WHERE id % 100 = 7")   // 20 rows
    s.sql("UPDATE graft_cat.db.mor_q SET v = v + 100000 WHERE id % 100 = 13")
    val vDml = t.currentVersion
    // manifest-derived witnesses: data segments the DML rewrote or
    // dropped (must be zero — that IS merge-on-read) and rows vectored
    val rewritten = (filesBefore -- t.currentSegs.map(_.file).toSet).size
    val dvRows = t.currentSegs.flatMap(_.dv).map(_.ndel).sum
    s.sql("CALL graft_cat.system.compact('db.mor_q', 100000000)").collect()
    s.sql(
      s"""SELECT phase, n, v_sum FROM (
         |  SELECT 't0_witness' AS phase, CAST($rewritten AS BIGINT) AS n,
         |    CAST($dvRows AS BIGINT) AS v_sum
         |  UNION ALL
         |  SELECT 't1_preDml', COUNT(*), CAST(SUM(v) AS BIGINT)
         |  FROM graft_cat.db.mor_q VERSION AS OF $v0
         |  UNION ALL
         |  SELECT 't2_mor', COUNT(*), CAST(SUM(v) AS BIGINT)
         |  FROM graft_cat.db.mor_q VERSION AS OF $vDml
         |  UNION ALL
         |  SELECT 't3_compacted', COUNT(*), CAST(SUM(v) AS BIGINT)
         |  FROM graft_cat.db.mor_q)
         |ORDER BY phase""".stripMargin)
  }

  /** q164 — `CALL system.cherry_pick`: adopt a branch's commits onto an
    * ADVANCED main — the divergence case fast_forward (q162) refuses —
    * legal exactly when branch and main touched DISJOINT segment sets
    * since the fork ([[graft.sources.SegTable.cherryPick]]). The lane
    * leg proves the standing-ingestion workflow survives main moving on
    * its own (both writers publish, zero data copied); the refusal leg
    * proves a REAL conflict (both sides deleting from the same base
    * segments) is refused loudly rather than silently resurrecting or
    * double-deleting rows. */
  val q164CherryPick: Q = (s, _) => {
    ensureGraftCatalog(s)
    s.sql("DROP TABLE IF EXISTS graft_cat.db.cp_q")
    s.sql("CREATE TABLE graft_cat.db.cp_q (id BIGINT, v BIGINT)")
    s.read.format("graft.sources.SeqSourceProvider")
      .option("rows", "2500").option("parts", "2").load()
      .createOrReplaceTempView("graft_seq_cp")
    s.sql("INSERT INTO graft_cat.db.cp_q SELECT id, v FROM graft_seq_cp WHERE id < 1000")
    s.sql("CALL graft_cat.system.branch('db.cp_q', 'lane')") // forks at v1
    s.sql(
      """INSERT INTO graft_cat.db.cp_q.branch_lane
        |SELECT id, v FROM graft_seq_cp WHERE id >= 1000 AND id < 1500""".stripMargin)
    // main advances on its own — fast_forward would now refuse
    s.sql(
      "INSERT INTO graft_cat.db.cp_q SELECT id, v FROM graft_seq_cp WHERE id >= 2000")
    val pick = s.sql("CALL graft_cat.system.cherry_pick('db.cp_q', 'lane')").head
    val (mainV, picked) = (pick.getLong(pick.fieldIndex("main_version")),
      pick.getLong(pick.fieldIndex("commits_picked")))
    // conflict probe: both sides delete from the SAME base segments
    s.sql("CALL graft_cat.system.branch('db.cp_q', 'cfl')")
    s.sql("DELETE FROM graft_cat.db.cp_q.branch_cfl WHERE id < 100")
    s.sql("DELETE FROM graft_cat.db.cp_q WHERE id < 50")
    val refused =
      try { s.sql("CALL graft_cat.system.cherry_pick('db.cp_q', 'cfl')").collect(); 0L }
      catch {
        case e: Exception
            if Option(e.getMessage).exists(_.contains("cherry-pick")) ||
              Option(e.getCause).flatMap(c => Option(c.getMessage))
                .exists(_.contains("cherry-pick")) => 1L
      }
    s.sql(
      s"""SELECT leg, n, v_sum FROM (
         |  SELECT 'merged' AS leg, COUNT(*) AS n, CAST(SUM(v) AS BIGINT) AS v_sum
         |  FROM graft_cat.db.cp_q VERSION AS OF $mainV
         |  UNION ALL
         |  SELECT 'picked', CAST($picked AS BIGINT), CAST($mainV AS BIGINT)
         |  UNION ALL
         |  SELECT 'refused', CAST($refused AS BIGINT), CAST(1 AS BIGINT))
         |ORDER BY leg""".stripMargin)
  }

  /** q168 — change data feed (`VERSION AS OF 'cdf:a..b'`,
    * [[graft.sources.SegTable.cdfTable]]): every row change in the
    * range as (row, `_change_type`, `_commit_version`), derived from
    * manifest arithmetic + deletion-vector diffs — the scan reads
    * EXACTLY the changed rows (insert slices read new segments, delete
    * slices read pre-images straight from surviving segment files), vs
    * q136's `exceptAll` over two full snapshot scans. The history
    * crosses an insert, a second insert, a merge-on-read DELETE
    * (vector-growth delete slices), a merge-on-read UPDATE
    * (delete+insert pairs at one version), and a compaction (emits
    * NOTHING — content-identical reorganization), so the feed's
    * version attribution is pinned end-to-end by the oracle. */
  val q168ChangeFeed: Q = (s, _) => {
    ensureGraftCatalog(s)
    s.sql("DROP TABLE IF EXISTS graft_cat.db.cdf_n")
    s.sql(
      """CREATE TABLE graft_cat.db.cdf_n (id BIGINT, v BIGINT)
        |TBLPROPERTIES ('graft.dml.mode'='merge-on-read')""".stripMargin)
    s.read.format("graft.sources.SeqSourceProvider")
      .option("rows", "2000").option("parts", "4").load()
      .createOrReplaceTempView("graft_seq_feed")
    s.sql("INSERT INTO graft_cat.db.cdf_n SELECT id, v FROM graft_seq_feed WHERE id < 1000")  // v1
    s.sql("INSERT INTO graft_cat.db.cdf_n SELECT id, v FROM graft_seq_feed WHERE id >= 1000") // v2
    s.sql("DELETE FROM graft_cat.db.cdf_n WHERE v < 100")                                     // v3
    s.sql("UPDATE graft_cat.db.cdf_n SET v = v + 10000 WHERE id % 10 = 3")                    // v4
    s.sql("CALL graft_cat.system.compact('db.cdf_n', 100000000)").collect()                   // v5
    s.sql(
      """SELECT id, v, _change_type AS change_type, _commit_version AS commit_v
        |FROM graft_cat.db.cdf_n VERSION AS OF 'cdf:0..'
        |ORDER BY id, commit_v, change_type""".stripMargin)
  }

  /** q169 — cross-table atomic transaction ([[graft.sources.SegTxn]]):
    * BEGIN stages batch writes to TWO catalog tables invisibly, one
    * atomic intent-record create is the commit point, per-table
    * roll-forward is crash-recoverable and idempotent. The reference
    * gets warehouse-grain atomicity implicitly from a single DuckDB
    * file (`transformation.py:517-547`); per-table manifest logs need
    * this explicit two-phase discipline or a mid-build failure tears
    * the 21-table warehouse. Legs pin: staged writes invisible before
    * commit; an injected crash BETWEEN the two table commits leaves a
    * torn-but-durable state (t2); recovery completes exactly once (t3:
    * 1 then 0); abort drops staged writes; final contents of both
    * tables are the all-or-nothing outcome (t4/t5). */
  val q169CrossTableTxn: Q = (s, _) => {
    ensureGraftCatalog(s)
    s.sql("DROP TABLE IF EXISTS graft_cat.db.txn_a")
    s.sql("DROP TABLE IF EXISTS graft_cat.db.txn_b")
    s.sql("CREATE TABLE graft_cat.db.txn_a (id BIGINT, v BIGINT)")
    s.sql("CREATE TABLE graft_cat.db.txn_b (id BIGINT, v BIGINT)")
    s.read.format("graft.sources.SeqSourceProvider")
      .option("rows", "2000").option("parts", "4").load()
      .createOrReplaceTempView("graft_seq_txn")
    s.sql("INSERT INTO graft_cat.db.txn_a SELECT id, v FROM graft_seq_txn WHERE id < 500")
    s.sql("INSERT INTO graft_cat.db.txn_b SELECT id, v FROM graft_seq_txn WHERE id < 300")
    def n(t: String): Long =
      s.sql(s"SELECT COUNT(*) AS n FROM graft_cat.db.$t").head.getLong(0)
    import graft.sources.SegTxn
    // --- torn transaction: crash injected AFTER the first table's
    // roll-forward (tables commit in canonical order: txn_a, txn_b) ---
    s.sql("CALL graft_cat.system.txn_begin()").collect()
    s.sql(
      """INSERT INTO graft_cat.db.txn_a
        |SELECT id, v FROM graft_seq_txn WHERE id >= 500 AND id < 1000""".stripMargin)
    s.sql(
      """INSERT INTO graft_cat.db.txn_b
        |SELECT id, v FROM graft_seq_txn WHERE id >= 300 AND id < 600""".stripMargin)
    val staged = n("txn_a")            // staged writes invisible → 500
    SegTxn.afterTableCommit.set { _ =>
      SegTxn.afterTableCommit.set(_ => ())
      throw new RuntimeException("injected crash between table commits")
    }
    val crashed =
      try { s.sql("CALL graft_cat.system.txn_commit()").collect(); 0L }
      catch {
        case e: Exception
            if Option(e.getMessage).exists(_.contains("injected crash")) ||
              Option(e.getCause).flatMap(c => Option(c.getMessage))
                .exists(_.contains("injected crash")) => 1L
      } finally SegTxn.afterTableCommit.set(_ => ())
    val aTorn = n("txn_a")             // 1000 — committed before the crash
    val bTorn = n("txn_b")             // 300 — torn, not yet rolled forward
    val recovered = s.sql("CALL graft_cat.system.txn_recover()").head.getLong(0)
    val again = s.sql("CALL graft_cat.system.txn_recover()").head.getLong(0)
    // --- abort: staged writes vanish, nothing published ---
    s.sql("CALL graft_cat.system.txn_begin()").collect()
    s.sql("INSERT INTO graft_cat.db.txn_a SELECT id, v FROM graft_seq_txn WHERE id >= 1000")
    s.sql("CALL graft_cat.system.txn_abort()").collect()
    s.sql(
      s"""SELECT leg, n, v_sum FROM (
         |  SELECT 't1_crash_witness' AS leg, CAST($crashed AS BIGINT) AS n,
         |    CAST($staged AS BIGINT) AS v_sum
         |  UNION ALL
         |  SELECT 't2_torn', CAST($aTorn AS BIGINT), CAST($bTorn AS BIGINT)
         |  UNION ALL
         |  SELECT 't3_recover', CAST($recovered AS BIGINT), CAST($again AS BIGINT)
         |  UNION ALL
         |  SELECT 't4_a', COUNT(*), CAST(SUM(v) AS BIGINT) FROM graft_cat.db.txn_a
         |  UNION ALL
         |  SELECT 't5_b', COUNT(*), CAST(SUM(v) AS BIGINT) FROM graft_cat.db.txn_b)
         |ORDER BY leg""".stripMargin)
  }

  val q136NetChanges: Q = (s, _) => {
    ensureGraftCatalog(s)
    s.sql("DROP TABLE IF EXISTS graft_cat.db.cdf_t")
    s.sql("CREATE TABLE graft_cat.db.cdf_t (id BIGINT, v BIGINT)")
    s.read.format("graft.sources.SeqSourceProvider")
      .option("rows", "1000").option("parts", "2").load()
      .createOrReplaceTempView("graft_seq_cdf")
    s.sql("INSERT INTO graft_cat.db.cdf_t SELECT id, v FROM graft_seq_cdf") // v1
    s.sql("DELETE FROM graft_cat.db.cdf_t WHERE v < 200")                   // v2
    s.sql("UPDATE graft_cat.db.cdf_t SET v = v + 10000 WHERE id < 100")     // v3
    def snap(vn: Int) =
      s.sql(s"SELECT id, v FROM graft_cat.db.cdf_t VERSION AS OF $vn")
    val changes = (2 to 3).map { vn =>
      snap(vn).exceptAll(snap(vn - 1)).withColumn("_change_type", lit("insert"))
        .unionAll(
          snap(vn - 1).exceptAll(snap(vn)).withColumn("_change_type", lit("delete")))
        .withColumn("_commit_version", lit(vn.toLong))
    }.reduce(_ unionAll _)
    changes.groupBy("_commit_version", "_change_type")
      .agg(count(lit(1)).as("n"), sum(col("v")).as("v_sum"),
        sum(col("id")).as("id_sum"))
      .orderBy("_commit_version", "_change_type")
  }

  /** Column DEFAULT values on the catalog table
    * (`TableCatalogCapability.SUPPORT_COLUMN_DEFAULT_VALUE`): INSERTs
    * that omit a column take its CURRENT default at write time, and
    * `ALTER COLUMN … SET DEFAULT` changes only future inserts — rows
    * already written keep the value they were filled with. */
  val q93CatalogDefault: Q = (s, _) => {
    ensureGraftCatalog(s)
    s.sql("DROP TABLE IF EXISTS graft_cat.db.def_t")
    s.sql(
      """CREATE TABLE graft_cat.db.def_t (
        |  id BIGINT, v BIGINT DEFAULT 100, tag BIGINT DEFAULT 42)""".stripMargin)
    s.read.format("graft.sources.SeqSourceProvider")
      .option("rows", "1200").option("parts", "2").load()
      .createOrReplaceTempView("graft_seq_def")
    s.sql("INSERT INTO graft_cat.db.def_t (id) SELECT id FROM graft_seq_def WHERE id < 400")
    s.sql(
      """INSERT INTO graft_cat.db.def_t (id, v)
        |SELECT id, v FROM graft_seq_def WHERE id >= 400 AND id < 800""".stripMargin)
    s.sql("ALTER TABLE graft_cat.db.def_t ALTER COLUMN tag SET DEFAULT 9")
    s.sql(
      """INSERT INTO graft_cat.db.def_t (id, v)
        |SELECT id, v FROM graft_seq_def WHERE id >= 800""".stripMargin)
    s.sql(
      """SELECT id DIV 400 AS band, COUNT(*) AS n, SUM(v) AS v_sum,
        |  SUM(tag) AS tag_sum
        |FROM graft_cat.db.def_t GROUP BY 1 ORDER BY band""".stripMargin)
  }

  /** Stored-procedure maintenance (`ProcedureCatalog`, the Iceberg
    * `CALL catalog.system.rewrite_data_files` shape): three small
    * INSERTs leave 12 task-sized segments; `CALL system.compact` merges
    * them distributed (byte-level row-log concatenation, one task per
    * merge group, manifest-only driver traffic) and the scan afterwards
    * reads the SAME rows from far fewer files — the small-file fix a
    * 100 TB ingest pipeline runs nightly. The aggregate pins content
    * equality; SourcesSpec pins the file-count drop and time-travel to
    * the pre-compaction version. */
  /** q178 — the persisted-index inventory as an oracle-checked query:
    * build one near-dup signature index and one lexical postings index
    * over `documents`, then `CALL system.indexes('db')` must report
    * both with EXACT live row counts — sigs = docs with ≥ 3
    * whitespace tokens (the shingle threshold), postings = distinct
    * (doc_id, token) pairs — values DuckDB recomputes from the fixture.
    * Proves the inventory's manifest arithmetic (rows minus deletion
    * vectors) agrees with the data it summarizes, without scanning it. */
  val q178IndexInventory: Q = (s, d) => {
    ensureGraftCatalog(s)
    Seq("dedup_inv_q_sigs", "dedup_inv_q_meta", "search_inv_q_postings",
      "search_inv_q_docs", "search_inv_q_meta",
      "inv_q_vecs", "ann_inv_q_sq_codes", "ann_inv_q_sq_meta").foreach(t =>
      s.sql(s"DROP TABLE IF EXISTS graft_cat.db.$t"))
    val docs = table(s, d, "documents").select(col("doc_id"), col("text"))
    s.sql("CREATE TABLE graft_cat.db.inv_q_vecs (vec_id BIGINT, " +
      "v ARRAY<DOUBLE>) TBLPROPERTIES ('graft.dml.mode'='merge-on-read')")
    table(s, d, "embeddings")
      .select(col("vec_id"),
        expr("transform(embedding, x -> CAST(x AS DOUBLE))").as("v"))
      .writeTo("graft_cat.db.inv_q_vecs").append()
    // the three family builds write DISJOINT artifact sets — overlap
    // them (optimization guide §2.6; striped ensure* locks). The SQ
    // tier runs in CDC mode over a catalog table, so the inventory also
    // covers a `(version, corpus)` `ann_*_sq_meta` (a DataFrame-built
    // ANN index lists too, through its `(n_docs, max_id)` meta).
    graft.ops.inParallel[Any](Seq(
      () => graft.ext.DedupIndex.ensure(s, docs, "inv_q"),
      () => graft.ext.SearchIndex.ensure(s, docs, "inv_q"),
      () => graft.ext.AnnIndex.ensureSqCdc(s, "graft_cat.db.inv_q_vecs",
        "inv_q")))
    s.sql("CALL graft_cat.system.indexes('db')")
      .filter(col("index_name") === "inv_q")
      .select(col("family"), col("index_name"), col("live_rows"))
      .orderBy("family")
  }

  /** q180 — segment-level observability: the `.files` metadata table
    * (Iceberg's files surface) now carries DV-aware live counts and
    * per-column zone maps, so "which files hold which key ranges, and
    * how much deferred delete debt does each carry" is one SQL query
    * answered from MANIFEST ARITHMETIC alone — zero data reads, at any
    * table size. The entry loads `documents` into an identity-partitioned
    * catalog table, merge-on-read-deletes a 10% slice (DV sidecars, no
    * segment rewrite), then aggregates `.files` per partition value
    * (zone_min['g'] IS the partition key — identity-partitioned segments
    * are single-valued). The oracle recomputes every number from the
    * raw data: physical rows, live rows, DV retractions, and the exact
    * BIGINT zone bounds (which include DV'd rows — bounds stay
    * conservative, never wrong-direction). */
  val q180FilesInventory: Q = (s, d) => {
    ensureGraftCatalog(s)
    s.sql("DROP TABLE IF EXISTS graft_cat.db.seg_obs_t")
    s.sql(
      """CREATE TABLE graft_cat.db.seg_obs_t (doc_id BIGINT, g BIGINT)
        |PARTITIONED BY (g)
        |TBLPROPERTIES ('graft.dml.mode'='merge-on-read')""".stripMargin)
    table(s, d, "documents")
      .select(col("doc_id"), (col("doc_id") % 4).as("g"))
      .writeTo("graft_cat.db.seg_obs_t").append()
    s.sql("DELETE FROM graft_cat.db.seg_obs_t WHERE doc_id % 10 = 3")
    s.sql(
      """SELECT zone_min['g'] AS g,
        |  SUM(rows) AS n_rows, SUM(live_rows) AS n_live,
        |  SUM(ndel) AS n_del,
        |  MIN(zone_min['doc_id']) AS doc_min,
        |  MAX(zone_max['doc_id']) AS doc_max
        |FROM graft_cat.db.seg_obs_t.files
        |GROUP BY 1 ORDER BY g""".stripMargin)
  }

  val q94CatalogCompact: Q = (s, _) => {
    ensureGraftCatalog(s)
    s.sql("DROP TABLE IF EXISTS graft_cat.db.cmp_t")
    s.sql("CREATE TABLE graft_cat.db.cmp_t (id BIGINT, v BIGINT)")
    s.read.format("graft.sources.SeqSourceProvider")
      .option("rows", "2400").option("parts", "4").load()
      .createOrReplaceTempView("graft_seq_for_cmp")
    Seq(0, 800, 1600).foreach { lo =>
      s.sql(
        s"""INSERT INTO graft_cat.db.cmp_t
           |SELECT id, v FROM graft_seq_for_cmp
           |WHERE id >= $lo AND id < ${lo + 800}""".stripMargin)
    }
    s.sql("CALL graft_cat.system.compact('db.cmp_t', 1048576)")
    s.sql(
      """SELECT id % 7 AS g, COUNT(*) AS n, SUM(v) AS v_sum
        |FROM graft_cat.db.cmp_t GROUP BY 1 ORDER BY g""".stripMargin)
  }

  /** Snapshot expiration (`CALL system.expire_versions`): INSERT
    * OVERWRITE leaves the first load's segments referenced only by old
    * manifest versions; expiring to the last version garbage-collects
    * those files and bounds history — unbounded manifest growth is the
    * other half of the small-file problem at 100 TB. SourcesSpec pins
    * the physical deletes and that expired time travel now errors. */
  val q95CatalogExpire: Q = (s, _) => {
    ensureGraftCatalog(s)
    s.sql("DROP TABLE IF EXISTS graft_cat.db.exp_t")
    s.sql("CREATE TABLE graft_cat.db.exp_t (id BIGINT, v BIGINT)")
    s.read.format("graft.sources.SeqSourceProvider")
      .option("rows", "2000").option("parts", "4").load()
      .createOrReplaceTempView("graft_seq_for_exp")
    s.sql("INSERT INTO graft_cat.db.exp_t SELECT id, v FROM graft_seq_for_exp WHERE id < 1000")
    s.sql(
      """INSERT OVERWRITE graft_cat.db.exp_t
        |SELECT id, v FROM graft_seq_for_exp WHERE id >= 1000""".stripMargin)
    s.sql("CALL graft_cat.system.expire_versions('db.exp_t', 1)")
    s.sql(
      """SELECT COUNT(*) AS n, SUM(v) AS v_sum, MIN(id) AS id_min,
        |  MAX(id) AS id_max
        |FROM graft_cat.db.exp_t""".stripMargin)
  }

  /** q130 — orphan-file GC (`CALL system.vacuum`): two files planted in
    * the table dir simulate a writer that crashed between staging its
    * segment files and committing (the abort hook never ran — the one
    * leak the commit protocol cannot clean up by itself). Vacuum deletes
    * exactly the unreferenced files (grace period 0 — single-writer
    * setting; production default is 1 h so in-flight writers' staged
    * files survive), committed data is untouched, and a second pass
    * deletes nothing — both counts and the table content land in the
    * hash-checked output. */
  val q130CatalogVacuum: Q = (s, _) => {
    ensureGraftCatalog(s)
    s.sql("DROP TABLE IF EXISTS graft_cat.db.vac_t")
    s.sql("CREATE TABLE graft_cat.db.vac_t (id BIGINT, v BIGINT)")
    s.read.format("graft.sources.SeqSourceProvider")
      .option("rows", "2000").option("parts", "2").load()
      .createOrReplaceTempView("graft_seq_vac")
    s.sql("INSERT INTO graft_cat.db.vac_t SELECT id, v FROM graft_seq_vac WHERE id < 1000")
    s.sql("INSERT INTO graft_cat.db.vac_t SELECT id, v FROM graft_seq_vac WHERE id >= 1000")
    val dir = java.nio.file.Paths.get(sys.props("java.io.tmpdir"),
      "graft_warehouse", "graft_cat", "db.vac_t")
    java.nio.file.Files.write(dir.resolve("orphan_a.seg"), Array[Byte](1, 2, 3))
    java.nio.file.Files.write(dir.resolve("orphan_b.seg"), Array[Byte](4, 5))
    val first = s.sql("CALL graft_cat.system.vacuum('db.vac_t', 0)")
      .collect()(0).getLong(0)
    val second = s.sql("CALL graft_cat.system.vacuum('db.vac_t', 0)")
      .collect()(0).getLong(0)
    s.sql(
      s"""SELECT COUNT(*) AS n, SUM(v) AS v_sum,
         |  CAST($first AS BIGINT) AS n_orphans_deleted,
         |  CAST($second AS BIGINT) AS n_second_pass
         |FROM graft_cat.db.vac_t""".stripMargin)
  }

  /** q131 — zero-copy SHALLOW CLONE (`CALL system.clone`): the clone's
    * first manifest version references the source's segment files by
    * absolute path, so cloning costs one manifest write regardless of
    * table size — at 100 TB this is the difference between an instant
    * dev/test/WAP sandbox and a day-long copy job. The proof pinned in
    * the hash-checked output: (1) `n_copied_files = 0` — the clone's
    * directory holds no data file right after the clone, only the
    * manifest; (2) the clone then DIVERGES (an INSERT lands local
    * segments, a DELETE copy-on-writes the FOREIGN segments into local
    * replacements) while (3) the source's row population is untouched —
    * the divergence never wrote into the source's files
    * ([[graft.sources.Seg.isExternal]] keeps clone GC off them). */
  val q131ShallowClone: Q = (s, _) => {
    ensureGraftCatalog(s)
    s.sql("DROP TABLE IF EXISTS graft_cat.db.cl_dst")
    s.sql("DROP TABLE IF EXISTS graft_cat.db.cl_src")
    s.sql("CREATE TABLE graft_cat.db.cl_src (id BIGINT, v BIGINT)")
    s.read.format("graft.sources.SeqSourceProvider")
      .option("rows", "3000").option("parts", "2").load()
      .createOrReplaceTempView("graft_seq_cl")
    s.sql("INSERT INTO graft_cat.db.cl_src SELECT id, v FROM graft_seq_cl WHERE id < 1000")
    s.sql("INSERT INTO graft_cat.db.cl_src SELECT id, v FROM graft_seq_cl WHERE id >= 1000 AND id < 2000")
    s.sql("CALL graft_cat.system.clone('db.cl_src', 'db.cl_dst')")
    val dstDir = java.nio.file.Paths.get(sys.props("java.io.tmpdir"),
      "graft_warehouse", "graft_cat", "db.cl_dst")
    val copied = {
      val st = java.nio.file.Files.list(dstDir)
      try st.filter(p => !p.getFileName.toString.startsWith("_meta")).count()
      finally st.close()
    }
    s.sql("INSERT INTO graft_cat.db.cl_dst SELECT id, v FROM graft_seq_cl WHERE id >= 2000")
    // v spans ~the full [0,1000) domain in every segment, so the zone maps
    // cannot answer this definitively → the row-level copy-on-write path
    // rewrites the affected (foreign!) segments into local replacements
    s.sql("DELETE FROM graft_cat.db.cl_dst WHERE v < 100")
    s.sql(
      s"""SELECT part, n, v_sum, n_copied_files FROM (
         |  SELECT 'src' AS part, COUNT(*) AS n, SUM(v) AS v_sum,
         |    CAST($copied AS BIGINT) AS n_copied_files
         |  FROM graft_cat.db.cl_src
         |  UNION ALL
         |  SELECT 'dst', COUNT(*), SUM(v), CAST($copied AS BIGINT)
         |  FROM graft_cat.db.cl_dst)
         |ORDER BY part""".stripMargin)
  }

  /** q134 — declared write SORT ORDER (`TBLPROPERTIES ('graft.sort' =
    * 'v:8')`, Iceberg's write.sort-order): the table's batch write
    * declares a range distribution + ordering on `v`, Spark plans the
    * exchange + external sort before the writer sees a row, and each of
    * the 8 write tasks receives a disjoint `v` range — so the segment
    * zone maps are disjoint and the point query `v = 123` plans exactly
    * ONE of the 8 segments (pinned in the hash-checked output, captured
    * from the scan hook). At 100 TB this is how a dimension column the
    * table is NOT partitioned by still gets sharp data skipping: pay one
    * sort at write time, prune forever after. */
  val q134SortedWrite: Q = (s, _) => {
    ensureGraftCatalog(s)
    s.sql("DROP TABLE IF EXISTS graft_cat.db.srt_t")
    s.sql("""CREATE TABLE graft_cat.db.srt_t (id BIGINT, v BIGINT)
            |TBLPROPERTIES ('graft.sort' = 'v:8')""".stripMargin)
    s.read.format("graft.sources.SeqSourceProvider")
      .option("rows", "4000").option("parts", "4").load()
      .createOrReplaceTempView("graft_seq_srt")
    s.sql("INSERT INTO graft_cat.db.srt_t SELECT id, v FROM graft_seq_srt")
    // eager point read; the scan hook records (planned, total) segments
    s.sql("SELECT COUNT(*) FROM graft_cat.db.srt_t WHERE v = 123").collect()
    val (_, kept, total) = graft.sources.SegHooks.lastPlanned.get()
    s.sql(
      s"""SELECT v % 4 AS band, COUNT(*) AS n, SUM(id) AS id_sum,
         |  CAST($kept AS BIGINT) AS n_segs_scanned,
         |  CAST($total AS BIGINT) AS n_segs_total
         |FROM graft_cat.db.srt_t GROUP BY v % 4 ORDER BY band""".stripMargin)
  }

  /** q135 — metadata tables (`SELECT … FROM cat.db.t.versions` /
    * `.files`, Iceberg's snapshot/files inspection surface): the
    * manifest rendered as a queryable relation — version history with
    * per-version segment/row/byte/external counts, and the current
    * file list with ownership (`external` = shallow-clone refs). The
    * relation is driver-local by design: its rows ARE the manifest,
    * which every catalog operation already materializes — at 100 TB
    * this query never touches a data file. The clone's `.files` rows
    * all reporting `external = true` is the zero-copy proof made
    * SQL-visible. */
  val q135MetadataTables: Q = (s, _) => {
    ensureGraftCatalog(s)
    s.sql("DROP TABLE IF EXISTS graft_cat.db.mt_cl")
    s.sql("DROP TABLE IF EXISTS graft_cat.db.mt_t")
    s.sql("CREATE TABLE graft_cat.db.mt_t (id BIGINT, v BIGINT)")
    s.read.format("graft.sources.SeqSourceProvider")
      .option("rows", "2000").option("parts", "2").load()
      .createOrReplaceTempView("graft_seq_mt")
    // the id bounds push to the source, so each INSERT plans ONE split
    // and writes ONE segment — the version rows below are deterministic
    s.sql("INSERT INTO graft_cat.db.mt_t SELECT id, v FROM graft_seq_mt WHERE id < 1000")
    s.sql("INSERT INTO graft_cat.db.mt_t SELECT id, v FROM graft_seq_mt WHERE id >= 1000")
    s.sql("CALL graft_cat.system.clone('db.mt_t', 'db.mt_cl')")
    s.sql(
      """SELECT part, n_segs, n_rows, n_ext FROM (
        |  SELECT concat('v', CAST(v AS STRING)) AS part,
        |    n_segments AS n_segs, n_rows, n_external AS n_ext
        |  FROM graft_cat.db.mt_t.versions
        |  UNION ALL
        |  SELECT 'clone_files', COUNT(*), SUM(rows),
        |    SUM(CAST(external AS BIGINT))
        |  FROM graft_cat.db.mt_cl.files)
        |ORDER BY part""".stripMargin)
  }

  /** Table lifecycle DDL on the custom catalog: `ALTER TABLE … RENAME TO`
    * routes to `TableCatalog.renameTable` (a pure manifest-pointer move —
    * segments never copy, history travels with the table) and `TRUNCATE
    * TABLE` to `TruncatableTable.truncateTable` (one manifest version
    * with zero segments — the data files are garbage-collectible, not
    * rewritten). Both are metadata-cost operations regardless of table
    * size — the property that matters at 100 TB. */
  val q96CatalogRenameTruncate: Q = (s, _) => {
    ensureGraftCatalog(s)
    s.sql("DROP TABLE IF EXISTS graft_cat.db.rn_src")
    s.sql("DROP TABLE IF EXISTS graft_cat.db.rn_dst")
    s.sql("DROP TABLE IF EXISTS graft_cat.db.tr_t")
    s.sql("CREATE TABLE graft_cat.db.rn_src (id BIGINT, v BIGINT)")
    s.sql("CREATE TABLE graft_cat.db.tr_t (id BIGINT, v BIGINT)")
    s.read.format("graft.sources.SeqSourceProvider")
      .option("rows", "2000").option("parts", "2").load()
      .createOrReplaceTempView("graft_seq_rt")
    s.sql("INSERT INTO graft_cat.db.rn_src SELECT id, v FROM graft_seq_rt WHERE id < 1200")
    s.sql("INSERT INTO graft_cat.db.tr_t SELECT id, v FROM graft_seq_rt")
    // the new name is catalog-relative (Spark passes it to renameTable
    // as an identifier WITHIN the old table's catalog)
    s.sql("ALTER TABLE graft_cat.db.rn_src RENAME TO db.rn_dst")
    s.sql("TRUNCATE TABLE graft_cat.db.tr_t")
    s.sql("INSERT INTO graft_cat.db.tr_t SELECT id, v FROM graft_seq_rt WHERE id >= 1500")
    s.sql(
      """SELECT part, n, v_sum, id_max FROM (
        |  SELECT 'renamed' AS part, COUNT(*) AS n, SUM(v) AS v_sum,
        |    MAX(id) AS id_max
        |  FROM graft_cat.db.rn_dst
        |  UNION ALL
        |  SELECT 'truncated', COUNT(*), SUM(v), MAX(id)
        |  FROM graft_cat.db.tr_t)
        |ORDER BY part""".stripMargin)
  }

  /** WITH RECURSIVE — iterative SQL inside one statement (hierarchy walk:
    * each customer climbs its parent chain, parent(k) = k DIV 4, until
    * the root). Spark 4 executes the recursion as a loop of unions with
    * the same distributed plan per step; depth and root per start node
    * are the classic org-chart/bill-of-materials outputs. */
  val q62RecursiveCte: Q = (s, d) => {
    table(s, d, "customer").createOrReplaceTempView("graft_cust_rec")
    s.sql(
      """WITH RECURSIVE up(start, cur, depth) AS (
        |  SELECT c_custkey, c_custkey, 0 FROM graft_cust_rec WHERE c_custkey <= 100
        |  UNION ALL
        |  SELECT start, cur DIV 4, depth + 1 FROM up WHERE cur >= 4
        |)
        |SELECT start AS c_custkey, CAST(MAX(depth) AS INT) AS depth,
        |  MIN(cur) AS root
        |FROM up GROUP BY start ORDER BY c_custkey""".stripMargin)
  }

  /** Raw-layer object-store ingest under the oracle (S3-S5): NDJSON bytes
    * land in a staging dir, `Ingest.ingest` copies them into the
    * "bucket" through the Hadoop FileSystem API (the same calls run
    * against s3a:// on a cluster — this is the load.py replacement), and
    * the schema-enforced source reads them back. */
  val q65ObjectStoreIngest: Q = (s, d) => {
    val src = scratchDir(s, "ingest_src")
    val bucket = scratchDir(s, "ingest_bucket")
    table(s, d, "region").coalesce(1).write.mode("overwrite").json(src)
    val copied = graft.dw.Ingest.ingest(s, src, bucket)
    require(copied.nonEmpty, "ingest copied no files")
    val schema = StructType(Seq(
      StructField("r_regionkey", IntegerType), StructField("r_name", StringType)))
    graft.dw.Sources.ndjson(s, bucket, schema)
      .select("r_regionkey", "r_name")
      .orderBy("r_regionkey")
  }

  /** Correlated scalar subquery through real SQL text — exercises
    * Catalyst's subquery decorrelation (rewrite to aggregate + join).
    * The threshold uses exact decimal-staged division on both sides so
    * boundary rows can't flip on float summation order. */
  val q42CorrelatedSubquery: Q = (s, d) => {
    table(s, d, "customer").createOrReplaceTempView("graft_cust_sq")
    s.sql(
      """SELECT c_custkey, c_acctbal
        |FROM graft_cust_sq c
        |WHERE c_acctbal > (
        |  SELECT CAST(SUM(CAST(x.c_acctbal AS DECIMAL(18,6))) AS DOUBLE) / COUNT(x.c_acctbal)
        |  FROM graft_cust_sq x WHERE x.c_nationkey = c.c_nationkey)
        |ORDER BY c_custkey""".stripMargin)
  }

  /** Ordinal explode (posexplode): token position travels with the value —
    * the LATERAL VIEW shape for order-sensitive downstream parsing. */
  val q43Posexplode: Q = (s, d) =>
    table(s, d, "documents")
      .filter(col("doc_id") <= 20)
      .select(col("doc_id"), posexplode(split(col("text"), " ")))
      .select(col("doc_id"), col("pos"), col("col").as("word"))
      .orderBy("doc_id", "pos")

  val queries: Map[String, Q] = Map(
    "q42_correlated_subquery" -> q42CorrelatedSubquery,
    "q43_posexplode" -> q43Posexplode,
    "q24_word_explode" -> q24WordExplode,
    "q25_json_scalar" -> q25JsonScalar,
    "q26_json_map_explode" -> q26JsonMapExplode,
    "q27_json_array_struct" -> q27JsonArrayStruct,
    "q28_hour_range_parse" -> q28HourRangeParse,
    "q29_catalog_views" -> q29CatalogViews,
    "q30_sql_serving" -> q30SqlServing,
    "q31_ndjson_source" -> q31NdjsonSource,
    "q32_csv_source" -> q32CsvSource,
    "q57_orc_source" -> q57OrcSource,
    "q117_xml_source" -> q117XmlSource,
    "q118_binary_file" -> q118BinaryFile,
    "q59_corrupt_records" -> q59CorruptRecords,
    "q60_variant" -> q60Variant,
    "q61_lateral" -> q61Lateral,
    "q62_recursive_cte" -> q62RecursiveCte,
    "q63_custom_source" -> q63CustomSource,
    "q64_custom_sink" -> q64CustomSink,
    "q65_object_store_ingest" -> q65ObjectStoreIngest,
    "q66_agg_pushdown" -> q66AggPushdown,
    "q67_source_stats_join" -> q67SourceStatsJoin,
    "q68_source_runtime_filter" -> q68SourceRuntimeFilter,
    "q74_sink_distribution" -> q74SinkDistribution,
    "q82_storage_partitioned_join" -> q82StoragePartitionedJoin,
    "q83_custom_catalog" -> q83CustomCatalog,
    "q84_catalog_delete" -> q84CatalogDelete,
    "q85_metadata_columns" -> q85MetadataColumns,
    "q86_catalog_function" -> q86CatalogFunction,
    "q87_catalog_time_travel" -> q87CatalogTimeTravel,
    "q129_concurrent_commits" -> q129ConcurrentCommits,
    "q88_catalog_update" -> q88CatalogUpdate,
    "q89_catalog_merge" -> q89CatalogMerge,
    "q90_catalog_alter" -> q90CatalogAlter,
    "q91_catalog_partitioned" -> q91CatalogPartitioned,
    "q92_tvf" -> q92Tvf,
    "q93_catalog_default" -> q93CatalogDefault,
    "q94_catalog_compact" -> q94CatalogCompact,
    "q178_index_inventory" -> q178IndexInventory,
    "q180_files_inventory" -> q180FilesInventory,
    "q95_catalog_expire" -> q95CatalogExpire,
    "q130_catalog_vacuum" -> q130CatalogVacuum,
    "q131_shallow_clone" -> q131ShallowClone,
    "q134_sorted_write" -> q134SortedWrite,
    "q135_metadata_tables" -> q135MetadataTables,
    "q136_net_changes" -> q136NetChanges,
    "q150_timestamp_travel" -> q150TimestampTravel,
    "q151_zorder_cluster" -> q151ZOrderCluster,
    "q152_version_tags" -> q152VersionTags,
    "q153_rollback" -> q153Rollback,
    "q154_auto_compact" -> q154AutoCompact,
    "q155_erasure_pipeline" -> q155ErasurePipeline,
    "q156_string_prune" -> q156StringPrune,
    "q157_ctas_rtas" -> q157Ctas,
    "q158_sorted_string_write" -> q158SortedStringWrite,
    "q159_write_audit_publish" -> q159WriteAuditPublish,
    "q160_not_null" -> q160NotNull,
    "q161_evolve_spec" -> q161EvolveSpec,
    "q162_branch_merge" -> q162BranchMerge,
    "q163_merge_on_read" -> q163MergeOnRead,
    "q164_cherry_pick" -> q164CherryPick,
    "q168_change_feed" -> q168ChangeFeed,
    "q169_cross_table_txn" -> q169CrossTableTxn,
    "q96_catalog_rename_truncate" -> q96CatalogRenameTruncate,
    "q100_sql_variables" -> q100SqlVariables,
    "q101_merge_by_source" -> q101MergeBySource,
    "q103_try_functions" -> q103TryFunctions,
    "q104_catalog_transforms" -> q104CatalogTransforms,
    "q119_catalog_bloom_prune" -> q119CatalogBloomPrune,
    "q121_catalog_agg_pushdown" -> q121CatalogAggPushdown,
    "q123_catalog_check_constraint" -> q123CatalogCheckConstraint,
    "q125_catalog_group_agg_pushdown" -> q125CatalogGroupAggPushdown,
    "q126_sql_udf" -> q126SqlUdf,
    "q127_sql_table_function" -> q127SqlTableFunction,
    "q105_catalog_spj" -> q105CatalogSpj,
    "q106_catalog_changes" -> q106CatalogChanges)

  val oracleSql: Map[String, String] = Map(
    "q103_try_functions" ->
      """SELECT o_orderpriority,
        |  COUNT(*) AS n,
        |  COUNT(o_totalprice / NULLIF(o_custkey % 2, 0)) AS n_div0_ok,
        |  MIN(o_totalprice / NULLIF(o_custkey % 3, 0)) AS min_ratio,
        |  COUNT(TRY_CAST(substr(o_orderpriority, 1, 1) AS INT)) AS n_prio_ids,
        |  COUNT(TRY_CAST(o_orderstatus AS INT)) AS n_status_ints
        |FROM orders
        |GROUP BY o_orderpriority ORDER BY o_orderpriority""".stripMargin,
    // final table state by branch: target-only rows (id<500) are deleted
    // below 100 and incremented otherwise; matched rows (500..999) keep
    // v+5000 when even, are deleted when odd; source-only rows
    // (1000..1499) insert v+5000
    "q101_merge_by_source" ->
      """WITH seq AS (
        |  SELECT r.range AS id, (r.range * 2654435761) % 1000 AS v
        |  FROM range(1500) r),
        |final AS (
        |  SELECT id, v + 1 AS v FROM seq WHERE id >= 100 AND id < 500
        |  UNION ALL
        |  SELECT id, v + 5000 FROM seq
        |  WHERE id >= 500 AND id < 1000 AND (v + 5000) % 2 = 0
        |  UNION ALL
        |  SELECT id, v + 5000 FROM seq WHERE id >= 1000)
        |SELECT id // 250 AS band, COUNT(*) AS n, CAST(SUM(v) AS BIGINT) AS v_sum
        |FROM final GROUP BY 1 ORDER BY band""".stripMargin,
    // days_t: ts = id*1800000000 (30-min grid); the 2-day window
    // [day 10, day 12) is ids 480..575. buck_t: 3 point ids.
    "q104_catalog_transforms" ->
      """WITH t AS (
        |  SELECT r.range AS id, (r.range * 2654435761) % 1000 AS v
        |  FROM range(4000) r)
        |SELECT part, n, v_sum FROM (
        |  SELECT 'days' AS part, COUNT(*) AS n,
        |    CAST(SUM(v) AS BIGINT) AS v_sum
        |  FROM t WHERE id >= 480 AND id < 576
        |  UNION ALL
        |  SELECT 'bucket' AS part, COUNT(*) AS n,
        |    CAST(SUM(v) AS BIGINT) AS v_sum
        |  FROM t WHERE id IN (100, 2075, 3999))
        |ORDER BY part""".stripMargin,
    // every staged row satisfies the constraint, so the aggregate equals
    // the raw-table computation
    "q123_catalog_check_constraint" ->
      """SELECT COUNT(*) AS n,
        |  CAST(CAST(SUM(CAST(c_acctbal AS DECIMAL(18,6)))
        |       AS DECIMAL(38,4)) AS DOUBLE) AS total_bal
        |FROM customer""".stripMargin,
    // the UDF bodies inlined; round() is half-away-from-zero on positive
    // doubles in both engines and the product is the same double
    "q126_sql_udf" ->
      """SELECT CASE WHEN l_quantity < 10 THEN 'low'
        |  WHEN l_quantity < 30 THEN 'mid' ELSE 'high' END AS band,
        |  COUNT(*) AS n,
        |  CAST(SUM(CAST(round(l_extendedprice * (1.0 - l_discount) * 100, 0)
        |       AS BIGINT)) AS BIGINT) AS disc_cents
        |FROM lineitem GROUP BY 1 ORDER BY 1""".stripMargin,
    // the TVF join keeps every bucket (all residues occur), so it folds
    // to the direct grouping
    "q127_sql_table_function" ->
      """SELECT CAST((o_orderkey % 5) + 1 AS INT) AS x, COUNT(*) AS n_orders
        |FROM orders GROUP BY 1 ORDER BY 1""".stripMargin,
    // per-partition manifest folds recomputed from the generator formula
    "q125_catalog_group_agg_pushdown" ->
      """WITH t AS (
        |  SELECT r.range AS id, (r.range * 2654435761) % 1000 AS v
        |  FROM range(4000) r)
        |SELECT id % 8 AS g, COUNT(*) AS n, MIN(id) AS min_id,
        |  MAX(id) AS max_id
        |FROM t GROUP BY 1 ORDER BY g""".stripMargin,
    // manifest-folded aggregates recomputed from the raw table
    "q121_catalog_agg_pushdown" ->
      """SELECT COUNT(*) AS n, MIN(o_orderkey) AS min_k,
        |  MAX(o_orderkey) AS max_k, MIN(o_custkey) AS min_c,
        |  MAX(o_custkey) AS max_c
        |FROM orders""".stripMargin,
    // point-lookup rows straight from the staged orders table
    "q119_catalog_bloom_prune" ->
      """SELECT o_orderkey, o_custkey, o_totalprice FROM orders
        |WHERE o_orderkey IN (3, 700, 1300) ORDER BY o_orderkey""".stripMargin,
    // changes since v1 = the second insert (ids >= 2000)
    "q106_catalog_changes" ->
      """WITH t AS (
        |  SELECT r.range AS id, (r.range * 2654435761) % 1000 AS v
        |  FROM range(4000) r)
        |SELECT CAST(id // 500 AS BIGINT) AS band, COUNT(*) AS n,
        |  CAST(SUM(v) AS BIGINT) AS v_sum
        |FROM t WHERE id >= 2000 GROUP BY 1 ORDER BY band""".stripMargin,
    // spj_b drops ids divisible by 3; w = v + id%7
    "q105_catalog_spj" ->
      """WITH t AS (
        |  SELECT r.range AS id, (r.range * 2654435761) % 1000 AS v
        |  FROM range(4000) r),
        |b AS (SELECT id, v + id % 7 AS w FROM t WHERE id % 3 <> 0)
        |SELECT CAST(t.id // 500 AS BIGINT) AS band, COUNT(*) AS n,
        |  CAST(SUM(t.v + b.w) AS BIGINT) AS vw_sum
        |FROM t JOIN b ON t.id = b.id
        |GROUP BY 1 ORDER BY band""".stripMargin,
    "q100_sql_variables" ->
      """SELECT o_orderpriority, COUNT(*) AS n,
        |  CAST(CAST(SUM(CAST(o_totalprice AS DECIMAL(18,6))) AS DECIMAL(38,4)) AS DOUBLE) AS total
        |FROM orders WHERE o_orderstatus = 'F'
        |GROUP BY o_orderpriority ORDER BY o_orderpriority""".stripMargin,
    "q42_correlated_subquery" ->
      """SELECT c_custkey, c_acctbal
        |FROM customer c
        |WHERE c_acctbal > (
        |  SELECT CAST(SUM(CAST(x.c_acctbal AS DECIMAL(18,6))) AS DOUBLE) / COUNT(x.c_acctbal)
        |  FROM customer x WHERE x.c_nationkey = c.c_nationkey)
        |ORDER BY c_custkey""".stripMargin,
    "q43_posexplode" ->
      """SELECT doc_id, CAST(i - 1 AS INT) AS pos, w AS word
        |FROM (SELECT doc_id,
        |        unnest(string_split(text, ' ')) AS w,
        |        unnest(range(1, len(string_split(text, ' ')) + 1)) AS i
        |      FROM documents WHERE doc_id <= 20)
        |ORDER BY doc_id, pos""".stripMargin,
    "q24_word_explode" ->
      """SELECT w AS word, COUNT(*) AS n
        |FROM (SELECT unnest(string_split(text, ' ')) AS w FROM documents)
        |WHERE w <> '' GROUP BY w ORDER BY n DESC, word LIMIT 50""".stripMargin,
    "q25_json_scalar" ->
      """SELECT event_type, COUNT(*) AS n,
        | CAST(SUM(CAST(json_extract_string(props, '$.k') AS BIGINT)) AS BIGINT) AS k_sum,
        | MIN(CAST(json_extract_string(props, '$.k') AS BIGINT)) AS k_min,
        | MAX(CAST(json_extract_string(props, '$.k') AS BIGINT)) AS k_max
        |FROM events GROUP BY event_type ORDER BY event_type""".stripMargin,
    "q26_json_map_explode" ->
      """SELECT k AS key, COUNT(*) AS n_events,
        | CAST(SUM(CAST(json_extract_string(props, '$.' || k) AS BIGINT)) AS BIGINT) AS total
        |FROM (SELECT props, unnest(json_keys(props)) AS k FROM events)
        |GROUP BY k ORDER BY key""".stripMargin,
    "q27_json_array_struct" ->
      """SELECT event_type AS t, COUNT(*) AS n,
        | CAST(SUM(CAST(json_extract_string(props, '$.k') AS BIGINT)) AS BIGINT) AS v_sum
        |FROM events GROUP BY event_type ORDER BY t""".stripMargin,
    "q28_hour_range_parse" ->
      """SELECT event_id,
        | CAST(hour(ts) AS VARCHAR) || ':' || CAST(minute(ts) AS VARCHAR) || '-' ||
        |   CAST(hour(ts) + 8 AS VARCHAR) || ':' || CAST(minute(ts) AS VARCHAR) AS time_range,
        | CAST(hour(ts) AS INT) AS open_hour,
        | CAST((hour(ts) + 8) % 24 AS INT) AS close_hour
        |FROM events WHERE event_id <= 200 ORDER BY event_id""".stripMargin,
    "q29_catalog_views" ->
      """SELECT * FROM (VALUES ('graft_lineitem_v'), ('graft_orders_v')) t(table_name)
        |ORDER BY table_name""".stripMargin,
    "q30_sql_serving" ->
      """SELECT o_orderstatus, COUNT(*) AS n,
        | CAST(CAST(SUM(CAST(o_totalprice AS DECIMAL(18,6))) AS DECIMAL(38,4)) AS DOUBLE) AS total
        |FROM orders GROUP BY o_orderstatus ORDER BY o_orderstatus""".stripMargin,
    "q31_ndjson_source" ->
      "SELECT r_regionkey, r_name FROM region ORDER BY r_regionkey",
    "q65_object_store_ingest" ->
      "SELECT r_regionkey, r_name FROM region ORDER BY r_regionkey",
    "q32_csv_source" ->
      "SELECT n_nationkey, n_name, n_regionkey FROM nation ORDER BY n_nationkey",
    "q57_orc_source" ->
      "SELECT s_suppkey, s_name, s_nationkey, s_acctbal FROM supplier ORDER BY s_suppkey",
    "q117_xml_source" ->
      """SELECT CAST(n_regionkey AS BIGINT) AS rk, COUNT(*) AS n_nations,
        |  MIN(n_name) AS first_name
        |FROM nation GROUP BY 1 ORDER BY 1""".stripMargin,
    // text-sink framing: each row is its UTF-8 bytes plus one newline
    // (DuckDB strlen = BYTE length of a VARCHAR)
    "q118_binary_file" ->
      """SELECT source, CAST(SUM(strlen(text) + 1) AS BIGINT) AS total_bytes
        |FROM documents
        |WHERE text IS NOT NULL AND source IS NOT NULL
        |GROUP BY 1 ORDER BY 1""".stripMargin,
    "q64_custom_sink" ->
      """WITH t AS (
        |  SELECT r.range AS id, (r.range * 2654435761) % 1000 AS v
        |  FROM range(5000) r)
        |SELECT id % 7 AS g, COUNT(*) AS n, CAST(SUM(v) AS BIGINT) AS v_sum
        |FROM t GROUP BY 1 ORDER BY g""".stripMargin,
    "q66_agg_pushdown" ->
      """SELECT COUNT(*) AS n, MIN(r.range) AS id_min, MAX(r.range) AS id_max
        |FROM range(50000) r""".stripMargin,
    "q67_source_stats_join" ->
      """WITH dim AS (
        |  SELECT r.range AS id, (r.range * 2654435761) % 1000 AS v
        |  FROM range(500) r)
        |SELECT id % 5 AS g, COUNT(*) AS n, CAST(SUM(v) AS BIGINT) AS v_sum,
        |  CAST(SUM(o_orderkey) AS BIGINT) AS key_sum
        |FROM orders JOIN dim ON o_orderkey % 500 = id
        |GROUP BY 1 ORDER BY g""".stripMargin,
    "q68_source_runtime_filter" ->
      """SELECT n_name, CAST(n_nationkey * 7919 AS BIGINT) AS id,
        |  CAST((n_nationkey * 7919 * 2654435761) % 1000 AS BIGINT) AS v
        |FROM nation WHERE n_regionkey < 2 ORDER BY id""".stripMargin,
    "q88_catalog_update" ->
      """WITH t AS (
        |  SELECT r.range AS id,
        |    CASE WHEN r.range % 10 < 3
        |      THEN (r.range * 2654435761) % 1000 + 1000
        |      ELSE (r.range * 2654435761) % 1000 END AS v
        |  FROM range(1000) r)
        |SELECT COUNT(*) AS n, CAST(SUM(v) AS BIGINT) AS v_sum,
        |  CAST(SUM(CASE WHEN v >= 1000 THEN 1 ELSE 0 END) AS BIGINT) AS n_updated
        |FROM t""".stripMargin,
    "q89_catalog_merge" ->
      """WITH seq AS (
        |  SELECT r.range AS id, (r.range * 2654435761) % 1000 AS v
        |  FROM range(1500) r),
        |merged AS (
        |  SELECT id, CASE WHEN id >= 500 THEN v + 5000 ELSE v END AS v
        |  FROM seq)
        |SELECT id // 500 AS band, COUNT(*) AS n, CAST(SUM(v) AS BIGINT) AS v_sum
        |FROM merged GROUP BY 1 ORDER BY band""".stripMargin,
    "q96_catalog_rename_truncate" ->
      """WITH t AS (
        |  SELECT r.range AS id, (r.range * 2654435761) % 1000 AS v
        |  FROM range(2000) r)
        |SELECT part, n, v_sum, id_max FROM (
        |  SELECT 'renamed' AS part, COUNT(*) AS n, CAST(SUM(v) AS BIGINT) AS v_sum,
        |    MAX(id) AS id_max
        |  FROM t WHERE id < 1200
        |  UNION ALL
        |  SELECT 'truncated', COUNT(*), CAST(SUM(v) AS BIGINT), MAX(id)
        |  FROM t WHERE id >= 1500)
        |ORDER BY part""".stripMargin,
    "q87_catalog_time_travel" ->
      """WITH t AS (
        |  SELECT r.range AS id, (r.range * 2654435761) % 1000 AS v
        |  FROM range(1000) r),
        |snap AS (
        |  SELECT 'v1' AS ver, * FROM t WHERE id < 600
        |  UNION ALL SELECT 'v2', * FROM t
        |  UNION ALL SELECT 'v3', * FROM t WHERE id < 800
        |  UNION ALL SELECT 'latest', * FROM t WHERE id < 800)
        |SELECT ver, COUNT(*) AS n, CAST(SUM(v) AS BIGINT) AS v_sum,
        |  MAX(id) AS id_max
        |FROM snap GROUP BY ver ORDER BY ver""".stripMargin,
    // branch isolation: main_v1 = batch A; the branch pipeline = A + B
    // minus the deleted tail; merged == branch; ff merged 2 commits and
    // main landed at v2
    // cherry-pick onto a diverged main: merged = base + lane + main's
    // own insert (versions: create 0, insert 1 = fork, main insert 2,
    // pick 3 → picked 1 commit); the overlap probe must refuse (1)
    "q164_cherry_pick" ->
      """WITH seq AS (
        |  SELECT r.range AS id, (r.range * 2654435761) % 1000 AS v
        |  FROM range(2500) r)
        |SELECT leg, n, v_sum FROM (
        |  SELECT 'merged' AS leg, COUNT(*) AS n, CAST(SUM(v) AS BIGINT) AS v_sum
        |  FROM seq WHERE id < 1500 OR id >= 2000
        |  UNION ALL
        |  SELECT 'picked', CAST(1 AS BIGINT), CAST(3 AS BIGINT)
        |  UNION ALL
        |  SELECT 'refused', CAST(1 AS BIGINT), CAST(1 AS BIGINT))
        |ORDER BY leg""".stripMargin,
    // change feed: inserts at v1/v2, merge-on-read DELETE pre-images at
    // v3, UPDATE delete+insert pairs at v4 (update skips rows v3 already
    // deleted), compaction at v5 contributes NOTHING (content-identical)
    "q168_change_feed" ->
      """WITH seq AS (
        |  SELECT r.range AS id, (r.range * 2654435761) % 1000 AS v
        |  FROM range(2000) r),
        |feed AS (
        |  SELECT id, v, 'insert' AS change_type, 1 AS commit_v
        |  FROM seq WHERE id < 1000
        |  UNION ALL
        |  SELECT id, v, 'insert', 2 FROM seq WHERE id >= 1000
        |  UNION ALL
        |  SELECT id, v, 'delete', 3 FROM seq WHERE v < 100
        |  UNION ALL
        |  SELECT id, v, 'delete', 4 FROM seq WHERE id % 10 = 3 AND v >= 100
        |  UNION ALL
        |  SELECT id, v + 10000, 'insert', 4 FROM seq
        |  WHERE id % 10 = 3 AND v >= 100)
        |SELECT id, v, change_type, CAST(commit_v AS BIGINT) AS commit_v
        |FROM feed ORDER BY id, commit_v, change_type""".stripMargin,
    // cross-table txn: crash witness (crashed=1, staged-invisible=500),
    // torn durable state (a=1000 committed / b=300 not yet), recovery
    // exactly-once (1 then 0), then the all-or-nothing final contents
    "q169_cross_table_txn" ->
      """WITH seq AS (
        |  SELECT r.range AS id, (r.range * 2654435761) % 1000 AS v
        |  FROM range(2000) r)
        |SELECT leg, n, v_sum FROM (
        |  SELECT 't1_crash_witness' AS leg, CAST(1 AS BIGINT) AS n,
        |    CAST(500 AS BIGINT) AS v_sum
        |  UNION ALL
        |  SELECT 't2_torn', CAST(1000 AS BIGINT), CAST(300 AS BIGINT)
        |  UNION ALL
        |  SELECT 't3_recover', CAST(1 AS BIGINT), CAST(0 AS BIGINT)
        |  UNION ALL
        |  SELECT 't4_a', COUNT(*), CAST(SUM(v) AS BIGINT) FROM seq WHERE id < 1000
        |  UNION ALL
        |  SELECT 't5_b', COUNT(*), CAST(SUM(v) AS BIGINT) FROM seq WHERE id < 600)
        |ORDER BY leg""".stripMargin,
    // merge-on-read: the witness leg is the design claim (0 segments
    // rewritten, 40 rows vectored = 20 deleted + 20 update-deleted);
    // t2 (DV-applied read) and t3 (post-compaction) are value-identical
    "q163_merge_on_read" ->
      """WITH seq AS (
        |  SELECT r.range AS id, (r.range * 2654435761) % 1000 AS v
        |  FROM range(2000) r),
        |mor AS (
        |  SELECT id, CASE WHEN id % 100 = 13 THEN v + 100000 ELSE v END AS v
        |  FROM seq WHERE id % 100 <> 7)
        |SELECT phase, n, v_sum FROM (
        |  SELECT 't0_witness' AS phase, CAST(0 AS BIGINT) AS n,
        |    CAST(40 AS BIGINT) AS v_sum
        |  UNION ALL
        |  SELECT 't1_preDml', COUNT(*), CAST(SUM(v) AS BIGINT) FROM seq
        |  UNION ALL
        |  SELECT 't2_mor', COUNT(*), CAST(SUM(v) AS BIGINT) FROM mor
        |  UNION ALL
        |  SELECT 't3_compacted', COUNT(*), CAST(SUM(v) AS BIGINT) FROM mor)
        |ORDER BY phase""".stripMargin,
    "q162_branch_merge" ->
      """WITH t AS (
        |  SELECT r.range AS id, (r.range * 2654435761) % 1000 AS v
        |  FROM range(2000) r),
        |br AS (SELECT * FROM t WHERE v >= 100)
        |SELECT leg, n, sum_v FROM (
        |  SELECT 'main_v1' AS leg, COUNT(*) AS n,
        |    CAST(SUM(v) AS BIGINT) AS sum_v FROM t WHERE id < 1000
        |  UNION ALL
        |  SELECT 'branch', COUNT(*), CAST(SUM(v) AS BIGINT) FROM br
        |  UNION ALL
        |  SELECT 'merged', COUNT(*), CAST(SUM(v) AS BIGINT) FROM br
        |  UNION ALL
        |  SELECT 'ff', CAST(2 AS BIGINT), CAST(2 AS BIGINT))
        |ORDER BY leg""".stripMargin,
    // both batches fully readable across the spec boundary; the needle
    // leg spans one pre- and one post-evolution row; the evolve commit
    // is v2 (create=0, insert=1, evolve=2, insert=3)
    "q161_evolve_spec" ->
      """WITH t AS (
        |  SELECT r.range AS id, (r.range * 2654435761) % 1000 AS v
        |  FROM range(4000) r)
        |SELECT leg, n, sum_v FROM (
        |  SELECT 'all' AS leg, COUNT(*) AS n, CAST(SUM(v) AS BIGINT) AS sum_v
        |  FROM t
        |  UNION ALL
        |  SELECT 'needle', COUNT(*), CAST(SUM(v) AS BIGINT)
        |  FROM t WHERE id IN (7, 2345)
        |  UNION ALL
        |  SELECT 'evolve', CAST(1 AS BIGINT), CAST(2 AS BIGINT))
        |ORDER BY leg""".stripMargin,
    // survivors = the good batch; the null batch aborted atomically
    "q160_not_null" ->
      """WITH t AS (
        |  SELECT r.range AS id, (r.range * 2654435761) % 1000 AS v
        |  FROM range(2000) r)
        |SELECT leg, n, x FROM (
        |  SELECT 'rows' AS leg, COUNT(*) AS n, CAST(SUM(v) AS BIGINT) AS x
        |  FROM t WHERE id < 1000
        |  UNION ALL SELECT 'aborted', 1, NULL
        |  UNION ALL SELECT 'appends', 1, NULL)
        |ORDER BY leg""".stripMargin,
    // published == final == batch 1 (the good batch); audits = (0, count
    // of policy violations in raw batch 2)
    "q159_write_audit_publish" ->
      """WITH t AS (
        |  SELECT r.range AS id, (r.range * 2654435761) % 1000 AS v
        |  FROM range(3000) r),
        |good AS (SELECT * FROM t WHERE id < 1500 AND v < 900)
        |SELECT leg, n, x FROM (
        |  SELECT 'published' AS leg, COUNT(*) AS n,
        |    CAST(SUM(v) AS BIGINT) AS x FROM good
        |  UNION ALL
        |  SELECT 'final', COUNT(*), CAST(SUM(v) AS BIGINT) FROM good
        |  UNION ALL
        |  SELECT 'audits', 0,
        |    (SELECT COUNT(*) FROM t WHERE id >= 1500 AND v >= 900))
        |ORDER BY leg""".stripMargin,
    "q158_sorted_string_write" ->
      """WITH t AS (
        |  SELECT 'k' || lpad(CAST((r.range * 2654435761) % 4096 AS VARCHAR), 4, '0')
        |      || '_' || CAST(r.range AS VARCHAR) AS k,
        |    (r.range * 2654435761) % 1000 AS v
        |  FROM range(4000) r)
        |SELECT leg, n, sum_v FROM (
        |  SELECT 'low' AS leg, COUNT(*) AS n, CAST(SUM(v) AS BIGINT) AS sum_v
        |  FROM t WHERE k < 'k1000'
        |  UNION ALL
        |  SELECT 'mid', COUNT(*), CAST(SUM(v) AS BIGINT)
        |  FROM t WHERE k >= 'k2000' AND k < 'k3000')
        |ORDER BY leg""".stripMargin,
    "q157_ctas_rtas" ->
      """WITH t AS (
        |  SELECT r.range AS id, (r.range * 2654435761) % 1000 AS v
        |  FROM range(3000) r)
        |SELECT leg, n, x FROM (
        |  SELECT 'ctas_g2' AS leg, COUNT(*) AS n,
        |    CAST(SUM(v) AS BIGINT) AS x FROM t WHERE id % 4 = 2
        |  UNION ALL
        |  SELECT 'rtas', COUNT(*), CAST(SUM(v * 10) AS BIGINT)
        |  FROM t WHERE id < 500)
        |ORDER BY leg""".stripMargin,
    // populations restated from the per-batch tenant routing
    "q156_string_prune" ->
      """WITH t AS (
        |  SELECT r.range AS id, (r.range * 2654435761) % 1000 AS v,
        |    'tenant_' || CAST(r.range // 1000 AS VARCHAR) AS src
        |  FROM range(4000) r)
        |SELECT leg, n, sum_v FROM (
        |  SELECT 'eq' AS leg, COUNT(*) AS n, CAST(SUM(v) AS BIGINT) AS sum_v
        |  FROM t WHERE src = 'tenant_2'
        |  UNION ALL
        |  SELECT 'range', COUNT(*), CAST(SUM(v) AS BIGINT)
        |  FROM t WHERE src >= 'tenant_2')
        |ORDER BY leg""".stripMargin,
    // expire drops v0..v2 (3 superseded versions) and GCs the pre-delete
    // segment; vacuum finds nothing further; survivors = id >= 250
    "q155_erasure_pipeline" ->
      """WITH t AS (
        |  SELECT r.range AS id, (r.range * 2654435761) % 1000 AS v
        |  FROM range(2000) r)
        |SELECT leg, n, x FROM (
        |  SELECT 'expire' AS leg, CAST(3 AS BIGINT) AS n, CAST(1 AS BIGINT) AS x
        |  UNION ALL SELECT 'vacuum', 0, 2
        |  UNION ALL SELECT 'rows', (SELECT COUNT(*) FROM t WHERE id >= 250),
        |    (SELECT CAST(SUM(v) AS BIGINT) FROM t WHERE id >= 250))
        |ORDER BY leg""".stripMargin,
    // manifest facts: 3 files after one auto-compaction (4->1, then two
    // more appends), census create + 6 appends + 1 compact, full rows
    "q154_auto_compact" ->
      """WITH t AS (
        |  SELECT r.range AS id, (r.range * 2654435761) % 1000 AS v
        |  FROM range(3000) r)
        |SELECT leg, n, x FROM (
        |  SELECT 'files' AS leg, CAST(3 AS BIGINT) AS n,
        |    CAST(3000 AS BIGINT) AS x
        |  UNION ALL SELECT 'op_create', 1, NULL
        |  UNION ALL SELECT 'op_append', 6, NULL
        |  UNION ALL SELECT 'op_compact', 1, NULL
        |  UNION ALL SELECT 'rows', (SELECT COUNT(*) FROM t),
        |    (SELECT CAST(SUM(v) AS BIGINT) FROM t))
        |ORDER BY leg""".stripMargin,
    // restored population = the pre-delete table; ledger legs are
    // manifest facts (one rollback version carrying 2000 rows; the op
    // census: create, 2 appends, one row-level rewrite — the id >= 500
    // delete splits a segment, so it takes the copy-on-write path —
    // and the rollback)
    "q153_rollback" ->
      """WITH t AS (
        |  SELECT r.range AS id, (r.range * 2654435761) % 1000 AS v
        |  FROM range(2000) r)
        |SELECT leg, n, x FROM (
        |  SELECT 'restored' AS leg, COUNT(*) AS n,
        |    CAST(SUM(v) AS BIGINT) AS x FROM t
        |  UNION ALL SELECT 'v4', 2000, NULL
        |  UNION ALL SELECT 'op_create', 1, NULL
        |  UNION ALL SELECT 'op_append', 2, NULL
        |  UNION ALL SELECT 'op_rewrite', 1, NULL
        |  UNION ALL SELECT 'op_rollback', 1, NULL)
        |ORDER BY leg""".stripMargin,
    // the tag leg restated as the v1 population (id < 1500)
    "q152_version_tags" ->
      """WITH t AS (
        |  SELECT r.range AS id, (r.range * 2654435761) % 1000 AS v
        |  FROM range(3000) r)
        |SELECT leg, n, sum_v FROM (
        |  SELECT 'rel1' AS leg, COUNT(*) AS n,
        |    CAST(SUM(v) AS BIGINT) AS sum_v FROM t WHERE id < 1500
        |  UNION ALL
        |  SELECT 'latest', COUNT(*), CAST(SUM(v) AS BIGINT) FROM t)
        |ORDER BY leg""".stripMargin,
    // the box aggregate restated from the grid formula; rewrite counts
    // are manifest facts (4 ingest splits in, 8 range partitions out)
    "q151_zorder_cluster" ->
      """WITH t AS (
        |  SELECT r.range AS id, (r.range * 2654435761) % 1000 AS v
        |  FROM range(4096) r)
        |SELECT leg, n, val FROM (
        |  SELECT 'box' AS leg, COUNT(*) AS n,
        |    CAST(SUM(v) AS BIGINT) AS val
        |  FROM t WHERE id % 64 BETWEEN 0 AND 15 AND id // 64 BETWEEN 0 AND 15
        |  UNION ALL
        |  SELECT 'rewrite', CAST(4 AS BIGINT), CAST(8 AS BIGINT))
        |ORDER BY leg""".stripMargin,
    // v1 restated from the deterministic seq formula; the travel leg must
    // equal it exactly and the latest leg the full population
    "q150_timestamp_travel" ->
      """WITH t AS (
        |  SELECT r.range AS id, (r.range * 2654435761) % 1000 AS v
        |  FROM range(2400) r)
        |SELECT leg, n, sum_v FROM (
        |  SELECT 'asof_v1' AS leg, COUNT(*) AS n,
        |    CAST(SUM(v) AS BIGINT) AS sum_v FROM t WHERE id < 1200
        |  UNION ALL
        |  SELECT 'latest', COUNT(*), CAST(SUM(v) AS BIGINT) FROM t)
        |ORDER BY leg""".stripMargin,
    "q136_net_changes" ->
      """WITH t AS (
        |  SELECT r.range AS id, (r.range * 2654435761) % 1000 AS v
        |  FROM range(1000) r),
        |chg AS (
        |  SELECT CAST(2 AS BIGINT) AS _commit_version,
        |    'delete' AS _change_type, id, v FROM t WHERE v < 200
        |  UNION ALL
        |  SELECT 3, 'delete', id, v FROM t WHERE v >= 200 AND id < 100
        |  UNION ALL
        |  SELECT 3, 'insert', id, v + 10000 FROM t
        |  WHERE v >= 200 AND id < 100)
        |SELECT _commit_version, _change_type, COUNT(*) AS n,
        |  CAST(SUM(v) AS BIGINT) AS v_sum, CAST(SUM(id) AS BIGINT) AS id_sum
        |FROM chg GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,
    // the manifest's version ledger: empty v0, one 1000-row segment per
    // insert, and the clone's current files all external (borrowed)
    "q135_metadata_tables" ->
      """SELECT part, n_segs, n_rows, n_ext FROM (VALUES
        |  ('v0', CAST(0 AS BIGINT), CAST(0 AS BIGINT), CAST(0 AS BIGINT)),
        |  ('v1', 1, 1000, 0),
        |  ('v2', 2, 2000, 0),
        |  ('clone_files', 2, 2000, 2)) AS t(part, n_segs, n_rows, n_ext)
        |ORDER BY part""".stripMargin,
    // content unchanged by the sorted layout; the write-time range
    // exchange makes the point query plan exactly 1 of the 8 segments
    "q134_sorted_write" ->
      """WITH t AS (
        |  SELECT r.range AS id, (r.range * 2654435761) % 1000 AS v
        |  FROM range(4000) r)
        |SELECT v % 4 AS band, COUNT(*) AS n, CAST(SUM(id) AS BIGINT) AS id_sum,
        |  CAST(1 AS BIGINT) AS n_segs_scanned,
        |  CAST(8 AS BIGINT) AS n_segs_total
        |FROM t GROUP BY v % 4 ORDER BY band""".stripMargin,
    // src keeps its full 2000-row population (the clone's divergence
    // never touched it); dst = clone + inserted tail minus the deleted
    // band; zero data files copied at clone time
    "q131_shallow_clone" ->
      """WITH t AS (
        |  SELECT r.range AS id, (r.range * 2654435761) % 1000 AS v
        |  FROM range(3000) r)
        |SELECT part, n, v_sum, n_copied_files FROM (
        |  SELECT 'src' AS part, COUNT(*) AS n, CAST(SUM(v) AS BIGINT) AS v_sum,
        |    CAST(0 AS BIGINT) AS n_copied_files
        |  FROM t WHERE id < 2000
        |  UNION ALL
        |  SELECT 'dst', COUNT(*), CAST(SUM(v) AS BIGINT), CAST(0 AS BIGINT)
        |  FROM t WHERE NOT (v < 100))
        |ORDER BY part""".stripMargin,
    // exactly the two planted orphans deleted, committed rows untouched,
    // second pass a no-op
    "q130_catalog_vacuum" ->
      """WITH t AS (
        |  SELECT r.range AS id, (r.range * 2654435761) % 1000 AS v
        |  FROM range(2000) r)
        |SELECT COUNT(*) AS n, CAST(SUM(v) AS BIGINT) AS v_sum,
        |  CAST(2 AS BIGINT) AS n_orphans_deleted,
        |  CAST(0 AS BIGINT) AS n_second_pass
        |FROM t""".stripMargin,
    // both versions hold BOTH writers' rows — the lost-update proof
    "q129_concurrent_commits" ->
      """WITH t AS (
        |  SELECT r.range AS id, (r.range * 2654435761) % 1000 AS v
        |  FROM range(2000) r)
        |SELECT ver, COUNT(*) AS n, CAST(SUM(v) AS BIGINT) AS v_sum FROM (
        |  SELECT 'v2_both' AS ver, * FROM t
        |  UNION ALL SELECT 'latest', * FROM t)
        |GROUP BY ver ORDER BY ver""".stripMargin,
    "q85_metadata_columns" ->
      """SELECT r.range // 2500 AS _split, COUNT(*) AS n,
        |  MIN(r.range) AS id_min, MAX(r.range) AS id_max
        |FROM range(20000) r GROUP BY 1 ORDER BY _split""".stripMargin,
    "q86_catalog_function" ->
      """SELECT c_custkey, (c_custkey * 2654435761) % 1000 AS h
        |FROM customer WHERE c_custkey <= 400 ORDER BY c_custkey""".stripMargin,
    "q83_custom_catalog" ->
      """WITH t AS (
        |  SELECT r.range AS id, (r.range * 2654435761) % 1000 AS v
        |  FROM range(3000) r)
        |SELECT id % 6 AS g, COUNT(*) AS n, CAST(SUM(v) AS BIGINT) AS v_sum
        |FROM t GROUP BY 1 ORDER BY g""".stripMargin,
    "q90_catalog_alter" ->
      """WITH t AS (
        |  SELECT r.range AS id, (r.range * 2654435761) % 1000 AS val,
        |    CASE WHEN r.range >= 1000 THEN r.range * 3 END AS w, 7 AS d
        |  FROM range(2500) r)
        |SELECT CAST(id // 500 AS BIGINT) AS band, COUNT(*) AS n,
        |  CAST(SUM(val) AS BIGINT) AS val_sum, CAST(SUM(w) AS BIGINT) AS w_sum,
        |  CAST(SUM(d) AS BIGINT) AS d_sum
        |FROM t GROUP BY 1 ORDER BY band""".stripMargin,
    "q91_catalog_partitioned" ->
      """WITH t AS (
        |  SELECT r.range AS id, (r.range * 2654435761) % 1000 AS v,
        |    r.range % 8 AS g
        |  FROM range(4000) r)
        |SELECT g, COUNT(*) AS n, CAST(SUM(v) AS BIGINT) AS v_sum
        |FROM t WHERE g IN (2, 5) GROUP BY g ORDER BY g""".stripMargin,
    "q92_tvf" ->
      """SELECT r.range AS id, u.x
        |FROM range(0, 200) r, unnest(range(0, r.range % 4 + 1)) AS u(x)
        |ORDER BY id, x""".stripMargin,
    "q93_catalog_default" ->
      """WITH t AS (
        |  SELECT r.range AS id,
        |    CASE WHEN r.range < 400 THEN 100
        |         ELSE (r.range * 2654435761) % 1000 END AS v,
        |    CASE WHEN r.range >= 800 THEN 9 ELSE 42 END AS tag
        |  FROM range(1200) r)
        |SELECT CAST(id // 400 AS BIGINT) AS band, COUNT(*) AS n,
        |  CAST(SUM(v) AS BIGINT) AS v_sum, CAST(SUM(tag) AS BIGINT) AS tag_sum
        |FROM t GROUP BY 1 ORDER BY band""".stripMargin,
    // q178: the inventory's manifest-derived live counts, recomputed
    // from the fixture — sigs = docs with >= 3 whitespace tokens (the
    // shingle threshold, trim-split, empties counted like the engine),
    // postings = distinct (doc_id, non-empty token) pairs
    "q178_index_inventory" ->
      """WITH sig_rows AS (
        |  SELECT CAST(COUNT(*) AS BIGINT) AS n FROM documents
        |  WHERE len(string_split(lower(trim(text)), ' ')) >= 3),
        |post_rows AS (
        |  SELECT CAST(COUNT(*) AS BIGINT) AS n FROM (
        |    SELECT DISTINCT doc_id, unnest(list_filter(
        |      string_split(lower(text), ' '), t -> t <> '')) AS tok
        |    FROM documents)),
        |vec_rows AS (
        |  SELECT CAST(COUNT(*) AS BIGINT) AS n FROM embeddings)
        |SELECT * FROM (
        |  SELECT 'bm25-postings' AS family, 'inv_q' AS index_name,
        |         (SELECT n FROM post_rows) AS live_rows
        |  UNION ALL
        |  SELECT 'minhash-signatures', 'inv_q', (SELECT n FROM sig_rows)
        |  UNION ALL
        |  SELECT 'sq-codes', 'inv_q', (SELECT n FROM vec_rows))
        |ORDER BY family""".stripMargin,
    "q180_files_inventory" ->
      """WITH t AS (SELECT doc_id, doc_id % 4 AS g FROM documents)
        |SELECT CAST(g AS BIGINT) AS g,
        |  CAST(COUNT(*) AS BIGINT) AS n_rows,
        |  CAST(COUNT(*) FILTER (WHERE doc_id % 10 <> 3) AS BIGINT) AS n_live,
        |  CAST(COUNT(*) FILTER (WHERE doc_id % 10 = 3) AS BIGINT) AS n_del,
        |  MIN(doc_id) AS doc_min, MAX(doc_id) AS doc_max
        |FROM t GROUP BY g ORDER BY g""".stripMargin,
    "q94_catalog_compact" ->
      """WITH t AS (
        |  SELECT r.range AS id, (r.range * 2654435761) % 1000 AS v
        |  FROM range(2400) r)
        |SELECT id % 7 AS g, COUNT(*) AS n, CAST(SUM(v) AS BIGINT) AS v_sum
        |FROM t GROUP BY 1 ORDER BY g""".stripMargin,
    "q95_catalog_expire" ->
      """WITH t AS (
        |  SELECT r.range AS id, (r.range * 2654435761) % 1000 AS v
        |  FROM range(2000) r)
        |SELECT COUNT(*) AS n, CAST(SUM(v) AS BIGINT) AS v_sum,
        |  MIN(id) AS id_min, MAX(id) AS id_max
        |FROM t WHERE id >= 1000""".stripMargin,
    "q84_catalog_delete" ->
      """WITH t AS (
        |  SELECT r.range AS id, (r.range * 2654435761) % 1000 AS v
        |  FROM range(2000) r)
        |SELECT COUNT(*) AS n, CAST(SUM(v) AS BIGINT) AS v_sum,
        |  MIN(id) AS id_min, MAX(id) AS id_max
        |FROM t WHERE NOT (id >= 1500 OR v < 100)""".stripMargin,
    "q82_storage_partitioned_join" ->
      """WITH t AS (
        |  SELECT r.range AS id, (r.range * 2654435761) % 1000 AS v
        |  FROM range(1200000) r),
        |u AS (
        |  SELECT r.range AS id, (r.range * 2654435761) % 1000 AS v
        |  FROM range(800000) r)
        |SELECT id % 4 AS g, COUNT(*) AS n,
        |  CAST(SUM(t.v + u.v) AS BIGINT) AS v_sum
        |FROM t JOIN u USING (id) GROUP BY 1 ORDER BY g""".stripMargin,
    "q74_sink_distribution" ->
      """WITH t AS (
        |  SELECT r.range AS id, (r.range * 2654435761) % 1000 AS v,
        |    r.range % 10 AS g
        |  FROM range(5000) r)
        |SELECT g, COUNT(*) AS n, CAST(SUM(v) AS BIGINT) AS v_sum,
        |  MIN(id) AS id_min, MAX(id) AS id_max
        |FROM t GROUP BY 1 ORDER BY g""".stripMargin,
    "q63_custom_source" ->
      """WITH t AS (
        |  SELECT r.range AS id, (r.range * 2654435761) % 1000 AS v
        |  FROM range(20000) r)
        |SELECT id % 10 AS bucket, COUNT(*) AS n, CAST(SUM(v) AS BIGINT) AS v_sum
        |FROM t WHERE v < 500 GROUP BY 1 ORDER BY bucket""".stripMargin,
    "q62_recursive_cte" ->
      """WITH RECURSIVE up(start, cur, depth) AS (
        |  SELECT c_custkey, c_custkey, 0 FROM customer WHERE c_custkey <= 100
        |  UNION ALL
        |  SELECT start, cur // 4, depth + 1 FROM up WHERE cur >= 4
        |)
        |SELECT start AS c_custkey, CAST(MAX(depth) AS INT) AS depth,
        |  MIN(cur) AS root
        |FROM up GROUP BY start ORDER BY c_custkey""".stripMargin,
    "q60_variant" ->
      """SELECT event_type,
        |  CAST(SUM(CAST(props->>'k' AS INT)) AS BIGINT) AS k_sum,
        |  CAST(MIN(CAST(props->>'k' AS INT)) AS INT) AS k_min,
        |  CAST(MAX(CAST(props->>'k' AS INT)) AS INT) AS k_max,
        |  COUNT(*) AS n
        |FROM events GROUP BY event_type ORDER BY event_type""".stripMargin,
    "q61_lateral" ->
      """SELECT c.c_custkey, t.n_orders,
        |  t.total
        |FROM customer c,
        |LATERAL (
        |  SELECT COUNT(*) AS n_orders,
        |    CAST(CAST(SUM(CAST(o.o_totalprice AS DECIMAL(18,6))) AS DECIMAL(38,4)) AS DOUBLE) AS total
        |  FROM orders o WHERE o.o_custkey = c.c_custkey) t
        |WHERE c.c_custkey <= 300
        |ORDER BY c.c_custkey""".stripMargin,
    "q59_corrupt_records" ->
      """SELECT * FROM (
        |  SELECT n_nationkey, n_name, CAST(NULL AS VARCHAR) AS corrupt
        |  FROM nation WHERE n_nationkey % 5 <> 0
        |  UNION ALL
        |  SELECT CAST(NULL AS INT), CAST(NULL AS VARCHAR),
        |    '{"broken": ' || n_nationkey
        |  FROM nation WHERE n_nationkey % 5 = 0)
        |ORDER BY corrupt NULLS FIRST, n_nationkey""".stripMargin)
}
