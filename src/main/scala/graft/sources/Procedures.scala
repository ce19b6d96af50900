package graft.sources

import java.util
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.GenericInternalRow
import org.apache.spark.sql.connector.catalog.procedures.{BoundProcedure, ProcedureParameter, UnboundProcedure}
import org.apache.spark.sql.connector.read.{LocalScan, Scan}
import org.apache.spark.sql.types.{BooleanType, DataType, LongType, StringType, StructField, StructType}
import org.apache.spark.unsafe.types.UTF8String

/** One stored procedure of [[GraftCatalog]] — THE place it is named,
  * described and typed: `CALL graft_cat.system.<name>(params)` binds the
  * `params`, runs `body` on the driver and returns its rows as one
  * [[RowsScan]] under the `out` columns (all non-nullable). A `String`
  * value in a row is converted to Spark's `UTF8String`.
  *
  * `listProcedures`, `loadProcedure` and its unknown-name error all read
  * [[CatalogProc.All]]: a row added there is listed, callable and named
  * in the error at once. */
final case class CatalogProc(name: String, description: String,
    params: Seq[ProcedureParameter], out: Seq[(String, DataType)],
    body: (GraftCatalog, InternalRow) => Seq[Seq[Any]]) {

  private val schema = StructType(out.map { case (n, t) =>
    StructField(n, t, nullable = false) })

  def load(catalog: GraftCatalog): UnboundProcedure = new UnboundProcedure {
    override def name(): String = CatalogProc.this.name
    override def description(): String = CatalogProc.this.description
    override def bind(inputType: StructType): BoundProcedure = new BoundProcedure {
      override def name(): String = CatalogProc.this.name
      override def description(): String = CatalogProc.this.description
      override def parameters(): Array[ProcedureParameter] = params.toArray
      override def isDeterministic: Boolean = false
      override def call(input: InternalRow): util.Iterator[Scan] = {
        val rows = body(catalog, input).map { r =>
          new GenericInternalRow(r.map {
            case s: String => UTF8String.fromString(s)
            case v => v
          }.toArray): InternalRow
        }
        util.Collections.singletonList[Scan](
          new RowsScan(schema, rows.toArray)).iterator()
      }
    }
  }
}

/** Driver-side rows surfaced to SQL: procedure results and the
  * manifest-backed metadata tables ([[MetaTable]]). */
private[sources] class RowsScan(schema: StructType, rs: Array[InternalRow])
    extends LocalScan {
  override def rows(): Array[InternalRow] = rs
  override def readSchema(): StructType = schema
}

object CatalogProc {

  private def in(name: String, t: DataType, default: String = "",
      comment: String = ""): ProcedureParameter = {
    val b = ProcedureParameter.in(name, t)
    if (default.nonEmpty) b.defaultValue(default)
    if (comment.nonEmpty) b.comment(comment)
    b.build()
  }
  private val table = in("table", StringType)
  private val name = in("name", StringType)

  private def str(input: InternalRow, i: Int): String =
    input.getUTF8String(i).toString
  private def longs(names: String*): Seq[(String, DataType)] =
    names.map(_ -> LongType)
  private def one(values: Any*): Seq[Seq[Any]] = Seq(values)

  /** A `(table, name)` branch procedure: after `f` succeeds, the cached
    * handle of the branch is dropped — the call re-seeded or removed the
    * branch log, and a cached handle would read the pre-call view. */
  private def onBranch(f: (SegTable, String) => Seq[Any])
      : (GraftCatalog, InternalRow) => Seq[Seq[Any]] = (c, input) => {
    val (tbl, nm) = (str(input, 0), str(input, 1))
    val row = f(c.segTable(tbl), nm)
    c.invalidateBranchHandle(tbl, nm)
    Seq(row)
  }

  /** `compact('db.t' [, target_bytes])` — small-file compaction. */
  val Compact = CatalogProc("compact",
    "merge segment files smaller than target_bytes (small-file compaction)",
    Seq(table, in("target_bytes", LongType,
      default = (128L * 1024 * 1024).toString,
      comment = "segments below this size are merge candidates")),
    longs("merged_groups", "segments_before", "segments_after"),
    (c, input) => {
      val (g, before, after) = c.segTable(str(input, 0)).compact(input.getLong(1))
      one(g, before, after)
    })

  /** `expire_versions('db.t', keep_last)` — bounds manifest history and
    * garbage-collects segment files no retained version references. */
  val ExpireVersions = CatalogProc("expire_versions",
    "retain only the last keep_last manifest versions; GC unreferenced segments",
    Seq(table, in("keep_last", LongType)),
    longs("versions_expired", "files_deleted"),
    (c, input) => {
      val (expired, deleted) =
        c.segTable(str(input, 0)).expire(input.getLong(1).toInt)
      one(expired, deleted)
    })

  /** `vacuum('db.t' [, max_age_ms])` — orphan-file GC. */
  val Vacuum = CatalogProc("vacuum",
    "delete unreferenced table-dir files older than max_age_ms (orphan GC)",
    Seq(table, in("max_age_ms", LongType, default = (60L * 60 * 1000).toString,
      comment = "grace period protecting in-flight writers' staged files")),
    longs("orphans_deleted", "live_files"),
    (c, input) => {
      val (deleted, kept) = c.segTable(str(input, 0)).vacuum(input.getLong(1))
      one(deleted, kept)
    })

  /** `clone('db.src', 'db.dst')` — zero-copy shallow clone
    * ([[GraftCatalog.cloneTable]]). */
  val Clone = CatalogProc("clone",
    "zero-copy shallow clone: new table referencing the source's current segments",
    Seq(in("source", StringType), in("target", StringType)),
    longs("segments_referenced", "bytes_referenced", "source_version"),
    (c, input) => {
      val (segs, bytes, srcV) = c.cloneTable(str(input, 0), str(input, 1))
      one(segs, bytes, srcV)
    })

  /** `zorder('db.t', 'col_a', 'col_b' [, n])` — multi-dimensional
    * clustering rewrite (Delta's OPTIMIZE ZORDER BY): rewrites the
    * table's current rows ordered by the Morton interleave of two BIGINT
    * or STRING columns (strings cluster by their order-preserving 8-byte
    * prefix — the same encoding their zone maps store), so each segment
    * covers a small RECTANGLE of the (a, b) key space and the existing
    * zone maps prune range predicates on EITHER column (or both) to a
    * handful of segments. A declared single-column sort (`graft.sort`)
    * makes one column's zone maps disjoint at the other's expense;
    * z-order is the two-column compromise — bounded range per segment on
    * both axes.
    *
    * Mechanics: bucket scale comes from MANIFEST zone maps (no data
    * scan); each value maps to a 0..255 bucket, the 16-bit Morton key
    * range-partitions into `n` write tasks sorted within partitions, and
    * the result lands through the table's normal INSERT OVERWRITE path —
    * one atomic version step (truncate + new segments), CHECK
    * constraints re-verified, old versions still readable (time travel),
    * replaced files reclaimed by expire/vacuum. Reading and overwriting
    * the SAME table is safe because data files are immutable: the scan
    * reads the pre-rewrite segment files while the commit only swaps
    * manifest refs. At 100 TB this is the standard nightly layout job:
    * one distributed sort of the data, zero driver-side rows. */
  val ZOrder = CatalogProc("zorder",
    "rewrite the table clustered by the Morton interleave of two BIGINT or STRING columns",
    Seq(table, in("col_a", StringType), in("col_b", StringType),
      in("num_partitions", LongType, default = "8",
        comment = "write tasks = output segments (unpartitioned table)")),
    longs("segments_before", "segments_after", "rows_rewritten"),
    (catalog, input) => {
      val tname = str(input, 0)
      val cA = str(input, 1)
      val cB = str(input, 2)
      val nParts = input.getLong(3).toInt
      require(nParts > 0, s"num_partitions must be positive, got $nParts")
      val st = catalog.segTable(tname)
      require(!st.hasDeclaredSort,
        s"$tname declares a write sort order (graft.sort) — drop it " +
          "before z-ordering; the two clustering contracts conflict")
      val before = st.currentSegmentCount.toLong
      (st.columnBounds(cA), st.columnBounds(cB)) match {
        case (Some((mnA, mxA)), Some((mnB, mxB))) =>
          val spark = org.apache.spark.sql.SparkSession.active
          import org.apache.spark.sql.functions.{col, expr}
          // bucket width so (max-min)/div fits 0..255; BigInt driver-side
          // arithmetic (the span of two Long extremes overflows Long)
          def divisor(mn: Long, mx: Long): Long =
            ((BigInt(mx) - BigInt(mn)) / 256 + 1).toLong
          val (dA, dB) = (divisor(mnA, mxA), divisor(mnB, mxB))
          val full = s"${catalog.name()}.$tname"
          // a STRING column buckets by its order-preserving 8-byte
          // prefix — the SAME encoding its zone maps store
          // ([[SegStore.strPrefix]]), spelled in codegen'd built-ins:
          // unsigned big-endian hex -> decimal, then the sign-bit flip
          def keyExpr(c: String): String =
            if (st.columnIsString(c))
              s"CAST(CAST(conv(rpad(hex(substring(CAST(`$c` AS BINARY), 1, 8)), " +
                "16, '0'), 16, 10) AS DECIMAL(20,0)) - 9223372036854775808 AS BIGINT)"
            else s"`$c`"
          val z = graft.ext.Layout.morton8(
            expr(s"(${keyExpr(cA)} - ${mnA}L) div ${dA}L"),
            expr(s"(${keyExpr(cB)} - ${mnB}L) div ${dB}L"))
          val tmp = s"graft_zorder_${java.util.UUID.randomUUID.toString.take(8)}"
          spark.table(full)
            .withColumn("__graft_z", z)
            .repartitionByRange(nParts, col("__graft_z"))
            .sortWithinPartitions("__graft_z")
            .drop("__graft_z")
            .createOrReplaceTempView(tmp)
          // label the overwrite 'zorder' (content-identical, change-feed
          // skippable); cleared in finally so a failed rewrite can never
          // mislabel a later genuine overwrite
          st.markZorderRewrite()
          try spark.sql(s"INSERT OVERWRITE $full SELECT * FROM $tmp")
          finally {
            st.clearZorderRewrite()
            spark.catalog.dropTempView(tmp)
          }
          // post-rewrite numbers from the manifest — metadata, not a scan
          one(before, st.currentSegmentCount.toLong, st.currentRowCount)
        case _ => // empty table (or no stats): nothing to rewrite
          one(before, before, 0L)
      }
    })

  /** `tag('db.t', 'name' [, version])` — pin a named ref (Iceberg tag) to
    * a snapshot; `VERSION AS OF 'name'` then reads it. The ref is an
    * ordinary `graft.tag.<name>` property commit: it versions with the
    * table, persists in the manifest, and UNSET TBLPROPERTIES drops it.
    * Version defaults to the current head (-1 sentinel). */
  val Tag = CatalogProc("tag",
    "pin a named ref to a snapshot version, readable via VERSION AS OF 'name'",
    Seq(table, name, in("version", LongType, default = "-1",
      comment = "snapshot to pin; -1 = current head")),
    longs("pinned_version"),
    (c, input) => {
      val v = input.getLong(2)
      one(c.segTable(str(input, 0))
        .createTag(str(input, 1), if (v < 0) None else Some(v)))
    })

  /** `rollback('db.t', version)` — restore table content to a snapshot as
    * a NEW version ([[SegTable.rollback]]); history stays intact and
    * time-travelable. */
  val Rollback = CatalogProc("rollback",
    "restore the table's content to a historical version (history preserved)",
    Seq(table, in("version", LongType)),
    longs("restored_version", "new_version"),
    (c, input) => {
      val (from, now) = c.segTable(str(input, 0)).rollback(input.getLong(1))
      one(from, now)
    })

  /** `evolve_spec('db.t', 'spec')` — partition-spec evolution
    * ([[SegTable.evolveSpec]]): one metadata-only commit changes how
    * future writes are routed ('col' = identity, 'days:col',
    * 'bucket:n:col', '' = unpartition); no data is rewritten and every
    * historical version stays readable. Per-segment spec stamps
    * ([[Seg.spec]]) keep bucket pruning / storage-partitioned joins /
    * keyed compaction honest across the boundary. */
  val EvolveSpec = CatalogProc("evolve_spec",
    "change the table's partition spec for future writes (metadata-only)",
    Seq(table, in("spec", StringType,
      comment = "'col' | 'days:col' | 'bucket:n:col' | '' = unpartition")),
    Seq("old_spec" -> StringType, "new_spec" -> StringType, "version" -> LongType),
    (c, input) => {
      val raw = str(input, 1).trim
      val (old, now, v) = c.segTable(str(input, 0))
        .evolveSpec(if (raw.isEmpty) None else Some(raw))
      one(old.getOrElse(""), now.getOrElse(""), v)
    })

  /** `branch('db.t', 'dev')` — create a named writable branch
    * ([[SegTable.createBranch]]): a second version log in the table's
    * directory seeded at the current head. Read and write it as
    * `graft_cat.db.t.branch_dev`; merge back with fast_forward. */
  val Branch = CatalogProc("branch",
    "create a named writable branch of the table (zero-copy)",
    Seq(table, name), longs("forked_at_version"),
    (c, input) => one(c.segTable(str(input, 0)).createBranch(str(input, 1))))

  /** `fast_forward('db.t', 'dev')` — adopt branch `dev`'s head as main's
    * next version ([[SegTable.fastForward]]); refuses if main advanced
    * past the fork point (diverged). */
  val FastForward = CatalogProc("fast_forward",
    "fast-forward the main table to a branch's head (metadata-only)",
    Seq(table, name), longs("main_version", "branch_version", "commits_merged"),
    onBranch { (t, nm) =>
      val (mainV, branchV, merged) = t.fastForward(nm)
      Seq(mainV, branchV, merged)
    })

  /** `cherry_pick('db.t', 'dev')` — adopt the branch's commits onto a
    * main that advanced past the fork point ([[SegTable.cherryPick]]),
    * when the segment sets they touch are disjoint; refuses on overlap. */
  val CherryPick = CatalogProc("cherry_pick",
    "adopt a branch's commits onto an advanced main when their touched " +
      "segment sets are disjoint (metadata-only); refuses on overlap",
    Seq(table, name), longs("main_version", "branch_version", "commits_picked"),
    onBranch { (t, nm) =>
      val (mainV, branchV, picked) = t.cherryPick(nm)
      Seq(mainV, branchV, picked)
    })

  /** `drop_branch('db.t', 'dev')` — delete the branch's log; branch-only
    * segment files become vacuum-reclaimable orphans
    * ([[SegTable.dropBranch]]). */
  val DropBranch = CatalogProc("drop_branch",
    "drop a named branch (its exclusive files fall to vacuum)",
    Seq(table, name), Seq("dropped" -> BooleanType),
    onBranch((t, nm) => Seq(t.dropBranch(nm))))

  /** Persisted-index inventory (`CALL system.indexes('db')`): one row per
    * index artifact discovered by its `_meta` watermark table — family
    * (minhash-signatures / exact-grams / component-labels /
    * component-labels-capped / ivf-cells / pq-codes / sq-codes /
    * nsw-edges / bm25-postings), index name, the data table, its live
    * row count (manifest arithmetic, deletion vectors subtracted),
    * segment count, and the data table's committed head version. The
    * operational complement of the ensure*() maintenance entry points:
    * which derived artifacts exist and how big they are, answerable
    * without touching data. The families, their table names and their
    * classification priority all come from [[graft.ext.IndexFamily.All]]. */
  val Indexes = CatalogProc("indexes",
    "list persisted index artifacts (dedup/ann/pq/search) in a namespace",
    Seq(in("namespace", StringType, default = "'db'")),
    Seq("family" -> StringType, "index_name" -> StringType,
      "data_table" -> StringType, "live_rows" -> LongType,
      "n_segments" -> LongType, "data_version" -> LongType),
    (catalog, input) => {
      val ns = str(input, 0)
      // candidates in priority order (IndexFamily.candidates). Base-
      // family ensure entry points reject index names ending in their
      // prefix's sub-family suffixes (CdcIndex.requireBaseFamilyName), so
      // the suffix-specific candidate is authoritative for all indexes
      // built through this codebase — but a LEGACY artifact whose name
      // carries a reserved suffix still resolves via the sibling-family
      // fallback (its sub-family data table is absent, its base-family
      // one exists) instead of silently vanishing from the inventory.
      catalog.listTables(Array(ns)).toSeq
        .map(_.name()).sorted.flatMap { t =>
          // first candidate whose data table resolves wins; a meta with
          // NO resolvable data table = a torn build the next ensure*()
          // will rebuild — not an inventory row
          graft.ext.IndexFamily.candidates(t).iterator.flatMap {
            case (f, display, dataName) =>
              try {
                val seg = catalog.segTable(s"$ns.$dataName")
                Some(Seq(f.id, display, s"$ns.$dataName", seg.currentLiveRows,
                  seg.currentSegmentCount.toLong, seg.currentVersion))
              } catch { case _: Exception => None }
          }.take(1).toSeq
        }
    })

  // Cross-table transaction control — the SQL surface of [[SegTxn]]
  // (Iceberg ships the same capability through its REST catalog's
  // multi-table commit; a single-file engine like the reference's DuckDB
  // gets it implicitly from one database file,
  // `transformation.py:517-547`):
  //
  //   CALL graft_cat.system.txn_begin()    -- returns txn_id
  //   INSERT / INSERT OVERWRITE ...        -- stages (invisible)
  //   CALL graft_cat.system.txn_commit()   -- all-or-nothing publish
  //   CALL graft_cat.system.txn_abort()    -- drop staged writes
  //   CALL graft_cat.system.txn_recover()  -- roll forward torn txns
  //
  // All four are zero-argument; one result row each.
  val TxnBegin = CatalogProc("txn_begin",
    "open a cross-table transaction (writes stage until commit)",
    Nil, Seq("txn_id" -> StringType), (_, _) => one(SegTxn.begin()))
  val TxnCommit = CatalogProc("txn_commit",
    "atomically publish every staged write (all-or-nothing)",
    Nil, longs("tables_committed"), (_, _) => one(SegTxn.commit().toLong))
  val TxnAbort = CatalogProc("txn_abort",
    "drop the open transaction and its staged segment files",
    Nil, Seq("aborted" -> BooleanType), (_, _) => {
      val was = SegTxn.active
      SegTxn.abort()
      one(was)
    })
  val TxnRecover = CatalogProc("txn_recover",
    "roll forward transactions that crashed after their commit point",
    Nil, longs("recovered"), (c, _) => one(c.recoverTxns().toLong))

  /** Every procedure, in `listProcedures` order. */
  val All: Seq[CatalogProc] = Seq(Compact, ExpireVersions, Vacuum, Clone,
    ZOrder, Tag, Rollback, EvolveSpec, Branch, FastForward, CherryPick,
    DropBranch, Indexes, TxnBegin, TxnCommit, TxnAbort, TxnRecover)
}
