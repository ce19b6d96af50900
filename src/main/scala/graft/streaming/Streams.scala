package graft.streaming

import graft.ext.IndexFamily
import graft.ops.{dsum, events, scratchDir, sessionToken, Q}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode, StatefulProcessor, TTLConfig, TimeMode, Trigger}
import org.apache.spark.sql.types._
import java.nio.file.{Files, Path, Paths}
import java.util.Comparator

/** Structured Streaming over the `events` fixture (SURVEY.md §2.9 — the
  * reference is batch-only; this is the north-star streaming extension).
  *
  * The tumbling-window query is a REAL `readStream` pipeline: file source
  * with explicit schema → watermark → windowed aggregate → memory sink,
  * driven to completion synchronously with processAllAvailable (the local
  * smoke pattern from the public Spark docs). Complete output mode means
  * the final in-memory table equals the batch answer, which is what the
  * DuckDB oracle states.
  *
  * Session windows use the built-in `session_window` (same operator Spark
  * uses under streaming); the oracle restates the gap semantics with
  * lag + cumulative-sum.
  *
  * Scale: windowed aggregation state is per (window, key); watermarks
  * bound the state store. At 100 TB/day the file source becomes Kafka and
  * the memory sink a parquet/Delta sink — the plan in the middle is
  * unchanged.
  */
object Streams {

  /** Row type for the stateful stream (top-level in the object — nested
    * class encoders don't resolve). */
  case class Ev(event_id: Long, user_id: Long, value: Double, tsu: Long)

  /** Parquet-on-disk schema of events. `ts` has been TIMESTAMP(NANOS)
    * (→ long under nanosAsLong) in some driver testdata generations and
    * TIMESTAMP(MICROS) (→ TIMESTAMP_NTZ) in others — a streaming read
    * needs the schema up front, so sniff the footer with a batch read and
    * normalize to session-zone TimestampType after (UTC session ⇒ NTZ→LTZ
    * is the wall-clock identity, same dispatch as `ops.events`). */
  private def eventsStream(s: SparkSession, d: String): DataFrame = {
    val tsType = s.read.parquet(s"$d/events.parquet").schema("ts").dataType
    val raw = s.readStream
      .schema(StructType(Seq(
        StructField("event_id", LongType),
        StructField("ts", tsType),
        StructField("user_id", LongType),
        StructField("event_type", StringType),
        StructField("value", DoubleType),
        StructField("props", StringType))))
      .option("pathGlobFilter", "events.parquet")
      .parquet(d)
    tsType match {
      case LongType => raw.withColumn("ts", expr("timestamp_micros(ts DIV 1000)"))
      case _ => raw.withColumn("ts", col("ts").cast("timestamp"))
    }
  }

  private def deleteRec(p: Path): Unit =
    if (Files.exists(p))
      Files.walk(p).sorted(Comparator.reverseOrder[Path]()).forEach(f => Files.delete(f))

  /** Stage `df` as the single parquet file `file` with an explicit modTime —
    * the file stream source (maxFilesPerTrigger=1) orders batches by
    * modification time, so explicit stamps make the micro-batch sequence
    * deterministic regardless of write speed. */
  private def stageBatch(df: DataFrame, stage: String, file: Path, modTime: Long,
      format: String = "parquet"): Unit = {
    df.coalesce(1).write.mode("overwrite").format(format).save(stage)
    val part = new java.io.File(stage).listFiles
      .find(f => f.getName.startsWith("part-") && !f.getName.endsWith(".crc")).get
    Files.createDirectories(file.getParent)
    Files.move(part.toPath, file)
    file.toFile.setLastModified(modTime)
  }

  /** Split boundary used by both staged-stream queries: midpoint of the
    * event-time range in microseconds (integer arithmetic — the oracle
    * states the same floor division). */
  private def tsMid(ev: DataFrame): (Long, Long, Long) = {
    val r = ev.agg(min(unix_micros(col("ts"))), max(unix_micros(col("ts")))).head()
    val (tmin, tmax) = (r.getLong(0), r.getLong(1))
    (tmin, tmax, (tmin + tmax) / 2)
  }

  // ---- shared fixture staging -------------------------------------------
  // Staging a micro-batch fixture is a Spark write job; the staged
  // content is a pure function of (session, source dir). Memoize it so a
  // full bench/verify run pays each staging job ONCE — queries then COPY
  // the local file into their private source dirs with their own
  // modification stamps (a local copy keeps per-query batch ordering
  // without re-running the job). Hard links would be wrong here:
  // setLastModified mutates the shared inode.

  private val stagedCache =
    new java.util.concurrent.ConcurrentHashMap[String, Path]()
  private val midCache =
    new java.util.concurrent.ConcurrentHashMap[String, java.lang.Long]()

  /** Event-time midpoint of the events fixture, computed once per
    * (session, dir). */
  private def eventsMid(s: SparkSession, d: String): Long =
    midCache.computeIfAbsent(s"${sessionToken(s)}|$d",
      _ => tsMid(events(s, d).select(col("ts")))._3).longValue()

  /** Materialize `df` once per (session, dir, tag) as one local file;
    * later calls return the cached path. */
  private def stagedOnce(s: SparkSession, d: String, tag: String,
      format: String = "parquet")(df: => DataFrame): Path =
    stagedCache.computeIfAbsent(s"${sessionToken(s)}|$d|$tag", { _ =>
      val dir = scratchDir(s,
        s"staged_${tag}_${(d.hashCode & 0x7fffffff).toHexString}")
      deleteRec(Paths.get(dir))
      val ext = if (format == "json") "json" else "parquet"
      val p = Paths.get(s"$dir/data.$ext")
      stageBatch(df, s"$dir/stage", p, System.currentTimeMillis(), format)
      p
    })

  /** Canonical columns every staged events-stream query reads a subset
    * of (the parquet reader projects by name). */
  private def evAll(s: SparkSession, d: String): DataFrame =
    events(s, d).select(col("event_id"), col("user_id"), col("event_type"),
      col("value"), col("ts"))

  /** The two event-time halves, staged once. */
  private def stagedHalves(s: SparkSession, d: String): (Path, Path) = {
    val mid = eventsMid(s, d)
    (stagedOnce(s, d, "half_lo")(evAll(s, d).filter(unix_micros(col("ts")) < mid)),
      stagedOnce(s, d, "half_hi")(evAll(s, d).filter(unix_micros(col("ts")) >= mid)))
  }

  /** Place a staged file into a query's private source dir under its own
    * modification time (file-source batch order follows mod time). */
  private def copyAs(src: Path, dst: Path, modTime: Long): Unit = {
    Files.createDirectories(dst.getParent)
    Files.copy(src, dst, java.nio.file.StandardCopyOption.REPLACE_EXISTING)
    dst.toFile.setLastModified(modTime)
  }

  /** Run a streaming query with `spark.sql.shuffle.partitions` pinned to
    * 4: stateful operators keep one state store PER shuffle partition and
    * every micro-batch commits every store, so the session's 32 bench
    * partitions mean 8x the checkpoint I/O for identical results at this
    * fixture volume (a cluster sizes this to executor count; the value is
    * captured into the checkpoint at first start either way — state
    * partitioning is keyed-hash, so the RESULT is partition-count
    * independent). Restored in a finally that runs AFTER the query
    * stops — micro-batch planning reads the conf asynchronously after
    * start(), and a start() failure must not leak the narrowed conf into
    * the shared session. */
  private def withStreamShuffle[T](s: SparkSession)(body: => T): T = {
    val saved = s.conf.get("spark.sql.shuffle.partitions")
    s.conf.set("spark.sql.shuffle.partitions", "4")
    try body finally s.conf.set("spark.sql.shuffle.partitions", saved)
  }

  /** Tumbling 1-hour windows per event_type via an actual streaming query. */
  val tumbling: Q = (s, d) => {
    s.conf.set("spark.sql.ansi.enabled", "false")
    // the file stream source wants a directory; glob-filter to the one table
    val stream = eventsStream(s, d)
    val agg = stream
      .withWatermark("ts", "1 hour")
      .groupBy(window(col("ts"), "1 hour"), col("event_type"))
      .agg(count(lit(1)).as("n"), dsum(col("value")).as("value_sum"))
    val sinkName = s"graft_stream_tumbling_${sessionToken(s)}"
    withStreamShuffle(s) {
      val query = agg.writeStream
        .outputMode("complete")
        .format("memory")
        .queryName(sinkName)
        .start()
      try query.processAllAvailable()
      finally query.stop()
    }
    s.table(sinkName)
      .select(
        date_format(col("window.start"), "yyyy-MM-dd HH:mm:ss").as("window_start"),
        col("event_type"), col("n"), col("value_sum"))
      .orderBy("window_start", "event_type")
  }

  /** Session windows (5-minute gap) per user — built-in session_window. */
  val session: Q = (s, d) =>
    events(s, d)
      .groupBy(session_window(col("ts"), "5 minutes"), col("user_id"))
      .agg(count(lit(1)).as("n_events"), dsum(col("value")).as("value_sum"))
      .select(
        col("user_id"),
        date_format(col("session_window.start"), "yyyy-MM-dd HH:mm:ss").as("session_start"),
        date_format(col("session_window.end"), "yyyy-MM-dd HH:mm:ss").as("session_end"),
        col("n_events"), col("value_sum"))
      .orderBy("user_id", "session_start")

  /** Custom streaming state via flatMapGroupsWithState over a REAL
    * two-micro-batch file stream: a per-user running high-water mark that
    * emits only strictly-new maxima. Batch 0 carries the older time half,
    * batch 1 the newer, so the state built in batch 0 must survive into
    * batch 1 for the result to match the oracle's global prefix-maxima
    * window — the memory sink accumulating exactly the batch-1-suppressed
    * stream IS the proof of state persistence.
    *
    * Scale: state is one double per user key, partitioned by the group
    * key; at 100 TB the file source becomes Kafka and the handler is
    * unchanged (mapGroupsWithState shuffles each batch by key once).
    */
  val statefulHighWater: Q = (s, d) => {
    import s.implicits._
    val dir = scratchDir(s, "stream_hw")
    deleteRec(Paths.get(dir))
    val (lo, hi) = stagedHalves(s, d)
    val now = System.currentTimeMillis()
    copyAs(lo, Paths.get(s"$dir/in/b0.parquet"), now - 60000)
    copyAs(hi, Paths.get(s"$dir/in/b1.parquet"), now - 30000)
    val schema = StructType(Seq(
      StructField("event_id", LongType), StructField("user_id", LongType),
      StructField("value", DoubleType), StructField("ts", TimestampType)))
    val stream = s.readStream.schema(schema)
      .option("maxFilesPerTrigger", "1")
      .parquet(s"$dir/in")
      .select(col("event_id"), col("user_id"), col("value"),
        unix_micros(col("ts")).as("tsu"))
      .as[Ev]
    val flow = stream
      .groupByKey(_.user_id)
      .flatMapGroupsWithState(OutputMode.Append, GroupStateTimeout.NoTimeout) {
        (uid: Long, batch: Iterator[Ev], state: GroupState[Double]) =>
          var hw = state.getOption.getOrElse(Double.NegativeInfinity)
          // the batch iterator is unordered; impose event-time order so
          // emissions are the deterministic prefix maxima
          val out = batch.toSeq.sortBy(e => (e.tsu, e.event_id)).flatMap { e =>
            if (e.value > hw) { hw = e.value; Some((uid, e.event_id, e.value)) }
            else None
          }
          state.update(hw)
          out.iterator
      }
      .toDF("user_id", "event_id", "value")
    val sinkName = s"graft_stream_highwater_${sessionToken(s)}"
    withStreamShuffle(s) {
      val query = flow.writeStream.outputMode("append")
        .format("memory").queryName(sinkName).start()
      try query.processAllAvailable()
      finally query.stop()
    }
    s.table(sinkName)
      .select(col("user_id"), col("event_id"), col("value"))
      .orderBy("user_id", "event_id")
  }

  /** Checkpoint-recovery proof — the exactly-once production property:
    * the SAME stateful flow as [[statefulHighWater]], but the query is
    * STOPPED after batch 0 and a brand-new StreamingQuery instance
    * resumes from the checkpointLocation to process batch 1. The batch-1
    * suppressions are only correct if the per-user high-water state came
    * back from the checkpointed state store — matching the oracle's
    * global prefix-maxima across both halves IS the recovery proof.
    * foreachBatch appends to parquet (the memory sink dies with its
    * query); committed batches are not re-emitted on restart, so the
    * at-rest output is exactly-once. At 100 TB this is the
    * kill-and-reschedule path every long-running job exercises. */
  val checkpointRestart: Q = (s, d) => {
    import s.implicits._
    val dir = scratchDir(s, "stream_ckpt")
    deleteRec(Paths.get(dir))
    val (lo, hi) = stagedHalves(s, d)
    val now = System.currentTimeMillis()
    copyAs(lo, Paths.get(s"$dir/in/b0.parquet"), now - 60000)
    val schema = StructType(Seq(
      StructField("event_id", LongType), StructField("user_id", LongType),
      StructField("value", DoubleType), StructField("ts", TimestampType)))
    val outDir = s"$dir/out"
    def start() = s.readStream.schema(schema)
      .option("maxFilesPerTrigger", "1")
      .parquet(s"$dir/in")
      .select(col("event_id"), col("user_id"), col("value"),
        unix_micros(col("ts")).as("tsu"))
      .as[Ev]
      .groupByKey(_.user_id)
      .flatMapGroupsWithState(OutputMode.Append, GroupStateTimeout.NoTimeout) {
        (uid: Long, batch: Iterator[Ev], state: GroupState[Double]) =>
          var hw = state.getOption.getOrElse(Double.NegativeInfinity)
          val out = batch.toSeq.sortBy(e => (e.tsu, e.event_id)).flatMap { e =>
            if (e.value > hw) { hw = e.value; Some((uid, e.event_id, e.value)) }
            else None
          }
          state.update(hw)
          out.iterator
      }
      .toDF("user_id", "event_id", "value")
      .writeStream.outputMode("append")
      .option("checkpointLocation", s"$dir/ckpt")
      .foreachBatch { (batch: DataFrame, _: Long) =>
        batch.write.mode("append").parquet(outDir)
      }
      .start()
    withStreamShuffle(s) {
      val q1 = start()
      try q1.processAllAvailable() finally q1.stop()
      // the late half arrives while no query is running; the restarted
      // instance discovers it and must resume the state store to suppress
      // non-maxima correctly
      copyAs(hi, Paths.get(s"$dir/in/b1.parquet"), now - 30000)
      val q2 = start()
      try q2.processAllAvailable() finally q2.stop()
    }
    s.read.parquet(outDir)
      .select(col("user_id"), col("event_id"), col("value"))
      .orderBy("user_id", "event_id")
  }

  /** Input/output rows for the transformWithState query (top-level for
    * encoder resolution, like [[Ev]]). */
  case class EvT(event_id: Long, user_id: Long, event_type: String, tsu: Long)
  case class SeqOut(user_id: Long, event_id: Long, seq: Long, new_type: Int)

  /** Spark 4 arbitrary-state processor: per-user event sequence numbers
    * (ValueState counter) plus a first-seen flag per event_type (MapState
    * set). Unlike [Group]StateTimeout-era flatMapGroupsWithState, a
    * processor composes MULTIPLE named state variables per key, each its
    * own column family in the RocksDB store — the API Spark 4 positions
    * for production stateful pipelines (TTL, timers, initial state).
    * State per user is one long + one bool per distinct type: watermark-
    * free but naturally bounded by the type vocabulary.
    */
  class SeqNoProcessor extends StatefulProcessor[Long, EvT, SeqOut] {
    @transient private var nSeen: org.apache.spark.sql.streaming.ValueState[Long] = _
    @transient private var seenTypes: org.apache.spark.sql.streaming.MapState[String, Boolean] = _
    override def init(outputMode: OutputMode, timeMode: TimeMode): Unit = {
      nSeen = getHandle.getValueState[Long]("nSeen",
        org.apache.spark.sql.Encoders.scalaLong, TTLConfig.NONE)
      seenTypes = getHandle.getMapState[String, Boolean]("seenTypes",
        org.apache.spark.sql.Encoders.STRING,
        org.apache.spark.sql.Encoders.scalaBoolean, TTLConfig.NONE)
    }
    override def handleInputRows(uid: Long, rows: Iterator[EvT],
        tv: org.apache.spark.sql.streaming.TimerValues): Iterator[SeqOut] = {
      var n = if (nSeen.exists()) nSeen.get() else 0L
      // batch iterators are unordered; impose event-time order so the
      // sequence is the deterministic arrival index
      val out = rows.toSeq.sortBy(e => (e.tsu, e.event_id)).map { e =>
        n += 1
        val isNew = !seenTypes.containsKey(e.event_type)
        if (isNew) seenTypes.updateValue(e.event_type, true)
        SeqOut(uid, e.event_id, n, if (isNew) 1 else 0)
      }
      nSeen.update(n)
      out.iterator
    }
  }

  /** Per-user sequence numbering + first-seen-type detection via the
    * Spark 4 `transformWithState` API over the same REAL two-micro-batch
    * file stream as ext21. Batch 0 carries the older event-time half, so
    * sequence numbers continuing (not restarting) in batch 1 and types
    * first seen in batch 0 NOT flagging again in batch 1 together prove
    * both state variables persisted across micro-batches. The operator
    * requires the RocksDB state store provider (scoped + restored here).
    *
    * Scale: state is one counter and one small type-set per user key in
    * RocksDB (disk-backed, so state size is bounded by local disk, not
    * executor heap); each batch shuffles once on the group key.
    */
  val transformWithStateSeq: Q = (s, d) => {
    import s.implicits._
    val dir = scratchDir(s, "stream_tws")
    deleteRec(Paths.get(dir))
    val (lo, hi) = stagedHalves(s, d)
    val now = System.currentTimeMillis()
    copyAs(lo, Paths.get(s"$dir/in/b0.parquet"), now - 60000)
    copyAs(hi, Paths.get(s"$dir/in/b1.parquet"), now - 30000)
    val schema = StructType(Seq(
      StructField("event_id", LongType), StructField("user_id", LongType),
      StructField("event_type", StringType), StructField("ts", TimestampType)))
    // getAll holds only EXPLICITLY-set entries; conf.get would return the
    // class default for an unset key and the restore below would then
    // "restore" an explicit value onto a previously-unset conf (the r6
    // ConfLeakSpec catch)
    val savedProvider =
      s.conf.getAll.get("spark.sql.streaming.stateStore.providerClass")
    s.conf.set("spark.sql.streaming.stateStore.providerClass",
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    try {
      val stream = s.readStream.schema(schema)
        .option("maxFilesPerTrigger", "1")
        .parquet(s"$dir/in")
        .filter(col("user_id") % 5 === 0)
        .select(col("event_id"), col("user_id"), col("event_type"),
          unix_micros(col("ts")).as("tsu"))
        .as[EvT]
      val flow = stream.groupByKey(_.user_id)
        .transformWithState(new SeqNoProcessor, TimeMode.None(), OutputMode.Append())
      val sinkName = s"graft_stream_tws_${sessionToken(s)}"
      withStreamShuffle(s) {
        val query = flow.toDF.writeStream.outputMode("append")
          .format("memory").queryName(sinkName).start()
        try query.processAllAvailable() finally query.stop()
      }
      s.table(sinkName)
        .select(col("user_id"), col("event_id"), col("seq"), col("new_type"))
        .orderBy("user_id", "event_id")
    } finally savedProvider match {
      case Some(v) => s.conf.set("spark.sql.streaming.stateStore.providerClass", v)
      case None => s.conf.unset("spark.sql.streaming.stateStore.providerClass")
    }
  }

  /** Rows for the streaming bitmap-distinct query. */
  case class BmIn(user_id: Long, event_type: String)
  case class BmOut(event_type: String, emit_idx: Long, distinct_users: Long)

  /** Streaming EXACT distinct-count via bitmap state: one
    * `ValueState[Array[Long]]` bitmap per event_type accumulates user ids
    * across micro-batches; after each batch the key emits its cumulative
    * exact distinct count. The streaming-native alternative
    * (dropDuplicates + agg) keeps one state-store ROW per (type, user)
    * pair; here state is ONE value per type whose size is the id-space
    * bitmap ([[graft.functions.BitmapAgg]] semantics — dense surrogate
    * ids; a production engine swaps in a compressed bitmap for sparse
    * ids), so RocksDB holds |types| values instead of |types|×|users|
    * rows. Popcount runs once per (key, batch) on the driver-side-free
    * state path. */
  class BitmapDistinctProcessor extends StatefulProcessor[String, BmIn, BmOut] {
    @transient private var bm:
      org.apache.spark.sql.streaming.ValueState[Array[Long]] = _
    @transient private var emits:
      org.apache.spark.sql.streaming.ValueState[Long] = _
    private val build = new graft.functions.BitmapAgg.Build
    override def init(outputMode: OutputMode, timeMode: TimeMode): Unit = {
      bm = getHandle.getValueState[Array[Long]]("bm",
        org.apache.spark.sql.catalyst.encoders.ExpressionEncoder[Array[Long]](),
        TTLConfig.NONE)
      emits = getHandle.getValueState[Long]("emits",
        org.apache.spark.sql.Encoders.scalaLong, TTLConfig.NONE)
    }
    override def handleInputRows(key: String, rows: Iterator[BmIn],
        tv: org.apache.spark.sql.streaming.TimerValues): Iterator[BmOut] = {
      var cur = if (bm.exists()) bm.get() else build.zero
      rows.foreach(r => cur = build.reduce(cur, r.user_id))
      bm.update(cur)
      val idx = (if (emits.exists()) emits.get() else 0L) + 1L
      emits.update(idx)
      val n = cur.map(java.lang.Long.bitCount(_).toLong).sum
      Iterator.single(BmOut(key, idx, n))
    }
  }

  /** Per-type cumulative exact distinct users over the same REAL
    * two-micro-batch file stream as ext82, via bitmap state
    * ([[BitmapDistinctProcessor]]): batch 0 (older event-time half) emits
    * each type's lower-half distinct count, batch 1 the all-data count —
    * the second emission exceeding the first proves the bitmap persisted
    * and kept absorbing across micro-batches. Requires the RocksDB state
    * store provider (scoped + restored like ext82). */
  val streamBitmapDistinct: Q = (s, d) => {
    import s.implicits._
    val dir = scratchDir(s, "stream_bmd")
    deleteRec(Paths.get(dir))
    val (lo, hi) = stagedHalves(s, d)
    val now = System.currentTimeMillis()
    copyAs(lo, Paths.get(s"$dir/in/b0.parquet"), now - 60000)
    copyAs(hi, Paths.get(s"$dir/in/b1.parquet"), now - 30000)
    val schema = StructType(Seq(
      StructField("event_id", LongType), StructField("user_id", LongType),
      StructField("event_type", StringType), StructField("ts", TimestampType)))
    val savedProvider =
      s.conf.getAll.get("spark.sql.streaming.stateStore.providerClass")
    s.conf.set("spark.sql.streaming.stateStore.providerClass",
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    try {
      val stream = s.readStream.schema(schema)
        .option("maxFilesPerTrigger", "1")
        .parquet(s"$dir/in")
        .select(col("user_id"), col("event_type"))
        .as[BmIn]
      val flow = stream.groupByKey(_.event_type)
        .transformWithState(new BitmapDistinctProcessor, TimeMode.None(),
          OutputMode.Append())
      val sinkName = s"graft_stream_bmd_${sessionToken(s)}"
      withStreamShuffle(s) {
        val query = flow.toDF.writeStream.outputMode("append")
          .format("memory").queryName(sinkName).start()
        try query.processAllAvailable() finally query.stop()
      }
      s.table(sinkName)
        .select(col("event_type"), col("emit_idx"), col("distinct_users"))
        .orderBy("event_type", "emit_idx")
    } finally savedProvider match {
      case Some(v) => s.conf.set("spark.sql.streaming.stateStore.providerClass", v)
      case None => s.conf.unset("spark.sql.streaming.stateStore.providerClass")
    }
  }

  case class SeqOut2(user_id: Long, event_id: Long, seq: Long)

  /** INITIAL STATE — the third transformWithState capability (after
    * ext82's multiple state variables and ext88's timers): the processor
    * is warm-started from a BATCH dataset before the first micro-batch,
    * the lambda-architecture handoff (nightly backfill computes state,
    * the stream continues from it). `handleInitialState` seeds the
    * per-user counter; the stream then numbers only NEW events on top.
    */
  class SeqInitProcessor extends org.apache.spark.sql.streaming.StatefulProcessorWithInitialState[Long, EvT, SeqOut2, Long] {
    @transient private var nSeen: org.apache.spark.sql.streaming.ValueState[Long] = _
    override def init(outputMode: OutputMode, timeMode: TimeMode): Unit =
      nSeen = getHandle.getValueState[Long]("nSeen",
        org.apache.spark.sql.Encoders.scalaLong, TTLConfig.NONE)
    override def handleInitialState(uid: Long, count: Long,
        tv: org.apache.spark.sql.streaming.TimerValues): Unit =
      nSeen.update(count)
    override def handleInputRows(uid: Long, rows: Iterator[EvT],
        tv: org.apache.spark.sql.streaming.TimerValues): Iterator[SeqOut2] = {
      var n = if (nSeen.exists()) nSeen.get() else 0L
      val out = rows.toSeq.sortBy(e => (e.tsu, e.event_id)).map { e =>
        n += 1; SeqOut2(uid, e.event_id, n)
      }
      nSeen.update(n)
      out.iterator
    }
  }

  /** Warm-start sequence numbering: a BATCH aggregate over the older
    * event-time half seeds per-user counters as transformWithState
    * initial state, then ONLY the newer half streams. Emitted sequence
    * numbers must equal the global arrival index over BOTH halves
    * restricted to new events — exactly what the oracle's window states —
    * which holds only if the batch handoff landed in the state store
    * before the first micro-batch.
    *
    * Scale: the backfill is an ordinary distributed aggregate co-keyed
    * with the stream's grouping (one shuffle to seed); nothing is
    * collected or broadcast.
    */
  val transformWithInitialState: Q = (s, d) => {
    import s.implicits._
    val dir = scratchDir(s, "stream_init")
    deleteRec(Paths.get(dir))
    val mid = eventsMid(s, d)
    val (_, hi) = stagedHalves(s, d)
    val now = System.currentTimeMillis()
    copyAs(hi, Paths.get(s"$dir/in/b0.parquet"), now - 30000)
    val schema = StructType(Seq(
      StructField("event_id", LongType), StructField("user_id", LongType),
      StructField("event_type", StringType), StructField("ts", TimestampType)))
    // getAll holds only EXPLICITLY-set entries; conf.get would return the
    // class default for an unset key and the restore below would then
    // "restore" an explicit value onto a previously-unset conf (the r6
    // ConfLeakSpec catch)
    val savedProvider =
      s.conf.getAll.get("spark.sql.streaming.stateStore.providerClass")
    s.conf.set("spark.sql.streaming.stateStore.providerClass",
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    try {
      val initState = events(s, d)
        .filter(unix_micros(col("ts")) < mid && col("user_id") % 5 === 0)
        .groupBy(col("user_id")).agg(count(lit(1)).as("n"))
        .as[(Long, Long)]
        .groupByKey(_._1).mapValues(_._2)
      val stream = s.readStream.schema(schema)
        .option("maxFilesPerTrigger", "1")
        .parquet(s"$dir/in")
        .filter(col("user_id") % 5 === 0)
        .select(col("event_id"), col("user_id"), col("event_type"),
          unix_micros(col("ts")).as("tsu"))
        .as[EvT]
      val flow = stream.groupByKey(_.user_id)
        .transformWithState(new SeqInitProcessor,
          TimeMode.None(), OutputMode.Append(), initState)
      val sinkName = s"graft_stream_init_${sessionToken(s)}"
      withStreamShuffle(s) {
        val query = flow.toDF.writeStream.outputMode("append")
          .format("memory").queryName(sinkName).start()
        try query.processAllAvailable() finally query.stop()
      }
      s.table(sinkName)
        .select(col("user_id"), col("event_id"), col("seq"))
        .orderBy("user_id", "event_id")
    } finally savedProvider match {
      case Some(v) => s.conf.set("spark.sql.streaming.stateStore.providerClass", v)
      case None => s.conf.unset("spark.sql.streaming.stateStore.providerClass")
    }
  }

  /** CHAINED STATEFUL OPERATORS — two windowed aggregations in ONE
    * streaming query (hourly counts per type, then the daily MAX of
    * those hourly counts), the multi-stateful-operator support Spark
    * gained in 3.5+: the second aggregate windows on `window_time` of
    * the first, watermarks propagate through, and a daily row emits only
    * when the watermark passes its day end — by which point every hourly
    * window inside it has closed, so the emitted max is complete. The
    * oracle restates both layers in batch plus the analytic watermark
    * cut (days fully closed under global-max − 1 h).
    *
    * Scale: two keyed state stores, each bounded by (watermark window ×
    * key cardinality); the hourly layer compacts the raw stream ~3600×
    * before the daily layer sees it — the standard streaming rollup
    * cascade.
    */
  /** STREAMING READ OF A CATALOG TABLE (ext92): `readStream.table` over
    * a `graft_cat` segment table — the lakehouse streaming-source
    * pattern (Delta/Iceberg): offsets are manifest versions, each
    * micro-batch is the segment diff since the last processed version
    * (`sources.SegMicroBatchStream`), so a downstream pipeline tails the
    * warehouse table exactly once per row with no full re-scan. The
    * query starts against the first commit, a SECOND insert lands while
    * the stream is live, and the appended memory sink must hold each
    * row exactly once — a stream that re-read the table per trigger
    * would double-count the first commit and fail the oracle. */
  val streamCatalogSource: Q = (s, d) => {
    graft.ops.ensureGraftCatalog(s)
    s.sql("DROP TABLE IF EXISTS graft_cat.db.cs_t")
    s.sql("CREATE TABLE graft_cat.db.cs_t (id BIGINT, v BIGINT)")
    s.read.format("graft.sources.SeqSourceProvider")
      .option("rows", "4000").option("parts", "4").load()
      .createOrReplaceTempView("graft_seq_cs")
    s.sql("INSERT INTO graft_cat.db.cs_t SELECT id, v FROM graft_seq_cs WHERE id < 1500")
    val sinkName = s"graft_stream_cs_${sessionToken(s)}"
    withStreamShuffle(s) {
      val query = s.readStream.table("graft_cat.db.cs_t")
        .writeStream.outputMode("append")
        .format("memory").queryName(sinkName).start()
      try {
        query.processAllAvailable()
        s.sql("INSERT INTO graft_cat.db.cs_t SELECT id, v FROM graft_seq_cs WHERE id >= 1500")
        query.processAllAvailable()
      } finally query.stop()
    }
    s.table(sinkName)
      .groupBy(expr("id DIV 500").as("band"))
      .agg(count(lit(1)).as("n"), sum("v").as("v_sum"))
      .orderBy("band")
  }

  /** ext133 — STREAMING MAINTENANCE OF A PERSISTED INDEX: the segment
    * stream over a catalog docs table drives [[graft.ext.DedupIndex]]
    * maintenance from `foreachBatch` — the micro-batch is the
    * NOTIFICATION, and `ensure()` over the table (a pure catalog scan,
    * so it maintains through `ensureCdc`) signs only the docs the
    * change feed since its version watermark touched (the watermark
    * makes the reaction IDEMPOTENT: a replayed or empty batch finds the
    * corpus covered and does nothing, so exactly-once delivery is not
    * required for index correctness — the watermark, published
    * atomically with the signatures, is the dedup). The query seeds the
    * table with the first 400 docs, streams the index build, appends
    * the rest mid-flight, and the final LSH probe over the
    * STREAM-MAINTAINED signatures must hash-match ext03's oracle over
    * the full corpus — proving ingest-driven maintenance converges to
    * exactly the batch-built index.
    *
    * At 100 TB this is the operating mode the persisted-index story
    * needs: the expensive signing pass runs once per ingest batch
    * (cost ∝ batch) inside the ingestion stream, and every dedup run
    * probes an index that is as fresh as the last commit. */
  val streamIndexMaintenance: Q = (s, d) => {
    graft.ops.ensureGraftCatalog(s)
    IndexFamily.Sigs.drop(s, "stream_six")
    val (t, docs) = ("graft_cat.db.six_docs", graft.ops.table(s, d, "documents")
      .select(col("doc_id"), col("text")))
    streamMaintained(s, t, "doc_id BIGINT, text STRING",
      docs.filter(col("doc_id") < 400), t)(bs =>
      graft.ext.DedupIndex.ensure(bs, bs.table(t), "stream_six"))(
      () => docs.filter(col("doc_id") >= 400).writeTo(t).append())
    graft.ext.Dedup.lshOverSig(
      s.table(IndexFamily.Sigs.table("stream_six", "sigs")))
  }

  /** ext138 — THE FULL INGEST→INDEX PIPELINE UNDER DELETES: where ext133
    * streams the SEGMENT source (append notifications only), this entry
    * streams the table's CHANGE FEED
    * (`readStream.table("….changes")`) and drives the VERSION-KEYED
    * [[graft.ext.DedupIndex.ensureCdc]] from `foreachBatch` — so
    * in-place DELETEs and UPDATEs on the corpus reach the persisted
    * signature index mid-stream, as feed-sized work, with no rebuild.
    * The micro-batch remains pure notification (ensureCdc reads the
    * committed head and the feed slice itself; the version watermark
    * makes the reaction idempotent under replays and no-op triggers).
    * The stream sees: the seed append (build), a second append + a
    * delete + an update (CDC refreshes), and the final probe over the
    * stream-maintained signatures must hash-match ext134's oracle over
    * the post-delete post-update corpus — proving the BATCH and the
    * STREAMING maintenance paths converge to the same artifact.
    *
    * At 100 TB this is the complete operating mode: one streaming job
    * tails the corpus table's feed and keeps every derived index
    * current — erasure deletes included — at cost ∝ change volume. */
  val streamCdcIndexMaintenance: Q = (s, d) => {
    graft.ops.ensureGraftCatalog(s)
    IndexFamily.Sigs.drop(s, "stream_cdc")
    val (t, docs) = ("graft_cat.db.scdc_docs", graft.ops.table(s, d, "documents")
      .select(col("doc_id"), col("text")))
    streamMaintained(s, t, "doc_id BIGINT, text STRING",
      docs.filter(col("doc_id") < 400), s"$t.changes")(
      IndexFamily.Sigs.ensure(_, t, "stream_cdc")) { () =>
      docs.filter(col("doc_id") >= 400).writeTo(t).append()
      s.sql(s"DELETE FROM $t WHERE doc_id % 7 = 0")
      s.sql(s"UPDATE $t SET text = concat(text, ' graft cdc rev') " +
        "WHERE doc_id % 11 = 3")
    }
    graft.ext.Dedup.lshOverSig(
      s.table(IndexFamily.Sigs.table("stream_cdc", "sigs")))
  }

  /** ext164 — STREAMED MAINTENANCE OF THE COMPONENT-LABEL INDEX: the
    * delete-tolerant label family (round-12) under ext138's operating
    * mode — one streaming job tails the corpus change feed and drives
    * [[graft.ext.DedupIndex.ensureLabelsCdc]] from `foreachBatch`, so
    * appends MERGE components and erasure DELETEs / re-text UPDATEs
    * retract-and-re-add them (splits included, cluster-local over the
    * stored edge artifact) mid-stream. The final labels must hash-match
    * the recursive-components oracle over the post-mutation corpus —
    * streamed maintenance ≡ batch rebuild, for the family where that
    * equivalence is hardest (labels are a GLOBAL property). Cohort
    * bounded to 600 ids — 500 seed + a 100-doc mid-stream append slice
    * (round-13, VERDICT r12 #7: every label apply here pays a D-phase
    * + quotient CC on top of the seed build, so this entry carries the
    * tightest cohort in the family; the contract is identical at any
    * cohort size and corpus-proportional scaling is ScaleRehearsal's
    * job). */
  val streamLabelMaintenance: Q = (s, d) => {
    graft.ops.ensureGraftCatalog(s)
    IndexFamily.ExactLabels.drop(s, "stream_lb")
    val (t, docs) = ("graft_cat.db.slb_docs", graft.ops.table(s, d, "documents")
      .select(col("doc_id"), col("text")).filter(col("doc_id") < 600))
    streamMaintained(s, t, "doc_id BIGINT, text STRING",
      docs.filter(col("doc_id") < 500), s"$t.changes")(
      IndexFamily.ExactLabels.ensure(_, t, "stream_lb")) { () =>
      docs.filter(col("doc_id") >= 500).writeTo(t).append()
      s.sql(s"DELETE FROM $t WHERE doc_id % 9 = 0")
      s.sql(s"UPDATE $t SET text = text || ' graft slb rev' " +
        "WHERE doc_id % 11 = 4")
    }
    s.table(IndexFamily.ExactLabels.table("stream_lb", "labels"))
      .select(col("doc_id"), col("comp").as("cluster"),
        (col("doc_id") === col("comp")).as("is_canonical"))
      .orderBy("doc_id")
  }

  /** ext169 — STREAMED MAINTENANCE OF THE CAPPED LABEL FAMILY: the
    * round-13 scale-default index ([[graft.ext.DedupIndex
    * .ensureLabelsCappedCdc]]) under ext164's operating mode — one
    * streaming job tails the corpus change feed and drives the ensure
    * from `foreachBatch`. Mid-stream appends fold in INCREMENTALLY
    * (including any cap crossings they cause — the expanded-touched
    * cluster-local path); the mid-stream DELETE/UPDATE slice takes the
    * family's documented LINEAR rebuild. Either way the final labels
    * must hash-match the capped recursive-components oracle over the
    * post-mutation cohort — streamed maintenance ≡ batch construction
    * for the capped semantics too. Cohort bounded to 600 ids (ext164's
    * discipline). */
  val streamCappedLabelMaintenance: Q = (s, d) => {
    graft.ops.ensureGraftCatalog(s)
    IndexFamily.CappedLabels.drop(s, "stream_lc")
    val (t, docs) = ("graft_cat.db.slc_docs", graft.ops.table(s, d, "documents")
      .select(col("doc_id"), col("text")).filter(col("doc_id") < 600))
    streamMaintained(s, t, "doc_id BIGINT, text STRING",
      docs.filter(col("doc_id") < 500), s"$t.changes")(
      IndexFamily.CappedLabels.ensure(_, t, "stream_lc"))(
      () => docs.filter(col("doc_id") >= 500).writeTo(t).append(),
      () => {
        s.sql(s"DELETE FROM $t WHERE doc_id % 9 = 0")
        s.sql(s"UPDATE $t SET text = text || ' graft slc rev' " +
          "WHERE doc_id % 11 = 4")
      })
    s.table(IndexFamily.CappedLabels.table("stream_lc", "labels"))
      .select(col("doc_id"), col("comp").as("cluster"),
        (col("doc_id") === col("comp")).as("is_canonical"))
      .orderBy("doc_id")
  }

  /** ext151 — STREAMED MAINTENANCE OF THE SQ TIER: ext138's operating
    * mode applied to the vector family — one streaming job tails the
    * vector table's change feed and drives the version-keyed
    * [[graft.ext.AnnIndex.ensureSqCdc]] from `foreachBatch`, so appends,
    * erasure DELETEs and re-embedding UPDATEs reach the persisted codes
    * mid-stream as feed-sized work. The stream sees the seed append
    * (build), a second append + a delete + an update (CDC refreshes),
    * and the final probe over the stream-maintained codes must
    * hash-match ext145's oracle over the post-mutation corpus — the
    * batch and streaming maintenance paths converge to the same
    * artifact (SQ's per-row purity makes that convergence EXACT). */
  val streamSqMaintenance: Q = (s, d) => {
    graft.ops.ensureGraftCatalog(s)
    IndexFamily.Sq.drop(s, "stream_sq")
    val (t, vecs) = ("graft_cat.db.ssq_vecs", graft.ops.table(s, d, "embeddings")
      .select(col("vec_id"),
        expr("transform(embedding, x -> CAST(x AS DOUBLE))").as("v")))
    streamMaintained(s, t, "vec_id BIGINT, v ARRAY<DOUBLE>",
      vecs.filter(col("vec_id") < 400), s"$t.changes")(
      IndexFamily.Sq.ensure(_, t, "stream_sq")) { () =>
      vecs.filter(col("vec_id") >= 400).writeTo(t).append()
      s.sql(s"DELETE FROM $t WHERE vec_id % 9 = 0")
      s.sql(s"UPDATE $t SET v = reverse(v) WHERE vec_id % 11 = 4")
    }
    graft.ext.Similarity.sqTopKFrom(s,
      IndexFamily.Sq.table("stream_sq", "codes"), s.table(t))
  }

  /** The streamed index maintenance of ext133/138/151/164/169: `corpus`
    * is (re)created merge-on-read with columns `cols` and seeded with
    * `seed`; a stream over `source` (the table itself — the segment
    * stream — or its `.changes` feed) runs `ensure` from `foreachBatch`
    * (the micro-batch is only the notification; the index's watermark
    * makes the reaction idempotent). The stream drains after the seed
    * and after each of `rounds`, and stops in `finally`. */
  private def streamMaintained(s: SparkSession, corpus: String, cols: String,
      seed: DataFrame, source: String)(ensure: SparkSession => Unit)(
      rounds: (() => Unit)*): Unit = {
    s.sql(s"DROP TABLE IF EXISTS $corpus")
    s.sql(s"CREATE TABLE $corpus ($cols) " +
      "TBLPROPERTIES ('graft.dml.mode'='merge-on-read')")
    seed.writeTo(corpus).append()
    withStreamShuffle(s) {
      val query = s.readStream.table(source)
        .writeStream.outputMode("append")
        .foreachBatch { (batch: DataFrame, _: Long) =>
          // the micro-batch runs on a cloned session: re-register the
          // catalog there before resolving catalog identifiers
          val bs = batch.sparkSession
          graft.ops.ensureGraftCatalog(bs)
          ensure(bs)
        }.start()
      try {
        query.processAllAvailable()
        rounds.foreach { round => round(); query.processAllAvailable() }
      } finally query.stop()
    }
  }

  /** ext103 — admission-controlled catalog streaming: the ext92 source
    * with `maxSegmentsPerTrigger`, the backpressure half of a lakehouse
    * streaming read. Four committed versions (4 segments each) are
    * drained under a 4-segment cap, so the runner MUST take four
    * one-version micro-batches where an uncapped read would take one —
    * `n_batches` is part of the hash-checked output, so the oracle pins
    * the admission schedule itself, not just the data. Exactly-once
    * composes with the cap: the per-band totals equal the batch
    * restatement. At 100 TB the cap is what keeps a catch-up read from
    * planning months of commits into a single giant micro-batch. */
  val streamRateLimit: Q = (s, d) => {
    graft.ops.ensureGraftCatalog(s)
    s.sql("DROP TABLE IF EXISTS graft_cat.db.rl_t")
    s.sql("CREATE TABLE graft_cat.db.rl_t (id BIGINT, v BIGINT)")
    s.read.format("graft.sources.SeqSourceProvider")
      .option("rows", "4000").option("parts", "4").load()
      .createOrReplaceTempView("graft_seq_rl")
    (0 until 4).foreach { i =>
      s.sql("INSERT INTO graft_cat.db.rl_t " +
        s"SELECT /*+ REPARTITION(4) */ id, v FROM graft_seq_rl " +
        s"WHERE id DIV 1000 = $i") // 4 write tasks -> 4 segments per commit
    }
    val sinkName = s"graft_stream_rl_${sessionToken(s)}"
    var nBatches = 0L
    withStreamShuffle(s) {
      val query = s.readStream
        .option("maxSegmentsPerTrigger", "4")
        .table("graft_cat.db.rl_t")
        .writeStream.outputMode("append")
        .format("memory").queryName(sinkName).start()
      try {
        query.processAllAvailable()
        nBatches = query.recentProgress.count(_.numInputRows > 0).toLong
      } finally query.stop()
    }
    s.table(sinkName)
      .groupBy(expr("id DIV 1000").as("band"))
      .agg(count(lit(1)).as("n"), sum("v").as("v_sum"))
      .withColumn("n_batches", lit(nBatches))
      .orderBy("band")
  }

  val chainedWindowAggs: Q = (s, d) => {
    val dir = scratchDir(s, "stream_chain")
    deleteRec(Paths.get(dir))
    val (lo, hi) = stagedHalves(s, d)
    val now = System.currentTimeMillis()
    copyAs(lo, Paths.get(s"$dir/in/b0.parquet"), now - 60000)
    copyAs(hi, Paths.get(s"$dir/in/b1.parquet"), now - 30000)
    val schema = StructType(Seq(
      StructField("event_type", StringType), StructField("ts", TimestampType)))
    val hourly = s.readStream.schema(schema)
      .option("maxFilesPerTrigger", "1")
      .parquet(s"$dir/in")
      .withWatermark("ts", "1 hour")
      .groupBy(window(col("ts"), "1 hour"), col("event_type"))
      .agg(count(lit(1)).as("n"))
    val daily = hourly
      .groupBy(window(window_time(col("window")), "1 day"), col("event_type"))
      .agg(max(col("n")).as("max_hourly"))
    val sinkName = s"graft_stream_chain_${sessionToken(s)}"
    withStreamShuffle(s) {
      val query = daily.writeStream.outputMode("append")
        .format("memory").queryName(sinkName).start()
      try query.processAllAvailable() finally query.stop()
    }
    s.table(sinkName)
      .select(col("event_type"),
        date_format(col("window.start"), "yyyy-MM-dd").as("day"),
        col("max_hourly"))
      .orderBy("event_type", "day")
  }

  /** State/output rows for the timer-session processor. */
  case class SessAgg(n: Long, min_tsu: Long, max_tsu: Long)
  case class SessOut(user_id: Long, n_events: Long, first_tsu: Long, last_tsu: Long)

  /** EVENT-TIME TIMERS — the transformWithState capability ext82 doesn't
    * touch: a per-user inactivity session that is closed by the STATE
    * STORE's timer firing when the query watermark passes
    * last-activity + gap, not by any input row. Each input batch folds
    * events into the running session and MOVES the inactivity timer
    * (deleting the previously registered one — tracked in its own
    * ValueState) to last_event + gap; `handleExpiredTimer` emits the
    * closed session and clears state. Input rows are processed before
    * expired timers within a micro-batch, so a moved timer never fires
    * at its stale expiry.
    *
    * Scale: state per user is one 3-field struct + one timer in RocksDB;
    * timers are range-scanned by expiry per micro-batch — the mechanism
    * a 100 TB clickstream uses for session-close emission without
    * re-scanning state.
    */
  class TimerSessionProcessor(gapMs: Long) extends StatefulProcessor[Long, EvT, SessOut] {
    @transient private var sess: org.apache.spark.sql.streaming.ValueState[SessAgg] = _
    @transient private var timerAt: org.apache.spark.sql.streaming.ValueState[Long] = _
    override def init(outputMode: OutputMode, timeMode: TimeMode): Unit = {
      sess = getHandle.getValueState[SessAgg]("sess",
        org.apache.spark.sql.Encoders.product[SessAgg], TTLConfig.NONE)
      timerAt = getHandle.getValueState[Long]("timerAt",
        org.apache.spark.sql.Encoders.scalaLong, TTLConfig.NONE)
    }
    override def handleInputRows(uid: Long, rows: Iterator[EvT],
        tv: org.apache.spark.sql.streaming.TimerValues): Iterator[SessOut] = {
      val tsus = rows.map(_.tsu).toSeq
      val (lo, hi, n) = (tsus.min, tsus.max, tsus.size.toLong)
      val cur =
        if (sess.exists()) {
          val c = sess.get()
          SessAgg(c.n + n, math.min(c.min_tsu, lo), math.max(c.max_tsu, hi))
        } else SessAgg(n, lo, hi)
      sess.update(cur)
      if (timerAt.exists()) getHandle.deleteTimer(timerAt.get())
      val at = cur.max_tsu / 1000 + gapMs
      getHandle.registerTimer(at)
      timerAt.update(at)
      Iterator.empty
    }
    override def handleExpiredTimer(uid: Long,
        tv: org.apache.spark.sql.streaming.TimerValues,
        expired: org.apache.spark.sql.streaming.ExpiredTimerInfo): Iterator[SessOut] = {
      if (sess.exists()) {
        val c = sess.get()
        sess.clear(); timerAt.clear()
        Iterator.single(SessOut(uid, c.n, c.min_tsu, c.max_tsu))
      } else Iterator.empty
    }
  }

  /** Inactivity sessions closed by event-time timers over the two-batch
    * file stream: only sessions whose owner has been idle for 24 h by
    * the time the FINAL watermark (global max event time − 1 h) lands
    * are emitted; recent users' sessions stay open in state. The oracle
    * restates that cut analytically (last_tsu ms + 24 h ≤ final
    * watermark), which only matches if timers persisted, moved with new
    * input, and fired against the committed watermark.
    */
  val timerSessions: Q = (s, d) => {
    import s.implicits._
    val dir = scratchDir(s, "stream_timer")
    deleteRec(Paths.get(dir))
    val (lo, hi) = stagedHalves(s, d)
    val now = System.currentTimeMillis()
    copyAs(lo, Paths.get(s"$dir/in/b0.parquet"), now - 60000)
    copyAs(hi, Paths.get(s"$dir/in/b1.parquet"), now - 30000)
    val schema = StructType(Seq(
      StructField("event_id", LongType), StructField("user_id", LongType),
      StructField("event_type", StringType), StructField("ts", TimestampType)))
    // getAll holds only EXPLICITLY-set entries; conf.get would return the
    // class default for an unset key and the restore below would then
    // "restore" an explicit value onto a previously-unset conf (the r6
    // ConfLeakSpec catch)
    val savedProvider =
      s.conf.getAll.get("spark.sql.streaming.stateStore.providerClass")
    s.conf.set("spark.sql.streaming.stateStore.providerClass",
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    try {
      val stream = s.readStream.schema(schema)
        .option("maxFilesPerTrigger", "1")
        .parquet(s"$dir/in")
        .withWatermark("ts", "1 hour")
        .select(col("event_id"), col("user_id"), col("event_type"),
          unix_micros(col("ts")).as("tsu"))
        .as[EvT]
      val flow = stream.groupByKey(_.user_id)
        .transformWithState(new TimerSessionProcessor(86400000L),
          TimeMode.EventTime(), OutputMode.Append())
      val sinkName = s"graft_stream_timer_${sessionToken(s)}"
      withStreamShuffle(s) {
        val query = flow.toDF.writeStream.outputMode("append")
          .format("memory").queryName(sinkName).start()
        try query.processAllAvailable() finally query.stop()
      }
      s.table(sinkName)
        .select(col("user_id"), col("n_events"), col("first_tsu"), col("last_tsu"))
        .orderBy("user_id")
    } finally savedProvider match {
      case Some(v) => s.conf.set("spark.sql.streaming.stateStore.providerClass", v)
      case None => s.conf.unset("spark.sql.streaming.stateStore.providerClass")
    }
  }

  /** Sliding windows (1 hour every 30 minutes) in APPEND mode with a
    * 1-hour watermark, fed newest-half first. The OLD half is staged only
    * after the first `processAllAvailable`, so the batch-0 watermark is
    * committed (via the no-data propagation batch) before the late file is
    * discovered — every old-half row then arrives below the watermark and
    * is dropped by the stateful operator. The final emitted set is exactly
    * the closed windows (window.end <= watermark) over the new half, which
    * is what the oracle states, late data excluded. (Staging both files up
    * front would run the batches back-to-back with the watermark still at
    * its pre-batch-0 value during batch 1 — Spark only guarantees dropping
    * once the watermark has been committed.)
    */
  val slidingLateDrop: Q = (s, d) => {
    val dir = scratchDir(s, "stream_late")
    deleteRec(Paths.get(dir))
    val (lo, hi) = stagedHalves(s, d)
    val now = System.currentTimeMillis()
    // batch 0 = NEW half (advances the watermark)
    copyAs(hi, Paths.get(s"$dir/in/b0.parquet"), now - 60000)
    val schema = StructType(Seq(
      StructField("event_type", StringType), StructField("value", DoubleType),
      StructField("ts", TimestampType)))
    val agg = s.readStream.schema(schema)
      .option("maxFilesPerTrigger", "1")
      .parquet(s"$dir/in")
      .withWatermark("ts", "1 hour")
      .groupBy(window(col("ts"), "1 hour", "30 minutes"), col("event_type"))
      .agg(count(lit(1)).as("n"), dsum(col("value")).as("value_sum"))
    val sinkName = s"graft_stream_late_${sessionToken(s)}"
    withStreamShuffle(s) {
      val query = agg.writeStream.outputMode("append")
        .format("memory").queryName(sinkName).start()
      try {
        query.processAllAvailable() // batch 0 + watermark-propagation batch
        // batch 1 = OLD half, now entirely below the committed watermark
        copyAs(lo, Paths.get(s"$dir/in/b1.parquet"), now - 30000)
        query.processAllAvailable()
      } finally query.stop()
    }
    s.table(sinkName)
      .select(
        date_format(col("window.start"), "yyyy-MM-dd HH:mm:ss").as("window_start"),
        col("event_type"), col("n"), col("value_sum"))
      .orderBy("window_start", "event_type")
  }

  /** Streaming deduplication with bounded state:
    * `dropDuplicatesWithinWatermark` keeps one row per
    * (user_id, event_type, day) key, holding each key's state only until
    * the watermark passes its event time + delay — at 100 TB/day the state
    * store carries a sliding window of keys, not the full history (the
    * difference between this and plain streaming dropDuplicates, whose
    * state grows without bound). The 60-day delay here covers the
    * fixture's whole 30-day span, so exactly one row per key survives and
    * the emitted KEY SET equals batch DISTINCT — which is what the oracle
    * states (which physical row won per key is racy; the aggregate over
    * keys is not). */
  val streamDedupWatermark: Q = (s, d) => {
    val stream = eventsStream(s, d)
      .withColumn("day", date_format(col("ts"), "yyyy-MM-dd"))
    val deduped = stream
      .withWatermark("ts", "60 days")
      .dropDuplicatesWithinWatermark("user_id", "event_type", "day")
    val sinkName = s"graft_stream_dedup_${sessionToken(s)}"
    withStreamShuffle(s) {
      val query = deduped.writeStream.outputMode("append")
        .format("memory").queryName(sinkName).start()
      try query.processAllAvailable()
      finally query.stop()
    }
    s.table(sinkName)
      .groupBy("event_type", "day")
      .agg(count(lit(1)).as("n_users"))
      .orderBy("event_type", "day")
  }

  /** STREAM-STREAM inner join — the two-sided stateful operator: clicks
    * and purchases arrive as independent streams and join on user within
    * a time bound (purchase at or after the click, within 2 hours).
    * Both sides carry watermarks and the range condition bounds how long
    * each side's state is retained — without it a stream-stream join
    * buffers forever (the planner enforces this for outer joins; inner
    * joins degrade silently, so the bound is the difference between O(2h
    * of traffic) and O(entire history) state at 100 TB/day). The oracle
    * is the equivalent batch join. */
  /** LEFT OUTER stream-stream join — the half of the streaming join
    * matrix ext41 doesn't cover: unmatched clicks surface with NULL
    * purchase columns, but only once the global watermark proves no
    * match can still arrive (wm = min of the two sources' max event time
    * minus the 1 h delay; a click is released when its entire 2 h match
    * window is below it). `processAllAvailable` runs the trailing
    * no-data micro-batch that advances the watermark and flushes those
    * state rows, so the final multiset is deterministic and the oracle
    * can restate it: inner matches ∪ unmatched clicks old enough that
    * `c_ts + 2h < wm`. Clicks still inside the horizon when the stream
    * ends are correctly ABSENT — retention semantics, not data loss.
    *
    * Scale: same four state stores per shuffle partition as ext41; the
    * outer flush adds no state, only the eviction-time null emission.
    */
  val streamOuterJoin: Q = (s, d) => {
    val dir = scratchDir(s, "stream_soj")
    deleteRec(Paths.get(dir))
    def typed(t: String) = events(s, d)
      .select(col("event_id"), col("user_id"), col("event_type"), col("ts"))
      .filter(col("event_type") === t)
    val now = System.currentTimeMillis()
    copyAs(stagedOnce(s, d, "clicks")(typed("click")),
      Paths.get(s"$dir/clicks/b0.parquet"), now - 60000)
    copyAs(stagedOnce(s, d, "purchases")(typed("purchase")),
      Paths.get(s"$dir/purch/b0.parquet"), now - 60000)
    val schema = StructType(Seq(
      StructField("event_id", LongType), StructField("user_id", LongType),
      StructField("event_type", StringType), StructField("ts", TimestampType)))
    def src(sub: String) = s.readStream.schema(schema).parquet(s"$dir/$sub")
    val clicks = src("clicks")
      .select(col("event_id").as("c_id"), col("user_id").as("c_user"),
        col("ts").as("c_ts"))
      .withWatermark("c_ts", "1 hour")
    val purchases = src("purch")
      .select(col("event_id").as("p_id"), col("user_id").as("p_user"),
        col("ts").as("p_ts"))
      .withWatermark("p_ts", "1 hour")
    val joined = clicks.join(purchases,
      col("c_user") === col("p_user") &&
        col("p_ts") >= col("c_ts") &&
        col("p_ts") <= col("c_ts") + expr("INTERVAL 2 HOURS"),
      "left_outer")
    val sinkName = s"graft_stream_soj_${sessionToken(s)}"
    withStreamShuffle(s) {
      val query = joined.writeStream.outputMode("append")
        .format("memory").queryName(sinkName).start()
      try query.processAllAvailable()
      finally query.stop()
    }
    s.table(sinkName)
      .select(col("c_id"), col("p_id"), col("c_user").as("user_id"),
        unix_micros(col("p_ts")).minus(unix_micros(col("c_ts"))).as("gap_us"))
      .orderBy(col("c_id"), coalesce(col("p_id"), lit(-1L)))
  }

  val streamStreamJoin: Q = (s, d) => {
    val dir = scratchDir(s, "stream_ssj")
    deleteRec(Paths.get(dir))
    def typed(t: String) = events(s, d)
      .select(col("event_id"), col("user_id"), col("event_type"), col("ts"))
      .filter(col("event_type") === t)
    val now = System.currentTimeMillis()
    copyAs(stagedOnce(s, d, "clicks")(typed("click")),
      Paths.get(s"$dir/clicks/b0.parquet"), now - 60000)
    copyAs(stagedOnce(s, d, "purchases")(typed("purchase")),
      Paths.get(s"$dir/purch/b0.parquet"), now - 60000)
    val schema = StructType(Seq(
      StructField("event_id", LongType), StructField("user_id", LongType),
      StructField("event_type", StringType), StructField("ts", TimestampType)))
    def src(sub: String) = s.readStream.schema(schema).parquet(s"$dir/$sub")
    val clicks = src("clicks")
      .select(col("event_id").as("c_id"), col("user_id").as("c_user"),
        col("ts").as("c_ts"))
      .withWatermark("c_ts", "1 hour")
    val purchases = src("purch")
      .select(col("event_id").as("p_id"), col("user_id").as("p_user"),
        col("ts").as("p_ts"))
      .withWatermark("p_ts", "1 hour")
    val joined = clicks.join(purchases,
      col("c_user") === col("p_user") &&
        col("p_ts") >= col("c_ts") &&
        col("p_ts") <= col("c_ts") + expr("INTERVAL 2 HOURS"))
    val sinkName = s"graft_stream_ssj_${sessionToken(s)}"
    // a stream-stream join maintains FOUR state stores per shuffle
    // partition (2 sides x 2 maps) — the canonical case for the shared
    // withStreamShuffle pin
    withStreamShuffle(s) {
      val query = joined.writeStream.outputMode("append")
        .format("memory").queryName(sinkName).start()
      try query.processAllAvailable()
      finally query.stop()
    }
    s.table(sinkName)
      .select(col("c_id"), col("p_id"), col("c_user").as("user_id"),
        unix_micros(col("p_ts")).minus(unix_micros(col("c_ts"))).as("gap_us"))
      .orderBy("c_id", "p_id")
  }

  /** UPDATE output mode — the third output contract (complete: ext14,
    * append: ext22): after each micro-batch the aggregation emits ONLY
    * the keys whose value changed in that batch. Two time-half batches →
    * the sink accumulates (batch-0 partial counts) ∪ (batch-1 final
    * counts for keys with second-half rows) — the oracle restates exactly
    * that union, so the per-batch change-detection semantics (not just
    * the final totals) are what hash-matching pins. Update mode is the
    * changelog contract a downstream upsert sink (JDBC/key-value store)
    * consumes at scale. */
  val streamUpdateMode: Q = (s, d) => {
    val dir = scratchDir(s, "stream_upd")
    deleteRec(Paths.get(dir))
    val (lo, hi) = stagedHalves(s, d)
    val now = System.currentTimeMillis()
    copyAs(lo, Paths.get(s"$dir/in/b0.parquet"), now - 60000)
    copyAs(hi, Paths.get(s"$dir/in/b1.parquet"), now - 30000)
    val schema = StructType(Seq(
      StructField("event_type", StringType), StructField("value", DoubleType),
      StructField("ts", TimestampType)))
    val agg = s.readStream.schema(schema)
      .option("maxFilesPerTrigger", "1")
      .parquet(s"$dir/in")
      .groupBy("event_type")
      .agg(count(lit(1)).as("n"), dsum(col("value")).as("value_sum"))
    val sinkName = s"graft_stream_update_${sessionToken(s)}"
    withStreamShuffle(s) {
      val query = agg.writeStream.outputMode("update")
        .format("memory").queryName(sinkName).start()
      try query.processAllAvailable()
      finally query.stop()
    }
    s.table(sinkName)
      .select(col("event_type"), col("n"), col("value_sum"))
      .orderBy("event_type", "n")
  }

  /** Streaming read through the CUSTOM DSv2 connector
    * ([[graft.sources.SeqSourceProvider]] exposing `MicroBatchStream`):
    * 20k rows admitted 5k per trigger — four real micro-batches with
    * offset tracking — aggregated in complete mode. The custom-connector
    * story closed end to end: batch read, batch write, and now the
    * streaming contract (initial/latest/deserialize offsets + per-range
    * split planning) a Kafka-class source implements. */
  val dsv2StreamSource: Q = (s, _) => {
    val stream = s.readStream.format("graft.sources.SeqSourceProvider")
      .option("rows", "20000").option("parts", "4")
      .option("batchRows", "5000").load()
    val agg = stream
      .groupBy((col("id") % 5).as("g"))
      .agg(count(lit(1)).as("n"), sum(col("v")).as("v_sum"))
    val sinkName = s"graft_stream_dsv2_${sessionToken(s)}"
    withStreamShuffle(s) {
      val query = agg.writeStream.outputMode("complete")
        .format("memory").queryName(sinkName).start()
      try query.processAllAvailable()
      finally query.stop()
    }
    s.table(sinkName).select("g", "n", "v_sum").orderBy("g")
  }

  /** Streaming write through the custom DSv2 SINK
    * ([[graft.sources.NdjsonSinkProvider]]'s `StreamingWrite` face): the
    * custom micro-batch SOURCE feeds four offset-tracked epochs into the
    * sink, each epoch publishing its part files into the `_MANIFEST`
    * with an idempotent, epoch-tagged commit (a replayed micro-batch
    * cannot double-publish). The read-back goes through the manifest —
    * only committed files — and the oracle pins that four epoch-commits
    * together equal the one-shot batch relation: end-to-end exactly-once
    * over the whole custom source → stream → custom sink path. */
  val streamCustomSink: Q = (s, _) => {
    val dir = scratchDir(s, "dsv2_stream_sink")
    val chk = scratchDir(s, "dsv2_stream_sink_chk")
    deleteRec(Paths.get(dir))
    deleteRec(Paths.get(chk))
    val stream = s.readStream.format("graft.sources.SeqSourceProvider")
      .option("rows", "8000").option("parts", "4")
      .option("batchRows", "2000").load()
    val query = stream.writeStream
      .format("graft.sources.NdjsonSinkProvider")
      .option("path", dir)
      .option("checkpointLocation", chk)
      .outputMode("append")
      .start()
    try query.processAllAvailable()
    finally query.stop()
    val schema = StructType(Seq(
      StructField("id", LongType), StructField("v", LongType)))
    val files = graft.sources.NdjsonManifest.committedFiles(dir)
    s.read.schema(schema).json(files: _*)
      .groupBy((col("id") % 7).as("g"))
      .agg(count(lit(1)).as("n"), sum(col("v")).as("v_sum"))
      .orderBy("g")
  }

  /** Trigger.AvailableNow over the custom source
    * (`SupportsTriggerAvailableNow`): the source pins end-of-data at
    * query start, the engine drains it in rate-limited micro-batches
    * (admission control via `ReadLimit.maxRows`), and the query
    * TERMINATES ON ITS OWN — no processAllAvailable/stop choreography.
    * This is the backfill mode: batch-complete semantics with streaming
    * checkpoints, the standard way to run a catch-up of a 100 TB backlog
    * with bounded per-batch memory. */
  val availableNowDrain: Q = (s, _) => {
    val stream = s.readStream.format("graft.sources.SeqSourceProvider")
      .option("rows", "20000").option("parts", "4")
      .option("batchRows", "5000").load()
    val agg = stream
      .groupBy((col("id") % 4).as("g"))
      .agg(count(lit(1)).as("n"), sum(col("v")).as("v_sum"))
    val sinkName = s"graft_stream_anow_${sessionToken(s)}"
    withStreamShuffle(s) {
      val query = agg.writeStream.outputMode("complete")
        .format("memory").queryName(sinkName)
        .trigger(Trigger.AvailableNow())
        .start()
      try {
        val done = query.awaitTermination(120000)
        require(done, "AvailableNow query did not self-terminate")
      } finally if (query.isActive) query.stop()
    }
    s.table(sinkName).select("g", "n", "v_sum").orderBy("g")
  }

  /** Stream-static join — the enrichment shape every event pipeline runs:
    * each micro-batch of the unbounded side joins the bounded dimension
    * (broadcast: replicated once per executor, re-used across batches,
    * NO state store — only the downstream aggregate keeps state). The
    * complete-mode result must equal the batch join, which is what the
    * oracle states. At 100 TB/day this is Kafka ⋈ dim-table; the static
    * side refreshes by plan re-resolution, not by streaming it. */
  val streamStaticJoin: Q = (s, d) => {
    val stream = s.readStream.format("graft.sources.SeqSourceProvider")
      .option("rows", "20000").option("parts", "4")
      .option("batchRows", "5000").load()
    val dim = graft.ops.table(s, d, "nation")
      .select(col("n_nationkey").cast("long").as("nk"), col("n_name"))
    val agg = stream
      .join(broadcast(dim), col("id") % 25 === col("nk"))
      .groupBy("n_name")
      .agg(count(lit(1)).as("n"), sum(col("v")).as("v_sum"))
    val sinkName = s"graft_stream_static_${sessionToken(s)}"
    withStreamShuffle(s) {
      val query = agg.writeStream.outputMode("complete")
        .format("memory").queryName(sinkName).start()
      try query.processAllAvailable()
      finally query.stop()
    }
    s.table(sinkName).select("n_name", "n", "v_sum").orderBy("n_name")
  }

  /** Snapshot (time-travel) reads off the streaming sink's epoch-tagged
    * manifest: the append-only `e<epoch>:file` log doubles as a snapshot
    * history, so "the table as of micro-batch 1" is a consistent readable
    * state long after later epochs landed — the table-format time-travel
    * contract, demonstrated end-to-end on the custom source → custom sink
    * path. The oracle pins both snapshots: epoch ≤ 1 sees exactly the
    * first two admitted ranges, latest sees the whole relation. */
  val sinkTimeTravel: Q = (s, _) => {
    val dir = scratchDir(s, "dsv2_time_travel")
    val chk = scratchDir(s, "dsv2_time_travel_chk")
    deleteRec(Paths.get(dir))
    deleteRec(Paths.get(chk))
    val stream = s.readStream.format("graft.sources.SeqSourceProvider")
      .option("rows", "8000").option("parts", "4")
      .option("batchRows", "2000").load()
    val query = stream.writeStream
      .format("graft.sources.NdjsonSinkProvider")
      .option("path", dir)
      .option("checkpointLocation", chk)
      .outputMode("append")
      .start()
    try query.processAllAvailable()
    finally query.stop()
    val schema = StructType(Seq(
      StructField("id", LongType), StructField("v", LongType)))
    def snap(files: Seq[String], label: String) =
      s.read.schema(schema).json(files: _*)
        .groupBy((col("id") % 3).as("g"))
        .agg(count(lit(1)).as("n"), sum(col("v")).as("v_sum"))
        .withColumn("snap", lit(label))
    snap(graft.sources.NdjsonManifest.committedFiles(dir, Some(1L)), "epoch1")
      .unionByName(
        snap(graft.sources.NdjsonManifest.committedFiles(dir, None), "latest"))
      .select(col("snap"), col("g"), col("n"), col("v_sum"))
      .orderBy("snap", "g")
  }

  /** CDC upsert INTO THE CATALOG from a stream: micro-batches of keyed
    * changes arrive as files and `foreachBatch` MERGEs each batch into a
    * `graft_cat` segment table — the streaming half of the lakehouse
    * story (Kafka → MERGE INTO warehouse table). Each batch lands as one
    * atomic manifest version; the MERGE's row-level rewrite only touches
    * segments whose zone-maps intersect the batch's keys, so per-batch
    * cost scales with the batch, not the table. Batch 0 loads ids
    * 0..999 at ver 1; batch 1 upserts 500..1499 at ver 2 with bumped
    * values — final state: 0..499 untouched, 500..1499 updated or
    * inserted, exactly what the oracle states. The MERGE runs in the
    * stream's CLONED session (its own catalog instance), so the final
    * read goes through REFRESH TABLE — the documented way a reader
    * observes another instance's commits against the same warehouse. */
  /** ext107 — streaming expectations with a dead-letter quarantine: each
    * micro-batch is split by the TARGET TABLE'S OWN declared CHECK
    * constraint (q123's `graft.check`, read from the live catalog at
    * batch time, so tightening the DDL immediately re-routes traffic) —
    * passing rows append to the table (whose writer re-verifies them),
    * violating rows land in a quarantine table with full fidelity
    * instead of failing the stream. The Delta-Live-Tables "expect or
    * quarantine" pattern: at 100 TB a poison record must neither kill a
    * 1000-writer ingest (X4's lesson) nor be silently dropped. The
    * summary output pins BOTH populations, so the oracle proves the
    * split is exactly the constraint. */
  val streamQuarantine: Q = (s, d) => {
    graft.ops.ensureGraftCatalog(s)
    s.sql("DROP TABLE IF EXISTS graft_cat.db.qr_t")
    s.sql("DROP TABLE IF EXISTS graft_cat.db.qr_dead")
    s.sql(
      """CREATE TABLE graft_cat.db.qr_t (id BIGINT, v BIGINT)
        |TBLPROPERTIES ('graft.check' = 'v < 900')""".stripMargin)
    s.sql("CREATE TABLE graft_cat.db.qr_dead (id BIGINT, v BIGINT)")
    val dir = scratchDir(s, "stream_qr")
    deleteRec(Paths.get(dir))
    def batchDf(lo: Long, hi: Long): DataFrame =
      s.read.format("graft.sources.SeqSourceProvider")
        .option("rows", "1500").option("parts", "2").load()
        .filter(col("id") >= lo && col("id") < hi)
        .select(col("id"), col("v"))
    val now = System.currentTimeMillis()
    copyAs(stagedOnce(s, d, "qr_b0", "json")(batchDf(0, 1000)),
      Paths.get(s"$dir/in/b0.json"), now - 60000)
    copyAs(stagedOnce(s, d, "qr_b1", "json")(batchDf(1000, 1500)),
      Paths.get(s"$dir/in/b1.json"), now - 30000)
    val schema = StructType(Seq(StructField("id", LongType),
      StructField("v", LongType)))
    withStreamShuffle(s) {
      val query = s.readStream.schema(schema)
        .option("maxFilesPerTrigger", "1")
        .json(s"$dir/in")
        .writeStream
        .foreachBatch { (batch: DataFrame, _: Long) =>
          val bs = batch.sparkSession
          graft.ops.ensureGraftCatalog(bs)
          // the constraint comes from the TABLE, not the pipeline code
          val check = Option(bs.sessionState.catalogManager.catalog("graft_cat")
            .asInstanceOf[graft.sources.GraftCatalog]
            .segTable("db.qr_t").properties().get(graft.sources.SegCheck.PropKey))
          // constraint dropped mid-stream ⇒ everything passes, stream lives
          val pass = check.map(c => coalesce(expr(c), lit(true))) // SQL CHECK: NULL passes
            .getOrElse(lit(true))
          // insert-only MERGEs keyed on id, NOT blind appends: foreachBatch
          // re-runs the WHOLE batch on failure, and with two independent
          // commits a crash between them would double-append the first
          // table's rows on retry. Keyed merges are idempotent, so the
          // retry converges instead of double-counting.
          batch.filter(pass).createOrReplaceTempView("graft_qr_pass")
          bs.sql(
            """MERGE INTO graft_cat.db.qr_t t USING graft_qr_pass u
              |ON t.id = u.id
              |WHEN NOT MATCHED THEN INSERT *""".stripMargin)
          batch.filter(!pass).createOrReplaceTempView("graft_qr_fail")
          bs.sql(
            """MERGE INTO graft_cat.db.qr_dead t USING graft_qr_fail u
              |ON t.id = u.id
              |WHEN NOT MATCHED THEN INSERT *""".stripMargin)
          ()
        }
        .start()
      try query.processAllAvailable() finally query.stop()
    }
    // the stream's cloned session committed through ITS catalog instance;
    // disk is the commit point — refresh drops this session's cached
    // handles so the reads reopen the advanced manifests
    s.sql("REFRESH TABLE graft_cat.db.qr_t")
    s.sql("REFRESH TABLE graft_cat.db.qr_dead")
    s.sql(
      """SELECT 'kept' AS bucket, COUNT(*) AS n, CAST(SUM(v) AS BIGINT) AS v_sum
        |FROM graft_cat.db.qr_t
        |UNION ALL
        |SELECT 'quarantined', COUNT(*), CAST(SUM(v) AS BIGINT)
        |FROM graft_cat.db.qr_dead
        |ORDER BY bucket""".stripMargin)
  }

  /** ext114 — streaming write-audit-publish onto a NAMED BRANCH: the
    * full lakehouse ingestion discipline composed from this round's
    * primitives. The stream lands its micro-batches on branch `ingest`
    * ([[graft.sources.CatalogProc.Branch]]) — main is never touched while
    * raw data arrives; the audit prices only the branch DELTA
    * (`VERSION AS OF 'fork..'`, the incremental changes read, valid
    * because the stream's commits are append-only); the policy
    * violations it finds are repaired ON THE BRANCH (row-level DELETE,
    * its own branch commit); and `fast_forward` publishes the audited
    * state to main in one metadata commit. Readers of main go from
    * pre-stream to audited-post-stream ATOMICALLY — there is no instant
    * at which main exposes an unaudited row, the guarantee plain WAP
    * (q159) can only give per-batch. At 100 TB: audit cost ∝ new data,
    * publish cost = one manifest append, abandon cost = drop_branch. */
  val streamWapBranch: Q = (s, d) => {
    graft.ops.ensureGraftCatalog(s)
    s.sql("DROP TABLE IF EXISTS graft_cat.db.wap_t")
    s.sql("CREATE TABLE graft_cat.db.wap_t (id BIGINT, v BIGINT)")
    val dir = scratchDir(s, "stream_wap")
    deleteRec(Paths.get(dir))
    def slab(lo: Long, hi: Long): DataFrame =
      s.read.format("graft.sources.SeqSourceProvider")
        .option("rows", "1500").option("parts", "2").load()
        .filter(col("id") >= lo && col("id") < hi)
    // seed main (v1), then fork the ingestion branch at it
    slab(0, 500).createOrReplaceTempView("graft_wap_seed")
    s.sql("INSERT INTO graft_cat.db.wap_t SELECT id, v FROM graft_wap_seed")
    s.sql("CALL graft_cat.system.branch('db.wap_t', 'ingest')") // fork v1
    val now = System.currentTimeMillis()
    copyAs(stagedOnce(s, d, "wap_b0", "json")(slab(500, 1000)),
      Paths.get(s"$dir/in/b0.json"), now - 60000)
    copyAs(stagedOnce(s, d, "wap_b1", "json")(slab(1000, 1500)),
      Paths.get(s"$dir/in/b1.json"), now - 30000)
    val schema = StructType(Seq(StructField("id", LongType),
      StructField("v", LongType)))
    withStreamShuffle(s) {
      val query = s.readStream.schema(schema)
        .option("maxFilesPerTrigger", "1")
        .json(s"$dir/in")
        .writeStream
        .foreachBatch { (batch: DataFrame, _: Long) =>
          graft.ops.ensureGraftCatalog(batch.sparkSession)
          batch.createOrReplaceTempView("graft_wap_batch")
          // raw append to the BRANCH — main stays pre-stream throughout
          batch.sparkSession.sql(
            """INSERT INTO graft_cat.db.wap_t.branch_ingest
              |SELECT id, v FROM graft_wap_batch""".stripMargin)
          ()
        }
        .start()
      try query.processAllAvailable() finally query.stop()
    }
    // the stream's cloned session committed through its own catalog
    // instance; reopen the branch from disk before auditing
    s.sql("REFRESH TABLE graft_cat.db.wap_t.branch_ingest")
    // audit ONLY the branch delta (both stream commits are appends, so
    // the incremental read is valid); policy: v >= 900 is bad
    val bad = s.sql(
      """SELECT COUNT(*) AS n, CAST(SUM(v) AS BIGINT) AS sum_v
        |FROM graft_cat.db.wap_t.branch_ingest VERSION AS OF '1..'
        |WHERE v >= 900""".stripMargin)
      .select(lit("bad").as("leg"), col("n"), col("sum_v"))
    // repair on the branch — scoped to the INGESTED rows (the seed was
    // published before the stream; WAP repairs new data, not history)
    s.sql(
      "DELETE FROM graft_cat.db.wap_t.branch_ingest WHERE v >= 900 AND id >= 500")
    val ff = s.sql("CALL graft_cat.system.fast_forward('db.wap_t', 'ingest')")
      .select(lit("ff").as("leg"), col("commits_merged").as("n"),
        col("main_version").as("sum_v"))
    s.sql(
      """SELECT leg, n, sum_v FROM (
        |  SELECT 'main_v1' AS leg, COUNT(*) AS n,
        |    CAST(SUM(v) AS BIGINT) AS sum_v
        |  FROM graft_cat.db.wap_t VERSION AS OF 1
        |  UNION ALL
        |  SELECT 'published', COUNT(*), CAST(SUM(v) AS BIGINT)
        |  FROM graft_cat.db.wap_t)""".stripMargin)
      .unionAll(bad).unionAll(ff).orderBy("leg")
  }

  val streamMergeCatalog: Q = (s, d) => {
    graft.ops.ensureGraftCatalog(s)
    s.sql("DROP TABLE IF EXISTS graft_cat.db.cdc_t")
    s.sql("CREATE TABLE graft_cat.db.cdc_t (id BIGINT, v BIGINT, ver BIGINT)")
    val dir = scratchDir(s, "stream_cdc")
    deleteRec(Paths.get(dir))
    def batchDf(lo: Long, hi: Long, ver: Long, bump: Long): DataFrame =
      s.read.format("graft.sources.SeqSourceProvider")
        .option("rows", "1500").option("parts", "2").load()
        .filter(col("id") >= lo && col("id") < hi)
        .select(col("id"), (col("v") + bump).as("v"), lit(ver).as("ver"))
    val now = System.currentTimeMillis()
    copyAs(stagedOnce(s, d, "cdc_b0", "json")(batchDf(0, 1000, 1, 0)),
      Paths.get(s"$dir/in/b0.json"), now - 60000)
    copyAs(stagedOnce(s, d, "cdc_b1", "json")(batchDf(500, 1500, 2, 1)),
      Paths.get(s"$dir/in/b1.json"), now - 30000)
    val cdcSchema = StructType(Seq(StructField("id", LongType),
      StructField("v", LongType), StructField("ver", LongType)))
    withStreamShuffle(s) {
      val query = s.readStream.schema(cdcSchema)
        .option("maxFilesPerTrigger", "1")
        .json(s"$dir/in")
        .writeStream
        .foreachBatch { (batch: DataFrame, _: Long) =>
          // the stream's CLONED session no longer inherits the catalog
          // via session conf (registration is conf-hygienic, see
          // ensureGraftCatalog) — register on the clone explicitly; its
          // commits reach the parent through the shared warehouse dir
          graft.ops.ensureGraftCatalog(batch.sparkSession)
          batch.createOrReplaceTempView("graft_cdc_batch")
          batch.sparkSession.sql(
            """MERGE INTO graft_cat.db.cdc_t t
              |USING graft_cdc_batch u ON t.id = u.id
              |WHEN MATCHED THEN UPDATE SET *
              |WHEN NOT MATCHED THEN INSERT *""".stripMargin)
          ()
        }
        .start()
      try query.processAllAvailable()
      finally query.stop()
    }
    s.sql("REFRESH TABLE graft_cat.db.cdc_t")
    s.sql(
      """SELECT id DIV 500 AS band, COUNT(*) AS n, SUM(v) AS v_sum,
        |  SUM(ver) AS ver_sum
        |FROM graft_cat.db.cdc_t GROUP BY 1 ORDER BY band""".stripMargin)
  }

  /** One CDC changelog micro-batch applied onto the merge-on-read table
    * (shared with the replay-idempotence spec). The apply discipline:
    * LAST-WRITER-WINS dedup per key first — a changelog batch may carry
    * several changes for one id and MERGE requires a unique source key —
    * then one MERGE whose DELETE branch expresses the equality delete
    * (key-addressed, position-free; [[graft.sources.SegDeltaOperation]]
    * resolves it to positional vectors at commit). Replaying a batch is
    * a no-op by merge algebra: an upsert re-applies the same values, a
    * delete of an absent key matches nothing. */
  private[graft] def applyCdcMorBatch(batch: DataFrame): Unit = {
    graft.ops.ensureGraftCatalog(batch.sparkSession)
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("id").orderBy(col("seq").desc)
    batch.withColumn("rn", row_number().over(w))
      .filter(col("rn") === 1).drop("rn")
      .createOrReplaceTempView("graft_cdc_mor_batch")
    batch.sparkSession.sql(
      """MERGE INTO graft_cat.db.cdc_mor t
        |USING graft_cdc_mor_batch u ON t.id = u.id
        |WHEN MATCHED AND u.op = 'D' THEN DELETE
        |WHEN MATCHED THEN UPDATE SET v = u.v, ver = u.ver
        |WHEN NOT MATCHED AND u.op <> 'D' THEN
        |  INSERT (id, v, ver) VALUES (u.id, u.v, u.ver)""".stripMargin)
    ()
  }

  /** ext123 — streaming CDC upsert+delete apply with EQUALITY-DELETE
    * semantics onto a merge-on-read catalog table: the row-level twin of
    * ext58's copy-on-write MERGE. A keyed changelog (op = U upsert /
    * D delete, seq-ordered) streams in file-per-trigger micro-batches;
    * each batch dedups last-writer-wins per key and MERGEs — deletes by
    * KEY (the Iceberg equality-delete contract), which the delta write
    * turns into positional deletion vectors, so applying a batch costs
    * the batch + KB sidecars, never a segment-group rewrite. The oracle
    * is the batch reduction of the same log (final value per key, delete
    * wins when last); the b2 batch carries TWO changes for ids 100..199
    * to pin the dedup, and re-upserts keys b1 deleted to pin
    * insert-after-delete across a live vector. */
  val streamCdcUpsertMor: Q = (s, d) => {
    graft.ops.ensureGraftCatalog(s)
    s.sql("DROP TABLE IF EXISTS graft_cat.db.cdc_mor")
    s.sql(
      """CREATE TABLE graft_cat.db.cdc_mor (id BIGINT, v BIGINT, ver BIGINT)
        |TBLPROPERTIES ('graft.dml.mode'='merge-on-read')""".stripMargin)
    val dir = scratchDir(s, "stream_cdc_mor")
    deleteRec(Paths.get(dir))
    val seq0 = s.read.format("graft.sources.SeqSourceProvider")
      .option("rows", "1000").option("parts", "2").load()
    // b0: initial image — an upsert per id 0..999
    val b0 = seq0.select(col("id").as("seq"), col("id"), lit("U").as("op"),
      col("v"), lit(1L).as("ver"))
    // b1: ids 0..499 — even ids update (+10000), odd ids DELETE
    val b1 = seq0.filter(col("id") < 500).select(
      (col("id") + 1000).as("seq"), col("id"),
      when(col("id") % 2 === 0, lit("U")).otherwise(lit("D")).as("op"),
      (col("v") + 10000).as("v"), lit(2L).as("ver"))
    // b2: ids 100..399 re-upsert (+20000, ver 3) — including the odd ids
    // b1 deleted — plus a SECOND change for ids 100..199 (+30000, ver 4)
    val b2 = seq0.filter(col("id") >= 100 && col("id") < 400).select(
      (col("id") + 1400).as("seq"), col("id"), lit("U").as("op"),
      (col("v") + 20000).as("v"), lit(3L).as("ver"))
      .unionAll(seq0.filter(col("id") >= 100 && col("id") < 200).select(
        (col("id") + 1700).as("seq"), col("id"), lit("U").as("op"),
        (col("v") + 30000).as("v"), lit(4L).as("ver")))
    val now = System.currentTimeMillis()
    copyAs(stagedOnce(s, d, "cdcm_b0", "json")(b0),
      Paths.get(s"$dir/in/b0.json"), now - 90000)
    copyAs(stagedOnce(s, d, "cdcm_b1", "json")(b1),
      Paths.get(s"$dir/in/b1.json"), now - 60000)
    copyAs(stagedOnce(s, d, "cdcm_b2", "json")(b2),
      Paths.get(s"$dir/in/b2.json"), now - 30000)
    val logSchema = StructType(Seq(StructField("seq", LongType),
      StructField("id", LongType), StructField("op", StringType),
      StructField("v", LongType), StructField("ver", LongType)))
    withStreamShuffle(s) {
      val query = s.readStream.schema(logSchema)
        .option("maxFilesPerTrigger", "1")
        .json(s"$dir/in")
        .writeStream
        .foreachBatch { (batch: DataFrame, _: Long) =>
          applyCdcMorBatch(batch)
        }
        .start()
      try query.processAllAvailable()
      finally query.stop()
    }
    s.sql("REFRESH TABLE graft_cat.db.cdc_mor")
    s.sql(
      """SELECT id DIV 100 AS band, COUNT(*) AS n, SUM(v) AS v_sum,
        |  SUM(ver) AS ver_sum
        |FROM graft_cat.db.cdc_mor GROUP BY 1 ORDER BY band""".stripMargin)
  }

  /** ext128 — the PRODUCING half of the CDC story (ext123 is the
    * applying half): a live stream over a merge-on-read table's change
    * feed (`readStream.table("cat.db.t.changes")` — Iceberg's changes
    * metadata table, Delta's CDC-stream surface —
    * [[graft.sources.SegCdfMicroBatchStream]]). Where
    * the plain segment stream refuses non-append history, this stream
    * REPLAYS it as change rows: the MoR DELETE arrives as vector-diff
    * pre-images, the UPDATE as delete+insert pairs, and the compaction
    * emits NOTHING — all attributed to their commit versions. The DML
    * lands across three separate trigger windows (processAllAvailable
    * between waves), so version attribution is pinned across micro-
    * batch boundaries, not just within one catch-up batch; the oracle
    * restates the full feed, so hash equality proves exactly-once at
    * the change-row level. Each trigger's cost is its churn — the
    * manifest-arithmetic slices of [[graft.sources.CdfPlan]] — never a
    * snapshot scan. */
  val streamCdfSource: Q = (s, _) => {
    graft.ops.ensureGraftCatalog(s)
    s.sql("DROP TABLE IF EXISTS graft_cat.db.scdf")
    s.sql(
      """CREATE TABLE graft_cat.db.scdf (id BIGINT, v BIGINT)
        |TBLPROPERTIES ('graft.dml.mode'='merge-on-read')""".stripMargin)
    s.read.format("graft.sources.SeqSourceProvider")
      .option("rows", "2000").option("parts", "4").load()
      .createOrReplaceTempView("graft_seq_scdf")
    s.sql("INSERT INTO graft_cat.db.scdf SELECT id, v FROM graft_seq_scdf WHERE id < 1000") // v1
    val query = s.readStream.table("graft_cat.db.scdf.changes")
      .writeStream.outputMode("append")
      .format("memory").queryName("graft_scdf_feed").start()
    try {
      query.processAllAvailable() // trigger window 1: v1 inserts
      s.sql("INSERT INTO graft_cat.db.scdf SELECT id, v FROM graft_seq_scdf WHERE id >= 1000") // v2
      s.sql("DELETE FROM graft_cat.db.scdf WHERE v < 100")                                     // v3
      query.processAllAvailable() // trigger window 2: v2 inserts + v3 pre-images
      s.sql("UPDATE graft_cat.db.scdf SET v = v + 10000 WHERE id % 10 = 3")                    // v4
      s.sql("CALL graft_cat.system.compact('db.scdf', 100000000)").collect()                   // v5
      query.processAllAvailable() // trigger window 3: v4 pairs; v5 emits nothing
    } finally query.stop()
    s.sql(
      """SELECT id, v, _change_type AS change_type, _commit_version AS commit_v
        |FROM graft_scdf_feed
        |ORDER BY id, commit_v, change_type""".stripMargin)
  }

  /** Incremental warehouse build: checkin NDJSON arrives as a stream and
    * `foreachBatch` runs the REAL warehouse transform
    * (Transforms.checkinRows — explode, lenient parse, datetime broadcast
    * join) per micro-batch, appending to the at-rest fact table. The final
    * fact contents equal the one-shot batch build — incremental ingestion
    * is a pure refactoring of the same plan, which is what the oracle
    * states. At 100 TB/day this is the Kafka→fact-table path; per-batch
    * work scales with the batch, not the table.
    */
  val incrementalWarehouse: Q = (s, d) => {
    import graft.dw.{DateDims, Schemas, Transforms}
    val dir = scratchDir(s, "stream_wh")
    deleteRec(Paths.get(dir))
    val k = col("o_orderkey")
    def half(lo: Long, hi: Long): DataFrame = graft.ops.table(s, d, "orders")
      .filter(k > lo && k <= hi)
      .select(k.cast("string").as("business_id"),
        concat(
          date_format(col("o_orderdate"), "yyyy-MM-dd HH:mm:ss"), lit(", "),
          date_format(date_add(col("o_orderdate").cast("date"), 7), "yyyy-MM-dd"),
          lit(" 12:00:00, not-a-date")).as("date"))
    val now = System.currentTimeMillis()
    copyAs(stagedOnce(s, d, "wh_lo", "json")(half(-1, 250)),
      Paths.get(s"$dir/in/b0.json"), now - 60000)
    copyAs(stagedOnce(s, d, "wh_hi", "json")(half(250, 500)),
      Paths.get(s"$dir/in/b1.json"), now - 30000)
    val dim = DateDims.dimDatetime(s)
    val factDir = s"$dir/fact_checkins"
    withStreamShuffle(s) {
      val query = s.readStream.schema(Schemas.checkin)
        .option("maxFilesPerTrigger", "1")
        .json(s"$dir/in")
        .writeStream
        .foreachBatch { (batch: DataFrame, _: Long) =>
          Transforms.checkinRows(batch, dim).write.mode("append").parquet(factDir)
        }
        .start()
      try query.processAllAvailable()
      finally query.stop()
    }
    s.read.parquet(factDir)
      .groupBy("business_id")
      .agg(count(lit(1)).as("n_checkins"),
        min(col("datetime_id")).as("first_dt"), max(col("datetime_id")).as("last_dt"))
      .orderBy(col("business_id").cast("int"))
  }

  /** Kafka-shaped ingest through the [[Channel]] abstraction: events are
    * staged as wire-envelope NDJSON (topic, part_id, offset, key, value)
    * with the payload as JSON text, read back through [[FileChannel]] —
    * the tested twin of [[KafkaChannel]] — parsed with an explicit value
    * schema, and aggregated per (bus partition, event_type). Swapping
    * FileChannel for KafkaChannel is the only line a cluster deployment
    * changes. The oracle restates the aggregate over the original rows:
    * the envelope round-trip must be lossless (Jackson's shortest-repr
    * doubles parse back bit-identical). */
  val channelEnvelope: Q = (s, d) => {
    val dir = scratchDir(s, "channel")
    deleteRec(Paths.get(dir))
    def envelope = events(s, d).select(
      lit("events").as("topic"),
      (col("event_id") % 4).cast("int").as("part_id"),
      col("event_id").as("offset"),
      col("user_id").cast("string").as("key"),
      to_json(struct(col("event_type"), col("value"))).as("value"),
      col("ts"))
    copyAs(stagedOnce(s, d, "envelope", "json")(envelope),
      Paths.get(s"$dir/in/b0.json"), System.currentTimeMillis() - 60000)
    val valueSchema = StructType(Seq(
      StructField("event_type", StringType), StructField("value", DoubleType)))
    val parsed = FileChannel(s"$dir/in").read(s)
      .filter(col("topic") === "events")
      .select(col("part_id"), from_json(col("value"), valueSchema).as("v"))
      .select(col("part_id"), col("v.event_type").as("event_type"),
        col("v.value").as("value"))
    val agg = parsed.groupBy("part_id", "event_type")
      .agg(count(lit(1)).as("n"), dsum(col("value")).as("value_sum"))
    val sinkName = s"graft_stream_channel_${sessionToken(s)}"
    withStreamShuffle(s) {
      val query = agg.writeStream.outputMode("complete")
        .format("memory").queryName(sinkName).start()
      try query.processAllAvailable()
      finally query.stop()
    }
    s.table(sinkName)
      .select("part_id", "event_type", "n", "value_sum")
      .orderBy("part_id", "event_type")
  }

  val queries: Map[String, Q] = Map(
    "ext14_stream_tumbling" -> tumbling,
    "ext15_stream_session" -> session,
    "ext21_stream_stateful" -> statefulHighWater,
    "ext22_stream_late_drop" -> slidingLateDrop,
    "ext24_stream_incremental_wh" -> incrementalWarehouse,
    "ext128_stream_cdf_source" -> streamCdfSource,
    "ext29_stream_dedup_watermark" -> streamDedupWatermark,
    "ext32_channel_envelope" -> channelEnvelope,
    "ext35_stream_checkpoint_restart" -> checkpointRestart,
    "ext41_stream_stream_join" -> streamStreamJoin,
    "ext80_stream_outer_join" -> streamOuterJoin,
    "ext42_stream_update_mode" -> streamUpdateMode,
    "ext44_dsv2_stream_source" -> dsv2StreamSource,
    "ext46_stream_custom_sink" -> streamCustomSink,
    "ext51_sink_time_travel" -> sinkTimeTravel,
    "ext53_trigger_available_now" -> availableNowDrain,
    "ext55_stream_static_join" -> streamStaticJoin,
    "ext58_stream_merge_catalog" -> streamMergeCatalog,
    "ext123_stream_cdc_upsert_mor" -> streamCdcUpsertMor,
    "ext82_stream_transform_state" -> transformWithStateSeq,
    "ext100_stream_bitmap_distinct" -> streamBitmapDistinct,
    "ext88_stream_timer_sessions" -> timerSessions,
    "ext89_stream_initial_state" -> transformWithInitialState,
    "ext90_stream_chained_aggs" -> chainedWindowAggs,
    "ext92_stream_catalog_source" -> streamCatalogSource,
    "ext133_stream_index_maintenance" -> streamIndexMaintenance,
    "ext138_stream_cdc_index" -> streamCdcIndexMaintenance,
    "ext151_stream_sq_maintenance" -> streamSqMaintenance,
    "ext164_stream_label_maintenance" -> streamLabelMaintenance,
    "ext169_stream_capped_label_maintenance" -> streamCappedLabelMaintenance,
    "ext103_stream_rate_limit" -> streamRateLimit,
    "ext107_stream_quarantine" -> streamQuarantine,
    "ext114_stream_wap_branch" -> streamWapBranch)

  /** Global per-user prefix maxima — the batch restatement of the
    * high-water-mark stream, shared by ext21 (state across micro-batches)
    * and ext35 (state across a checkpointed query restart). */
  private val prefixMaximaSql =
    """WITH e AS (
      |  SELECT event_id, user_id, value, epoch_us(CAST(ts AS TIMESTAMP)) AS tsu
      |  FROM events),
      |m AS (
      |  SELECT user_id, event_id, value,
      |    MAX(value) OVER (PARTITION BY user_id ORDER BY tsu, event_id
      |                     ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS pm
      |  FROM e)
      |SELECT user_id, event_id, value FROM m
      |WHERE pm IS NULL OR value > pm
      |ORDER BY user_id, event_id""".stripMargin

  val oracleSql: Map[String, String] = Map(
    // the stream-maintained index must converge to exactly the
    // batch-built one, so ext03's oracle over the full corpus applies
    "ext133_stream_index_maintenance" -> graft.ext.Dedup.minhashLshOracleSql,
    // the change-feed-stream-maintained index must converge to exactly
    // ext134's batch-CDC state over the post-delete post-update corpus
    "ext138_stream_cdc_index" -> graft.ext.Dedup.cdcMutatedLshOracleSql,
    "ext164_stream_label_maintenance" ->
      graft.ext.Dedup.streamLabelOracleSql,
    "ext169_stream_capped_label_maintenance" ->
      graft.ext.Dedup.streamCappedLabelOracleSql,
    "ext151_stream_sq_maintenance" ->
      graft.ext.Similarity.sqCdcMutatedOracleSql,
    // emission 1 = lower event-time half, emission 2 = cumulative all —
    // the second exceeding the first is the state-persistence claim
    "ext100_stream_bitmap_distinct" ->
      """WITH e AS (
        |  SELECT event_type, user_id, epoch_us(CAST(ts AS TIMESTAMP)) AS tsu
        |  FROM events),
        |bounds AS (SELECT (MIN(tsu) + MAX(tsu)) // 2 AS mid FROM e),
        |b0 AS (
        |  SELECT event_type, COUNT(DISTINCT user_id) AS n
        |  FROM e, bounds WHERE tsu < mid GROUP BY 1),
        |cum AS (
        |  SELECT event_type, COUNT(DISTINCT user_id) AS n FROM e GROUP BY 1)
        |SELECT event_type, CAST(1 AS BIGINT) AS emit_idx, n AS distinct_users
        |FROM b0
        |UNION ALL
        |SELECT event_type, CAST(2 AS BIGINT) AS emit_idx, n AS distinct_users
        |FROM cum
        |ORDER BY event_type, emit_idx""".stripMargin,
    // ext90: both rollup layers restated in batch; a day emits iff the
    // final watermark (global max - 1h) passed its end
    "ext92_stream_catalog_source" ->
      """WITH t AS (
        |  SELECT r.range AS id, (r.range * 2654435761) % 1000 AS v
        |  FROM range(4000) r)
        |SELECT CAST(id // 500 AS BIGINT) AS band, COUNT(*) AS n,
        |  CAST(SUM(v) AS BIGINT) AS v_sum
        |FROM t GROUP BY 1 ORDER BY band""".stripMargin,
    // ext114: main_v1 = the pre-stream seed; bad = policy violations in
    // the ingested slab only; published = seed + clean ingest — the
    // branch's 3 commits (2 stream appends + 1 repair) land main at v2
    "ext114_stream_wap_branch" ->
      """WITH t AS (
        |  SELECT r.range AS id, (r.range * 2654435761) % 1000 AS v
        |  FROM range(1500) r)
        |SELECT leg, n, sum_v FROM (
        |  SELECT 'main_v1' AS leg, COUNT(*) AS n,
        |    CAST(SUM(v) AS BIGINT) AS sum_v FROM t WHERE id < 500
        |  UNION ALL
        |  SELECT 'bad', COUNT(*), CAST(SUM(v) AS BIGINT)
        |  FROM t WHERE id >= 500 AND v >= 900
        |  UNION ALL
        |  SELECT 'published', COUNT(*), CAST(SUM(v) AS BIGINT)
        |  FROM t WHERE id < 500 OR v < 900
        |  UNION ALL
        |  SELECT 'ff', CAST(3 AS BIGINT), CAST(2 AS BIGINT))
        |ORDER BY leg""".stripMargin,
    // ext107: the split is exactly the declared constraint over the
    // generator formula
    "ext107_stream_quarantine" ->
      """WITH t AS (
        |  SELECT r.range AS id, (r.range * 2654435761) % 1000 AS v
        |  FROM range(1500) r)
        |SELECT 'kept' AS bucket, COUNT(*) AS n, CAST(SUM(v) AS BIGINT) AS v_sum
        |FROM t WHERE v < 900
        |UNION ALL
        |SELECT 'quarantined', COUNT(*), CAST(SUM(v) AS BIGINT)
        |FROM t WHERE v >= 900
        |ORDER BY bucket""".stripMargin,
    // ext103: the 4-version commit history drained under a 4-segment cap
    // must schedule exactly four data micro-batches (n_batches pins it)
    "ext103_stream_rate_limit" ->
      """WITH t AS (
        |  SELECT r.range AS id, (r.range * 2654435761) % 1000 AS v
        |  FROM range(4000) r)
        |SELECT CAST(id // 1000 AS BIGINT) AS band, COUNT(*) AS n,
        |  CAST(SUM(v) AS BIGINT) AS v_sum, CAST(4 AS BIGINT) AS n_batches
        |FROM t GROUP BY 1 ORDER BY band""".stripMargin,
    "ext90_stream_chained_aggs" ->
      """WITH e AS (
        |  SELECT event_type, CAST(ts AS TIMESTAMP) AS t FROM events),
        |hr AS (
        |  SELECT event_type, date_trunc('hour', t) AS h, COUNT(*) AS n
        |  FROM e GROUP BY 1, 2),
        |dy AS (
        |  SELECT event_type, date_trunc('day', h) AS day, MAX(n) AS max_hourly
        |  FROM hr GROUP BY 1, 2),
        |wm AS (SELECT MAX(t) - INTERVAL 1 HOUR AS w FROM e)
        |SELECT event_type, strftime(day, '%Y-%m-%d') AS day, max_hourly
        |FROM dy, wm WHERE day + INTERVAL 1 DAY <= w
        |ORDER BY event_type, day""".stripMargin,
    // ext89: the streamed (newer-half) events numbered by the GLOBAL
    // per-user arrival index — correct only if the batch backfill counts
    // seeded the state store before the first micro-batch
    "ext89_stream_initial_state" ->
      """WITH e AS (
        |  SELECT event_id, user_id, epoch_us(CAST(ts AS TIMESTAMP)) AS tsu
        |  FROM events WHERE user_id % 5 = 0),
        |b AS (
        |  SELECT (MIN(epoch_us(CAST(ts AS TIMESTAMP))) +
        |          MAX(epoch_us(CAST(ts AS TIMESTAMP)))) // 2 AS mid
        |  FROM events),
        |r AS (
        |  SELECT user_id, event_id, tsu,
        |    CAST(ROW_NUMBER() OVER (PARTITION BY user_id
        |                            ORDER BY tsu, event_id) AS BIGINT) AS seq
        |  FROM e)
        |SELECT user_id, event_id, seq FROM r, b WHERE tsu >= mid
        |ORDER BY user_id, event_id""".stripMargin,
    // ext88: sessions the timer machinery must have closed = users idle
    // for >= gap by the final watermark (global max event-time ms - 1 h);
    // open sessions are withheld in state and must NOT appear
    "ext88_stream_timer_sessions" ->
      """WITH e AS (
        |  SELECT user_id, epoch_us(CAST(ts AS TIMESTAMP)) AS tsu FROM events),
        |agg AS (
        |  SELECT user_id, COUNT(*) AS n_events,
        |    MIN(tsu) AS first_tsu, MAX(tsu) AS last_tsu
        |  FROM e GROUP BY 1),
        |wm AS (SELECT MAX(tsu) // 1000 - 3600000 AS w FROM e)
        |SELECT user_id, n_events, first_tsu, last_tsu
        |FROM agg, wm WHERE last_tsu // 1000 + 86400000 <= w
        |ORDER BY user_id""".stripMargin,
    // ext82: the per-user arrival index and first-seen-type flag restated
    // as batch window functions over global (event-time, id) order —
    // matching across the batch boundary proves BOTH named state
    // variables (counter + type set) survived into batch 1
    "ext82_stream_transform_state" ->
      """WITH e AS (
        |  SELECT event_id, user_id, event_type,
        |    epoch_us(CAST(ts AS TIMESTAMP)) AS tsu
        |  FROM events WHERE user_id % 5 = 0)
        |SELECT user_id, event_id,
        |  CAST(ROW_NUMBER() OVER (PARTITION BY user_id
        |                          ORDER BY tsu, event_id) AS BIGINT) AS seq,
        |  CASE WHEN ROW_NUMBER() OVER (PARTITION BY user_id, event_type
        |                               ORDER BY tsu, event_id) = 1
        |       THEN 1 ELSE 0 END AS new_type
        |FROM e ORDER BY user_id, event_id""".stripMargin,
    // one survivor per (user_id, event_type, day) key -> the per-(type,
    // day) key counts equal batch DISTINCT counts
    "ext29_stream_dedup_watermark" ->
      """WITH dd AS (
        |  SELECT DISTINCT user_id, event_type,
        |    strftime(CAST(ts AS TIMESTAMP), '%Y-%m-%d') AS day
        |  FROM events)
        |SELECT event_type, day, COUNT(*) AS n_users
        |FROM dd GROUP BY 1, 2
        |ORDER BY event_type, day""".stripMargin,
    // four offset-tracked micro-batches must together cover the relation
    // exactly once — the complete-mode result equals the batch aggregate
    "ext44_dsv2_stream_source" ->
      """WITH t AS (
        |  SELECT r.range AS id, (r.range * 2654435761) % 1000 AS v
        |  FROM range(20000) r)
        |SELECT id % 5 AS g, COUNT(*) AS n, CAST(SUM(v) AS BIGINT) AS v_sum
        |FROM t GROUP BY 1 ORDER BY g""".stripMargin,
    // four epoch-commits through the custom streaming sink's manifest
    // must together equal the one-shot batch relation (exactly-once)
    "ext46_stream_custom_sink" ->
      """WITH t AS (
        |  SELECT r.range AS id, (r.range * 2654435761) % 1000 AS v
        |  FROM range(8000) r)
        |SELECT id % 7 AS g, COUNT(*) AS n, CAST(SUM(v) AS BIGINT) AS v_sum
        |FROM t GROUP BY 1 ORDER BY g""".stripMargin,
    // per-batch broadcast enrichment must equal the one-shot batch join
    "ext55_stream_static_join" ->
      """WITH t AS (
        |  SELECT r.range AS id, (r.range * 2654435761) % 1000 AS v
        |  FROM range(20000) r)
        |SELECT n_name, COUNT(*) AS n, CAST(SUM(v) AS BIGINT) AS v_sum
        |FROM t JOIN nation ON id % 25 = n_nationkey
        |GROUP BY n_name ORDER BY n_name""".stripMargin,
    // rate-limited AvailableNow drain must equal the batch aggregate
    "ext53_trigger_available_now" ->
      """WITH t AS (
        |  SELECT r.range AS id, (r.range * 2654435761) % 1000 AS v
        |  FROM range(20000) r)
        |SELECT id % 4 AS g, COUNT(*) AS n, CAST(SUM(v) AS BIGINT) AS v_sum
        |FROM t GROUP BY 1 ORDER BY g""".stripMargin,
    // batch 0 inserts ids 0..999 (ver 1); batch 1 upserts 500..1499
    // (ver 2, v+1) — update-wins on the overlap, insert on the rest
    // batch reduction of the seq-ordered changelog: per id the LAST
    // change wins (delete → absent); bands pin every region — 0..99
    // even-updated/odd-deleted, 100..199 ver-4 dedup winner, 200..399
    // ver-3 re-upserts (incl. insert-after-delete), 400..499 as 0..99,
    // 500..999 untouched initial image
    // the streamed feed == the batch restatement of the same DML waves:
    // inserts at v1/v2, MoR DELETE pre-images at v3, UPDATE delete+insert
    // pairs at v4 (update skips rows v3 already deleted), compaction at
    // v5 contributes NOTHING (content-identical reorganization)
    "ext128_stream_cdf_source" ->
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
    "ext123_stream_cdc_upsert_mor" ->
      """WITH seq AS (
        |  SELECT r.range AS id, (r.range * 2654435761) % 1000 AS v
        |  FROM range(1000) r),
        |fin AS (
        |  SELECT id,
        |    CASE WHEN id < 100 THEN v + 10000
        |         WHEN id < 200 THEN v + 30000
        |         WHEN id < 400 THEN v + 20000
        |         WHEN id < 500 THEN v + 10000
        |         ELSE v END AS v,
        |    CASE WHEN id < 100 THEN 2 WHEN id < 200 THEN 4
        |         WHEN id < 400 THEN 3 WHEN id < 500 THEN 2
        |         ELSE 1 END AS ver
        |  FROM seq
        |  WHERE NOT (id % 2 = 1 AND (id < 100 OR (id >= 400 AND id < 500))))
        |SELECT id // 100 AS band, COUNT(*) AS n,
        |  CAST(SUM(v) AS BIGINT) AS v_sum, CAST(SUM(ver) AS BIGINT) AS ver_sum
        |FROM fin GROUP BY 1 ORDER BY band""".stripMargin,
    "ext58_stream_merge_catalog" ->
      """WITH t AS (
        |  SELECT r.range AS id,
        |    CASE WHEN r.range < 500 THEN (r.range * 2654435761) % 1000
        |         ELSE (r.range * 2654435761) % 1000 + 1 END AS v,
        |    CASE WHEN r.range < 500 THEN 1 ELSE 2 END AS ver
        |  FROM range(1500) r)
        |SELECT id // 500 AS band, COUNT(*) AS n, CAST(SUM(v) AS BIGINT) AS v_sum,
        |  CAST(SUM(ver) AS BIGINT) AS ver_sum
        |FROM t GROUP BY 1 ORDER BY band""".stripMargin,
    // snapshot as-of epoch 1 = the first two admitted 2000-row ranges;
    // latest = the whole relation — both consistent, from one manifest
    "ext51_sink_time_travel" ->
      """WITH t AS (
        |  SELECT r.range AS id, (r.range * 2654435761) % 1000 AS v
        |  FROM range(8000) r),
        |s1 AS (
        |  SELECT 'epoch1' AS snap, id % 3 AS g, COUNT(*) AS n,
        |    CAST(SUM(v) AS BIGINT) AS v_sum
        |  FROM t WHERE id < 4000 GROUP BY 2),
        |s2 AS (
        |  SELECT 'latest' AS snap, id % 3 AS g, COUNT(*) AS n,
        |    CAST(SUM(v) AS BIGINT) AS v_sum
        |  FROM t GROUP BY 2)
        |SELECT snap, g, n, v_sum FROM (
        |  SELECT * FROM s1 UNION ALL SELECT * FROM s2)
        |ORDER BY snap, g""".stripMargin,
    // update mode = changelog: batch-0 partial counts for every key,
    // then batch-1 FINAL counts only for keys with second-half rows
    "ext42_stream_update_mode" ->
      """WITH e AS (
        |  SELECT event_type, value, epoch_us(CAST(ts AS TIMESTAMP)) AS tsu
        |  FROM events),
        |bounds AS (SELECT (MIN(tsu) + MAX(tsu)) // 2 AS mid FROM e),
        |b0 AS (
        |  SELECT event_type, COUNT(*) AS n,
        |    CAST(CAST(SUM(CAST(value AS DECIMAL(18,6))) AS DECIMAL(38,4)) AS DOUBLE) AS value_sum
        |  FROM e, bounds WHERE tsu < mid GROUP BY event_type),
        |b1 AS (
        |  SELECT event_type, COUNT(*) AS n,
        |    CAST(CAST(SUM(CAST(value AS DECIMAL(18,6))) AS DECIMAL(38,4)) AS DOUBLE) AS value_sum
        |  FROM e GROUP BY event_type
        |  HAVING event_type IN (SELECT DISTINCT event_type FROM e, bounds WHERE tsu >= mid))
        |SELECT event_type, n, value_sum FROM b0
        |UNION ALL
        |SELECT event_type, n, value_sum FROM b1
        |ORDER BY event_type, n""".stripMargin,
    // the stream-stream join's emitted set equals the batch join under
    // the same key + time-range condition
    "ext41_stream_stream_join" ->
      """WITH e AS (
        |  SELECT event_id, user_id, event_type, CAST(ts AS TIMESTAMP) AS ts,
        |         epoch_us(CAST(ts AS TIMESTAMP)) AS tsu
        |  FROM events),
        |c AS (SELECT event_id AS c_id, user_id, tsu FROM e WHERE event_type = 'click'),
        |p AS (SELECT event_id AS p_id, user_id, tsu FROM e WHERE event_type = 'purchase')
        |SELECT c.c_id, p.p_id, c.user_id, p.tsu - c.tsu AS gap_us
        |FROM c JOIN p ON c.user_id = p.user_id
        |  AND p.tsu >= c.tsu AND p.tsu <= c.tsu + 7200000000
        |ORDER BY c_id, p_id""".stripMargin,
    // outer results exist only for clicks whose whole 2h match window is
    // below the final global watermark = min(max click ts, max purchase
    // ts) - 1h; younger unmatched clicks are retained state, not output
    "ext80_stream_outer_join" ->
      """WITH e AS (
        |  SELECT event_id, user_id, event_type,
        |         epoch_us(CAST(ts AS TIMESTAMP)) AS tsu
        |  FROM events),
        |c AS (SELECT event_id AS c_id, user_id, tsu FROM e WHERE event_type = 'click'),
        |p AS (SELECT event_id AS p_id, user_id, tsu FROM e WHERE event_type = 'purchase'),
        |wm AS (
        |  SELECT least((SELECT MAX(tsu) FROM c), (SELECT MAX(tsu) FROM p))
        |         - 3600000000 AS w),
        |j AS (
        |  SELECT c.c_id, p.p_id, c.user_id, p.tsu - c.tsu AS gap_us, c.tsu AS c_tsu
        |  FROM c LEFT JOIN p ON c.user_id = p.user_id
        |    AND p.tsu >= c.tsu AND p.tsu <= c.tsu + 7200000000)
        |SELECT c_id, p_id, user_id, gap_us
        |FROM j
        |WHERE p_id IS NOT NULL OR c_tsu + 7200000000 < (SELECT w FROM wm)
        |ORDER BY c_id, COALESCE(p_id, -1)""".stripMargin,
    // the envelope round-trip is lossless, so the per-(bus-partition,
    // type) aggregate equals the same aggregate over the original rows
    "ext32_channel_envelope" ->
      """SELECT CAST(event_id % 4 AS INT) AS part_id, event_type,
        |  COUNT(*) AS n,
        |  CAST(CAST(SUM(CAST(value AS DECIMAL(18,6))) AS DECIMAL(38,4)) AS DOUBLE) AS value_sum
        |FROM events
        |GROUP BY 1, 2
        |ORDER BY part_id, event_type""".stripMargin,
    "ext14_stream_tumbling" ->
      """SELECT strftime(time_bucket(INTERVAL 1 HOUR, CAST(ts AS TIMESTAMP)),
        |         '%Y-%m-%d %H:%M:%S') AS window_start,
        |  event_type, COUNT(*) AS n,
        |  CAST(CAST(SUM(CAST(value AS DECIMAL(18,6))) AS DECIMAL(38,4)) AS DOUBLE) AS value_sum
        |FROM events
        |GROUP BY 1, 2 ORDER BY window_start, event_type""".stripMargin,
    // incremental build == batch build; the oracle states the one-shot
    // relational semantics over the same constructed checkin rows
    "ext24_stream_incremental_wh" ->
      """WITH exploded AS (
        |  SELECT CAST(o_orderkey AS VARCHAR) AS business_id,
        |    unnest([strftime(o_orderdate, '%Y-%m-%d'),
        |            strftime(CAST(o_orderdate AS DATE) + 7, '%Y-%m-%d')]) AS dstr
        |  FROM orders WHERE o_orderkey <= 500),
        |mapped AS (
        |  SELECT business_id,
        |    CAST(datediff('day', DATE '1948-09-06', CAST(dstr AS DATE)) AS INT) AS datetime_id
        |  FROM exploded
        |  WHERE CAST(dstr AS DATE) BETWEEN DATE '1948-09-06' AND DATE '2025-12-31')
        |SELECT business_id, COUNT(*) AS n_checkins,
        |  MIN(datetime_id) AS first_dt, MAX(datetime_id) AS last_dt
        |FROM mapped GROUP BY business_id
        |ORDER BY CAST(business_id AS INT)""".stripMargin,
    // state persistence is the thing under test; the oracle states the
    // equivalent GLOBAL prefix-maxima (batches are time-split and ordered,
    // so streamed emissions == batch window semantics)
    "ext21_stream_stateful" -> prefixMaximaSql,
    // ext35 = ext21's flow with a query restart between the halves: the
    // same prefix-maxima oracle passing means the state store came back
    // from the checkpoint (and committed batches were not re-emitted)
    "ext35_stream_checkpoint_restart" -> prefixMaximaSql,
    // the late (old-half) batch is dropped by the watermark; emitted set =
    // closed sliding windows over the new half only (watermark tracked in
    // milliseconds like Spark's)
    "ext22_stream_late_drop" ->
      """WITH e AS (
        |  SELECT event_type, value, CAST(ts AS TIMESTAMP) AS t,
        |         epoch_us(CAST(ts AS TIMESTAMP)) AS tsu
        |  FROM events),
        |bounds AS (SELECT (MIN(tsu) + MAX(tsu)) // 2 AS mid FROM e),
        |b0 AS (SELECT e.* FROM e, bounds WHERE tsu >= mid),
        |wm AS (SELECT MAX(tsu) // 1000 - 3600000 AS w_ms FROM b0),
        |wins AS (
        |  SELECT event_type, value,
        |    unnest([time_bucket(INTERVAL 30 MINUTES, t),
        |            time_bucket(INTERVAL 30 MINUTES, t) - INTERVAL 30 MINUTES]) AS ws
        |  FROM b0)
        |SELECT strftime(ws, '%Y-%m-%d %H:%M:%S') AS window_start, event_type,
        |  COUNT(*) AS n,
        |  CAST(CAST(SUM(CAST(value AS DECIMAL(18,6))) AS DECIMAL(38,4)) AS DOUBLE) AS value_sum
        |FROM wins, wm
        |WHERE epoch_us(ws + INTERVAL 1 HOUR) // 1000 <= w_ms
        |GROUP BY 1, 2
        |ORDER BY window_start, event_type""".stripMargin,
    "ext15_stream_session" ->
      """WITH e AS (SELECT user_id, CAST(ts AS TIMESTAMP) AS ts, value FROM events),
        |brk AS (
        |  SELECT user_id, ts, value,
        |    CASE WHEN lag(ts) OVER w IS NULL
        |           OR ts - lag(ts) OVER w >= INTERVAL 5 MINUTE THEN 1 ELSE 0 END AS is_new
        |  FROM e WINDOW w AS (PARTITION BY user_id ORDER BY ts)),
        |sessions AS (
        |  SELECT user_id, ts, value,
        |    SUM(is_new) OVER (PARTITION BY user_id ORDER BY ts
        |                      ROWS UNBOUNDED PRECEDING) AS sid
        |  FROM brk)
        |SELECT user_id,
        |  strftime(MIN(ts), '%Y-%m-%d %H:%M:%S') AS session_start,
        |  strftime(MAX(ts) + INTERVAL 5 MINUTE, '%Y-%m-%d %H:%M:%S') AS session_end,
        |  COUNT(*) AS n_events,
        |  CAST(CAST(SUM(CAST(value AS DECIMAL(18,6))) AS DECIMAL(38,4)) AS DOUBLE) AS value_sum
        |FROM sessions GROUP BY user_id, sid
        |ORDER BY user_id, session_start""".stripMargin)
}
