package perfbench

import java.nio.file.{Path, Paths}

import scala.collection.mutable

import graft.dw.Warehouse
import graft.ext.{AnnIndex, DedupIndex, SearchIndex}
import org.apache.spark.sql.{DataFrame, SparkSession}
import perfbench.Main._

/** The warehouse tables grouped by the reference's eight pipelines. */
object Pipelines {
  val groups: Seq[(String, Set[String])] = Seq(
    "dates" -> Set("dim_datetime", "dim_date", "dim_hour"),
    "business" -> Set("dim_business", "dim_category", "fact_business_categories",
      "dim_attribute", "fact_business_attributes", "fact_business_hours"),
    "user" -> Set("dim_user", "dim_elite", "dim_friend", "fact_user_elite",
      "fact_user_friend"),
    "review" -> Set("fact_reviews"),
    "checkin" -> Set("fact_checkins"),
    "tip" -> Set("fact_tips"),
    "covid" -> Set("fact_covid_features", "dim_highlights"),
    "climate" -> Set("dim_temperature", "dim_precipitation"))

  def inputs(raw: String): Warehouse.Inputs = Warehouse.Inputs(
    business = s"$raw/business.json", review = s"$raw/review.json",
    user = s"$raw/user.json", checkin = s"$raw/checkin.json",
    tip = s"$raw/tip.json", covid = s"$raw/covid.json",
    temperature = s"$raw/temperature.csv",
    precipitation = s"$raw/precipitation.csv")

  /** build → register → write every registered table under `dir`, one
    * span per layer call (one write call per pipeline). */
  def buildWarehouse(spark: SparkSession, tracer: Tracer, raw: String,
      dir: String): Seq[String] = {
    val tables = tracer.span("dw.build_call")(Warehouse.build(spark, inputs(raw)))
    val registered = tracer.span("dw.register")(Warehouse.register(tables)).toSet
    groups.foreach { case (p, names) =>
      tracer.span(s"dw.$p")(Warehouse.writeParquet(
        tables.filter(t => names(t._1) && registered(t._1)), dir))
    }
    tables.map(_._1).filter(registered)
  }
}

/** wh_build: one operation is a full warehouse build into a fresh dir. */
final class WhBuild(spark: SparkSession, conf: Conf, tracer: Tracer) extends Workload {
  private val raw = str(conf, "raw_dir")
  private val root = Paths.get(str(conf, "out_root"))
  private var n = 0
  private var last: Option[Path] = None

  /** Lineage construction and the emptiness probes of `register`: the
    * part of a build that does not depend on where it writes. */
  def setup(rep: Int): Unit =
    Warehouse.register(Warehouse.build(spark, Pipelines.inputs(raw)))

  def step(): Seq[Outcome] = {
    last.foreach(deleteTree)
    n += 1
    val d = root.resolve(s"op$n")
    last = Some(d)
    Seq(timed("build", "build") {
      tracer.span("op:build")(Pipelines.buildWarehouse(spark, tracer, raw, d.toString))
    })
  }

  def check(): Map[String, Any] = Map("wh_dir" -> last.get.toString)
}

/** star_serve: the warehouse is built and written once (by the same calls
  * as wh_build, before set-up); set-up registers
  * its stored tables for serving. Each operation is the next draw from a
  * seeded cycle over SQL-template instances and read-only catalog entries.
  * One untimed pass over the pool before the timed loop warms every query
  * and stores its result for the DuckDB comparison. */
final class StarServe(spark: SparkSession, conf: Conf, tracer: Tracer) extends Workload {
  private val raw = str(conf, "raw_dir")
  private val whDir = str(conf, "wh_dir")
  private val sfDir = str(conf, "sf_dir")
  private val checkDir = str(conf, "check_dir")
  private val entries = graft.SparkEntry.queries
  private val oracle = graft.SparkEntry.oracleSql
  private val rng = new scala.util.Random(int(conf, "seed").toLong)

  /** (id, Left(sql) | Right(entry name)) */
  private val pool: IndexedSeq[(String, Either[String, String])] = {
    val sql = list(conf, "templates").map { t =>
      val m = t.asInstanceOf[java.util.Map[String, Any]]
      m.get("id").toString -> Left(m.get("sql").toString)
    }
    val names = list(conf, "entries").map(_.toString).filter(entries.contains)
    (sql ++ names.map(n => n -> Right(n))).toIndexedSeq
  }
  private var cycle: IndexedSeq[(String, Either[String, String])] = IndexedSeq.empty
  private var tables: Seq[String] = Nil
  private val errors = mutable.ArrayBuffer[String]()

  override def prepare(): Unit =
    tables = Pipelines.buildWarehouse(spark, tracer, raw, whDir)

  // analysts query the stored product, not the build's lineage
  def setup(rep: Int): Unit =
    Warehouse.register(tables.map(n => n -> spark.read.parquet(s"$whDir/$n")))

  private def frame(q: Either[String, String]): DataFrame = q match {
    case Left(sql) => spark.sql(sql)
    case Right(name) => entries(name)(spark, sfDir)
  }

  override def warm(): Unit = pool.foreach { case (id, q) =>
    try frame(q).coalesce(1).write.mode("overwrite").parquet(s"$checkDir/$id")
    catch { case e: Exception if scala.util.control.NonFatal(e) =>
      errors += s"$id: ${e.getClass.getName}" }
  }

  def step(): Seq[Outcome] = {
    if (cycle.isEmpty) cycle = rng.shuffle(pool)
    val (id, q) = cycle.head
    cycle = cycle.tail
    Seq(timed("query", id) {
      tracer.span("op:query") {
        val df = tracer.span("ops.call")(frame(q))
        tracer.span("ops.exec")(materialize(df))
      }
    })
  }

  def check(): Map[String, Any] =
    Map("check_dir" -> checkDir, "errors" -> errors.toSeq,
      "sql" -> pool.map { case (id, q) => id -> (q match {
        case Left(sql) => sql
        case Right(name) => oracle.getOrElse(name, "")
      }) }.toMap)
}

/** index_cdc: set-up loads the corpus into merge-on-read catalog tables and
  * builds five index families; each round commits one change batch through
  * SQL DML, brings every family current, then runs the lookups. */
final class IndexCdc(spark: SparkSession, conf: Conf, tracer: Tracer) extends Workload {
  private val corpusDir = str(conf, "corpus_dir")
  private val probeDir = str(conf, "probe_dir")
  private val docs = "graft_cat.db.bench_docs"
  private val vecs = "graft_cat.db.bench_vecs"
  private val name = "bench"
  private val entries = graft.SparkEntry.queries
  private val rounds: IndexedSeq[Seq[String]] = list(conf, "rounds").map(r =>
    r.asInstanceOf[java.util.List[Any]].toArray.toSeq.map(_.toString)
      .map(_.replace("{docs}", docs).replace("{vecs}", vecs))).toIndexedSeq
  /** (lookup, public catalog entry that wraps its probe body) */
  val probes: Seq[(String, String)] = list(conf, "probes").map { p =>
    val m = p.asInstanceOf[java.util.Map[String, Any]]
    m.get("k").toString -> m.get("entry").toString
  }
  private var round = 0

  private def families(corpus: String, vectors: String, n: String): Seq[(String, () => String)] = Seq(
    "sigs" -> (() => DedupIndex.ensureCdc(spark, corpus, n).sigs),
    "postings" -> (() => SearchIndex.ensureCdc(spark, corpus, n).postings),
    "labels" -> (() => DedupIndex.ensureLabelsCdc(spark, corpus, n)),
    "ivf" -> (() => AnnIndex.ensureCdc(spark, vectors, n).cells),
    "graph" -> (() => AnnIndex.ensureGraphCdc(spark, vectors, n)))

  /** Merge-on-read catalog tables for the documents and vectors. */
  private def createCorpus(docsTable: String, docsRows: DataFrame,
      vecsTable: String, vecsRows: DataFrame): Unit = {
    spark.sql(s"CREATE TABLE $docsTable (doc_id BIGINT, text STRING) " +
      "TBLPROPERTIES ('graft.dml.mode'='merge-on-read')")
    docsRows.writeTo(docsTable).append()
    spark.sql(s"CREATE TABLE $vecsTable (vec_id BIGINT, label INT, " +
      "v ARRAY<DOUBLE>, norm DOUBLE) " +
      "TBLPROPERTIES ('graft.dml.mode'='merge-on-read')")
    vecsRows.writeTo(vecsTable).append()
  }

  def setup(rep: Int): Unit = {
    graft.ops.ensureGraftCatalog(spark)
    spark.sql("CREATE NAMESPACE IF NOT EXISTS graft_cat.db")
    spark.sql("SHOW TABLES IN graft_cat.db").collect().foreach(r =>
      spark.sql(s"DROP TABLE IF EXISTS graft_cat.db.${r.getString(1)}"))
    createCorpus(docs,
      spark.read.parquet(s"$corpusDir/documents.parquet").select("doc_id", "text"),
      vecs, spark.read.parquet(s"$corpusDir/embeddings.parquet")
        .selectExpr("vec_id", "label", "transform(embedding, x -> CAST(x AS DOUBLE)) AS v")
        .selectExpr("vec_id", "label", "v",
          "sqrt(aggregate(v, 0D, (a, x) -> a + x * x)) AS norm"))
    // the families write disjoint artifacts: build them overlapped, the way
    // the program's own pipelines do
    graft.ops.inParallel(families(docs, vecs, name).map(_._2))
  }

  private def storedBytes(): Long =
    dirBytes(Paths.get(sys.props("java.io.tmpdir"), "graft_warehouse"))
  private var storedAfterSetup = 0L

  /** The lookups' public wrappers persist their own index on first use;
    * then the catalog's footprint is recorded before any change batch, so
    * it does not depend on how many rounds fit in the timed region. */
  override def warm(): Unit = {
    probes.foreach { case (_, e) => materialize(entries(e)(spark, probeDir)) }
    storedAfterSetup = storedBytes()
  }

  /** Rows appended to each catalog table per committed version, from its
    * `.versions` metadata table (deletes are deletion vectors and append
    * no rows; a compaction's drop in row count is not a write). */
  private def appendedSince(before: Map[String, Long]): Map[String, Long] =
    before.map { case (t, v0) =>
      val vs = spark.table(s"$t.versions").select("v", "n_rows").collect()
        .map(r => (r.getLong(0), r.getLong(1))).sortBy(_._1)
      val rows = vs.filter(_._1 >= v0).map(_._2)
      t -> rows.zip(rows.drop(1)).map { case (a, b) => math.max(0L, b - a) }.sum
    }

  /** Head version of the corpus tables and of every maintained index table. */
  private def heads(): Map[String, Long] =
    spark.sql("SHOW TABLES IN graft_cat.db").collect().map(_.getString(1))
      .filter(t => t.startsWith(s"${name}_") || t.contains(s"_${name}_")).map { t =>
        val ft = s"graft_cat.db.$t"
        ft -> spark.table(s"$ft.versions").agg(org.apache.spark.sql.functions.max("v"))
          .head().getLong(0)
      }.toMap

  private var corpusAppends = 0L
  private var indexAppends = 0L

  def step(): Seq[Outcome] = {
    val stmts = rounds(round % rounds.size)
    round += 1
    // write amplification, measured around the round in traced runs only
    val before = if (tracer.enabled) heads() else Map.empty[String, Long]
    val maint = timed("maint", s"round$round") {
      tracer.span("op:maint") {
        stmts.foreach(st => tracer.span("sources.dml")(spark.sql(st)))
        families(docs, vecs, name).foreach { case (f, fn) =>
          tracer.span(s"ext.$f.maint")(fn())
        }
      }
    }
    appendedSince(before).foreach { case (t, n) =>
      if (t == docs || t == vecs) corpusAppends += n else indexAppends += n
    }
    maint +: probes.map { case (k, e) =>
      timed("probe", k) {
        tracer.span("op:probe")(tracer.span(s"ext.probe.$k") {
          val df = tracer.span("ops.call")(entries(e)(spark, probeDir))
          tracer.span("ops.exec")(materialize(df))
        })
      }
    }
  }

  /** Rows in `a` but not `b` plus rows in `b` but not `a`. */
  private def diff(a: String, b: String): Long =
    spark.table(a).exceptAll(spark.table(b)).count() +
      spark.table(b).exceptAll(spark.table(a)).count()

  def check(): Map[String, Any] = {
    val stored = storedBytes()
    // a from-scratch build over a copy of the final corpus
    val (cd, cv) = ("graft_cat.db.chk_docs", "graft_cat.db.chk_vecs")
    createCorpus(cd, spark.table(docs), cv, spark.table(vecs))
    val kept = families(docs, vecs, name).map { case (f, fn) => f -> fn() }.toMap
    val fresh = families(cd, cv, "chk").map(_._1)
      .zip(graft.ops.inParallel(families(cd, cv, "chk").map(_._2))).toMap
    val st = SearchIndex.ensureCdc(spark, docs, name)
    val ivf = AnnIndex.ensureCdc(spark, vecs, name)
    spark.table(ivf.cents).createOrReplaceTempView("bench_cents")
    spark.table(ivf.cells).createOrReplaceTempView("bench_cells")
    def rows(t: String) = spark.table(t).select("vec_id", "v", "norm")
    // IVF centroids are retrained only on rebuild, so a maintained index is
    // checked against its own stored centroids: it must hold exactly the
    // final corpus, each vector in its nearest stored centroid's cell
    val checks: Seq[(String, () => Long)] =
      Seq("sigs", "postings", "labels", "graph").map(f =>
        f -> (() => diff(kept(f), fresh(f)))) ++ Seq(
      "postings.docs" -> (() =>
        diff(st.docs, SearchIndex.ensureCdc(spark, cd, "chk").docs)),
      "ivf.rows" -> (() =>
        rows(ivf.cells).exceptAll(rows(vecs)).count() +
          rows(vecs).exceptAll(rows(ivf.cells)).count()),
      "ivf.cells" -> (() => spark.sql(
        """SELECT count(*) FROM (
          |  SELECT x.vec_id, x.cell,
          |    min_by(c.cid, aggregate(zip_with(x.v, c.c, (a, b) -> (a - b) * (a - b)),
          |      0D, (s, y) -> s + y)) AS best
          |  FROM bench_cells x CROSS JOIN bench_cents c
          |  GROUP BY x.vec_id, x.cell) WHERE cell <> best""".stripMargin)
        .head().getLong(0)))
    val mismatches = checks.map(_._1).zip(graft.ops.inParallel(checks.map(_._2))).toMap
    // lookups: store one result each for the DuckDB oracle comparison
    val dir = str(conf, "check_dir")
    graft.ops.inParallel(probes.map { case (k, e) => () =>
      entries(e)(spark, probeDir).coalesce(1).write.mode("overwrite").parquet(s"$dir/$k")
    })
    Map("stored_bytes" -> stored, "stored_bytes_after_setup" -> storedAfterSetup,
      "mismatches" -> mismatches,
      "corpus_rows_appended" -> corpusAppends, "index_rows_appended" -> indexAppends,
      "rounds" -> round, "check_dir" -> dir,
      "sql" -> probes.map { case (k, e) => k -> graft.SparkEntry.oracleSql.getOrElse(e, "") }.toMap)
  }
}
