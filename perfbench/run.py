#!/usr/bin/env python3
"""Runs the benchmark: builds the program with the benchmark (once per
checkout), generates the workload's inputs from the seed, runs one JVM with
one Spark session and one closed-loop client, checks the outputs, and prints
every metric by name with its unit. The last line of stdout is one JSON
object: {"correct", "attempted", "failed", "metrics"}.

Usage (from the repository root):
  python3 perfbench/run.py --workload wh_build|star_serve|index_cdc \
      --seed N --seconds S --trace 0|1

--trace 0 reports the end-to-end metrics; --trace 1 spends the first half
of the timed region untraced and the second half traced, and reports the
per-layer metrics plus the tracing overhead. See perfbench/README.md.
"""
import argparse
import glob
import hashlib
import json
import os
import random
import shutil
import signal
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)
import gen  # noqa: E402
import stats  # noqa: E402

ROOT = os.path.dirname(HERE)
PROGRAM_SRC = os.path.join(ROOT, "src", "main", "scala", "graft")
BUILD_DIR = os.path.join(HERE, ".build")
WORK_ROOT = os.path.join(HERE, ".work")

CPUS = int(os.environ.get("SPARK_GRAFT_CPUS", "4"))
HEAP = "3g"
JVM_TIMEOUT_S = 170
SETUP_REPS = 3
# operations a run times at least, whatever --seconds says: a build takes
# about as long as a 10 s budget, so without a floor a run would hold one or
# two of them depending on the host; a round takes longer than the budget,
# and its median over two is steadier between runs than one round
MIN_OPS = {"wh_build": 2, "star_serve": 1, "index_cdc": 2}

# sizes: chosen so one run (set-up x3, timed region, checks) fits well
# inside the per-run limit on a 4-core host
WH_BUSINESSES = 2000          # ~1.5k users, ~15k reviews (sf0.01 of the dump)
STAR_BUSINESSES = 2000
STAR_SF = 0.01                # TPC-H-shaped tables for the catalog entries
STAR_TEMPLATES = 12           # seeded SQL-template instances in the pool
STAR_ENTRIES = 12             # catalog entries in the pool (a fixed subset)
CDC_DOCS = 600
CDC_VECS = 600
CDC_ROUNDS = 400              # more than a run can use; ids never collide

# catalog entries that write files or tables are not part of the
# read-only serving pool; q38 has no DuckDB oracle
STAR_EXCLUDE = {"q38_approx_distinct", "q120_mv_rewrite",
                "q122_dynamic_partition_pruning", "q124_join_elimination",
                "q139_incremental_mv_refresh"}

# (lookup, the smallest public catalog entry wrapping its probe body)
PROBES = [{"k": "lsh", "entry": "ext130_dedup_index_lsh"},
          {"k": "search", "entry": "ext132_search_index_bm25"},
          {"k": "ivf", "entry": "ext126_ann_index_probe1"}]

JVM_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
    "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar"]


def log(msg):
    print("[perfbench] " + msg, file=sys.stderr, flush=True)


# ------------------------------------------------------------------ build

def source_hash():
    h = hashlib.sha256()
    files = sorted(glob.glob(os.path.join(ROOT, "src", "main", "scala", "**", "*.scala"),
                             recursive=True) +
                   glob.glob(os.path.join(HERE, "src", "**", "*.scala"), recursive=True) +
                   [os.path.join(HERE, "build.sbt")])
    for f in files:
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(fh.read())
    return h.hexdigest()


def ensure_build():
    """Compile program + benchmark with sbt unless this exact source tree
    was already built; returns the runtime classpath."""
    marker = os.path.join(BUILD_DIR, "classpath.json")
    digest = source_hash()
    if os.path.exists(marker):
        with open(marker) as f:
            m = json.load(f)
        if m.get("hash") == digest:
            return m["classpath"]
    log("building program + benchmark with sbt")
    env = dict(os.environ)
    env.setdefault("COURSIER_MODE", "offline")
    env.setdefault("SBT_OPTS", "-Dsbt.offline=true")
    p = subprocess.run(["sbt", "-batch", "-Dsbt.log.noformat=true", "compile",
                        "export Runtime/fullClasspath"],
                       cwd=HERE, env=env, stdout=subprocess.PIPE,
                       stderr=subprocess.STDOUT, text=True, timeout=840)
    lines = [x for x in p.stdout.splitlines() if x.strip()]
    if p.returncode != 0 or not lines or "classes" not in lines[-1]:
        sys.stderr.write(p.stdout[-4000:])
        raise SystemExit("perfbench: build failed")
    cp = lines[-1].strip()
    os.makedirs(BUILD_DIR, exist_ok=True)
    with open(marker, "w") as f:
        json.dump({"hash": digest, "classpath": cp}, f)
    return cp


# ----------------------------------------------------------------- inputs

def star_templates(seed, n):
    """Seeded instances of the analyst SQL templates over the star schema.
    Every template ends in a total order or aggregates to a set, so Spark
    and DuckDB results compare as relations."""
    rng = random.Random(seed * 7 + 1)
    T = [
        ("star_city_year",
         "SELECT b.city, d.year, COUNT(*) AS n_reviews, AVG(r.stars) AS avg_stars "
         "FROM fact_reviews r JOIN dim_business b ON r.business_id = b.business_id "
         "JOIN dim_datetime d ON r.datetime_id = d.datetime_id "
         "JOIN fact_business_categories fc ON fc.business_id = r.business_id "
         "JOIN dim_category c ON c.category_id = fc.category_id "
         "WHERE c.category_name = '{cat}' AND d.year BETWEEN {y0} AND {y1} "
         "GROUP BY b.city, d.year"),
        ("rollup_state_city",
         "SELECT b.state, b.city, COUNT(*) AS n, SUM(r.useful) AS useful "
         "FROM fact_reviews r JOIN dim_business b ON r.business_id = b.business_id "
         "WHERE b.stars >= {s0} AND b.stars <= {s1} "
         "GROUP BY ROLLUP (b.state, b.city)"),
        ("topk_per_city",
         "SELECT city, business_id, n, rk FROM ("
         "SELECT b.city, b.business_id, COUNT(*) AS n, ROW_NUMBER() OVER ("
         "PARTITION BY b.city ORDER BY COUNT(*) DESC, b.business_id) AS rk "
         "FROM fact_reviews r JOIN dim_business b ON r.business_id = b.business_id "
         "JOIN dim_datetime d ON r.datetime_id = d.datetime_id "
         "WHERE d.year = {y0} GROUP BY b.city, b.business_id) t WHERE rk <= 5"),
        ("checkins_by_category",
         "SELECT c.category_name, COUNT(DISTINCT ck.checkin_id) AS n_checkins "
         "FROM fact_checkins ck JOIN dim_business b ON ck.business_id = b.business_id "
         "JOIN fact_business_categories fc ON fc.business_id = b.business_id "
         "JOIN dim_category c ON c.category_id = fc.category_id "
         "WHERE b.city = '{city}' GROUP BY c.category_name"),
        ("elite_stars",
         "SELECT e.elite_year, COUNT(*) AS n, AVG(r.stars) AS avg_stars "
         "FROM fact_reviews r JOIN fact_user_elite ue ON r.user_id = ue.user_id "
         "JOIN dim_elite e ON e.elite_id = ue.elite_id "
         "JOIN dim_business b ON b.business_id = r.business_id "
         "WHERE b.state = '{state}' GROUP BY e.elite_year"),
        ("weather_month",
         "SELECT d.month, COUNT(*) AS n, AVG(t.max_temperature) AS avg_max "
         "FROM fact_reviews r JOIN dim_datetime d ON r.datetime_id = d.datetime_id "
         "JOIN dim_temperature t ON t.datetime_id = r.datetime_id "
         "WHERE d.year BETWEEN {y0} AND {y1} GROUP BY d.month"),
        ("attributes_city",
         "SELECT a.attribute_name, a.attribute_value, COUNT(*) AS n "
         "FROM fact_business_attributes fa "
         "JOIN dim_attribute a ON a.attribute_id = fa.attribute_id "
         "JOIN dim_business b ON b.business_id = fa.business_id "
         "WHERE b.stars >= {s0} AND b.city = '{city}' "
         "GROUP BY a.attribute_name, a.attribute_value"),
        ("hours_category",
         "SELECT h.day_of_week, h.open_hour_id, COUNT(*) AS n "
         "FROM fact_business_hours h "
         "JOIN fact_business_categories fc ON fc.business_id = h.business_id "
         "JOIN dim_category c ON c.category_id = fc.category_id "
         "WHERE c.category_name = '{cat}' GROUP BY h.day_of_week, h.open_hour_id"),
    ]
    out = []
    for i in range(n):
        name, sql = T[i % len(T)]
        y0 = rng.randint(2005, 2019)
        s0 = rng.choice([1.0, 1.5, 2.0, 2.5, 3.0, 3.5])
        city, state = rng.choice(gen.CITIES)
        out.append({"id": "%s_%d" % (name, i), "sql": sql.format(
            cat=rng.choice(gen.CATEGORIES).replace("'", "''"), y0=y0,
            y1=y0 + rng.randint(0, 3), s0=s0, s1=s0 + rng.choice([1.0, 1.5, 2.0]),
            city=city, state=state)})
    return out


def star_entries():
    """A fixed, evenly spaced subset of the read-only relational /
    decision-support / as-of catalog entries, listed from the program's
    sources. The subset does not depend on the seed, so every seed serves
    the same mix of query shapes."""
    names = []
    for rel in ("ops/Relational.scala", "ops/DecisionSupport.scala",
                "plans/AsOfQueries.scala"):
        with open(os.path.join(PROGRAM_SRC, rel)) as f:
            src = f.read()
        body = src[src.index("val queries"):]
        body = body[:body.index(")\n")]
        for line in body.splitlines():
            line = line.strip()
            if line.startswith('"') and "->" in line:
                names.append(line.split('"')[1])
    names = sorted(set(names) - STAR_EXCLUDE)
    step = len(names) / float(STAR_ENTRIES)
    return [names[int(i * step)] for i in range(STAR_ENTRIES)]


def prepare(workload, seed, seconds, trace, work):
    """Generate inputs and the JVM configuration; returns (conf, info)."""
    conf = {"workload": workload, "seed": seed, "seconds": seconds,
            "trace": bool(trace), "cpus": CPUS, "work": work,
            "setup_reps": SETUP_REPS, "min_ops": MIN_OPS.get(workload, 1),
            "check_dir": os.path.join(work, "check")}
    info = {}
    if workload in ("wh_build", "star_serve"):
        raw = os.path.join(work, "raw")
        n = WH_BUSINESSES if workload == "wh_build" else STAR_BUSINESSES
        info["expected_rows"] = gen.yelp(raw, seed, n)
        info["input_bytes"] = gen.input_bytes(raw)
        conf["raw_dir"] = raw
    if workload == "wh_build":
        conf["out_root"] = os.path.join(work, "wh")
    elif workload == "star_serve":
        conf["wh_dir"] = os.path.join(work, "wh")
        conf["sf_dir"] = os.path.join(work, "sf")
        gen.tpch(conf["sf_dir"], seed, STAR_SF)
        conf["templates"] = star_templates(seed, STAR_TEMPLATES)
        conf["entries"] = star_entries()
    elif workload == "index_cdc":
        conf["corpus_dir"] = os.path.join(work, "corpus")
        conf["probe_dir"] = os.path.join(work, "corpus")
        gen.corpus(conf["corpus_dir"], seed, CDC_DOCS, CDC_VECS)
        info["input_bytes"] = gen.input_bytes(conf["corpus_dir"])
        conf["rounds"] = gen.change_rounds(seed, CDC_ROUNDS, CDC_DOCS, CDC_VECS)
        conf["probes"] = PROBES
    else:
        raise SystemExit("perfbench: unknown workload %r" % workload)
    return conf, info


# ---------------------------------------------------------------- the JVM

def run_jvm(classpath, conf, work):
    cfg = os.path.join(work, "config.json")
    res = os.path.join(work, "result.json")
    with open(cfg, "w") as f:
        json.dump(conf, f)
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    cmd = ["java", "-Xmx" + HEAP, "-XX:+UseParallelGC",
           "-Djava.io.tmpdir=" + tmp, "-Dspark.ui.enabled=false",
           "-Dderby.system.home=" + work]
    for p in JVM_OPENS:
        cmd += ["--add-opens", p + "=ALL-UNNAMED"]
    cmd += ["-cp", classpath, "perfbench.Main", cfg, res]
    log_path = os.path.join(work, "jvm.log")
    with open(log_path, "w") as lf:
        proc = subprocess.Popen(cmd, cwd=work, stdout=lf, stderr=subprocess.STDOUT,
                                start_new_session=True)
        try:
            rc = proc.wait(timeout=JVM_TIMEOUT_S)
        except subprocess.TimeoutExpired:
            os.killpg(proc.pid, signal.SIGKILL)
            proc.wait()
            rc = -9
    if rc != 0 or not os.path.exists(res):
        with open(log_path) as f:
            sys.stderr.write(f.read()[-6000:])
        raise SystemExit("perfbench: JVM exited with %s" % rc)
    with open(res) as f:
        return json.load(f)


# ----------------------------------------------------------------- checks

def duck():
    import duckdb
    con = duckdb.connect()
    con.execute("SET threads TO 2")
    return con


def view_dirs(con, base, names):
    for n in names:
        con.execute("CREATE OR REPLACE VIEW %s AS SELECT * FROM read_parquet('%s/*.parquet')"
                    % (n, os.path.join(base, n)))


def view_files(con, base):
    for p in glob.glob(os.path.join(base, "*.parquet")):
        n = os.path.basename(p)[:-len(".parquet")]
        con.execute("CREATE OR REPLACE VIEW %s AS SELECT * FROM read_parquet('%s')" % (n, p))


def result_fp(con, sql):
    cur = con.execute(sql)
    cols = [d[0] for d in cur.description]
    return stats.fingerprint(cols, cur.fetchall())


# (fact table, key column, dimension table, dimension key)
FACT_KEYS = [
    ("fact_business_categories", "business_id", "dim_business", "business_id"),
    ("fact_business_categories", "category_id", "dim_category", "category_id"),
    ("fact_business_attributes", "business_id", "dim_business", "business_id"),
    ("fact_business_attributes", "attribute_id", "dim_attribute", "attribute_id"),
    ("fact_business_hours", "business_id", "dim_business", "business_id"),
    ("fact_business_hours", "open_hour_id", "dim_hour", "hour_id"),
    ("fact_business_hours", "close_hour_id", "dim_hour", "hour_id"),
    ("fact_user_elite", "user_id", "dim_user", "user_id"),
    ("fact_user_elite", "elite_id", "dim_elite", "elite_id"),
    ("fact_user_friend", "user_id", "dim_user", "user_id"),
    ("fact_user_friend", "friend_id", "dim_friend", "friend_id"),
    ("fact_reviews", "business_id", "dim_business", "business_id"),
    ("fact_reviews", "user_id", "dim_user", "user_id"),
    ("fact_reviews", "datetime_id", "dim_datetime", "datetime_id"),
    ("fact_checkins", "business_id", "dim_business", "business_id"),
    ("fact_checkins", "datetime_id", "dim_datetime", "datetime_id"),
    ("fact_tips", "business_id", "dim_business", "business_id"),
    ("fact_tips", "user_id", "dim_user", "user_id"),
    ("fact_tips", "datetime_id", "dim_datetime", "datetime_id"),
    ("fact_covid_features", "business_id", "dim_business", "business_id"),
    ("dim_highlights", "business_id", "dim_business", "business_id"),
    ("dim_temperature", "datetime_id", "dim_datetime", "datetime_id"),
    ("dim_precipitation", "datetime_id", "dim_datetime", "datetime_id"),
    ("dim_date", "date_id", "dim_datetime", "date_id"),
]


def check_warehouse(wh_dir, expected):
    """21 row counts equal the generator's bookkeeping; every fact key is
    non-null and resolves in its dimension."""
    problems = []
    con = duck()
    view_dirs(con, wh_dir, sorted(expected))
    for t, n in sorted(expected.items()):
        got = con.execute("SELECT count(*) FROM %s" % t).fetchone()[0]
        if got != n:
            problems.append("%s: %d rows, expected %d" % (t, got, n))
    for fact, k, dim, dk in FACT_KEYS:
        bad = con.execute(
            "SELECT count(*) FROM %s f WHERE f.%s IS NULL OR NOT EXISTS "
            "(SELECT 1 FROM %s d WHERE d.%s = f.%s)" % (fact, k, dim, dk, k)).fetchone()[0]
        if bad:
            problems.append("%s.%s: %d keys do not resolve in %s" % (fact, k, bad, dim))
    rows = sum(con.execute("SELECT count(*) FROM %s" % t).fetchone()[0] for t in expected)
    return problems, rows


def check_results(chk, views):
    """Each stored Spark result equals DuckDB running the same SQL (or the
    entry's oracle SQL) on the same data. Returns (problems, rows)."""
    problems = list(chk.get("errors", []))
    con = duck()
    views(con)
    rows = []
    for qid, sql in sorted(chk["sql"].items()):
        d = os.path.join(chk["check_dir"], qid)
        if not sql:
            problems.append("%s: no oracle SQL" % qid)
            continue
        if not glob.glob(os.path.join(d, "*.parquet")):
            problems.append("%s: no stored result" % qid)
            continue
        spark_fp = result_fp(con, "SELECT * FROM read_parquet('%s/*.parquet')" % d)
        try:
            duck_fp = result_fp(con, sql)
        except Exception as e:  # an oracle that cannot run is a failed check
            problems.append("%s: oracle error %s" % (qid, str(e).splitlines()[0]))
            continue
        if spark_fp != duck_fp:
            problems.append("%s: spark %s != duckdb %s" % (qid, spark_fp, duck_fp))
        rows.append(int(spark_fp.split(":")[0]))
    return problems, rows


def dir_bytes(d):
    return sum(os.path.getsize(os.path.join(a, f))
               for a, _, fs in os.walk(d) for f in fs)


# ---------------------------------------------------------------- metrics

MAIN_KIND = {"wh_build": "build", "star_serve": "query", "index_cdc": "maint"}
PIPELINES = ["dates", "business", "user", "review", "checkin", "tip", "covid",
             "climate"]
FAMILIES = ["sigs", "postings", "ivf", "graph", "labels"]


def per_layer(res, workload):
    """Per-layer metrics from the traced half's spans, as means per timed
    operation (a layer a workload does not run reports 0)."""
    spans = res["spans"]
    roots = [s for s in spans if s["parent"] == 0]
    ops = sorted(set(s["op"] for s in roots if s["name"] == "op:" + MAIN_KIND[workload]))
    n_ops = max(1, len(ops))
    main_ops = set(ops)

    def total(pred, field):
        return sum(s[field] for s in spans if pred(s))

    def per_op(pred, field, scale=1.0):
        return total(pred, field) * scale / n_ops

    in_op = lambda s: s["op"] in main_ops  # noqa: E731
    named = lambda n: (lambda s: s["name"] == n)  # noqa: E731
    m = {}
    m["dw.build_call_s"] = per_op(named("dw.build_call"), "self_s")
    m["dw.register_s"] = per_op(named("dw.register"), "self_s")
    m["dw.register.jobs"] = per_op(named("dw.register"), "jobs")
    for p in PIPELINES:
        m["dw.%s.write_s" % p] = per_op(named("dw." + p), "self_s")
        m["dw.%s.jobs" % p] = per_op(named("dw." + p), "jobs")
        m["dw.%s.shuffle_mb" % p] = per_op(named("dw." + p), "shuffle_bytes", 1 / 1048576.0)
    for f, k in (("jobs", "jobs"), ("stages", "stages"), ("tasks", "tasks"),
                 ("exchanges", "exchanges")):
        m["spark." + f] = per_op(in_op, k)
    m["spark.shuffle_mb"] = per_op(in_op, "shuffle_bytes", 1 / 1048576.0)
    m["spark.spill_mb"] = per_op(in_op, "spill_bytes", 1 / 1048576.0)
    m["spark.sched_wait_s"] = per_op(in_op, "sched_wait_ms", 1e-3)
    wall = sum((s["end"] - s["start"]) / 1e9 for s in roots if s["op"] in main_ops)
    m["spark.task_busy_ratio"] = (total(in_op, "task_ms") / 1e3 / (wall * CPUS)
                                  if wall else 0.0)
    rows_out = res.get("rows_out_per_op") or 0
    m["spark.rows_read_per_row_out"] = (per_op(in_op, "records_read") / rows_out
                                        if rows_out else 0.0)
    m["plan.analysis_s"] = per_op(in_op, "analysis_ms", 1e-3)
    m["plan.optimize_s"] = per_op(in_op, "optimize_ms", 1e-3)
    m["plan.planning_s"] = per_op(in_op, "planning_ms", 1e-3)
    m["ops.call_s"] = per_op(named("ops.call"), "self_s")
    m["ops.exec_s"] = per_op(named("ops.exec"), "self_s")
    m["sources.dml_s"] = per_op(named("sources.dml"), "self_s")
    m["sources.dml.jobs"] = per_op(named("sources.dml"), "jobs")
    m["sources.stored_mb"] = res["check"].get("stored_bytes", 0) / 1048576.0
    rounds = res["check"].get("rounds", 0)
    m["sources.round_growth_mb"] = (
        (res["check"]["stored_bytes"] - res["check"]["stored_bytes_after_setup"])
        / 1048576.0 / rounds if rounds else 0.0)
    maint = lambda s: s["name"].startswith("ext.") and s["name"].endswith(".maint")  # noqa
    for f in FAMILIES:
        m["ext.%s.maint_s" % f] = per_op(named("ext.%s.maint" % f), "self_s")
        m["ext.%s.jobs" % f] = per_op(named("ext.%s.maint" % f), "jobs")
    m["ext.cdc.meta_jobs"] = per_op(maint, "meta_jobs")
    chk = res["check"]
    m["ext.maint.write_amp"] = (chk["index_rows_appended"] / chk["corpus_rows_appended"]
                                if chk.get("corpus_rows_appended") else 0.0)
    kids = {}
    for s in spans:
        kids.setdefault(s["parent"], []).append(s)

    def subtree(s):
        out, todo = [], [s]
        while todo:
            x = todo.pop()
            out.append(x)
            todo += kids.get(x["id"], [])
        return out
    for p in PROBES:
        k = p["k"]
        sp = [s for s in spans if s["name"] == "ext.probe." + k]
        n = max(1, len(sp))
        m["ext.probe.%s_s" % k] = sum((s["end"] - s["start"]) / 1e9 for s in sp) / n
        m["ext.probe.%s.exchanges" % k] = sum(x["exchanges"] for s in sp
                                             for x in subtree(s)) / n
    # accounting: root self time is the benchmark's own time between layer
    # calls; everything else is attributed to a layer span
    root_wall = sum((s["end"] - s["start"]) / 1e9 for s in roots)
    root_self = sum(s["self_s"] for s in roots)
    m["trace.unattributed_share"] = root_self / root_wall if root_wall else 0.0
    kind = MAIN_KIND[workload]
    traced = [o["s"] for o in res["ops"] if o["kind"] == kind and not o["err"]]
    untraced = [o["s"] for o in res["ops"]
                if o["kind"] == "untraced:" + kind and not o["err"]]
    m["trace.overhead_ratio"] = (stats.median(traced) / stats.median(untraced) - 1.0
                                 if traced and untraced else 0.0)
    m["host.load1m"] = res.get("load1m_before", 0.0)
    m["host.calib_s"] = res.get("calib_before_s", 0.0)
    return m


def layer_unit(name):
    if name.endswith("_s"):
        return "s"
    if name.endswith("_mb"):
        return "MB"
    if name.endswith(("_ratio", "_share", "write_amp", "_per_row_out")):
        return "ratio"
    if name == "host.load1m":
        return "load"
    return "count"


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, default=0)
    a = ap.parse_args()
    t_start = time.time()
    if not os.path.isdir(PROGRAM_SRC):
        raise SystemExit("perfbench: program sources not found at %s" % PROGRAM_SRC)
    if a.workload not in MAIN_KIND:
        raise SystemExit("perfbench: unknown workload %r" % a.workload)
    classpath = ensure_build()

    work = os.path.join(WORK_ROOT, a.workload)
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    t0 = time.time()
    conf, info = prepare(a.workload, a.seed, a.seconds, a.trace, work)
    gen_s = time.time() - t0
    res = run_jvm(classpath, conf, work)

    # ---- outputs
    problems = []
    chk = res["check"]
    if a.workload == "wh_build":
        p, rows = check_warehouse(chk["wh_dir"], info["expected_rows"])
        problems += p
        res["rows_out_per_op"] = rows
        stored = dir_bytes(chk["wh_dir"]) / info["input_bytes"]
    elif a.workload == "star_serve":
        tables = sorted(info["expected_rows"])
        p, rows = check_results(chk, lambda con: (view_dirs(con, conf["wh_dir"], tables),
                                                  view_files(con, conf["sf_dir"])))
        problems += p
        res["rows_out_per_op"] = (sum(rows) / len(rows)) if rows else 0
        stored = dir_bytes(conf["wh_dir"]) / info["input_bytes"]
    else:
        for f, n in sorted(chk["mismatches"].items()):
            if n:
                problems.append("index %s differs from a rebuild in %d rows" % (f, n))
        p, rows = check_results(chk, lambda con: view_files(con, conf["probe_dir"]))
        problems += p
        stored = chk["stored_bytes_after_setup"] / info["input_bytes"]
        traced_rounds = sum(1 for o in res["ops"] if o["kind"] == "maint")
        if a.trace and traced_rounds:
            res["rows_out_per_op"] = chk["index_rows_appended"] / traced_rounds

    # ---- end-to-end, from the measured operations (warm-up and untraced
    # halves of a traced run carry a "<phase>:" prefix); every operation
    # counts as attempted
    kind = MAIN_KIND[a.workload]
    timed_ops = [o for o in res["ops"] if ":" not in o["kind"]]
    attempted, failed, _ = stats.account(res["ops"])
    main_ops = [o for o in timed_ops if o["kind"] == kind]
    _, _, lat = stats.account(main_ops)
    timed_s = res["timed_s"]
    e2e = {
        "setup_s": (stats.median(res["setup_s"]), "s"),
        "op_s.p50": (stats.median(lat) if lat else 0.0, "s"),
        "ops_per_s": (len(lat) / timed_s, "1/s"),
        "stored_bytes_per_input_byte": (stored, "ratio"),
    }

    # ---- report: every metric by name, with unit
    def line(name, value, unit, note=""):
        print("%-34s %14.6g %-6s %s" % (name, value, unit, note))
    print("workload %s seed %d seconds %g trace %d" % (a.workload, a.seed, a.seconds, a.trace))
    for k in ("build", "query", "maint", "probe"):
        xs = [o["s"] for o in timed_ops if o["kind"] == k and not o["err"]]
        if not xs:
            continue
        sm = stats.summarize(xs)
        for q, v in sm.items():
            if q != "n":
                line("%s_s.%s" % (k, q), v, "s", "n=%d" % sm["n"])
    if kind == "query":
        line("queries_per_s", e2e["ops_per_s"][0], "1/s")
    for k, (v, u) in e2e.items():
        line(k, v, u)
    line("fail_ratio", stats.fail_ratio(attempted, failed), "ratio",
         "%d of %d" % (failed, attempted))
    line("heap_retained_mb", res["heap_retained_mb"], "MB")
    for k in ("session_s", "load1m_before", "load1m_after", "calib_before_s",
              "calib_after_s"):
        line("host." + k, res[k], "s" if k.endswith("_s") else "")
    line("host.gen_s", gen_s, "s")
    line("host.wall_s", time.time() - t_start, "s")

    metrics = {}
    if a.trace:
        layer = per_layer(res, a.workload)
        for k in sorted(layer):
            line(k, layer[k], layer_unit(k))
            metrics[k] = {"value": layer[k], "unit": layer_unit(k)}
    else:
        metrics = {k: {"value": v, "unit": u} for k, (v, u) in e2e.items()}

    for p in problems:
        log("CHECK FAILED: " + p)
    report = {"workload": a.workload, "seed": a.seed, "trace": a.trace,
              "problems": problems, "metrics": metrics, "gen_s": gen_s,
              "wall_s": time.time() - t_start,
              "host": {k: res[k] for k in ("session_s", "load1m_before",
                                           "load1m_after", "calib_before_s",
                                           "calib_after_s")},
              "setup_s": res["setup_s"], "prepare_s": res["prepare_s"],
              "warm_s": res["warm_s"], "timed_s": res["timed_s"],
              "check_s": res["check_s"], "heap_retained_mb": res["heap_retained_mb"]}
    with open(os.path.join(work, "report.json"), "w") as f:
        json.dump(report, f, indent=1)
    # one line per run, so a series of runs can be read back with its
    # host conditions
    with open(os.path.join(WORK_ROOT, "history.jsonl"), "a") as f:
        f.write(json.dumps(report) + "\n")
    correct = not problems and failed == 0
    print(json.dumps({"correct": correct, "attempted": attempted, "failed": failed,
                      "metrics": metrics}))
    return 0 if correct else 1


if __name__ == "__main__":
    sys.exit(main())
