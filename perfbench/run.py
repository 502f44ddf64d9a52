#!/usr/bin/env python3
"""Benchmark for the graft engine: one workload, one seed, one run.

    python3 perfbench/run.py --workload bi_dashboard --seed 1 --seconds 10 --trace 0

Run from the root of a checkout. The script

1. builds the engine plus the harness in ``perfbench/`` with sbt (once per
   checkout; later runs reuse the build while the sources are unchanged);
2. generates the workload's inputs from ``--seed`` into a fresh run
   directory (``.bench_runs/``), which also holds the Spark warehouse and
   local dirs, so no run sees another's files;
3. starts one engine JVM (``perfbench.Main``) on ``local[nproc]`` with a
   fixed heap, which sets up, warms up, and runs one closed-loop client
   for ``--seconds``;
4. checks every output (DuckDB oracle per distinct query via
   ``tools/compare.py``, the Superset SQL over the warehouse parquet, and
   the star's row counts, skill pairs and key resolution against what the
   generator computed), counting a wrong output as a failed operation;
5. prints every metric by name and unit, and as its last line one JSON
   object ``{"correct", "attempted", "failed", "metrics"}`` holding the
   end-to-end metrics (``--trace 0``) or the per-layer ones (``--trace 1``).

Workloads (see BENCHMARK.json for why each exists):
  bi_dashboard     short dashboard queries over TPC-H-style tables, events
                   and the job star (planning / scheduling / driver bound)
  corpus_curation  dedup, near-dup and ANN queries over a corpus with
                   perturbed near-duplicates (compute-kernel bound)
  star_etl         nightly raw-JSON batches through extract, transform,
                   load and star build (write bound)
"""
import argparse
import datetime as dt
import hashlib
import importlib.util
import json
import os
import shutil
import signal
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import gen  # noqa: E402
import metrics as M  # noqa: E402

ROOT = os.path.dirname(HERE)
ENGINE_SRC = os.path.join(ROOT, "src", "main", "scala")
COMPARE = os.path.join(ROOT, "tools", "compare.py")
TARGET = os.path.join(HERE, "target")
CLASSPATH_FILE = os.path.join(TARGET, "bench-classpath.txt")
STAMP_FILE = os.path.join(TARGET, "bench-build.stamp")

# Fixed engine heap: the same for every workload, so storage-memory
# pressure differs only through the inputs.
HEAP = "1g"
# Relative-time anchor for the job listings ("3 days ago" is relative to it).
NOW = dt.datetime(2026, 1, 5, 6, 0, 0)

WORKLOADS = {
    "bi_dashboard": dict(orders=15000, docs=500, setup_jobs=500),
    "corpus_curation": dict(orders=1500, docs=1000, near_dup_share=0.25,
                            exact_dup_share=0.05),
    "star_etl": dict(setup_jobs=250, batch_rows=500, batches=3),
}
JOB_GEN = dict(n_employers=400, repost_share=0.15, desc_words=350)

FAMILIES = ["core", "sqlviews", "event", "star", "superset", "text", "ann",
            "retrieval"]
PREBUILD_FAMILIES = ["graft_wins6", "graft_tgroups", "graft_reppairs",
                     "graft_bigrams", "ivf_index", "ivfgrown", "graft_tf",
                     "graft_tcomps", "embdups", "graft_ecomps"]
STAR_TABLES = ["dim_company", "dim_publisher", "dim_employment_type",
               "dim_location", "dim_date", "dim_job_details", "dim_skill",
               "fact_job_postings", "bridge_job_skill"]


def log(msg):
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def fail(msg, code=2):
    log(msg)
    sys.exit(code)


# ---------------------------------------------------------------------------
# build
# ---------------------------------------------------------------------------

def source_digest():
    h = hashlib.sha256(ROOT.encode())
    for base in (ENGINE_SRC, os.path.join(HERE, "src")):
        for d, _, files in sorted(os.walk(base)):
            for f in sorted(files):
                p = os.path.join(d, f)
                h.update(p.encode())
                with open(p, "rb") as fh:
                    h.update(fh.read())
    for f in ("build.sbt", os.path.join("project", "build.properties")):
        with open(os.path.join(HERE, f), "rb") as fh:
            h.update(fh.read())
    return h.hexdigest()


def ensure_built():
    digest = source_digest()
    if (os.path.exists(CLASSPATH_FILE) and os.path.exists(STAMP_FILE)
            and open(STAMP_FILE).read() == digest):
        return
    env = dict(os.environ)
    env.setdefault("COURSIER_MODE", "offline")
    repos = os.path.expanduser("~/.sbt/repositories")
    if "SBT_OPTS" not in env and os.path.exists(repos):
        env["SBT_OPTS"] = ("-Dsbt.override.build.repos=true "
                           f"-Dsbt.repository.config={repos} "
                           "-Dsbt.offline=true -Xmx2g")
    log("building engine + harness with sbt")
    t0 = time.time()
    p = subprocess.run(["sbt", "--batch", "-Dsbt.log.noformat=true",
                        "-Dsbt.server.autostart=false", "writeClasspath"],
                       cwd=HERE, env=env, stdout=subprocess.PIPE,
                       stderr=subprocess.STDOUT, text=True, timeout=840)
    if p.returncode != 0 or not os.path.exists(CLASSPATH_FILE):
        sys.stderr.write(p.stdout[-4000:])
        fail("build failed")
    with open(STAMP_FILE, "w") as f:
        f.write(digest)
    log(f"built in {time.time() - t0:.1f}s")


# ---------------------------------------------------------------------------
# inputs
# ---------------------------------------------------------------------------

def generate(workload, seed, data_dir):
    cfg = WORKLOADS[workload]
    os.makedirs(data_dir)
    sizes = {}
    if "orders" in cfg:
        sizes["tables"] = gen.gen_tables(data_dir, seed, cfg["orders"])
        sizes["corpus"] = gen.gen_corpus(
            data_dir, seed, cfg["docs"], cfg.get("near_dup_share", 0.1),
            cfg.get("exact_dup_share", 0.02))
    jobs = {}
    if "setup_jobs" in cfg:
        jobs["setup"] = gen.gen_jobs(os.path.join(data_dir, "jobs_setup.json"),
                                     seed, 99, cfg["setup_jobs"], now=NOW,
                                     **JOB_GEN)
    for k in range(cfg.get("batches", 0)):
        jobs[k] = gen.gen_jobs(os.path.join(data_dir, f"jobs_{k}.json"), seed,
                               k, cfg["batch_rows"], now=NOW, **JOB_GEN)
    sizes["jobs"] = {str(k): len(v) for k, v in jobs.items()}
    return sizes, jobs


# ---------------------------------------------------------------------------
# engine process
# ---------------------------------------------------------------------------

ADD_OPENS = ["java.base/java.lang", "java.base/java.lang.invoke",
             "java.base/java.lang.reflect", "java.base/java.io",
             "java.base/java.net", "java.base/java.nio",
             "java.base/java.util", "java.base/java.util.concurrent",
             "java.base/java.util.concurrent.atomic", "java.base/sun.nio.ch",
             "java.base/sun.nio.cs", "java.base/sun.security.action",
             "java.base/sun.util.calendar"]


def cpu_count():
    try:
        return len(os.sched_getaffinity(0))
    except AttributeError:
        return os.cpu_count() or 1


def run_engine(workload, run_dir, data_dir, seconds, trace):
    cfg = WORKLOADS[workload]
    cp = open(CLASSPATH_FILE).read().strip()
    cmd = ["java", f"-Xmx{HEAP}", f"-Xms{HEAP}",
           "-Dspark.ui.enabled=false", "-Duser.timezone=UTC",
           f"-Djava.io.tmpdir={run_dir}/tmp"]
    for m in ADD_OPENS:
        cmd += ["--add-opens", f"{m}=ALL-UNNAMED"]
    cmd += ["-cp", cp, "perfbench.Main",
            "--workload", workload, "--data", data_dir, "--run-dir", run_dir,
            "--seconds", str(seconds), "--trace", str(trace),
            "--cpus", str(cpu_count()),
            "--superset", os.path.join(HERE, "superset.sql"),
            "--batches", str(cfg.get("batches", 0)),
            "--now", NOW.strftime("%Y-%m-%d %H:%M:%S")]
    os.makedirs(os.path.join(run_dir, "tmp"))
    env = {k: v for k, v in os.environ.items()
           if k not in ("SPARK_LOCAL_DIRS", "JAVA_TOOL_OPTIONS")}
    with open(os.path.join(run_dir, "engine.log"), "w") as logf:
        p = subprocess.Popen(cmd, stdout=logf, stderr=subprocess.STDOUT,
                             env=env, cwd=run_dir)
        try:
            code = p.wait(timeout=seconds + 150)
        except subprocess.TimeoutExpired:
            code = -9
        finally:
            if p.poll() is None:
                p.kill()
                p.wait()
    res_path = os.path.join(run_dir, "result.json")
    if code != 0 or not os.path.exists(res_path):
        with open(os.path.join(run_dir, "engine.log")) as f:
            sys.stderr.write(f.read()[-4000:])
        fail(f"engine exited with {code}")
    with open(res_path) as f:
        return json.load(f)


# ---------------------------------------------------------------------------
# output checks
# ---------------------------------------------------------------------------

def load_compare():
    spec = importlib.util.spec_from_file_location("graft_compare", COMPARE)
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod


def check_queries(data_dir, dump_dir, names):
    """Oracle check of each dumped query via tools/compare.py. Returns the
    set of wrong query names (a query that produced no dump is wrong)."""
    p = subprocess.run([sys.executable, COMPARE, data_dir, dump_dir],
                       stdout=subprocess.PIPE, stderr=subprocess.STDOUT,
                       text=True, timeout=170)
    status = {}
    for line in p.stdout.splitlines():
        for tag in ("PASS", "FAIL", "SKIP"):
            if line.startswith(tag + " "):
                name = line[len(tag) + 1:].split(" ")[0].rstrip(":")
                status[name] = tag
    wrong = {n for n in names if status.get(n, "FAIL") == "FAIL"}
    for line in p.stdout.splitlines():
        if line.startswith(("FAIL", "  ")):
            log(line)
    return wrong


def warehouse_views(con, db_dir):
    for t in STAR_TABLES + ["landing_job_listings"]:
        path = os.path.join(db_dir, t)
        if os.path.isdir(path):
            # The fact is partitioned by date_sk; Spark writes a NULL key
            # as the __HIVE_DEFAULT_PARTITION__ directory.
            fix = ("REPLACE (CAST(NULLIF(CAST(date_sk AS VARCHAR), "
                   "'__HIVE_DEFAULT_PARTITION__') AS INTEGER) AS date_sk)"
                   if t == "fact_job_postings" else "")
            con.execute(
                f"CREATE OR REPLACE VIEW {t} AS SELECT * {fix} FROM "
                f"read_parquet('{path}/**/*.parquet', hive_partitioning = true)")


def check_superset(wh_dir, dump_dir, sqls):
    """The Superset SQL (name -> statement, as the engine parsed it) re-run
    by DuckDB over the warehouse parquet and compared with the engine's
    dumps, bit-strict on floats."""
    import duckdb
    import pandas as pd
    cmp = load_compare()
    con = duckdb.connect()
    warehouse_views(con, os.path.join(wh_dir, "graft.db"))
    wrong = set()
    for n in sorted(sqls):
        try:
            mine = pd.read_parquet(os.path.join(dump_dir, n))
            ref = con.execute(sqls[n]).df()
            a, b = cmp.normalize(mine), cmp.normalize(ref)
            ok = list(a.columns) == list(b.columns) and a.equals(b)
        except Exception as e:  # noqa: BLE001 - any error is a wrong output
            log(f"superset {n}: {e}")
            ok = False
        if not ok:
            log(f"FAIL {n}: superset output differs from DuckDB")
            wrong.add(n)
    return wrong


def check_star(db_dir, rows):
    """Row counts and skill pairs against the generator's own figures, and
    key resolution of every fact and bridge row: each key must find its
    dimension row, except the date key of a listing the generator dates
    NULL ("yesterday" with no UTC datetime). Returns (ok, total rows
    written to the nine star tables)."""
    import duckdb
    con = duckdb.connect()
    warehouse_views(con, db_dir)
    expected = gen.expected_star(rows, NOW)
    null_dates = expected.pop("null_date_facts")
    ok = True
    got = {}
    for t, n in expected.items():
        try:
            got[t] = con.execute(f"SELECT count(*) FROM {t}").fetchone()[0]
        except Exception as e:  # noqa: BLE001
            log(f"star {db_dir}: {t}: {e}")
            got[t] = -1
        if got[t] != n:
            log(f"FAIL star {os.path.basename(db_dir)}.{t}: {got[t]} rows, "
                f"generator expects {n}")
            ok = False
    if not ok:
        return ok, sum(got.get(t, 0) for t in STAR_TABLES)
    dangling, got_null_dates = con.execute("""
        SELECT
          (SELECT count(*) FROM fact_job_postings f WHERE
             f.job_sk NOT IN (SELECT job_sk FROM dim_job_details)
             OR f.company_sk NOT IN (SELECT company_sk FROM dim_company)
             OR f.publisher_sk NOT IN (SELECT publisher_sk FROM dim_publisher)
             OR f.employment_type_sk NOT IN
                (SELECT employment_type_sk FROM dim_employment_type)
             OR f.location_sk NOT IN (SELECT location_sk FROM dim_location)
             OR f.date_sk NOT IN (SELECT date_sk FROM dim_date)
             OR f.job_sk IS NULL OR f.company_sk IS NULL
             OR f.publisher_sk IS NULL OR f.employment_type_sk IS NULL
             OR f.location_sk IS NULL)
        + (SELECT count(*) FROM bridge_job_skill b WHERE
             b.job_posting_pk NOT IN (SELECT job_posting_pk FROM fact_job_postings)
             OR b.skill_sk NOT IN (SELECT skill_sk FROM dim_skill)),
          (SELECT count(*) FROM fact_job_postings WHERE date_sk IS NULL)
        """).fetchone()
    if dangling:
        log(f"FAIL star {os.path.basename(db_dir)}: {dangling} rows with "
            "unresolved keys")
        ok = False
    if got_null_dates != null_dates:
        log(f"FAIL star {os.path.basename(db_dir)}: {got_null_dates} facts "
            f"with a NULL date, generator expects {null_dates}")
        ok = False
    return ok, sum(got.get(t, 0) for t in STAR_TABLES)


# ---------------------------------------------------------------------------
# metrics
# ---------------------------------------------------------------------------

def dur(x):
    return x["end"] - x["start"]


def phase_ms(op, name):
    return sum(dur(p) for p in op["phases"] if p["name"] == name)


def mean(xs):
    return sum(xs) / len(xs) if xs else 0.0


def end_to_end(res, ops, failed, workload, batch_rows):
    ok_ops = [o for o in ops if o["ok"]]
    lat = [dur(o) for o in ok_ops]
    window_s = (max(o["end"] for o in ops) - min(o["start"] for o in ops)) / 1e3
    m = {
        "latency_p50_ms": (M.median(lat), "ms"),
        "latency_p90_ms": (M.tail_percentile(lat, 0.9), "ms"),
        "ops_per_s": (len(ok_ops) / window_s, "ops/s"),
        "setup_s": (res["session_s"] + res["setup_work_s"] + res["warmup_s"],
                    "s"),
        "error_rate": (failed / len(ops), "fraction"),
        "peak_rss_mb": (res["vmhwm_kb"] / 1024.0, "MB"),
    }
    if workload == "star_etl":
        written = sum(sum(o["extra"][k] for k in ("sources_bytes", "etl_bytes",
                                                  "pipeline_bytes", "star_bytes"))
                      for o in ok_ops)
        read = sum(o["extra"]["input_bytes"] for o in ok_ops)
        m["rows_per_s"] = (sum(batch_rows[o["name"]] for o in ok_ops)
                           / window_s, "rows/s")
        m["write_bytes_per_input_byte"] = (written / read if read else None,
                                           "ratio")
    return m


def per_layer(res, traced, untraced, rows_written):
    q_ops = [o for o in traced if o["family"] != "etl"]
    b_ops = [o for o in traced if o["family"] == "etl"]
    jobs = res.get("jobs", [])
    stages = res.get("stages", [])
    op_ids = {str(o["id"]) for o in traced}
    st = [s for s in stages if str(s["op"]) in op_ids]
    n = len(traced)

    def per_op(key):
        return sum(s[key] for s in st) / n

    m = {}
    m["queries.build_ms"] = (mean([phase_ms(o, "build") for o in q_ops]), "ms")
    m["queries.exec_ms"] = (mean([phase_ms(o, "exec") for o in q_ops]), "ms")
    for f in FAMILIES:
        m[f"queries.{f}.exec_ms"] = (mean([phase_ms(o, "exec") for o in q_ops
                                           if o["family"] == f]), "ms")
    plan = {}
    for p in res.get("plan_phases", []):
        if p["op"] in op_ids:
            for k in ("analysis", "optimization", "planning"):
                plan[k] = plan.get(k, 0.0) + p.get(k, 0.0)
    for k in ("analysis", "optimization", "planning"):
        m[f"plans.{k}_ms"] = (plan.get(k, 0.0) / n, "ms")

    pre = res["prebuild"]
    m["cache.prebuild_s"] = (sum(pre.values()), "s")
    for f in PREBUILD_FAMILIES:
        m[f"cache.prebuild.{f}_s"] = (pre.get(f, 0.0), "s")
    m["cache.tracked_frames"] = (mean([o["extra"].get("tracked_frames", 0)
                                       for o in traced]), "count")
    m["cache.drain_ms"] = (mean([phase_ms(o, "drain") for o in traced]), "ms")
    m["cache.storage_mem_bytes"] = (max(o["extra"].get("storage_mem_bytes", 0)
                                        for o in traced), "bytes")
    m["cache.storage_disk_bytes"] = (max(o["extra"].get("storage_disk_bytes", 0)
                                         for o in traced), "bytes")

    # Pipeline stages: the timed batches when the workload runs them,
    # else the set-up warehouse build (bi_dashboard builds its star).
    etl = b_ops or [{"name": "setup", "phases": res["setup_stages"],
                     "extra": res["setup_bytes"]}]
    etl = [o for o in etl if o["phases"]]
    for layer, ph in (("sources", "extract"), ("etl", "transform"),
                      ("pipeline", "load"), ("star", "build_star")):
        name = "star.build_ms" if layer == "star" else f"{layer}.{ph}_ms"
        m[name] = (mean([phase_ms(o, ph) for o in etl]), "ms")
        m[f"{layer}.bytes_written"] = (mean([o["extra"][f"{layer}_bytes"]
                                             for o in etl]), "bytes")
    m["star.rows_written"] = (mean([rows_written.get(o["name"], 0)
                                    for o in etl]), "rows")

    job_ops = [j for j in jobs if str(j["op"]) in op_ids]
    submitted = {(s["id"]) for s in st}
    skipped = sum(len([i for i in j["stages"] if i not in submitted])
                  for j in job_ops)
    m["spark.jobs"] = (len(job_ops) / n, "count")
    m["spark.stages"] = (len(st) / n, "count")
    m["spark.stages_skipped"] = (skipped / n, "count")
    m["spark.tasks"] = (per_op("tasks"), "count")
    m["spark.tasks_failed"] = (per_op("tasks_failed"), "count")
    m["spark.task_run_ms"] = (per_op("run_ms"), "ms")
    m["spark.task_cpu_ms"] = (per_op("cpu_ms"), "ms")
    m["spark.scheduler_delay_ms"] = (per_op("sched_delay_ms"), "ms")
    m["spark.gc_ms"] = (per_op("gc_ms"), "ms")
    for k in ("input_bytes", "shuffle_write_bytes", "shuffle_read_bytes",
              "spill_disk_bytes", "output_bytes"):
        m[f"spark.{k}"] = (per_op(k), "bytes")
    skews = []
    for o in traced:
        mine = [s["task_max_ms"] / s["task_median_ms"] for s in st
                if str(s["op"]) == str(o["id"]) and s["tasks"] >= 2
                and s["task_median_ms"] > 0]
        skews.append(max(mine) if mine else 1.0)
    m["spark.max_task_skew"] = (M.median(skews), "ratio")
    busy = sum(s["run_ms"] for s in st)
    m["spark.slots_busy_frac"] = (busy / (sum(dur(o) for o in traced)
                                          * res["cpus"]), "fraction")
    by_op = {}
    for j in job_ops:
        by_op.setdefault(str(j["op"]), []).append((j["start"], j["end"]))
    m["driver.self_ms"] = (mean([M.self_time(o["start"], o["end"],
                                             by_op.get(str(o["id"]), []))
                                 for o in traced]), "ms")
    m["trace.uncovered_ms"] = (mean([M.self_time(
        o["start"], o["end"], [(p["start"], p["end"]) for p in o["phases"]])
        for o in traced]), "ms")
    m["trace.overhead_ms"] = (tracing_overhead(traced, untraced), "ms")
    return m


def tracing_overhead(traced, untraced):
    """Median over operation names run both ways of (traced median -
    untraced median); the two halves of a traced run cover different
    parts of the mix, so only like is compared with like."""
    def by_name(ops):
        d = {}
        for o in ops:
            if o["ok"]:
                d.setdefault(o["name"], []).append(dur(o))
        return d
    t, u = by_name(traced), by_name(untraced)
    diffs = [M.median(t[k]) - M.median(u[k]) for k in t if k in u]
    return M.median(diffs) if diffs else 0.0


# ---------------------------------------------------------------------------
# main
# ---------------------------------------------------------------------------

def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()
    # Turn SIGTERM into an exception so the engine JVM is stopped and the
    # run directory removed on the way out.
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))

    for need in (ENGINE_SRC, COMPARE):
        if not os.path.exists(need):
            fail(f"missing {os.path.relpath(need, ROOT)}: run from the root "
                 "of a full checkout")
    ensure_built()

    runs_root = os.path.join(os.getcwd(), ".bench_runs")
    run_dir = os.path.join(runs_root, f"{a.workload}-s{a.seed}-p{os.getpid()}")
    shutil.rmtree(run_dir, ignore_errors=True)
    os.makedirs(run_dir)
    try:
        data_dir = os.path.join(run_dir, "data")
        t0 = time.time()
        sizes, jobs = generate(a.workload, a.seed, data_dir)
        t1 = time.time()
        res = run_engine(a.workload, run_dir, data_dir, a.seconds, a.trace)
        t2 = time.time()
        report(a, res, run_dir, data_dir, sizes, jobs)
        log(f"generate {t1 - t0:.1f}s, engine {t2 - t1:.1f}s, "
            f"check {time.time() - t2:.1f}s")
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)


def report(a, res, run_dir, data_dir, sizes, jobs):
    ops = res["ops"]
    if not ops:
        fail("no operation completed in the window")
    dump_dir = os.path.join(run_dir, "dump")
    distinct = res["distinct_ops"]
    checked = [d["name"] for d in distinct if d["checked"]]
    queries = [n for n in checked if n not in res["superset_sql"]]
    wrong = check_queries(data_dir, dump_dir, queries) if queries else set()
    superset = {n: res["superset_sql"][n] for n in checked
                if n in res["superset_sql"]}
    rows_written = {}
    batch_rows = {}
    wh = os.path.join(run_dir, "warehouse")
    if superset:
        wrong |= check_superset(wh, dump_dir, superset)
        ok, rows_written["setup"] = check_star(os.path.join(wh, "graft.db"),
                                               jobs["setup"])
        if not ok:
            wrong |= set(superset)
    for k in range(WORKLOADS[a.workload].get("batches", 0)):
        name = f"batch_{k}"
        batch_rows[name] = len(jobs[k])
        if any(o["name"] == name and o["ok"] for o in ops):
            ok, rows_written[name] = check_star(
                os.path.join(wh, f"nightly_{k}.db"), jobs[k])
            if not ok:
                wrong.add(name)
    for e in res["errors"]:
        log(f"operation {e['name']} failed: {e['error']}")
    failed = sum(1 for o in ops if not o["ok"] or o["name"] in wrong)

    timed = [o for o in ops if not o["traced"]]
    traced = [o for o in ops if o["traced"]]
    e2e = end_to_end(res, timed if timed else ops, failed, a.workload,
                     batch_rows)
    detail = {"workload": a.workload, "seed": a.seed, "inputs": sizes,
              "operations": len(ops), "distinct": len(distinct),
              "wrong": sorted(wrong),
              "samples": len([o for o in (timed or ops) if o["ok"]]),
              "setup": {"session_s": res["session_s"],
                        "work_s": res["setup_work_s"],
                        "warmup_s": res["warmup_s"]}}
    if a.trace:
        layer = per_layer(res, traced, timed, rows_written)
        spans = M.build_spans(ops, res.get("jobs", []), res.get("stages", []))
        out = os.path.join(os.getcwd(), ".bench_runs", "traces")
        os.makedirs(out, exist_ok=True)
        with open(os.path.join(out, f"{a.workload}-s{a.seed}.json"), "w") as f:
            json.dump({"spans": spans, "per_layer": layer}, f)
        detail["traced_operations"] = len(traced)
        detail["spans"] = len(spans)
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        listed = [m["name"] for m in
                  json.load(f)["per_layer" if a.trace else "end_to_end"]]
    chosen = {k: (layer if a.trace else e2e)[k] for k in listed}
    for k, (v, unit) in sorted(e2e.items()):
        print(f"{k:32s} {'refused' if v is None else f'{v:.6g}':>14s} {unit}")
    if a.trace:
        for k, (v, unit) in layer.items():
            print(f"{k:32s} {v:14.6g} {unit}")
    print(json.dumps({"detail": detail}))
    correct = failed == 0
    result = {"correct": correct, "attempted": len(ops), "failed": failed,
              "metrics": {k: {"value": v, "unit": u}
                          for k, (v, u) in chosen.items()}}
    print(json.dumps(result))


if __name__ == "__main__":
    main()
