#!/usr/bin/env python3
"""graft benchmark: one closed-loop client against a local Spark session.

Usage (from the repo root):
  python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Each run
  1. builds graft plus the harness into .bench_build/classes (skipped when
     the sources are unchanged; perfbench/build.sh is the build file);
  2. checks the input tables in perfbench/data (a copy of the project's
     sf0.1 test data) against the row counts and content hashes recorded
     below;
  3. computes and caches each query's DuckDB oracle result, keyed by
     (oracle SQL, data fingerprint);
  4. starts SETUP_SAMPLES JVMs and times each from launch until its
     session is built and a warm-up query has finished (`setup_s`); the
     last one goes on to run the workload: one cold pass, one untimed
     check pass that writes every result to parquet, then warm passes
     until --seconds are spent (at least three; passes with more than
     CALM_STEAL of the host's CPU stolen are left out while three calm
     ones exist);
  5. compares every checked result with its oracle, reads the host's
     CPU-steal share over the run from /proc/stat, and prints the
     metrics: end-to-end ones with --trace 0, per-layer ones (from the
     traced warm passes) with --trace 1.

The seed sets the query order inside every pass. The last stdout line is
one JSON object: {"correct", "attempted", "failed", "metrics"}.
"""
import argparse
import hashlib
import json
import os
import re
import shutil
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)
import benchlib  # noqa: E402

ROOT = os.path.dirname(HERE)
BUILD = os.path.join(ROOT, ".bench_build")
# the program's own default maximum heap (build.sbt, tools/run.sh). The
# program sets no initial heap; the benchmark starts at 4 GB, because a
# heap that grows from 1/64 of RAM resizes at different moments in every
# JVM, and warm figures spread wider between runs in trials without it
HEAP = "8g"
HEAP_START = "4g"
SETUP_SAMPLES = 2
RUN_DEADLINE_S = 170
QUERY_CAP_S = 60
# a warm pass during which more than this share of the host's CPU time was
# stolen by the hypervisor is kept out of the warm metrics
CALM_STEAL = 0.01
WARMUP = "q6_filter_agg"

WORKLOADS = {
    # TPC-H-derived and event queries, each well under a second warm:
    # planning, codegen and scheduling are most of their wall time
    "relational_short": [
        "q1_agg", "q3_join_topn", "q13_custdist", "q14_promo_share", "q_funnel",
    ],
    # LLM-data and graph operators: checkpoint loops, shuffles and the
    # session-frozen artifacts (Tables.hotPinned / FrozenMemo)
    "corpus_graph": [
        "graph_pagerank", "dedup_minhash", "text_bm25",
    ],
}

DATA_DIR = os.path.join(HERE, "data", "sf0.1")
TABLES = ["region", "nation", "customer", "supplier", "part",
          "orders", "lineitem", "events", "documents", "embeddings"]
# The sf0.1 test data's row counts and content hashes; a mismatch means
# the inputs are stale, partial or replaced.
DATA_FINGERPRINT = {
    "region": {"rows": 5, "sha256": "3ff9f6a05ceaf7a6"},
    "nation": {"rows": 25, "sha256": "35624c5a87ba92e2"},
    "customer": {"rows": 15000, "sha256": "db5df8ae87d182bc"},
    "supplier": {"rows": 1000, "sha256": "943e42177d7df90d"},
    "part": {"rows": 20000, "sha256": "7c18480c5d8b5311"},
    "orders": {"rows": 150000, "sha256": "ffd4cfd204d6ec44"},
    "lineitem": {"rows": 600000, "sha256": "e2ad73367bb986b5"},
    "events": {"rows": 100000, "sha256": "e69b3d37a9312e27"},
    "documents": {"rows": 5000, "sha256": "b2a8cbd04330b251"},
    "embeddings": {"rows": 2000, "sha256": "0641770aa3d42903"},
}

JVM_OPENS = [
    f"--add-opens=java.base/{p}=ALL-UNNAMED" for p in (
        "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io",
        "java.net", "java.nio", "java.util", "java.util.concurrent",
        "java.util.concurrent.atomic", "sun.nio.ch", "sun.nio.cs",
        "sun.security.action", "sun.util.calendar")]


def log(msg):
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


class BenchError(Exception):
    pass


# ---- build, data, oracles -------------------------------------------------

def spark_jars():
    """The Spark jar directory: $SPARK_JARS, else the `unmanagedBase` that
    build.sbt compiles the project against."""
    if os.environ.get("SPARK_JARS"):
        return os.environ["SPARK_JARS"]
    with open(os.path.join(ROOT, "build.sbt")) as f:
        m = re.search(r'unmanagedBase\s*:=\s*file\("([^"]+)"\)', f.read())
    if not m:
        raise BenchError("set SPARK_JARS: build.sbt names no unmanagedBase")
    return m.group(1)


def source_hash():
    h = hashlib.sha256()
    for top in ("src/main/scala", "perfbench/src", "perfbench/build.sh"):
        base = os.path.join(ROOT, top)
        paths = [base] if os.path.isfile(base) else sorted(
            os.path.join(d, f) for d, _, fs in os.walk(base) for f in fs)
        for p in paths:
            h.update(os.path.relpath(p, ROOT).encode())
            with open(p, "rb") as f:
                h.update(f.read())
    return h.hexdigest()


def build():
    classes = os.path.join(BUILD, "classes")
    stamp = os.path.join(BUILD, "classes.stamp")
    want = source_hash()
    if os.path.exists(stamp) and open(stamp).read() == want and os.path.isdir(classes):
        return
    t0 = time.time()
    log("compiling graft + harness")
    if os.path.exists(os.path.join(BUILD, "oracle_sql.json")):
        os.remove(os.path.join(BUILD, "oracle_sql.json"))
    r = subprocess.run(["bash", os.path.join(HERE, "build.sh"), classes, spark_jars()], cwd=ROOT,
                       stdout=sys.stderr, stderr=sys.stderr, timeout=900)
    if r.returncode != 0:
        raise BenchError("build failed")
    with open(stamp, "w") as f:
        f.write(want)
    log(f"build took {time.time() - t0:.1f} s")


def data_dir():
    benchlib.verify(DATA_DIR, DATA_FINGERPRINT)
    return DATA_DIR


def jvm(mode, *args):
    # temp files, Spark's block/shuffle dirs and JVM perf data stay out of
    # /tmp: a run writes only inside its checkout
    tmp = os.path.join(BUILD, "tmp")
    os.makedirs(tmp, exist_ok=True)
    return ["java", *JVM_OPENS, f"-Xms{HEAP_START}", f"-Xmx{HEAP}", "-XX:-UsePerfData",
            f"-Djava.io.tmpdir={tmp}", f"-Dspark.local.dir={tmp}",
            "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
            "-cp", os.path.join(BUILD, "classes") + os.pathsep + os.path.join(spark_jars(), "*"),
            "perfbench.Harness", mode, *args]


def harness_lines(out):
    for line in out.splitlines():
        if line.startswith("PB "):
            yield json.loads(line[3:])


def oracle_sql():
    """Every workload query's oracle SQL, listed once per build and
    workload set."""
    path = os.path.join(BUILD, "oracle_sql.json")
    names = sorted({n for ns in WORKLOADS.values() for n in ns})
    if not os.path.exists(path) or not set(names) <= set(json.load(open(path))):
        r = subprocess.run(jvm("oracles", "--queries", ",".join(names)), cwd=ROOT,
                           capture_output=True, text=True, timeout=120)
        recs = list(harness_lines(r.stdout))
        if r.returncode != 0 or not recs:
            raise BenchError(f"oracle listing failed: {r.stderr[-2000:]}")
        with open(path + ".tmp", "w") as f:
            json.dump(recs[0], f)
        os.rename(path + ".tmp", path)
    with open(path) as f:
        return json.load(f)


def oracle_results(names, ddir):
    """{name: digest or None (no oracle)}; cached per (SQL, data)."""
    import duckdb
    cache = os.path.join(BUILD, "oracle")
    os.makedirs(cache, exist_ok=True)
    data_key = json.dumps(DATA_FINGERPRINT, sort_keys=True)
    out, con, listing = {}, None, oracle_sql()
    for name in names:
        sql = listing[name]
        if sql is None:
            out[name] = None
            continue
        path = os.path.join(cache, hashlib.sha256((sql + data_key).encode()).hexdigest() + ".json")
        if not os.path.exists(path):
            if con is None:
                con = duckdb.connect()
                con.execute("SET autoinstall_known_extensions=false")
                con.execute("SET autoload_known_extensions=false")
                con.execute("SET threads TO 4")
                for t in TABLES:
                    con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{ddir}/{t}.parquet'")
            t0 = time.time()
            res = benchlib.frame_digest(con.execute(sql).fetchdf())
            log(f"oracle {name}: {res['rows']} rows in {time.time() - t0:.1f} s")
            with open(path + ".tmp", "w") as f:
                json.dump(res, f)
            os.rename(path + ".tmp", path)
        with open(path) as f:
            out[name] = json.load(f)
    return out


def spark_result(path):
    import duckdb
    con = duckdb.connect()
    return benchlib.frame_digest(
        con.execute(f"SELECT * FROM read_parquet('{path}/*.parquet')").fetchdf())


# ---- host -----------------------------------------------------------------

def cpu_times():
    with open("/proc/stat") as f:
        vals = [int(x) for x in f.readline().split()[1:]]
    return sum(vals[:8]), vals[7]  # user..steal (guest is inside user)


def cores():
    return len(os.sched_getaffinity(0))


# ---- one run --------------------------------------------------------------

def run_jvm(cmd, deadline):
    """Run a harness JVM to completion; returns (launch time, records)."""
    t0 = time.time()
    p = subprocess.Popen(cmd, cwd=ROOT, stdout=subprocess.PIPE,
                         stderr=subprocess.DEVNULL, text=True)
    try:
        out, _ = p.communicate(timeout=max(1.0, deadline - time.time()))
    except subprocess.TimeoutExpired:
        p.kill()
        p.wait()
        raise BenchError("harness JVM exceeded the run deadline")
    finally:
        if p.poll() is None:
            p.kill()
            p.wait()
    if p.returncode != 0:
        raise BenchError(f"harness JVM exited with {p.returncode}")
    return t0, list(harness_lines(out))


def setup_done(recs):
    return next(r["setup_done"] for r in recs if "setup_done" in r)


def measure(workload, seed, seconds, trace, deadline):
    names = WORKLOADS[workload]
    ddir = data_dir()
    oracles = oracle_results(names, ddir)
    work = os.path.join(BUILD, "work", workload)
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    common = ["--cores", str(cores()), "--warmup", WARMUP, "--data", ddir]

    tot0, steal0 = cpu_times()
    setups = []
    for _ in range(SETUP_SAMPLES - 1):
        t0, recs = run_jvm(jvm("setup", *common), deadline)
        setups.append(setup_done(recs) - t0)
    trace_out = os.path.join(work, "trace.jsonl")
    t0, recs = run_jvm(jvm("run", *common, "--queries", ",".join(names),
                           "--seconds", str(seconds), "--trace", str(trace),
                           "--seed", str(seed), "--cap", str(QUERY_CAP_S),
                           "--calm-steal", str(CALM_STEAL),
                           "--check-out", os.path.join(work, "check"),
                           "--trace-out", trace_out), deadline)
    setups.append(setup_done(recs) - t0)
    split = next(r for r in recs if "session_built" in r)
    tot1, steal1 = cpu_times()
    with open(os.path.join(work, "harness.jsonl"), "w") as f:
        f.writelines(json.dumps(r) + "\n" for r in recs)
    steal = (steal1 - steal0) / max(1, tot1 - tot0)

    passes = [r for r in recs if "pass" in r]
    rss = next(r["rss_peak_mb"] for r in recs if "rss_peak_mb" in r)
    check = next(p for p in passes if p["kind"] == "check")
    wrong, result_rows = [], {}
    for q in check["queries"]:
        if q["error"]:
            continue  # already a failed attempt
        got = spark_result(os.path.join(work, "check", q["name"]))
        result_rows[q["name"]] = got["rows"]
        want = oracles[q["name"]]
        if want is not None and got != want:
            wrong.append(q["name"])
            log(f"WRONG RESULT {q['name']}: got {got['rows']} rows {got['digest'][:12]}, "
                f"oracle {want['rows']} rows {want['digest'][:12]}")
    attempted, failed, failing = benchlib.count_failures(passes, wrong)
    for p in passes:
        for q in p["queries"]:
            if q["error"]:
                log(f"FAILED {q['name']} (pass {p['pass']}): {q['error']}")

    cold = next(p for p in passes if p["kind"] == "cold")
    warm = benchlib.calm([p for p in passes if p["kind"] == "warm" and not p["traced"]],
                         CALM_STEAL)
    per_query = {}
    for p in warm:
        for q in p["queries"]:
            if not q["error"]:
                per_query.setdefault(q["name"], []).append(q["wall_s"])
    qwalls = [w for ws in per_query.values() for w in ws]
    tl = benchlib.tail(qwalls)
    info = {
        "workload": workload, "seed": seed, "steal_frac": round(steal, 4),
        # a run on a busy host is slow for reasons outside the program:
        # leave it out of comparisons when this is false
        "calm_host": steal < CALM_STEAL,
        "fail_frac": failed / attempted, "failing": failing,
        "setup_samples_s": [round(s, 3) for s in setups],
        "setup_split_s": {"session": round(split["session_built"] - t0, 3),
                          "registry": round(split["registry_built"] - split["session_built"], 3),
                          "warmup": round(setup_done(recs) - split["registry_built"], 3)},
        "check_pass_s": round(check["wall_s"], 3),
        "warm_passes": [{"wall_s": round(p["wall_s"], 3), "steal": round(p["steal"], 4),
                         "used": p in warm}
                        for p in passes if p["kind"] == "warm" and not p["traced"]],
        "query_samples": len(qwalls),
        "rss_peak_mb": round(rss, 1),
        "query_tail": None if tl is None else
        {"value_s": round(tl[0], 4), "percentile": round(tl[1], 1), "samples": tl[2]},
    }
    if trace:
        metrics = per_layer(trace_out, passes, result_rows)
    else:
        metrics = {
            "setup_s": (benchlib.median(setups), "s"),
            "cold_pass_s": (cold["wall_s"], "s"),
            "warm_pass_s": (benchlib.median([p["wall_s"] for p in warm]), "s"),
            "warm_cpu_s": (benchlib.median([p["cpu_s"] for p in warm]), "s"),
            # each query's median over the warm passes, then the median
            # across queries: with a handful of queries, pooling the
            # samples would put the median in the gap between two queries
            "query_p50_s": (benchlib.median([benchlib.median(v) for v in per_query.values()]), "s"),
        }
    return metrics, info, attempted, failed, not failing


# ---- traced run: per-layer metrics ----------------------------------------

# layers whose self time is reported; the execute span's own self time
# is left out, sched.driver_gap_ms covers it together with the plan phases
SELF_LAYERS = ["build", "job", "stage"]
# the spans that name what a query spent its time on: the whole build
# call, and below execute the plan phases, jobs, stages and broadcast builds
COVER_LAYERS = {"build", "plan.analysis", "plan.optimization", "plan.planning",
                "job", "stage", "broadcast"}


def per_layer(trace_path, passes, result_rows):
    spans, qrecs = [], []
    with open(trace_path) as f:
        for line in f:
            r = json.loads(line)
            (spans if r["kind"] == "span" else qrecs).append(r)
    by_pass = {}
    for q in qrecs:
        by_pass.setdefault(q["pass"], []).append(q)
    traced_warm = sorted(p["pass"] for p in passes if p["kind"] == "warm" and p["traced"])
    by_idx = {p["pass"]: p for p in passes}

    def per_pass(pidx):
        qs = by_pass.get(pidx, [])
        qids = {q["query"] for q in qs}
        sp = [x for x in spans if x["query"] in qids]
        of = lambda layer: [x for x in sp if x["layer"] == layer]
        dur = lambda xs: sum(x["end"] - x["start"] for x in xs)
        builds = {x["id"] for x in of("build")}
        ckpts = [x for x in of("job") if is_checkpoint(x["name"])]
        s = lambda k: sum(q[k] for q in qs)
        m = {
            "entry.build_s": dur(of("build")) / 1e3,
            "entry.build_jobs": sum(x["parent"] in builds for x in of("job")),
            "tables.ckpt_jobs": len(ckpts),
            "tables.ckpt_s": benchlib.union_length([(x["start"], x["end"]) for x in ckpts]) / 1e3,
            "tables.pinned_new": s("pinned_new"),
            "tables.stored_mb": max((q["stored_mb"] for q in qs), default=0.0),
            "codegen.compile_ms": s("codegen_ms"),
            "codegen.classes": s("codegen_classes"),
            "sched.jobs": len(of("job")),
            "sched.stages": len(of("stage")),
            "sched.tasks": s("tasks"),
            "sched.delay_ms": s("sched_delay_ms"),
            "task.run_ms": s("task_run_ms"),
            "task.cpu_ms": s("task_cpu_ms"),
            "task.gc_ms": s("task_gc_ms"),
            "task.skew": max((q["task_skew"] for q in qs), default=1.0),
            "task.single_task_stages": s("single_task_stages"),
            "shuffle.write_mb": s("shuffle_write_mb"),
            "shuffle.read_mb": s("shuffle_read_mb"),
            "shuffle.fetch_wait_ms": s("fetch_wait_ms"),
            "spill.mb": s("spill_mb"),
            "broadcast.build_ms": s("broadcast_ms"),
            "broadcast.mb": s("broadcast_mb"),
            "scan.rows": s("scan_rows"),
            "scan.rows_per_result_row": s("scan_rows") / max(1, sum(
                result_rows.get(q["name"], 0) for q in qs)),
            "mem.peak_exec_mb": max((q["peak_exec_mb"] for q in qs), default=0.0),
        }
        # self time per layer, query by query; plus the Spark driver gap:
        # execute time not covered by any job
        for layer in SELF_LAYERS:
            m[f"self.{layer}_ms"] = 0.0
        covered = 0.0
        for qid in qids:
            qsp = [x for x in sp if x["query"] == qid]
            for layer, v in benchlib.layer_self_times(qsp).items():
                if layer in SELF_LAYERS:
                    m[f"self.{layer}_ms"] += v
            # raw, unclipped spans: a gap no layer explains lowers the
            # share, a listener timestamp outside its query raises it
            covered += benchlib.union_length(
                [(x["start"], x["end"]) for x in qsp if x["layer"] in COVER_LAYERS])
        m["sched.driver_gap_ms"] = sum(
            benchlib.self_time(e, [j for j in of("job") if j["parent"] == e["id"]])
            for e in of("execute"))
        for phase in ("analysis", "optimization", "planning"):
            m[f"plan.{phase}_ms"] = dur(of(f"plan.{phase}"))
        # the named layers against the harness's own per-query wall clock
        qwall = 1e3 * sum(q["wall_s"] for q in by_idx[pidx]["queries"])
        m["trace.covered_frac"] = covered / qwall if qwall else float("nan")
        return m

    warm_ms = [per_pass(p) for p in traced_warm]
    out = {k: (benchlib.median([m[k] for m in warm_ms]), unit_of(k)) for k in warm_ms[0]}
    cold = per_pass(0)
    for k in ("entry.build_s", "tables.ckpt_jobs", "tables.pinned_new",
              "codegen.compile_ms", "codegen.classes"):
        out[f"cold.{k}"] = (cold[k], unit_of(k))
    untraced = [p["wall_s"] for p in passes if p["kind"] == "warm" and not p["traced"]]
    traced = [by_idx[p]["wall_s"] for p in traced_warm]
    out["trace.overhead_frac"] = (benchlib.median(traced) / benchlib.median(untraced) - 1, "ratio")
    return out


def is_checkpoint(call_site):
    """A job that materialises a `Tables.hot*` checkpoint or a frozen
    artifact: its call site is a checkpoint action inside Tables."""
    return "Tables.scala" in call_site and not call_site.startswith("parquet at")


def unit_of(name):
    if name.endswith("_ms"):
        return "ms"
    if name.endswith("_s"):
        return "s"
    if name.endswith("_mb") or name.endswith(".mb"):
        return "MB"
    if name.endswith("_frac") or name in ("task.skew", "scan.rows_per_result_row"):
        return "ratio"
    return "count"


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()
    try:
        if not os.path.isfile(os.path.join(ROOT, "src/main/scala/graft/SparkEntry.scala")):
            raise BenchError(f"no graft sources under {ROOT}")
        os.makedirs(BUILD, exist_ok=True)
        build()
        first = not os.path.isdir(os.path.join(BUILD, "oracle"))
        if first:
            # pay every workload's oracle cost once, before any timed run
            oracle_results(sorted({n for ns in WORKLOADS.values() for n in ns}), data_dir())
        deadline = time.time() + RUN_DEADLINE_S
        metrics, info, attempted, failed, correct = measure(
            a.workload, a.seed, a.seconds, a.trace, deadline)
    except (BenchError, benchlib.StaleData, subprocess.SubprocessError, OSError) as e:
        log(f"ERROR: {e}")
        return 1
    for k, (v, u) in metrics.items():
        print(f"{k:32s} {v:14.6f} {u}")
    print(json.dumps({"info": info}))
    print(json.dumps({"correct": correct, "attempted": attempted, "failed": failed,
                      "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()}}))
    return 0


if __name__ == "__main__":
    sys.exit(main())
