"""Benchmark of the graft engine: one command per workload.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run from the root of a checkout. The first run builds the engine and the
harness from source with sbt (into `target/` dirs and `.bench_build/`);
later runs reuse the build while the sources are unchanged. Inputs are
generated from `--seed` by `perfbench/gen.py`. The last line of standard
output is one JSON object: `correct`, `attempted`, `failed`, `metrics`.
With `--trace 0` the metrics are the end-to-end ones, with `--trace 1`
the per-layer ones (see perfbench/README.md).
"""
import argparse
import contextlib
import hashlib
import json
import os
import shutil
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
sys.dont_write_bytecode = True
sys.path.insert(0, HERE)

BUILD = ".bench_build"
HEAP = "7g"
CPUS = 4
DATA_SCALE = 0.02
RUN_LIMIT_S = 170
WORKLOADS = {
    # one cold pass, in this fixed order, over a cross-section of the named
    # queries: every warehouse and corpus module, the queries that build
    # the shared memos (CDC envelope in dwd_user_register, page log) and
    # the starLabels loop
    "batch": ["mm_content_entropy", "text_token_counts", "gov_retention", "sim_embedding_stats",
              "text_pii_redact", "q1_pricing_summary", "dedup_components_star",
              "search_tfidf_keywords", "dwd_user_register", "dim_order_info", "dim_scd2_order_status", "graph_two_step",
              "ads_trade_province_order_ct", "j_asof_attribution", "an_running_total",
              "dws_traffic_page_view_window"],
    "ods-to-rest": [],
}
MODULES = ["Relational", "Analytic", "AsOf", "GmallDwdDb", "DimRouter", "GmallDws", "GmallAds",
           "Scd2", "Governance", "Dedup", "Similarity", "TextAnalysis", "Curation", "Search",
           "Multimodal", "Graph"]
JAVA_OPENS = [f"--add-opens=java.base/{p}=ALL-UNNAMED" for p in (
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net", "java.nio",
    "java.util", "java.util.concurrent", "java.util.concurrent.atomic", "sun.nio.ch",
    "sun.nio.cs", "sun.security.action", "sun.util.calendar")]


def fail(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


def source_stamp(root):
    """Hash of every input of the build, so a stale build is never reused."""
    h = hashlib.sha256()
    for top in ["build.sbt", "project", "src/main", "perfbench/harness"]:
        path = os.path.join(root, top)
        paths = [path] if os.path.isfile(path) else []
        for dirpath, dirnames, filenames in os.walk(path):
            dirnames[:] = sorted(d for d in dirnames if d != "target"
                                 and not (d == "project" and dirpath.endswith("project")))
            paths += [os.path.join(dirpath, f) for f in sorted(filenames)]
        for p in paths:
            h.update(p.encode())
            with open(p, "rb") as f:
                h.update(f.read())
    return h.hexdigest()


def build(root):
    """Compile engine + harness with sbt once per source state; returns
    the runtime classpath."""
    os.makedirs(os.path.join(root, BUILD), exist_ok=True)
    stamp_file = os.path.join(root, BUILD, "classpath.json")
    stamp = source_stamp(root)
    if os.path.exists(stamp_file):
        saved = json.load(open(stamp_file))
        if saved.get("stamp") == stamp:
            return saved["classpath"], stamp
    env = dict(os.environ)
    env.setdefault("COURSIER_MODE", "offline")
    env.setdefault("SBT_OPTS", "-Dsbt.offline=true -Xmx2g")
    log_path = os.path.join(root, BUILD, "build.log")
    with open(log_path, "w") as log:
        p = subprocess.run(["sbt", "--batch", "-Dsbt.log.noformat=true", "compile",
                            "export Runtime/fullClasspath"],
                           cwd=os.path.join(root, "perfbench", "harness"), env=env,
                           stdout=subprocess.PIPE, stderr=log, text=True, timeout=880)
    lines = [ln for ln in p.stdout.splitlines() if ln.strip() and not ln.startswith("[")]
    if p.returncode != 0 or not lines:
        sys.stderr.write(p.stdout[-4000:])
        fail(f"build failed (exit {p.returncode}); see {log_path}")
    classpath = lines[-1].strip()
    json.dump({"stamp": stamp, "classpath": classpath}, open(stamp_file, "w"))
    return classpath, stamp


def data_dir(root, seed):
    d = os.path.join(root, BUILD, "data", f"seed-{seed}-scale-{DATA_SCALE}")
    if not os.path.exists(os.path.join(d, "_DONE")):
        import gen  # numpy and pyarrow load only when inputs are made
        shutil.rmtree(d, ignore_errors=True)
        gen.generate(d, seed, DATA_SCALE)
        open(os.path.join(d, "_DONE"), "w").close()
    return d


def pct(values, q):
    """The q-quantile by linear interpolation (numpy's default)."""
    s = sorted(values)
    if not s:
        return 0.0
    k = (len(s) - 1) * q
    lo = int(k)
    hi = min(lo + 1, len(s) - 1)
    return s[lo] + (s[hi] - s[lo]) * (k - lo)


def median(values):
    return pct(values, 0.5)


def java_cmd(classpath, work, *args):
    return ["java", f"-Xmx{HEAP}", "-XX:+UseG1GC", *JAVA_OPENS,
           f"-Djava.io.tmpdir={os.path.join(work, 'tmp')}",
           f"-Dlog4j2.configurationFile={os.path.join(HERE, 'log4j2.properties')}",
           "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
           "-cp", classpath, "perfbench.Main", "--work", work, "--cpus", str(CPUS), *args]


def line_pools(root, classpath, stamp):
    """The ODS line pools of `ods-to-rest`, staged once per build from
    the fixed seed-0 data set; each run's seed picks lines from them."""
    d = os.path.join(root, BUILD, "pools")
    done = os.path.join(d, "_DONE")
    data = data_dir(root, 0)
    if not (os.path.exists(done) and open(done).read() == stamp + data):
        shutil.rmtree(d, ignore_errors=True)
        os.makedirs(os.path.join(d, "tmp"))
        with open(os.path.join(d, "stage.log"), "w") as log:
            p = subprocess.run(java_cmd(classpath, d, "--workload", "stage-pools",
                                        "--data", data, "--seconds", "0"),
                               stdout=log, stderr=subprocess.STDOUT, cwd=root, timeout=600)
        if p.returncode != 0:
            fail(f"staging the line pools failed; see {d}/stage.log")
        with open(done, "w") as f:
            f.write(stamp + data)
    return d


def run_engine(root, classpath, a, work, data, queries, pools):
    cmd = java_cmd(classpath, work, "--workload", a.workload, "--data", data,
                   "--seconds", str(a.seconds), "--trace", str(a.trace),
                   "--queries", ",".join(queries))
    os.makedirs(os.path.join(work, "tmp"), exist_ok=True)
    procs = []
    t0 = time.monotonic()
    with open(os.path.join(work, "engine.log"), "w") as elog:
        procs.append(subprocess.Popen(cmd, stdout=elog, stderr=subprocess.STDOUT, cwd=root))
        if a.workload == "ods-to-rest":
            procs.append(subprocess.Popen(
                [sys.executable, os.path.join(HERE, "load.py"), "--work", work,
                 "--pools", pools, "--seed", str(a.seed), "--seconds", str(a.seconds)],
                stdout=elog, stderr=subprocess.STDOUT, cwd=root))
        try:
            deadline = t0 + RUN_LIMIT_S
            for p in procs:
                p.wait(timeout=max(1.0, deadline - time.monotonic()))
        except subprocess.TimeoutExpired:
            pass
        finally:
            for p in procs:
                if p.poll() is None:
                    p.kill()
                p.wait()
    wall = time.monotonic() - t0
    codes = [p.returncode for p in procs]
    if any(codes):
        sys.stderr.write(open(os.path.join(work, "engine.log")).read()[-6000:])
        fail(f"engine or load process failed (exit codes {codes})")
    return json.load(open(os.path.join(work, "engine.json"))), wall


def batch_metrics(root, eng, work, data):
    # the project's own correctness gate: each result against its DuckDB
    # oracle, rows-only where there is none (duckdb and pandas load here)
    sys.path.insert(0, os.path.join(root, "tools"))
    import compare
    with contextlib.redirect_stdout(sys.stderr):
        _, _, results = compare.run(data, os.path.join(work, "results"))
    bad = set(eng["failures"]) | {q for q, r in results.items() if r != "ok"}
    e2e = {
        "setup_s": (eng["setup_s"], "s"),
        "freshness_p50_s": (median(eng["freshness_s"]), "s"),
        # the last result, so every query of the pass counts
        "freshness_p90_s": (max(eng["freshness_s"]), "s"),
        "live_heap_mb": (eng["live_heap_mb"], "MB"),
    }
    layers = dict(eng.get("layers", {}))
    layers["time_to_results_s"] = eng["time_to_results_s"]
    layers["latency_p50_ms"] = median(eng["latency_ms"])
    layers["latency_p90_ms"] = pct(eng["latency_ms"], 0.9)
    return e2e, layers, eng["attempted"], len(bad), not bad


def stream_metrics(eng, work):
    load = json.load(open(os.path.join(work, "load.json")))
    reqs = load["requests"]
    lat = [(r["done"] - r["due"]) * 1000 for r in reqs]
    fresh = [f["visible"] - f["created"] for f in load["files"] if "visible" in f]
    unseen = sum(1 for f in load["files"] if "visible" not in f)
    store = [r for r in reqs if "/api/query/" in r["route"]]
    sugar = [r for r in reqs if "/api/query/" not in r["route"]]
    misses, last = [], {}
    for r in sorted(store, key=lambda r: r["due"]):
        if r["ok"] and last.get(r["route"]) != r["body_hash"]:
            misses.append((r["done"] - r["due"]) * 1000)
        last[r["route"]] = r["body_hash"]
    backlog = load["backlog"]
    ingest = (backlog["log_events"] + backlog["db_events"]) / eng["time_to_results_s"]
    e2e = {
        "setup_s": (eng["setup_s"], "s"),
        "freshness_p50_s": (median(fresh), "s"),
        "freshness_p90_s": (pct(fresh, 0.9), "s"),
        "live_heap_mb": (eng["live_heap_mb"], "MB"),
    }
    layers = dict(eng.get("layers", {}))
    layers.update({
        "time_to_results_s": eng["time_to_results_s"],
        "latency_p50_ms": median(lat),
        "latency_p90_ms": pct(lat, 0.9),
        "streaming.ingest_eps": ingest,
        "streaming.backlog_files_max": load["backlog_files_max"],
        "serving.rest_ms.store": median([(r["done"] - r["due"]) * 1000 for r in store]),
        "serving.rest_ms.sugar": median([(r["done"] - r["due"]) * 1000 for r in sugar]),
        "serving.miss_ms": median(misses),
        "load.lateness_ms": pct(load["lateness_ms"], 0.99),
        "streaming.catchup_local1_s": eng.get("catchup_local1_s", 0.0),
    })
    failed_reqs = sum(1 for r in reqs if not r["ok"])
    mismatches = eng["ads_mismatches"]
    for m in mismatches:
        print(f"perfbench: ADS mismatch: {m}", file=sys.stderr)
    if unseen:
        print(f"perfbench: {unseen} live files never became visible", file=sys.stderr)
    attempted = len(reqs) + eng["batches"]
    failed = failed_reqs + len(mismatches) + eng["queries_failed"] + unseen
    return e2e, layers, attempted, failed, not mismatches


PER_LAYER = ([f"operators.{m}.{k}" for m in MODULES for k in ("build_s", "exec_s")] + [
    "time_to_results_s", "latency_p50_ms", "latency_p90_ms",
    "planning.analysis_s", "planning.optimization_s", "planning.physical_s",
    "spark.jobs", "spark.tasks", "spark.shuffle_write_bytes", "spark.spill_bytes",
    "spark.gc_ms", "spark.peak_task_mem_bytes", "spark.core_idle_share",
    "streaming.parse_dwd_s", "operators.dws_merge_s", "serving.publish_s",
    "streaming.trigger_ms.addBatch", "streaming.trigger_ms.queryPlanning",
    "streaming.trigger_ms.getBatch", "streaming.trigger_ms.walCommit",
    "streaming.state_rows", "streaming.state_bytes", "streaming.backlog_files_max",
    "streaming.ingest_eps", "streaming.catchup_local1_s",
    "serving.rest_ms.store", "serving.rest_ms.sugar", "serving.miss_ms",
    "load.lateness_ms", "trace.span_coverage"])
UNITS = {"_s": "s", "_ms": "ms", "_bytes": "bytes", "_eps": "1/s", "_share": "ratio",
         "coverage": "ratio"}


def unit_of(name):
    for suffix, unit in UNITS.items():
        if name.endswith(suffix) or name.rsplit(".", 1)[0].endswith(suffix):
            return unit
    return "count"


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()
    root = os.getcwd()
    if not (os.path.isfile(os.path.join(root, "build.sbt"))
            and os.path.isdir(os.path.join(root, "src", "main", "scala", "graft"))):
        fail("run from the root of the engine's checkout (build.sbt and src/main/scala/graft)")

    classpath, stamp = build(root)
    pools = line_pools(root, classpath, stamp) if a.workload == "ods-to-rest" else None
    data = data_dir(root, a.seed)
    work = os.path.join(root, BUILD, "work")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    queries = WORKLOADS[a.workload]

    t0 = time.monotonic()
    eng, wall = run_engine(root, classpath, a, work, data, queries, pools)
    t1 = time.monotonic()
    if a.workload == "ods-to-rest":
        e2e, layers, attempted, failed, correct = stream_metrics(eng, work)
    else:
        e2e, layers, attempted, failed, correct = batch_metrics(root, eng, work, data)
    print(f"perfbench: engine {t1 - t0:.1f} s, checks {time.monotonic() - t1:.1f} s",
          file=sys.stderr)
    if a.trace:
        covered = eng.get("span_covered_s", 0.0)
        layers["trace.span_coverage"] = covered / wall
        print(f"perfbench: {wall - covered:.3f} s of {wall:.3f} s wall under no named span",
              file=sys.stderr)
        for name, secs in sorted(eng.get("span_self_s", {}).items()):
            print(f"self time {name}: {secs:.3f} s", file=sys.stderr)
        # the same figures an untraced run prints; the difference is the
        # tracing overhead
        print("perfbench: traced end-to-end " + json.dumps({n: v for n, (v, _) in e2e.items()}),
              file=sys.stderr)
        metrics = {n: {"value": float(layers.get(n, 0.0)), "unit": unit_of(n)} for n in PER_LAYER}
    else:
        metrics = {n: {"value": float(v), "unit": u} for n, (v, u) in e2e.items()}
    print(json.dumps({"correct": bool(correct and failed == 0), "attempted": int(attempted),
                      "failed": int(failed), "metrics": metrics}))


if __name__ == "__main__":
    main()
