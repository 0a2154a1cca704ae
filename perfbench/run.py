#!/usr/bin/env python3
"""CDC-ingestion and analytics benchmark for the graft engine.

  python3 perfbench/run.py --workload W --seed N --seconds S --trace 0|1
  python3 perfbench/run.py --self-test

Run from the repository root. The first run builds the engine and the
harness from source (perfbench/build.sbt) into .bench_build/; later runs
reuse that build while the sources are unchanged.

One run: generate the workload's inputs from the seed (gen.py), start one
JVM that sets up, measures for --seconds and reads back (Main.scala), then
check the outputs (check.py) and print the metrics. The last line of stdout
is one JSON object: correct, attempted, failed, and the end-to-end metrics
(--trace 0) or the per-layer metrics of a traced run (--trace 1).
"""
import argparse
import hashlib
import json
import math
import os
import shutil
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
BUILD = os.path.join(ROOT, ".bench_build", "perfbench")
sys.path.insert(0, HERE)

WORKLOADS = ("stream_hot", "batch_scattered", "analytics_heavy")
QUERIES = ["q193_prefix_jaccard", "q132_ivf_append", "q291_median_boot_ci",
           "q257_negative_sampling", "q108_simhash64_neardups", "q316_simhash128_neardups",
           "q220_adamic_adar"]
# Source tables each query reads, for the analytics row rate.
QUERY_TABLES = {
    "q193_prefix_jaccard": ["documents"], "q132_ivf_append": ["embeddings"],
    "q291_median_boot_ci": ["orders"], "q257_negative_sampling": ["orders", "lineitem", "part"],
    "q108_simhash64_neardups": ["documents"], "q316_simhash128_neardups": ["documents"],
    "q220_adamic_adar": ["orders", "lineitem"]}
# JVM flags of the root build.sbt (JDK 17 module opens, code cache, UTC),
# with the heap pinned (initial = maximum) so every run gets the same one.
ADD_OPENS = ["java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
             "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
             "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
             "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
             "java.base/sun.util.calendar"]
JVM_FLAGS = [f for p in ADD_OPENS for f in ("--add-opens", f"{p}=ALL-UNNAMED")] + [
    "-Xms3g", "-Xmx3g", "-XX:ReservedCodeCacheSize=512m", "-XX:-UsePerfData",
    "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC", "-Duser.timezone=UTC"]
RUN_LIMIT_S = 175


def log(msg):
    print(msg, file=sys.stderr, flush=True)


# ---------------------------------------------------------------------------
# build
# ---------------------------------------------------------------------------

def _sources():
    for top in (os.path.join(ROOT, "src", "main"), os.path.join(HERE, "src")):
        for d, _, fs in sorted(os.walk(top)):
            for f in sorted(fs):
                yield os.path.join(d, f)
    yield os.path.join(HERE, "build.sbt")
    yield os.path.join(HERE, "project", "build.properties")


def build():
    """Compile engine + harness unless an up-to-date build exists; return
    the runtime classpath."""
    if not os.path.isdir(os.path.join(ROOT, "src", "main", "scala")):
        raise SystemExit("perfbench: engine sources (src/main/scala) not found; "
                         "run from the repository root")
    h = hashlib.sha256()
    for p in _sources():
        h.update(os.path.relpath(p, ROOT).encode())
        with open(p, "rb") as f:
            h.update(f.read())
    stamp = h.hexdigest()
    cp_file, stamp_file = os.path.join(BUILD, "classpath"), os.path.join(BUILD, "stamp")
    if os.path.exists(cp_file) and os.path.exists(stamp_file):
        with open(stamp_file) as f:
            if f.read() == stamp:
                with open(cp_file) as g:
                    return g.read()
    os.makedirs(BUILD, exist_ok=True)
    log("perfbench: building engine and harness (sbt)...")
    t0 = time.time()
    with open(os.path.join(BUILD, "build.log"), "w") as out:
        r = subprocess.run(["sbt", "--batch", "-Dsbt.log.noformat=true",
                            "-Dsbt.server.autostart=false",
                            "compile", "export Runtime/fullClasspath"],
                           cwd=HERE, stdout=subprocess.PIPE, stderr=out, text=True,
                           timeout=850)
        out.write(r.stdout)
    lines = [ln for ln in r.stdout.splitlines() if ln.strip()]
    if r.returncode != 0 or not lines or "/" not in lines[-1]:
        raise SystemExit(f"perfbench: build failed, see {BUILD}/build.log")
    cp = lines[-1].strip()
    with open(cp_file, "w") as f:
        f.write(cp)
    with open(stamp_file, "w") as f:
        f.write(stamp)
    log(f"perfbench: built in {time.time() - t0:.0f} s")
    return cp


# ---------------------------------------------------------------------------
# one run
# ---------------------------------------------------------------------------

def run_jvm(cp, workload, work, inp, seconds, trace, extra, deadline):
    out = os.path.join(work, "result.json")
    os.makedirs(os.path.join(work, "tmp"), exist_ok=True)
    java = os.path.join(os.environ["JAVA_HOME"], "bin", "java") if "JAVA_HOME" in os.environ else "java"
    spans = os.path.join(ROOT, ".bench_build", "traces", f"{os.path.basename(work)}.jsonl")
    cmd = [java] + JVM_FLAGS + [
        f"-Djava.io.tmpdir={work}/tmp",
        f"-Dlog4j2.configurationFile={HERE}/log4j2.properties",
        "-cp", cp, "perfbench.Main", "--workload", workload, "--input", inp, "--work", work,
        "--seconds", str(seconds), "--trace", str(trace), "--out", out, "--spans", spans] + extra
    with open(os.path.join(work, "jvm.log"), "w") as errf:
        p = subprocess.Popen(cmd, cwd=work, stdout=errf, stderr=subprocess.STDOUT)
        try:
            p.wait(timeout=max(10, deadline - time.time()))
        except subprocess.TimeoutExpired:
            p.kill()
            p.wait()
            raise RuntimeError("engine run exceeded its time limit")
    if p.returncode != 0 or not os.path.exists(out):
        with open(os.path.join(work, "jvm.log")) as f:
            tail = f.read()[-4000:]
        raise RuntimeError(f"engine run failed (exit {p.returncode}):\n{tail}")
    with open(out) as f:
        res = json.load(f)
    res["spans"] = spans if trace else None
    return res


def geomean(xs):
    return math.exp(sum(math.log(x) for x in xs) / len(xs))


def end_to_end(res, rows_of):
    """End-to-end metrics from the untraced samples of a run. A sample is a
    micro-batch, a load or, on analytics, one query run."""
    units = [u for u in res["units"] if not u["traced"]]
    ok = [u for u in units if u["ok"]]
    if not ok:
        raise RuntimeError("no sample completed")
    lat = [u["latency_s"] for u in ok]
    kinds = {}
    for u in ok:
        kinds.setdefault(u["kind"], []).append(u["latency_s"])
    med = {k: statistics.median(v) for k, v in kinds.items()}
    # growth: each sample relative to its kind's median, in sequence order;
    # median of the last quarter over median of the first quarter, each
    # quarter at least one sample per kind (one round or pass)
    rel = [u["latency_s"] / med[u["kind"]] for u in ok]
    q = max(len(kinds), math.ceil(len(rel) / 4))
    growth = statistics.median(rel[-q:]) / statistics.median(rel[:q])
    log("perfbench: median latency by kind: " + ", ".join(
        f"{k} {v:.3f} s" for k, v in sorted(med.items())))
    if res["workload"] == "analytics_heavy":
        rows_per_s = sum(rows_of(u) for u in ok) / sum(lat)
    else:
        # busy_s: offer to commit of every timed round or load, without the
        # harness's quiesce and polling between them
        rows_per_s = sum(u["rows"] for u in ok) / res["busy_s"]
    m = {
        "setup_s": res["setup_s"],
        "rows_per_s": rows_per_s,
        "batch_p50_s": statistics.median(lat),
        "batch_growth": growth,
        "read_s": statistics.median(res["read_s"]),
        "space_amp": res["space_amp"],
        "ok_rate": len(ok) / len(units),
        "suite_s": sum(med.values()),
        "query_geomean_s": geomean(list(med.values())),
    }
    notes = {"batch_p50_s": f"{len(lat)} samples", "ok_rate": f"{len(ok)}/{len(units)} units"}
    return m, notes


def trace_overhead(res):
    """Per unit kind, median traced latency minus median untraced latency in
    the same run; the median over kinds."""
    diffs = []
    for kind in {u["kind"] for u in res["units"]}:
        t = [u["latency_s"] for u in res["units"] if u["kind"] == kind and u["ok"] and u["traced"]]
        b = [u["latency_s"] for u in res["units"] if u["kind"] == kind and u["ok"] and not u["traced"]]
        if t and b:
            diffs.append(statistics.median(t) - statistics.median(b))
    return statistics.median(diffs) if diffs else 0.0


def one_run(workload, seed, seconds, trace, plant=False, queries=None):
    """Returns (correct, attempted, failed, metrics, notes, problems, res)."""
    import check
    import gen
    cp = build()
    deadline = time.time() + RUN_LIMIT_S
    work = os.path.join(ROOT, ".bench_build", "runs", f"{workload}-s{seed}-t{trace}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    inp = os.path.join(work, "input")
    os.makedirs(inp)
    try:
        t0 = time.time()
        extra = ["--plant-failure"] if plant else []
        if workload == "analytics_heavy":
            gen.analytics(inp)
            # fixed inputs and a fixed order: every run of the same code does
            # the same work, and the outputs are pinned in expected_analytics.json
            order = list(queries or QUERIES)
            extra += ["--order", ",".join(order)]
            params = {"seed": seed, "query_order": order, **gen.ANALYTICS_SIZE}
        else:
            manifest, base, batches = gen.ingest(workload, seed, seconds, inp)
            params = manifest["params"]
        log(f"perfbench: {workload} seed {seed}: inputs generated in {time.time() - t0:.1f} s")
        print(f"{workload} inputs: {json.dumps(params)}")
        res = run_jvm(cp, workload, work, inp, seconds, trace, extra, deadline)
        log("perfbench: " + ", ".join(f"{k} {json.dumps(res[k])}" for k in (
            "session_s", "seed_s", "warmup_s", "setup_s", "window_s", "busy_s", "read_s") if k in res))
        problems = []
        if workload == "analytics_heavy":
            with open(os.path.join(HERE, "expected_analytics.json")) as f:
                expected = json.load(f)
            import pyarrow.parquet as pq
            sizes = {t: pq.ParquetFile(os.path.join(inp, f"{t}.parquet")).metadata.num_rows
                     for t in ("documents", "embeddings", "orders", "lineitem", "part")}
            rows_of = lambda u: sum(sizes[t] for t in QUERY_TABLES[u["kind"]])
            for q in order:
                if q not in res["captured"]:
                    problems.append(f"{q}: no output captured (the query failed)")
                    continue
                got = list(check.output_hash(res["captured"][q]))
                if got != expected.get(q):
                    problems.append(f"{q}: rows/hash {got}, expected {expected.get(q)}")
        else:
            rows_of = None
            problems = check.check_ingest(base, batches, res["committed"], res["exports"])
            if res["window_s"] < 0.8 * seconds:
                log("perfbench: warning: staged batches ran out before the window ended")
        attempted = len(res["units"])
        failed = sum(1 for u in res["units"] if not u["ok"])
        if trace:
            metrics = dict(res["layers"])
            metrics["trace.overhead_s"] = trace_overhead(res)
            notes = {}
        else:
            metrics, notes = end_to_end(res, rows_of)
        return not problems, attempted, failed, metrics, notes, problems, res
    finally:
        shutil.rmtree(work, ignore_errors=True)


def main():
    ap = argparse.ArgumentParser(description=__doc__,
                                 formatter_class=argparse.RawDescriptionHelpFormatter)
    ap.add_argument("--workload", choices=WORKLOADS)
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=int, default=15)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--self-test", action="store_true")
    a = ap.parse_args()
    if a.self_test:
        import selftest
        sys.exit(selftest.main(one_run))
    if not a.workload:
        ap.error("--workload is required")
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    wanted = spec["per_layer"] if a.trace else spec["end_to_end"]
    correct, attempted, failed, metrics, notes, problems, res = one_run(
        a.workload, a.seed, a.seconds, a.trace)
    if a.trace:
        # a layer the workload never runs did no work: it reports 0
        metrics = {m["name"]: metrics.get(m["name"], 0.0) for m in wanted}
    missing = [m["name"] for m in wanted if m["name"] not in metrics]
    if missing:
        raise SystemExit(f"perfbench: metrics missing from the run: {missing}")
    for p in problems:
        log(f"perfbench: MISMATCH {p}")
    for u in res["units"]:
        if not u["ok"]:
            log(f"perfbench: error {u['kind']} #{u['index']}: {u['error'][:300]}")
    if res.get("spans"):
        log(f"perfbench: spans written to {os.path.relpath(res['spans'], ROOT)}")
    for m in wanted:
        note = notes.get(m["name"], "")
        print(f"{a.workload} {m['name']} = {metrics[m['name']]:.6g} {m['unit']}"
              + (f"  ({note})" if note else ""))
    print(f"{a.workload} correct = {correct}, attempted = {attempted}, failed = {failed}")
    print(json.dumps({"correct": correct, "attempted": attempted, "failed": failed,
                      "metrics": {m["name"]: {"value": metrics[m["name"]], "unit": m["unit"]}
                                  for m in wanted}}))


if __name__ == "__main__":
    main()
