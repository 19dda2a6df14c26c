#!/usr/bin/env python3
"""Benchmark runner for the isolation-forest engine.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>
    python3 perfbench/run.py --scaling [--seed <n>]

Run from the repository root. It builds the program and the harness from
source with sbt (once per source state, cached under perfbench/.work),
runs one workload in its own JVM as a closed loop with one client against
a local[nproc] SparkSession, checks the outputs, and prints a summary
table. The last stdout line is one compact JSON object:
{"correct", "attempted", "failed", "metrics"}; with --trace 0 the metrics
are the end-to-end metrics of BENCHMARK.json, with --trace 1 its
per-layer metrics. The full result is also written to perfbench/.work/results/.

The sf0.1 tables are read from $SPARK_GRAFT_SF_DIR (default
~/testdata/sf0.1). --scaling runs http_paper at local[1..4] and at nproc
and prints the scaling table of perfbench/README.md.
"""
import argparse
import hashlib
import json
import os
import shutil
import signal
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(HERE, ".work")
RUN_DEADLINE_S = 170  # a run (build excluded) must end well inside 180 s

JAVA_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]

# What each end-to-end metric times in each workload. Every workload
# measures every metric of BENCHMARK.json.
WORKLOADS = {
    "http_paper": {"setup_s": "set-up", "lap_s": "train + predict", "build_s": "train (IForest.fit)",
                   "query_s": "predict (transform + noop write)"},
    "grid_ops": {"setup_s": "set-up", "lap_s": "flagship iforest_score lap",
                 "build_s": "store write op", "query_s": "store read op"},
}


def fail(msg, code=2):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(code)


def run_group(cmd, timeout, log_path, cwd=None, env=None):
    """Run `cmd` in its own process group with output to `log_path`; kill
    the whole group on timeout and wait for it. Returns the exit code
    (None on timeout)."""
    with open(log_path, "wb") as log:
        p = subprocess.Popen(cmd, cwd=cwd, env=env, stdout=log, stderr=subprocess.STDOUT,
                             stdin=subprocess.DEVNULL, start_new_session=True)
        try:
            return p.wait(timeout=timeout)
        except subprocess.TimeoutExpired:
            os.killpg(p.pid, signal.SIGKILL)
            p.wait()
            return None
        finally:
            if p.poll() is None:
                os.killpg(p.pid, signal.SIGKILL)
                p.wait()


def tail(path, n=30):
    try:
        with open(path, errors="replace") as f:
            return "".join(f.readlines()[-n:])
    except OSError:
        return ""


def source_stamp():
    h = hashlib.sha256()
    roots = [os.path.join(ROOT, "src", "main"), os.path.join(ROOT, "project"),
             os.path.join(HERE, "src"), os.path.join(HERE, "project")]
    files = [os.path.join(ROOT, "build.sbt"), os.path.join(HERE, "build.sbt")]
    for r in roots:
        for d, dirs, fs in os.walk(r):
            dirs[:] = sorted(x for x in dirs if x not in ("target", "project"))
            files += [os.path.join(d, f) for f in sorted(fs)]
    for f in files:
        if os.path.isfile(f):
            h.update(os.path.relpath(f, ROOT).encode())
            with open(f, "rb") as fh:
                h.update(fh.read())
    return h.hexdigest()


def build():
    """Compile the program and the harness; return the runtime classpath."""
    os.makedirs(WORK, exist_ok=True)
    stamp = source_stamp()
    cp_file = os.path.join(WORK, "classpath.txt")
    stamp_file = os.path.join(WORK, "build.stamp")
    if os.path.exists(cp_file) and os.path.exists(stamp_file):
        with open(stamp_file) as f:
            if f.read() == stamp:
                with open(cp_file) as g:
                    return g.read().strip()
    env = dict(os.environ)
    env.setdefault("COURSIER_MODE", "offline")
    if "SBT_OPTS" not in env:
        opts = ["-Dsbt.offline=true", "-Xmx2g"]
        repos = os.path.expanduser("~/.sbt/repositories")
        if os.path.exists(repos):
            opts = ["-Dsbt.override.build.repos=true", f"-Dsbt.repository.config={repos}"] + opts
        env["SBT_OPTS"] = " ".join(opts)
    log = os.path.join(WORK, "build.log")
    rc = run_group(["sbt", "--batch", "-Dsbt.log.noformat=true", "export Runtime/fullClasspath"],
                   timeout=850, log_path=log, cwd=HERE, env=env)
    lines = [l.strip() for l in open(log, errors="replace") if l.strip()]
    cp = next((l for l in reversed(lines) if "perfbench" in l and os.pathsep in l
               and not l.startswith("[")), None)
    if rc != 0 or cp is None:
        fail(f"build failed (exit {rc}); see {log}\n{tail(log)}", 1)
    with open(cp_file, "w") as f:
        f.write(cp)
    with open(stamp_file, "w") as f:
        f.write(stamp)
    return cp


def sf_dir():
    d = os.environ.get("SPARK_GRAFT_SF_DIR", os.path.expanduser("~/testdata/sf0.1"))
    if not os.path.exists(os.path.join(d, "lineitem.parquet")):
        fail(f"no sf0.1 tables at {d} (set SPARK_GRAFT_SF_DIR)")
    return d


def launch(cp, workload, seed, seconds, trace, cores=None, scores_out=None, deadline=RUN_DEADLINE_S):
    """Run one workload JVM; return its result dict."""
    run_dir = os.path.join(WORK, "run")
    shutil.rmtree(run_dir, ignore_errors=True)
    tmp = os.path.join(WORK, "tmp")  # store roots live here across runs, like the grid's tmpdir
    os.makedirs(run_dir)
    os.makedirs(tmp, exist_ok=True)
    out = os.path.join(run_dir, "result.json")
    cmd = ["java", "-Xms4g", "-Xmx4g", f"-Djava.io.tmpdir={tmp}"]
    for p in JAVA_OPENS:
        cmd += ["--add-opens", f"{p}=ALL-UNNAMED"]
    cmd += ["-cp", cp, "graft.perfbench.Main", "--workload", workload, "--seed", str(seed),
            "--seconds", str(seconds), "--trace", "1" if trace else "0", "--out", out,
            "--work", run_dir, "--sf", sf_dir()]
    if cores:
        cmd += ["--cores", str(cores)]
    if scores_out:
        cmd += ["--scores-out", scores_out]
    log = os.path.join(WORK, "jvm.log")
    rc = run_group(cmd, timeout=deadline, log_path=log, cwd=ROOT)
    if rc != 0 or not os.path.exists(out):
        fail(f"workload JVM {'timed out' if rc is None else f'exited {rc}'}; see {log}\n{tail(log)}", 1)
    with open(out) as f:
        return json.load(f)


def python_checks(res, timeout):
    """Checks that run outside the JVM: independent re-scoring and the
    DuckDB oracle, which gets the `timeout` seconds left of the run."""
    extra = res["extra"]
    if "rescore" in extra:
        sys.path.insert(0, HERE)
        import rescore
        r = extra["rescore"]
        ok, detail = rescore.check(r["model"], r["sample"], r["max_samples"], r["tolerance"])
        res["checks"].append({"name": "independent_rescore", "ok": ok, "detail": detail})
    if "oracle" in extra:
        res["checks"].append(oracle(res["sf"], extra["oracle"], timeout))


def oracle(sf, o, timeout):
    """Hash-match the dumped store outputs against SparkEntry.oracleSql in
    DuckDB with tools/oracle_check.py."""
    log = os.path.join(WORK, "oracle.log")
    rc = run_group([sys.executable, os.path.join(ROOT, "tools", "oracle_check.py"), sf, o["dir"]],
                   timeout=max(1, timeout), log_path=log)
    lines = open(log, errors="replace").read().splitlines()
    ok_q = [q for q in o["queries"] if any(l.startswith(f"OK {q}:") for l in lines)]
    rows_only = [q for q in o["rows_only"] if any(l.startswith(f"ROWS-ONLY {q}:") for l in lines)]
    ok = rc == 0 and len(ok_q) == len(o["queries"]) and len(rows_only) == len(o["rows_only"])
    return {"name": "oracle_hash_match", "ok": ok,
            "detail": f"{len(ok_q)}/{len(o['queries'])} hash-match DuckDB; "
            + "; ".join(l for l in lines if l and not l.startswith("OK"))}


def top_percentile(n):
    """The highest of the usual percentiles with at least 10 samples beyond it."""
    best = None
    for p in (50, 75, 90, 95, 99, 99.9):
        if n * (1 - p / 100.0) >= 10:
            best = p
    return best


def percentile(xs, p):
    s = sorted(xs)
    k = max(0, min(len(s) - 1, int(round(p / 100.0 * len(s) + 0.5)) - 1))
    return s[k]


def summarize(res, spec):
    """Median, top supported percentile and count for each end-to-end metric."""
    samples = dict(res["samples"])
    st = res["setup"]
    # setup_s: JVM and session start, warm-up, and the workload's input
    # set-up (repeated parts already reduced to their median in the JVM)
    samples["setup_s"] = [sum(st.values())]
    rows = {}
    for m in spec["end_to_end"]:
        name = m["name"]
        xs = samples.get(name, [])
        if not xs:
            continue
        p = top_percentile(len(xs))
        rows[name] = {"value": statistics.median(xs), "unit": m["unit"], "n": len(xs),
                      "top_percentile": p, "top_value": percentile(xs, p) if p else None}
    return rows


def print_table(title, rows, what):
    print(title)
    print(f"  {'metric':<12}{'times':<36}{'median':>14} {'unit':<7}{'top pct':>14}{'n':>5}")
    for k, r in rows.items():
        top = f"p{r['top_percentile']}={r['top_value']:.4g}" if r.get("top_percentile") else "n/a"
        print(f"  {k:<12}{what[k]:<36}{r['value']:>14.6g} {r['unit']:<7}{top:>14}{r['n']:>5}")


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload")
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=10)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--scaling", action="store_true")
    a = ap.parse_args()

    for need in ("build.sbt", os.path.join("src", "main", "scala", "graft")):
        if not os.path.exists(os.path.join(ROOT, need)):
            fail(f"no program source here ({need} missing under {ROOT})")
    bench_file = os.path.join(ROOT, "BENCHMARK.json")
    if not os.path.exists(bench_file):
        fail("BENCHMARK.json missing")
    with open(bench_file) as f:
        spec = json.load(f)
    if a.scaling:
        return scaling(build(), a.seed)
    if a.workload not in WORKLOADS:
        fail(f"unknown workload {a.workload}; one of {sorted(WORKLOADS)}")
    sf_dir()
    cp = build()
    t0 = time.time()
    res = launch(cp, a.workload, a.seed, a.seconds, a.trace == 1)
    python_checks(res, RUN_DEADLINE_S - (time.time() - t0))
    res["wall_s"] = time.time() - t0
    rows = summarize(res, spec)
    failed_checks = [c for c in res["checks"] if not c["ok"]]
    missing = [m["name"] for m in spec["end_to_end"] if m["name"] not in rows]
    correct = not failed_checks and not missing and res["failed"] == 0

    print(f"workload {a.workload} seed {a.seed} cores {res['cores']} trace {a.trace}: "
          f"closed loop, 1 client, {res['attempted']} ops attempted, {res['failed']} failed")
    print_table("end-to-end", rows, WORKLOADS[a.workload])
    for c in res["checks"]:
        print(f"  check {'ok  ' if c['ok'] else 'FAIL'} {c['name']}: {c['detail']}")
    for m in missing:
        print(f"  check FAIL metric {m} has no sample")
    for e in res["failures"]:
        print(f"  failed op: {e}")

    results = os.path.join(WORK, "results")
    os.makedirs(results, exist_ok=True)
    res["end_to_end"] = rows
    if a.trace:
        layer_units = {m["name"]: m["unit"] for m in spec["per_layer"]}
        layers = {k: {"value": res["per_layer"].get(k, 0.0), "unit": u} for k, u in layer_units.items()}
        print("per-layer (median per span instance; the result file has every layer figure)")
        for k, v in layers.items():
            print(f"  {k:<48}{v['value']:>14.6g} {v['unit']}")
        base = os.path.join(results, f"{a.workload}-trace0.json")
        if os.path.exists(base):
            with open(base) as f:
                plain = json.load(f)["end_to_end"]
            res["tracing_overhead"] = {k: rows[k]["value"] - plain[k]["value"]
                                       for k in rows if k in plain}
            print("tracing overhead (traced median - untraced median)")
            for k, v in res["tracing_overhead"].items():
                print(f"  {k:<36}{v:>+14.6g} {rows[k]['unit']}")
        metrics = layers
    else:
        metrics = {k: {"value": r["value"], "unit": r["unit"]} for k, r in rows.items()}
    with open(os.path.join(results, f"{a.workload}-trace{a.trace}.json"), "w") as f:
        json.dump(res, f, indent=1)
    print(json.dumps({"correct": correct, "attempted": res["attempted"], "failed": res["failed"],
                      "metrics": metrics}, separators=(",", ":")))


def scaling(cp, seed):
    """http_paper at local[1..4] and at nproc: train/predict medians and the
    max score difference from the nproc run (reported, not gated)."""
    import numpy as np
    import pyarrow.parquet as pq
    nproc = os.cpu_count()
    paper = {1: (74, 272), 2: (52, 157), 3: (40, 117), 4: (34, 86)}
    cores = sorted(set([1, 2, 3, 4, nproc]))
    scores = {}
    out = {}
    for n in [nproc] + [c for c in cores if c != nproc]:
        sdir = os.path.join(WORK, f"scores_{n}")
        res = launch(cp, "http_paper", seed, 1, False, cores=n, scores_out=sdir, deadline=900)
        t = pq.read_table(sdir).to_pydict()
        order = np.argsort(t["id"])
        scores[n] = np.array(t["anomalyScore"])[order]
        out[n] = (statistics.median(res["samples"]["build_s"]),
                  statistics.median(res["samples"]["query_s"]), res["extra"]["auc"])
        shutil.rmtree(sdir, ignore_errors=True)
    print(f"| cores | train s | paper train s | predict s | paper predict s | auc | max score diff vs local[{nproc}] |")
    print("|---|---|---|---|---|---|---|")
    for n in cores:
        tr, pr, auc = out[n]
        pt, pp = paper.get(n, ("-", "-"))
        diff = float(np.max(np.abs(scores[n] - scores[nproc])))
        print(f"| {n} | {tr:.2f} | {pt} | {pr:.2f} | {pp} | {auc:.5f} | {diff:.3g} |")


if __name__ == "__main__":
    main()
