#!/usr/bin/env python3
"""Lakehouse benchmark: one command, four workloads, checked outputs.

Run from the root of a checkout of the repository:

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Workloads: medallion_backfill, arbitrage_live, serving_mixed, curation_batch
(see BENCHMARK.json for why each exists, perfbench/README.md for what each
metric means on each workload).

The first run in a checkout builds the program and the harness from source
with sbt into `target/` and `perfbench/target/`, then archives the classes a
small run loads (state under `.bench_build/`); later runs reuse that build
while the sources are unchanged. Each run starts
one measuring JVM (`perfbench.Main`), which generates the inputs from the
seed, warms up, times set-up, measures for `--seconds` and checks its
outputs; this script turns its raw record into the report. With `--trace 1`
it also runs the same workload and seed untraced (for the tracing overhead)
and, for the two batch workloads, on one core (the single-thread baseline),
and reports per-layer metrics.

The last line of standard output is one JSON object with the keys
`correct`, `attempted`, `failed` and `metrics`. The line before it is a
readable report of the workload's own end-to-end metrics, plus any measured
per-layer metric BENCHMARK.json does not declare (`unlisted`).
"""
import argparse
import hashlib
import json
import math
import os
import shutil
import signal
import statistics
import subprocess
import sys
import time
from pathlib import Path

ROOT = Path.cwd()
BENCH = Path(__file__).resolve().parent
STATE = ROOT / ".bench_build"
WORKLOADS = ("medallion_backfill", "arbitrage_live", "serving_mixed", "curation_batch")
# Each run must end within this many seconds (the first run may also build).
RUN_BUDGET_S = 170
BUILD_BUDGET_S = 850
# The heap cap: well above the heap in use after young collections (under
# 0.6 GB on every workload), and half the repository build's 8g, since the
# host's memory is shared.
JVM_HEAP = "4g"
JDK_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar"]


def die(msg, code=2):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(code)


# ---------------------------------------------------------------- statistics

def percentile(xs, p):
    """Nearest-rank percentile: the smallest sample with at least a share p
    of all samples at or below it."""
    if not xs:
        return float("nan")
    s = sorted(xs)
    return s[max(0, math.ceil(p * len(s)) - 1)]


def beyond(n, p):
    """How many of n samples lie beyond the nearest-rank p-th percentile."""
    return n - max(1, math.ceil(p * n))


def unit_of(name):
    """A metric's unit follows from its name's suffix."""
    for suffix, unit in (("_per_s", "1/s"), ("_ms_per_item", "ms"), ("_ms", "ms"), ("_s", "s"), ("_mb", "MB"),
                         ("_bytes", "bytes"), ("_pct", "%"), ("_ratio", "ratio"),
                         ("error_rate", "ratio")):
        if name.endswith(suffix):
            return unit
    return "count"


def pct_name(name, p):
    """(`streaming.gold.batch_ms`, 0.5) -> `streaming.gold.batch_p50_ms`."""
    head, _, unit = name.rpartition("_")
    return f"{head}_p{round(p * 100)}_{unit}"


def flatten(values):
    """Raw per-layer values -> numbers: a distribution becomes its median."""
    out = {}
    for k, v in values.items():
        if isinstance(v, dict) and "dist" in v:
            out[pct_name(k, 0.5)] = percentile(v["dist"], 0.5) if v["dist"] else 0.0
        else:
            out[k] = float(v)
    return out


# ---------------------------------------------------------------- build

def sources():
    paths = [ROOT / "build.sbt", ROOT / "project" / "build.properties", BENCH / "run.py",
             BENCH / "build.sbt", BENCH / "project" / "build.properties"]
    for d in (ROOT / "src" / "main", BENCH / "src" / "main"):
        paths += sorted(p for p in d.rglob("*") if p.is_file())
    return paths


def stamp():
    h = hashlib.sha256()
    for p in sources():
        st = p.stat()
        h.update(f"{p.relative_to(ROOT)}:{st.st_size}:{st.st_mtime_ns}\n".encode())
    return h.hexdigest()


def sbt_env():
    env = dict(os.environ)
    if "SBT_OPTS" not in env:
        opts = ["-Dsbt.offline=true"]
        repos = Path.home() / ".sbt" / "repositories"
        if repos.exists():
            opts += ["-Dsbt.override.build.repos=true", f"-Dsbt.repository.config={repos}"]
        env["SBT_OPTS"] = " ".join(opts)
    env.setdefault("COURSIER_MODE", "offline")
    return env


def classpath():
    """Build the program and the harness if their sources changed; return
    the harness's runtime classpath."""
    if not (ROOT / "build.sbt").is_file() or not (ROOT / "src" / "main" / "scala").is_dir():
        die("run from the root of a checkout of the repository (no build.sbt or src/main/scala here)")
    STATE.mkdir(exist_ok=True)
    cp_file, st = STATE / "classpath.txt", stamp()
    if cp_file.exists():
        saved = cp_file.read_text().split("\n", 1)
        if saved[0] == st:
            return saved[1].strip()
    log = STATE / "build.log"
    with open(log, "w") as f:
        rc = run_child(["sbt", "--batch", "-Dsbt.log.noformat=true", "compile",
                        "export Runtime/fullClasspathAsJars"], cwd=BENCH, out=f,
                       env=sbt_env(), budget=BUILD_BUDGET_S)[0]
    lines = log.read_text().splitlines()
    cp = [l for l in lines if not l.startswith("[") and "perfbench" in l and os.pathsep in l]
    if rc != 0 or not cp:
        sys.stderr.write("\n".join(lines[-30:]) + "\n")
        die(f"build failed (rc={rc}); see {log}", 3)
    cp = cp[-1].strip()
    archive_classes(cp)
    cp_file.write_text(st + "\n" + cp)
    return cp


def archive_classes(cp):
    """Part of the build: archive the classes a small backfill run loads
    (class-data sharing), so that every measured run, the first included,
    maps the same archive."""
    jsa = STATE / "classes.jsa"
    jsa.unlink(missing_ok=True)
    run_dir = STATE / "runs" / f"archive-{os.getpid()}"
    shutil.rmtree(run_dir, ignore_errors=True)
    (run_dir / "tmp").mkdir(parents=True)
    args = ["--workload", "medallion_backfill", "--seed", 1, "--seconds", 1, "--trace", 0,
            "--out", run_dir, "--scale", 0.02, "--setup-reps", 1]
    with open(run_dir / "jvm.log", "w") as f:
        rc = run_child(java_cmd(cp, run_dir / "tmp", args), cwd=ROOT, out=f, budget=RUN_BUDGET_S)[0]
    if rc != 0 or not jsa.exists():
        sys.stderr.write((run_dir / "jvm.log").read_text(errors="replace")[-3000:])
        die(f"class-data archive run failed (rc={rc}); see {run_dir}", 3)
    shutil.rmtree(run_dir, ignore_errors=True)


# ---------------------------------------------------------------- processes

def run_child(cmd, cwd, out, env=None, budget=RUN_BUDGET_S):
    """Run cmd in its own process group; kill the group past `budget`
    seconds. Returns (exit code, rusage)."""
    p = subprocess.Popen(cmd, cwd=cwd, stdout=out, stderr=subprocess.STDOUT,
                         stdin=subprocess.DEVNULL, env=env, start_new_session=True)
    deadline = time.monotonic() + budget
    while True:
        pid, status, ru = os.wait4(p.pid, os.WNOHANG)
        if pid:
            p.returncode = os.waitstatus_to_exitcode(status)
            return p.returncode, ru
        if time.monotonic() > deadline:
            os.killpg(p.pid, signal.SIGKILL)
            _, status, ru = os.wait4(p.pid, 0)
            return -9, ru
        time.sleep(0.05)


def java_cmd(cp, tmp, args):
    """The command line of one measuring JVM running perfbench.Main."""
    java = str(Path(os.environ["JAVA_HOME"]) / "bin" / "java") if "JAVA_HOME" in os.environ else "java"
    cmd = [java, f"-Xmx{JVM_HEAP}", f"-Djava.io.tmpdir={tmp}",
           "-Duser.timezone=UTC", "-Dspark.ui.enabled=false"]
    for m in JDK_OPENS:
        cmd += ["--add-opens", f"{m}=ALL-UNNAMED"]
    # class-data sharing: the build's archive run archives the classes it
    # loads; measured runs map the archive instead of loading them
    jsa = STATE / "classes.jsa"
    cmd.append(f"-XX:{'SharedArchiveFile' if jsa.exists() else 'ArchiveClassesAtExit'}={jsa}")
    return cmd + ["-cp", cp, "perfbench.Main"] + [str(x) for x in args]


def measure(cp, workload, seed, seconds, trace, cores=None, scale=None, rate=None, setup_reps=None):
    """One measuring JVM run; returns its raw record plus the temp dirs
    it left behind."""
    run_dir = STATE / "runs" / f"{workload}-{seed}-{trace}-{cores or 'n'}-{os.getpid()}"
    shutil.rmtree(run_dir, ignore_errors=True)
    (run_dir / "tmp").mkdir(parents=True)
    args = ["--workload", workload, "--seed", seed, "--seconds", seconds,
            "--trace", trace, "--out", run_dir]
    for k, v in (("cores", cores), ("scale", scale), ("rate", rate), ("setup-reps", setup_reps)):
        if v:
            args += [f"--{k}", v]
    cmd = java_cmd(cp, run_dir / "tmp", args)
    left = RUN_BUDGET_S - (time.monotonic() - START)
    t_start = time.monotonic()
    with open(run_dir / "jvm.log", "w") as f:
        rc, ru = run_child(cmd, cwd=ROOT, out=f, budget=max(10, left))
    raw_file = run_dir / "raw.json"
    if rc != 0 or not raw_file.exists():
        tail = (run_dir / "jvm.log").read_text(errors="replace").splitlines()[-40:]
        sys.stderr.write("\n".join(tail) + "\n")
        die(f"{workload}: measuring process failed (rc={rc}); see {run_dir}", 4)
    raw = json.loads(raw_file.read_text())
    raw.setdefault("peak_rss_mb", ru.ru_maxrss / 1024.0)
    raw["phases_s"]["jvm_total"] = time.monotonic() - t_start
    raw["leaked_tmp_dirs"] = sum(1 for p in (run_dir / "tmp").iterdir()
                                 if p.name.startswith("graft-stream"))
    if workload == "curation_batch":
        oracle_check(raw)
    shutil.rmtree(run_dir, ignore_errors=True)
    return raw


# ---------------------------------------------------------------- curation oracle

def oracle_check(raw):
    """Compare every pipeline output with the oracle SQL run in DuckDB on
    the same generated corpus. The oracle answer is computed once per
    seed and scale and kept under .bench_build/oracle/."""
    import duckdb
    import pandas as pd
    o = raw["oracle"]
    key = hashlib.sha256(Path(o["corpus"]).read_bytes()).hexdigest()[:16]
    cache = STATE / "oracle" / f"{key}.json"
    if cache.exists():
        exp = pd.read_json(cache, orient="split")
    else:
        con = duckdb.connect()
        con.execute(f"CREATE VIEW documents AS SELECT * FROM read_parquet('{o['documents']}/*.parquet')")
        exp = con.execute(o["sql"]).df()
        con.close()
        cache.parent.mkdir(exist_ok=True)
        exp.to_json(cache, orient="split", double_precision=15)
        exp = pd.read_json(cache, orient="split")

    def norm(df):
        df = df.reindex(sorted(df.columns), axis=1)
        for c in df.columns:
            if str(df[c].dtype).startswith("int"):
                df[c] = df[c].astype("int64")
        return df.sort_values(by=list(df.columns), ignore_index=True)

    exp = norm(exp)
    for i, out in enumerate(o["outputs"]):
        got = norm(pd.DataFrame(json.loads(Path(out).read_text()), columns=exp.columns))
        try:
            pd.testing.assert_frame_equal(got, exp, check_dtype=False, rtol=1e-9)
        except AssertionError as e:
            raw["failed"] += 1
            raw["failures"].append(f"curation run {i}: output differs from the oracle: {str(e)[:300]}")


# ---------------------------------------------------------------- report

def end_to_end(raw):
    lat = raw["latency_ms"]["dist"]
    return {
        "setup_s": statistics.median(raw["setup_s"]),
        "cpu_ms_per_item": 1000.0 * raw["item_cpu_s"] / raw["items"],
        "live_heap_mb": raw["live_heap_mb"],
        "throughput_per_s": raw["items"] / raw["busy_s"],
        "latency_p50_ms": percentile(lat, 0.5),
    }


def workload_report(raw):
    """The workload's end-to-end metrics under their own names. A p90 is
    given only where at least ten samples lie beyond it."""
    rep = {"setup_s": statistics.median(raw["setup_s"]), "cpu_s": raw["cpu_s"],
           "live_heap_mb": raw["live_heap_mb"], "peak_rss_mb": raw["peak_rss_mb"],
           "error_rate": raw["failed"] / max(1, raw["attempted"])}
    for k, v in raw.get("report", {}).items():
        if isinstance(v, dict) and "dist" in v:
            xs = v["dist"]
            rep[pct_name(k, 0.5)] = percentile(xs, 0.5)
            if beyond(len(xs), 0.9) >= 10:
                rep[pct_name(k, 0.9)] = percentile(xs, 0.9)
            rep[k.rpartition("_")[0] + "_samples"] = len(xs)
        else:
            rep[k] = v
    return {k: {"value": v, "unit": unit_of(k)} for k, v in rep.items()}


def declared(kind):
    """Metric name -> unit, as BENCHMARK.json at the checkout root declares
    them for `kind` (end_to_end or per_layer)."""
    f = ROOT / "BENCHMARK.json"
    if not f.is_file():
        die("no BENCHMARK.json at the checkout root")
    return {m["name"]: m["unit"] for m in json.loads(f.read_text())[kind]}


def contract_metrics(kind, values):
    """Every declared metric with its value, and the measured values
    BENCHMARK.json does not declare (layers of a workload it does not
    list). A declared per-layer metric the workload does not exercise
    reads 0."""
    names = declared(kind)
    missing = sorted(set(names) - set(values))
    if kind == "end_to_end" and missing:
        die(f"end-to-end metrics not measured: {missing}", 5)
    unlisted = {n: v for n, v in values.items() if n not in names}
    return {n: {"value": float(values.get(n, 0.0)), "unit": u} for n, u in names.items()}, unlisted


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--scale", type=float, default=None,
                    help="input size factor (tests use small inputs)")
    ap.add_argument("--rate", type=int, default=None,
                    help="arbitrage_live feed rate in events/s (to find the knee)")
    a = ap.parse_args()
    cp = classpath()
    global START
    START = time.monotonic()
    run = lambda trace, cores=None, setup_reps=None, seconds=a.seconds: measure(
        cp, a.workload, a.seed, seconds, trace, cores=cores, scale=a.scale, rate=a.rate,
        setup_reps=setup_reps)

    if not a.trace:
        main_run = run(0)
        runs = [main_run]
        metrics, unlisted = contract_metrics("end_to_end", end_to_end(main_run))
    else:
        main_run = run(1)
        e1 = end_to_end(main_run)
        # the tracing overhead: the same workload and seed, untraced
        twin = run(0)
        runs = [main_run, twin]
        e0 = end_to_end(twin)
        layers = flatten(main_run["layers"])
        for k, name in (("throughput_per_s", "throughput"), ("latency_p50_ms", "latency_p50"),
                        ("cpu_ms_per_item", "cpu")):
            layers[f"trace.overhead_{name}_pct"] = 100.0 * (e1[k] - e0[k]) / e0[k]
        layers["leak.graft_stream_dirs"] = main_run["leaked_tmp_dirs"]
        if a.workload in ("medallion_backfill", "curation_batch"):
            # the baseline's throughput only: one set-up and one measured
            # replay or pipeline run (the window ends after the first unit)
            one = run(0, cores=1, setup_reps=1, seconds=1)
            runs.append(one)
            tp1 = end_to_end(one)["throughput_per_s"]
            layers["scaling.local1_throughput_per_s"] = tp1
            layers["scaling.speedup"] = e0["throughput_per_s"] / tp1
        metrics, unlisted = contract_metrics("per_layer", layers)

    attempted = sum(r["attempted"] for r in runs)
    failed = sum(r["failed"] for r in runs)
    for r in runs:
        for msg in r["failures"]:
            print(f"perfbench: check failed: {msg}", file=sys.stderr)
    print(json.dumps({"workload": a.workload, "seed": a.seed, "traced": bool(a.trace),
                      "phases_s": {k: round(v, 2) for k, v in main_run["phases_s"].items()},
                      "report": workload_report(main_run),
                      "unlisted": {k: round(v, 6) for k, v in unlisted.items()}}))
    print(json.dumps({
        "correct": failed == 0 and attempted > 0,
        "attempted": attempted,
        "failed": failed,
        "metrics": metrics,
    }))


START = time.monotonic()

if __name__ == "__main__":
    main()
