#!/usr/bin/env python3
"""Benchmark of the graft engine: one closed-loop workload per run.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Builds the engine and the harness from source on first use (sbt, offline;
outputs under perfbench/target), generates the workload's inputs from the
seed, runs one JVM with a fresh local[nproc] Spark session, checks every
op's output, prints every metric with its unit, and ends with one JSON line:
{"correct", "attempted", "failed", "metrics"}. Untraced (--trace 0) the
metrics are the end-to-end ones; traced (--trace 1), the per-layer ones.
The full report, with tails, sample counts, the environment and (traced)
per-op counts, is written to perfbench/out/.

    python3 perfbench/run.py --check-counts --workload lake_dml --seed 1

makes two traced runs and checks that per-op job and filesystem-op counts
repeat exactly. See perfbench/METRICS.md for what each metric means.
"""
import argparse
import hashlib
import json
import os
import shutil
import signal
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
TARGET = os.path.join(HERE, "target")
OUT = os.path.join(HERE, "out")
WORK = os.path.join(HERE, ".work")

WORKLOADS = ["bar_pipeline", "lake_dml", "catalog_read"]

END_TO_END = ["setup_s", "ops_per_min", "op_p50_s", "peak_heap_mb"]

# Metrics of the untraced run that apply to some workloads only; they are
# printed and kept in the report, and the traced run reports them too.
SPLIT = ["pipeline_p50_s", "write_p50_s", "write_tail_s", "read_p50_s",
         "read_tail_s", "write_amp", "space_amp", "fail_ratio"]

MODULES = ["sources", "streaming", "operators", "indicators", "functions",
           "ml", "queries"]
PER_LAYER = (
    [f"{m}.{k}" for m in MODULES
     for k in ["jobs", "job_s", "task_s", "input_mb", "shuffle_mb"]]
    + ["ml.fit_s", "ml.eval_s", "operators.label_s", "operators.features_s",
       "sources.append_s", "sources.merge_mor_s", "sources.delete_mor_s",
       "sources.update_mor_s", "sources.merge_clauses_s",
       "sources.compact_s", "sources.read_mor_s",
       "streaming.upsert_batch_s", "queries.query_s",
       "sources.jobs_per_write", "sources.fs_read_ops",
       "sources.fs_write_ops", "sources.fs_list_ops",
       "sources.fs_bytes_written", "sources.occ_attempts",
       "sources.live_files", "sources.dv_files",
       "streaming.add_batch_s", "streaming.wal_commit_s",
       "streaming.query_planning_s", "streaming.jobs_per_batch",
       "driver.gap_s", "spark.planning_s", "spark.exchanges", "spark.jobs",
       "spark.stages", "spark.tasks", "spark.spill_mb", "spark.gc_s",
       "spark.core_busy", "spark.attributed_share"]
    + SPLIT)

UNITS = {"jobs": "count", "exchanges": "count", "stages": "count",
         "tasks": "count", "input_mb": "MB", "shuffle_mb": "MB",
         "spill_mb": "MB", "fs_bytes_written": "bytes",
         "core_busy": "ratio", "attributed_share": "ratio",
         "write_amp": "ratio", "space_amp": "ratio", "fail_ratio": "ratio"}

JVM_TIMEOUT_S = 170
BUILD_TIMEOUT_S = 800


def unit_of(name):
    leaf = name.split(".")[-1]
    if leaf in UNITS:
        return UNITS[leaf]
    if leaf.endswith("_s"):
        return "s"
    return "count"


def log(msg):
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def sources_fingerprint():
    h = hashlib.sha256()
    roots = [os.path.join(ROOT, "src", "main"), os.path.join(HERE, "src"),
             os.path.join(HERE, "build.sbt"),
             os.path.join(HERE, "project", "build.properties")]
    for r in roots:
        paths = [r] if os.path.isfile(r) else sorted(
            os.path.join(d, f) for d, _, fs in os.walk(r) for f in fs)
        for p in paths:
            h.update(os.path.relpath(p, ROOT).encode())
            with open(p, "rb") as f:
                h.update(f.read())
    return h.hexdigest()[:16]


def build():
    """Compile once per source state; returns the runtime classpath."""
    stamp = os.path.join(TARGET, "perfbench-build.json")
    fp = sources_fingerprint()
    if os.path.exists(stamp):
        with open(stamp) as f:
            s = json.load(f)
        if s.get("fingerprint") == fp:
            return s["classpath"], fp
    log("building engine and harness (sbt, offline)")
    env = dict(os.environ, COURSIER_MODE="offline")
    if "SPARK_HOME" not in env and shutil.which("spark-submit"):
        env["SPARK_HOME"] = os.path.dirname(os.path.dirname(
            os.path.realpath(shutil.which("spark-submit"))))
    opts = env.get("SBT_OPTS", "")
    repos = os.path.expanduser("~/.sbt/repositories")
    if not opts and os.path.exists(repos):
        opts = ("-Dsbt.override.build.repos=true "
                f"-Dsbt.repository.config={repos}")
    if "sbt.offline" not in opts:
        opts += " -Dsbt.offline=true"
    env["SBT_OPTS"] = opts.strip()
    t0 = time.time()
    p = subprocess.run(
        ["sbt", "-batch", "-Dsbt.log.noformat=true", "compile",
         "export Runtime/fullClasspath"],
        cwd=HERE, env=env, stdout=subprocess.PIPE, stderr=subprocess.STDOUT,
        text=True, timeout=BUILD_TIMEOUT_S)
    lines = [ln for ln in p.stdout.splitlines() if ln.strip()]
    if p.returncode != 0 or not lines:
        sys.stderr.write(p.stdout[-4000:])
        raise SystemExit("perfbench: build failed")
    cp = lines[-1].strip()
    os.makedirs(TARGET, exist_ok=True)
    with open(stamp, "w") as f:
        json.dump({"fingerprint": fp, "classpath": cp}, f)
    log(f"built in {time.time() - t0:.0f} s")
    return cp, fp


def heap():
    try:
        with open("/proc/meminfo") as f:
            kb = int(next(ln for ln in f if ln.startswith("MemTotal")).split()[1])
        return f"{max(2, min(4, kb // (4 * 1048576)))}g"
    except (OSError, StopIteration, ValueError):
        return "3g"


def java_bin():
    jh = os.environ.get("JAVA_HOME")
    return os.path.join(jh, "bin", "java") if jh else "java"


OPENS = ["java.base/java.lang", "java.base/java.lang.invoke",
         "java.base/java.lang.reflect", "java.base/java.io",
         "java.base/java.net", "java.base/java.nio", "java.base/java.util",
         "java.base/java.util.concurrent",
         "java.base/java.util.concurrent.atomic", "java.base/sun.nio.ch",
         "java.base/sun.nio.cs", "java.base/sun.security.action",
         "java.base/sun.util.calendar"]


def run_jvm(cp, workload, seed, seconds, trace):
    work = os.path.join(WORK, f"{workload}-{os.getpid()}-{trace}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(os.path.join(work, "tmp"))
    out = os.path.join(work, "report.json")
    cmd = [java_bin(), f"-Xmx{heap()}", "-XX:+UseG1GC",
           f"-Djava.io.tmpdir={work}/tmp", "-Dspark.ui.enabled=false"]
    for o in OPENS:
        cmd += ["--add-opens", f"{o}=ALL-UNNAMED"]
    cmd += ["-cp", cp, "perfbench.Main", "--workload", workload,
            "--seed", str(seed), "--seconds", str(seconds),
            "--trace", str(trace), "--work", work, "--out", out,
            "--python", sys.executable,
            "--gen", os.path.join(HERE, "gen.py")]
    log(f"running {workload} seed={seed} trace={trace}")
    cpu0 = cpu_ticks()
    with open(os.path.join(work, "jvm.log"), "w") as logf:
        p = subprocess.Popen(cmd, stdout=logf, stderr=subprocess.STDOUT,
                             start_new_session=True)
        try:
            p.wait(timeout=JVM_TIMEOUT_S)
        except subprocess.TimeoutExpired:
            log(f"no result within {JVM_TIMEOUT_S} s; stopping the JVM")
        finally:
            if p.poll() is None:
                os.killpg(p.pid, signal.SIGKILL)
                p.wait()
    report = None
    if os.path.exists(out):
        with open(out) as f:
            report = json.load(f)
        cpu1 = cpu_ticks()
        if cpu0 and cpu1:
            # the share of the host's CPU time taken from this machine by
            # other tenants while the run ran: high values explain slow runs
            report["detail"]["host_steal_share"] = (
                (cpu1[1] - cpu0[1]) / max(1, cpu1[0] - cpu0[0]))
    if report is None or p.returncode != 0:
        with open(os.path.join(work, "jvm.log")) as f:
            lines = f.read().splitlines()
        errs = [ln for ln in lines if "Exception" in ln and not ln.startswith("\t")]
        sys.stderr.write("\n".join(errs[:5] + lines[-40:]) + "\n")
    return report, work, p.returncode


def oracle_check(report):
    """DuckDB twin of every catalog query: the warm-up's result must
    equal the query's oracle SQL on the same tables (columns sorted by
    name, rows sorted, values compared exactly)."""
    import warnings

    import duckdb
    import numpy as np
    import pandas as pd

    warnings.simplefilter("ignore", FutureWarning)

    d = report["detail"]
    sf, res = d["sf_dir"], d["oracle_dir"]
    with open(os.path.join(res, "oracle_sql.json")) as f:
        oracle = json.load(f)
    con = duckdb.connect()
    con.execute("SET threads TO 2")
    for t in ["region", "nation", "customer", "supplier", "part", "orders",
              "lineitem", "events", "documents", "embeddings"]:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{sf}/{t}.parquet/*.parquet'")

    def canon(df):
        df = df[sorted(df.columns)].copy()
        for c in df.columns:
            if pd.api.types.is_datetime64_any_dtype(df[c]):
                try:
                    df[c] = df[c].dt.tz_localize(None)
                except TypeError:
                    pass
                df[c] = df[c].astype("datetime64[ns]")
            elif df[c].dtype == object and df[c].notna().any() and isinstance(
                    df[c].dropna().iloc[0], (bytes, bytearray)):
                df[c] = df[c].apply(lambda b: b.hex() if b is not None else None)
        return df.sort_values(by=list(df.columns), ignore_index=True)

    bad = {}
    for name, sql in sorted(oracle.items()):
        try:
            g = canon(pd.read_parquet(os.path.join(res, name)))
            w = canon(con.execute(sql).fetchdf())
            if list(g.columns) != list(w.columns):
                bad[name] = f"columns {list(g.columns)} != {list(w.columns)}"
                continue
            if len(g) != len(w):
                bad[name] = f"rows {len(g)} != {len(w)}"
                continue
            for c in g.columns:
                a, b = g[c].to_numpy(), w[c].to_numpy()
                if np.issubdtype(a.dtype, np.floating) or np.issubdtype(
                        b.dtype, np.floating):
                    af, bf = a.astype(float), b.astype(float)
                    eq = (af == bf) | (np.isnan(af) & np.isnan(bf))
                else:
                    eq = (pd.Series(a).astype(object).fillna("\0NULL")
                          == pd.Series(b).astype(object).fillna("\0NULL")).to_numpy()
                if not eq.all():
                    bad[name] = f"column {c}: {int((~eq).sum())} values differ"
                    break
        except Exception as e:  # noqa: BLE001 - any failure fails the query
            bad[name] = f"{type(e).__name__}: {e}"
    return len(oracle), bad


def cpu_ticks():
    """(total, steal) CPU ticks from /proc/stat, or None off Linux."""
    try:
        with open("/proc/stat") as f:
            v = [int(x) for x in f.readline().split()[1:]]
        return sum(v), v[7]
    except (OSError, ValueError, IndexError):
        return None


def host_calibration():
    """Seconds for a fixed pure-Python loop: a record of the host's speed
    at the time of the run, to tell a slow host from a slow change."""
    t0 = time.perf_counter()
    s = 0
    for i in range(2_000_000):
        s += i
    return time.perf_counter() - t0


def git_commit():
    try:
        return subprocess.run(["git", "rev-parse", "HEAD"], cwd=ROOT,
                              capture_output=True, text=True,
                              timeout=10).stdout.strip() or None
    except (OSError, subprocess.SubprocessError):
        return None


def one_run(args, cp, fp):
    report, work, rc = run_jvm(cp, args.workload, args.seed, args.seconds,
                               args.trace)
    if report is None:
        shutil.rmtree(work, ignore_errors=True)
        raise SystemExit(f"perfbench: the run produced no report (exit {rc})")
    attempted = int(report["attempted"])
    failed = int(report["failed"])
    correct = report["correct"] and rc == 0
    d = report["detail"]
    if args.workload == "catalog_read":
        checked, bad = oracle_check(report)
        for name, why in sorted(bad.items()):
            log(f"oracle mismatch {name}: {why}")
        ops = [q for q in d.get("ops", "").split(",") if q][:attempted]
        failed = min(attempted, failed + sum(1 for q in ops if q in bad))
        d["oracle_checked"] = checked
        d["oracle_failed"] = sorted(bad)
        correct = correct and not bad
        report["metrics"]["fail_ratio"] = {
            "value": failed / max(attempted, 1), "unit": "ratio"}
    d.update({"git_commit": git_commit(), "source_fingerprint": fp,
              "python": sys.version.split()[0],
              "host_calibration_s": host_calibration()})
    report["failed"], report["correct"] = failed, bool(correct and failed == 0)
    shutil.rmtree(work, ignore_errors=True)
    return report


def print_table(report):
    d = report["detail"]
    print(f"workload {d['workload']}  seed {d['seed']}  traced {d['traced']}  "
          f"{d['master']}  heap {d['heap_mb']} MB  spark {d['spark_version']}  "
          f"commit {d.get('git_commit')}")
    for name, m in report["metrics"].items():
        extra = ""
        prefix = name[:-len("_tail_s")] if name.endswith("_tail_s") else None
        if prefix and f"{prefix}_tail_pct" in d:
            extra = f"  (p{d[prefix + '_tail_pct']} of {d[prefix + '_n']})"
        print(f"  {name:32s} {m['value']:14.6g} {m['unit']}{extra}")
    print(f"  attempted {report['attempted']}  failed {report['failed']}  "
          f"correct {report['correct']}")


def contract_metrics(report, trace):
    m = report["metrics"]
    names = PER_LAYER if trace else END_TO_END
    return {n: {"value": m[n]["value"] if n in m else 0.0,
                "unit": m[n]["unit"] if n in m else unit_of(n)}
            for n in names}


def save_report(report, args):
    os.makedirs(OUT, exist_ok=True)
    path = os.path.join(OUT, f"{args.workload}-s{args.seed}-t{args.trace}.json")
    other = os.path.join(OUT, f"{args.workload}-s{args.seed}-t{1 - args.trace}.json")
    if os.path.exists(other):
        with open(other) as f:
            o = json.load(f)
        traced, plain = (report, o) if args.trace else (o, report)
        over = {n: traced["metrics"][n]["value"] - plain["metrics"][n]["value"]
                for n in list(END_TO_END) + SPLIT
                if n in traced["metrics"] and n in plain["metrics"]}
        report["detail"]["tracing_overhead"] = over
        print("tracing overhead (traced - untraced, same seed):")
        for n, v in over.items():
            print(f"  {n:32s} {v:+14.6g} {unit_of(n) if n not in END_TO_END else plain['metrics'][n]['unit']}")
    with open(path, "w") as f:
        json.dump(report, f, indent=1)


def check_counts(args, cp, fp):
    """Two traced runs: per-op job counts per module and filesystem-op
    counts must repeat exactly."""
    args.trace = 1
    runs = [one_run(args, cp, fp) for _ in range(2)]
    os.makedirs(OUT, exist_ok=True)
    for k, r in enumerate(runs):
        with open(os.path.join(OUT, f"{args.workload}-s{args.seed}-counts{k}.json"), "w") as f:
            json.dump(r, f, indent=1)
    a, b = (r["per_op"] for r in runs)
    n = min(len(a), len(b))
    diff = {}
    for x, y in zip(a[:n], b[:n]):
        for k in ["jobs", "fs_read_ops", "fs_write_ops", "fs_list_ops"]:
            if x[k] != y[k]:
                diff.setdefault(k, []).append((x["op"], x[k], y[k]))
    print(f"{args.workload}: compared {n} ops of two traced runs, seed {args.seed}")
    for k, v in diff.items():
        print(f"  nondeterministic {k}: {len(v)} ops differ, e.g. op {v[0][0]}: "
              f"{v[0][1]} vs {v[0][2]}")
    ok = not diff and n > 0
    print(json.dumps({"counts_repeat": ok, "ops_compared": n,
                      "nondeterministic": sorted(diff)}))
    return 0 if ok else 1


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=10)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    ap.add_argument("--check-counts", action="store_true")
    args = ap.parse_args()
    # a terminated run still stops its JVM (the finally in run_jvm)
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    if not os.path.isdir(os.path.join(ROOT, "src", "main", "scala", "graft")):
        print("perfbench: no engine sources next to perfbench/ "
              "(expected src/main/scala/graft)", file=sys.stderr)
        return 2
    cp, fp = build()
    if args.check_counts:
        return check_counts(args, cp, fp)
    report = one_run(args, cp, fp)
    print_table(report)
    save_report(report, args)
    print(json.dumps({"correct": report["correct"],
                      "attempted": int(report["attempted"]),
                      "failed": int(report["failed"]),
                      "metrics": contract_metrics(report, args.trace)}))
    return 0 if report["correct"] else 1


if __name__ == "__main__":
    sys.exit(main())
