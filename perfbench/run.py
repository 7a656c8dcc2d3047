#!/usr/bin/env python3
"""Benchmark of record for the ENA build and the curation query suite.

Usage (from the repository root):

    python3 perfbench/run.py --workload ena_bulk --seed 1 --seconds 20 --trace 0

Builds the engine and the harness from source (once per source tree),
runs one benchmark JVM for the workload, checks the query results
against the DuckDB mirror of each query, and prints one JSON object as
the last stdout line: ``{"correct", "attempted", "failed", "metrics"}``.
The line before it is the run record (seed, cpus, corpus sizes, chosen
regime with its probe values, box load, calibration anchors).
See perfbench/README.md for the workloads and metrics.
"""
import argparse
import hashlib
import json
import os
import shutil
import subprocess
import sys
import time

T0 = time.time()
HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
ENGINE_SRC = os.path.join(ROOT, "src", "main", "scala")
STAMP = os.path.join(HERE, "target", "bench-build.json")
WORKLOADS = ("ena_bulk", "ena_small_files")
BUILD_TIMEOUT_S = 840
RUN_TIMEOUT_S = 165
JDK17_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io",
    "java.base/java.net", "java.base/java.nio",
    "java.base/java.util", "java.base/java.util.concurrent",
    "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]


def log(msg: str) -> None:
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def source_fingerprint() -> str:
    h = hashlib.sha256()
    inputs = [os.path.join(HERE, "build.sbt"),
              os.path.join(HERE, "project", "build.properties")]
    for top in (ENGINE_SRC, os.path.join(HERE, "src")):
        for d, _, files in os.walk(top):
            inputs += [os.path.join(d, f) for f in files]
    for path in sorted(inputs):
        h.update(os.path.relpath(path, ROOT).encode())
        with open(path, "rb") as f:
            h.update(hashlib.sha256(f.read()).digest())
    return h.hexdigest()


def build() -> str:
    """Compiles engine + harness with sbt unless this source tree was
    already built; returns the runtime classpath."""
    fp = source_fingerprint()
    if os.path.exists(STAMP):
        with open(STAMP) as f:
            stamp = json.load(f)
        if stamp.get("fingerprint") == fp:
            return stamp["classpath"]
    env = dict(os.environ, COURSIER_MODE="offline")
    opts = ["-Dsbt.server.autostart=false", "-Dsbt.offline=true", "-Xmx2g",
            "-XX:-UsePerfData"]
    repos = os.path.expanduser("~/.sbt/repositories")
    if os.path.exists(repos):
        opts += ["-Dsbt.override.build.repos=true",
                 f"-Dsbt.repository.config={repos}"]
    env["SBT_OPTS"] = " ".join(opts)
    log("building engine and harness with sbt")
    proc = subprocess.run(
        ["sbt", "--batch", "-Dsbt.log.noformat=true", "compile",
         "export Runtime/fullClasspath"],
        cwd=HERE, env=env, stdout=subprocess.PIPE, stderr=subprocess.STDOUT,
        text=True, timeout=BUILD_TIMEOUT_S)
    lines = [l for l in proc.stdout.splitlines() if l.strip()]
    if proc.returncode != 0 or not lines or "[error]" in lines[-1]:
        sys.stderr.write(proc.stdout[-4000:])
        raise SystemExit("perfbench: build failed")
    classpath = lines[-1].strip()
    os.makedirs(os.path.dirname(STAMP), exist_ok=True)
    with open(STAMP, "w") as f:
        json.dump({"fingerprint": fp, "classpath": classpath}, f)
    return classpath


def box_state() -> object:
    script = os.path.join(ROOT, "scripts", "boxstate.py")
    if not os.path.exists(script):
        return None
    try:
        out = subprocess.run([sys.executable, script, "0.2"], capture_output=True,
                             text=True, timeout=30)
        return json.loads(out.stdout)
    except (subprocess.SubprocessError, ValueError):
        return None


def canon(df):
    df = df.reindex(sorted(df.columns), axis=1)
    for c in df.columns:
        if df[c].dtype == object:
            df[c] = df[c].astype(str)
    return df.sort_values(by=list(df.columns), kind="mergesort").reset_index(drop=True)


def oracle_mismatches(oracle: dict) -> list:
    """Queries whose Spark rows differ from their DuckDB mirror over the
    same generated documents table (exact compare after sorting columns
    by name and rows by value)."""
    import duckdb
    import numpy as np
    import pandas as pd
    con = duckdb.connect()
    con.execute("CREATE VIEW documents AS SELECT * FROM read_parquet("
                f"'{oracle['documents']}/*.parquet')")
    bad = []
    for name, sql in sorted(oracle["sql"].items()):
        try:
            got = canon(pd.read_parquet(os.path.join(oracle["results"], name)))
            exp = canon(con.execute(sql).df())
        except Exception as e:  # noqa: BLE001 - any failure is a mismatch
            bad.append(f"{name}: {type(e).__name__}: {e}")
            continue
        if list(got.columns) != list(exp.columns) or len(got) != len(exp):
            bad.append(f"{name}: shape {list(got.columns)}x{len(got)} "
                       f"vs {list(exp.columns)}x{len(exp)}")
            continue
        for c in got.columns:
            ga, xa = got[c].values, exp[c].values
            with np.errstate(invalid="ignore"):
                eq = np.asarray(ga == xa)
            if eq.ndim == 0:
                eq = np.full(len(got), bool(eq))
            try:
                eq = eq | (pd.isna(ga) & pd.isna(xa))
            except TypeError:
                pass
            if not bool(np.all(eq)):
                bad.append(f"{name}: column {c} differs")
                break
    return bad


def expected_metrics(trace: bool):
    path = os.path.join(ROOT, "BENCHMARK.json")
    if not os.path.exists(path):
        return None
    with open(path) as f:
        spec = json.load(f)
    return [m["name"] for m in spec["per_layer" if trace else "end_to_end"]]


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--scale", type=float, default=1.0,
                    help="input size factor; below 1 only for the self-test")
    args = ap.parse_args()
    if not os.path.isdir(os.path.join(ENGINE_SRC, "graft")):
        log(f"engine sources not found under {ENGINE_SRC}")
        return 2

    classpath = build()
    log(f"build ready at {time.time() - T0:.1f} s")
    work = os.path.join(HERE, ".work", args.workload)
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(os.path.join(work, "tmp"))
    box = box_state()
    cmd = (["java", "-Xmx3g", "-XX:-UsePerfData", f"-Djava.io.tmpdir={work}/tmp",
            "-Dspark.ui.enabled=false"]
           + [x for p in JDK17_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")]
           + ["-cp", classpath, "perfbench.BenchMain",
              "--workload", args.workload, "--seed", str(args.seed),
              "--seconds", str(args.seconds), "--trace", str(args.trace),
              "--work", work, "--scale", str(args.scale)])
    proc = subprocess.Popen(cmd, cwd=work, stdout=subprocess.PIPE, text=True)
    try:
        out, _ = proc.communicate(timeout=RUN_TIMEOUT_S)
    except subprocess.TimeoutExpired:
        proc.kill()
        proc.wait()
        log(f"benchmark JVM exceeded {RUN_TIMEOUT_S} s")
        return 3
    lines = [l for l in out.splitlines() if l.startswith("{")]
    if proc.returncode != 0 or not lines:
        log(f"benchmark JVM failed with exit code {proc.returncode}")
        return 4
    res = json.loads(lines[-1])
    log(f"benchmark JVM done at {time.time() - T0:.1f} s")

    bad = oracle_mismatches(res["oracle"])
    log(f"oracle compare done at {time.time() - T0:.1f} s")
    runs = int(res["runs_per_query"])
    failed = int(res["failed"]) + runs * len(bad)
    attempted = int(res["attempted"])
    record = res["record"]
    record["box_state"] = box
    record["failed_frac"] = failed / attempted
    record["oracle_mismatches"] = bad
    with open(os.path.join(HERE, ".work", f"record-{args.workload}-{args.trace}.json"), "w") as f:
        json.dump(record, f, indent=1)
    for sub in ("ena", "docs", "out", "out_other_regime", "results", "spark-local",
                "tmp", "warehouse"):
        shutil.rmtree(os.path.join(work, sub), ignore_errors=True)

    metrics = res["metrics"]
    names = expected_metrics(bool(args.trace))
    if names is not None and sorted(names) != sorted(metrics):
        log(f"metric set mismatch: missing {sorted(set(names) - set(metrics))}, "
            f"extra {sorted(set(metrics) - set(names))}")
        return 5
    for p in record.get("problems", []) + bad:
        log(f"check failed: {p}")
    print(json.dumps({"record": record}))
    print(json.dumps({"correct": failed == 0, "attempted": attempted,
                      "failed": failed, "metrics": metrics}))
    return 0


if __name__ == "__main__":
    sys.exit(main())
