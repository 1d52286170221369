#!/usr/bin/env python3
"""Run one graft benchmark workload and print its metrics.

Usage (from the root of a checkout):
  python3 graftbench/run.py --workload <mor_read|query_mix> --seed <n>
      --seconds <s> --trace <0|1> [--scale 0.01|0.001] [--corrupt 1]

Steps: build the harness (once per checkout, with sbt, into the checkout's
`target` dirs), generate the seeded inputs, run the JVM harness, check the
`query_mix` answers against the DuckDB oracle, and print a detail line and
then one JSON line with `correct`, `attempted`, `failed` and `metrics`
(end-to-end metrics with `--trace 0`, per-layer metrics with `--trace 1`).
Everything is written under `.bench_build/` in the checkout.
"""
import argparse
import hashlib
import json
import math
import os
import shutil
import signal
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
BUILD = os.path.join(ROOT, ".bench_build")
WORKLOADS = ("mor_read", "query_mix")
DELTAS = 8  # delta upserts in the mor_read table
JVM_TIMEOUT_S = 165
BUILD_TIMEOUT_S = 840
ADD_OPENS = ["java.lang", "java.lang.invoke", "java.lang.reflect", "java.io",
             "java.net", "java.nio", "java.util", "java.util.concurrent",
             "java.util.concurrent.atomic", "sun.nio.ch", "sun.nio.cs",
             "sun.security.action", "sun.util.calendar"]


def fail(msg):
    print(f"[graftbench] {msg}", file=sys.stderr)
    sys.exit(2)


def source_stamp():
    """Hash of every input of the build: graft's and the harness's sources
    and build definitions."""
    h = hashlib.sha256()
    paths = [os.path.join(ROOT, "build.sbt"), os.path.join(HERE, "build.sbt")]
    for top in (os.path.join(ROOT, "project"), os.path.join(HERE, "project")):
        if os.path.isdir(top):
            paths += [os.path.join(top, f) for f in sorted(os.listdir(top))
                      if os.path.isfile(os.path.join(top, f))]
    for top in (os.path.join(ROOT, "src", "main"), os.path.join(HERE, "src")):
        for d, _, files in sorted(os.walk(top)):
            paths += [os.path.join(d, f) for f in sorted(files)]
    for p in paths:
        h.update(p.encode())
        with open(p, "rb") as f:
            h.update(f.read())
    return h.hexdigest()


def output_stamp(cp):
    """File count, total size and newest mtime of every class directory on
    the classpath: a compile of other sources into the shared `target`
    dirs changes it, so the next run rebuilds instead of measuring those."""
    h = hashlib.sha256()
    for entry in cp.split(os.pathsep):
        if not os.path.isdir(entry):
            continue
        n = size = newest = 0
        for d, _, files in os.walk(entry):
            for f in files:
                st = os.stat(os.path.join(d, f))
                n, size, newest = n + 1, size + st.st_size, max(newest, st.st_mtime_ns)
        h.update(f"{entry}:{n}:{size}:{newest}".encode())
    return h.hexdigest()


def sbt_env():
    env = dict(os.environ, COURSIER_MODE="offline")
    opts = ["-Dsbt.offline=true", "-Dsbt.server.autostart=false", "-Xmx2g"]
    repos = os.path.expanduser("~/.sbt/repositories")
    if os.path.exists(repos):
        opts += ["-Dsbt.override.build.repos=true", f"-Dsbt.repository.config={repos}"]
    env["SBT_OPTS"] = " ".join(opts)
    return env


def classpath():
    """Builds graft and the harness unless the last build was of the same
    sources and its class output is untouched; returns the runtime
    classpath."""
    stamp_file = os.path.join(BUILD, "classpath.json")
    stamp = source_stamp()
    if os.path.exists(stamp_file):
        with open(stamp_file) as f:
            cached = json.load(f)
        if cached["stamp"] == stamp and cached.get("output") == output_stamp(cached["classpath"]):
            return cached["classpath"]
    print("[graftbench] building graft and the harness with sbt", file=sys.stderr)
    try:
        p = subprocess.run(
            ["sbt", "--batch", "-Dsbt.log.noformat=true",
             "export graftbench/Runtime/fullClasspath"],
            cwd=HERE, env=sbt_env(), stdin=subprocess.DEVNULL,
            capture_output=True, text=True, timeout=BUILD_TIMEOUT_S)
    except subprocess.TimeoutExpired:
        fail("sbt build timed out")
    lines = [l for l in p.stdout.splitlines() if l.strip()]
    if p.returncode != 0 or not lines or "graftbench" not in lines[-1]:
        sys.stderr.write(p.stdout[-4000:] + p.stderr[-4000:])
        fail(f"sbt build failed (exit {p.returncode})")
    os.makedirs(BUILD, exist_ok=True)
    with open(stamp_file, "w") as f:
        json.dump({"stamp": stamp, "classpath": lines[-1],
                   "output": output_stamp(lines[-1])}, f)
    return lines[-1]


def run_harness(cp, args, work, data):
    out = os.path.join(work, "result.json")
    cmd = (["java", "-Xmx3g", f"-Djava.io.tmpdir={work}/tmp"]
           + [x for p in ADD_OPENS for x in ("--add-opens", f"java.base/{p}=ALL-UNNAMED")]
           + ["-cp", cp, "graftbench.Main", "--workload", args.workload,
              "--data", data, "--work", work, "--seconds", str(args.seconds),
              "--trace", str(args.trace), "--out", out, "--corrupt", str(args.corrupt)])
    os.makedirs(os.path.join(work, "tmp"), exist_ok=True)
    log_path = os.path.join(work, "harness.log")
    with open(log_path, "w") as log:
        p = subprocess.Popen(cmd, cwd=work, stdin=subprocess.DEVNULL,
                             stdout=log, stderr=subprocess.STDOUT)
        try:
            code = p.wait(timeout=JVM_TIMEOUT_S)
        except subprocess.TimeoutExpired:
            fail("harness timed out")
        finally:  # never leave the JVM behind, whatever ends this run
            if p.poll() is None:
                p.kill()
                p.wait()
    with open(log_path) as f:
        noted = [l.rstrip() for l in f if "[graftbench]" in l]
    for l in noted[-20:]:
        print(l, file=sys.stderr)
    if code != 0 or not os.path.exists(out):
        with open(log_path) as f:
            sys.stderr.write(f.read()[-4000:])
        fail(f"harness exited with {code}")
    with open(out) as f:
        return json.load(f)


def cell_eq(a, b):
    """Value equality as scripts/check.py applies it (pandas cells)."""
    import pandas as pd
    if a is b:
        return True
    if isinstance(a, float) and isinstance(b, float):
        return (math.isnan(a) and math.isnan(b)) or a == b
    try:
        if pd.isna(a) and pd.isna(b):
            return True
    except (TypeError, ValueError):
        pass
    try:
        return bool(a == b)
    except ValueError:  # array-valued cells
        return list(a) == list(b)


def oracle_failures(work, data, corrupt):
    """Queries whose Spark answer differs from the DuckDB oracle over the
    same parquet inputs (the comparison of scripts/check.py)."""
    import duckdb
    import pandas as pd
    with open(os.path.join(work, "oracle_sql.json")) as f:
        oracle = json.load(f)
    con = duckdb.connect()
    for t in ("region", "nation", "customer", "supplier", "part", "orders",
              "lineitem", "documents", "embeddings"):
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{data}/{t}.parquet')")
    bad = []
    for name in sorted(oracle):
        try:
            got = pd.read_parquet(os.path.join(work, "qout", name))
            want = con.sql(oracle[name]).df()
            if corrupt and name == sorted(oracle)[0]:
                want = want.iloc[1:]  # deliberately wrong expectation
            got = got.reindex(sorted(got.columns), axis=1)
            want = want.reindex(sorted(want.columns), axis=1)
            ok = (list(got.columns) == list(want.columns) and len(got) == len(want)
                  and all(cell_eq(x, y) for gr, wr in zip(got.values, want.values)
                          for x, y in zip(gr, wr)))
        except Exception as e:  # a query that cannot be checked is wrong
            print(f"[graftbench] oracle check of {name} failed: {e}", file=sys.stderr)
            ok = False
        if not ok:
            print(f"[graftbench] {name} differs from the DuckDB oracle", file=sys.stderr)
            bad.append(name)
    return bad


def main():
    # turn SIGTERM into an exit, so the cleanup in `finally` blocks runs
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--scale", choices=("0.01", "0.001"), default="0.01")
    ap.add_argument("--corrupt", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()

    if not (os.path.isfile(os.path.join(ROOT, "build.sbt"))
            and os.path.isdir(os.path.join(ROOT, "src", "main", "scala", "graft"))):
        fail(f"no graft sources next to {HERE}; run from a full checkout")
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)

    cp = classpath()
    sys.path.insert(0, HERE)
    import gen

    work = os.path.join(BUILD, "runs", f"{args.workload}-s{args.seed}-t{args.trace}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    data = os.path.join(work, "data")
    try:
        gen.generate(data, args.seed, args.scale, n_deltas=DELTAS)
        res = run_harness(cp, args, work, data)
        failed = res["failed"]
        if args.workload == "query_mix":  # a wrong reference fails every run of it
            det = res["detail"]
            for q in oracle_failures(work, data, args.corrupt):
                kind = f"operators.{q}"
                failed += det["ops_per_kind"].get(kind, 0) - det["failed_per_kind"].get(kind, 0)
        res["detail"]["error_rate"] = failed / res["attempted"]
        results = os.path.join(BUILD, "results")
        os.makedirs(results, exist_ok=True)
        stem = os.path.join(results, f"{args.workload}-s{args.seed}-t{args.trace}")
        with open(stem + ".json", "w") as f:
            json.dump(res, f, indent=1)
        if args.trace:
            shutil.copy(os.path.join(work, "spans.jsonl"), stem + "-spans.jsonl")
    finally:
        shutil.rmtree(work, ignore_errors=True)

    wanted = spec["per_layer"] if args.trace else spec["end_to_end"]
    source = res["layers"] if args.trace else res["e2e"]
    metrics = {m["name"]: {"value": source[m["name"]], "unit": m["unit"]} for m in wanted}
    print(json.dumps({"workload": args.workload, "seed": args.seed, **res["detail"]}))
    print(json.dumps({"correct": failed == 0, "attempted": res["attempted"],
                      "failed": failed, "metrics": metrics}))


if __name__ == "__main__":
    main()
