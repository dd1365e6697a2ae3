#!/usr/bin/env python3
"""Benchmark entry point. Run from the repository root.

  python3 perfbench/run.py --workload NAME --seed N --seconds S --trace 0|1
  python3 perfbench/run.py --diff BASE.jsonl NEW.jsonl

A run builds the benchmark (perfbench/build.py) if needed, runs the named
workload in one JVM at local[nproc] (perfbench/src/perfbench/Main.scala),
checks every op's output against its DuckDB twin, and prints each metric
with its unit, then one JSON result object as the last line. --trace 0
reports the end-to-end metrics of BENCHMARK.json, --trace 1 its per-layer
metrics (and writes the trace spans as JSON lines). Every result record is
also appended to .bench_build/records.jsonl; --diff compares two such files
workload by workload against the bounds in BENCHMARK.json."""
import argparse
import glob
import json
import os
import shutil
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)
import build  # noqa: E402

JVM_TIMEOUT_S = 170
RECORDS = os.path.join(build.BUILD, "records.jsonl")
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar"]


def load_spec():
    with open("BENCHMARK.json") as fh:
        return json.load(fh)


def run_jvm(classes, args, work):
    cp = os.pathsep.join([os.path.abspath(classes), build.spark_jars()])
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    cmd = ["java", "-Xms3g", "-Xmx3g", "-Xss8m", f"-Djava.io.tmpdir={tmp}",
           "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC"]
    for m in ADD_OPENS:
        cmd += ["--add-opens", f"{m}=ALL-UNNAMED"]
    cmd += ["-cp", cp, "perfbench.Main", "--workload", args.workload, "--seed", str(args.seed),
            "--seconds", str(args.seconds), "--trace", str(args.trace), "--out", work]
    log_path = os.path.join(work, "jvm.log")
    with open(log_path, "w") as log:
        proc = subprocess.Popen(cmd, stdout=log, stderr=subprocess.STDOUT)
        try:
            code = proc.wait(timeout=JVM_TIMEOUT_S)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
            sys.exit(f"benchmark JVM timed out after {JVM_TIMEOUT_S}s; log: {log_path}")
    result = os.path.join(work, "result.json")
    if code != 0 or not os.path.exists(result):
        with open(log_path) as fh:
            sys.stderr.write("".join(fh.readlines()[-40:]))
        sys.exit(f"benchmark JVM failed with exit code {code}; log: {log_path}")
    with open(result) as fh:
        return json.load(fh)


def check_outputs(checks):
    """Runs each op's DuckDB twin and compares it with the op's output the
    way tools/check_oracle.py does: columns by name, rows sorted, values
    compared after casting the twin's column to the Spark dtype."""
    import duckdb
    failures = []
    for c in checks:
        con = duckdb.connect()
        con.execute("SET threads=4")
        con.execute("SET memory_limit='2GB'")
        try:
            for name, sql in c["views"]:
                con.execute(f"CREATE OR REPLACE VIEW {name} AS {sql}")
            sd = con.execute(f"SELECT * FROM read_parquet('{c['out']}/*.parquet')").df()
            dd = con.execute(c["sql"]).df()
        except Exception as e:  # a twin that cannot run is a failed check
            failures.append(f"{c['op']}: twin error: {e}")
            continue
        finally:
            con.close()
        sd = sd.reindex(sorted(sd.columns), axis=1)
        dd = dd.reindex(sorted(dd.columns), axis=1)
        if list(sd.columns) != list(dd.columns):
            failures.append(f"{c['op']}: columns spark={list(sd.columns)} twin={list(dd.columns)}")
            continue
        if len(sd) != len(dd):
            failures.append(f"{c['op']}: rows spark={len(sd)} twin={len(dd)}")
            continue
        sd = sd.sort_values(list(sd.columns)).reset_index(drop=True)
        dd = dd.sort_values(list(dd.columns)).reset_index(drop=True)
        for col in sd.columns:
            a = sd[col]
            try:
                b = dd[col].astype(a.dtype)
            except (TypeError, ValueError):
                b = dd[col]
            if not (a.equals(b) or a.astype(str).equals(b.astype(str))):
                neq = a.astype(str) != b.astype(str)
                failures.append(f"{c['op']}.{col}: {int(neq.sum())} values differ; first "
                                f"spark={a[neq].iloc[0]!r} twin={b[neq].iloc[0]!r}")
                break
    return failures


def run(args):
    spec = load_spec()
    classes = build.build()
    runs = os.path.join(build.BUILD, "runs")
    shutil.rmtree(runs, ignore_errors=True)  # one run's scratch at a time
    work = os.path.abspath(os.path.join(runs, f"{args.workload}-{args.seed}-{args.trace}"))
    os.makedirs(work)
    t0 = time.monotonic()
    res = run_jvm(classes, args, work)
    t1 = time.monotonic()
    check_failures = check_outputs(res["checks"])
    t2 = time.monotonic()
    m = res["metrics"]
    attempted = res["attempted"] + len(res["checks"])
    failed = res["failed"] + len(check_failures)
    if "ops_failed_ratio" in m:  # twin mismatches count as failed ops too
        m["ops_failed_ratio"]["value"] = failed / attempted
    wanted = spec["per_layer"] if args.trace else spec["end_to_end"]
    missing = [w["name"] for w in wanted if m.get(w["name"], {}).get("value") is None]

    print(f"workload {args.workload}  seed {args.seed}  trace {args.trace}")
    for k, v in m.items():
        val = v["value"]
        shown = "n/a" if val is None else f"{val:.6g}"
        print(f"  {k:<44} {shown:>14} {v['unit']}")
    if not args.trace:
        print(f"  iter_s.tail is p{m['iter_s.tail_pct']['value']:.1f} with "
              f"{int(m['iter_s.tail_beyond']['value'])} of "
              f"{int(m['iter_s.samples']['value'])} samples beyond it")
    else:
        spans = os.path.join(work, "spans.jsonl")
        kept = os.path.join(build.BUILD, f"spans-{args.workload}-{args.seed}.jsonl")
        if os.path.exists(spans):
            shutil.copyfile(spans, kept)
            with open(kept) as fh:
                print(f"  spans: {sum(1 for _ in fh)} JSON lines in {kept}")
    print(f"  output checks: {len(res['checks'])} ops against their DuckDB twins, "
          f"{len(check_failures)} mismatches")
    print(f"  wall: JVM {t1 - t0:.1f} s, DuckDB twins {t2 - t1:.1f} s")
    for f in res["failures"] + check_failures:
        print(f"  FAILED {f}")
    for name in missing:
        print(f"  MISSING metric {name}")

    # every op of every workload that ran must have been checked against its
    # twin, and no op may have failed anywhere in the run
    unchecked = sorted(set(res["ops"]) - {c["op"] for c in res["checks"]})
    for name in unchecked:
        print(f"  UNCHECKED op {name}")
    correct = failed == 0 and not unchecked and not missing
    out = {"correct": correct, "attempted": attempted, "failed": failed,
           "metrics": {w["name"]: {"value": m[w["name"]]["value"], "unit": w["unit"]}
                       for w in wanted if w["name"] not in missing}}
    with open(RECORDS, "a") as fh:
        fh.write(json.dumps(dict(out, workload=args.workload, seed=args.seed,
                                 trace=args.trace)) + "\n")
    shutil.rmtree(work, ignore_errors=True)
    print(json.dumps(out))
    if not correct:
        sys.exit(1)


def spread(values):
    """Interquartile range as a share of the median."""
    if len(values) < 2:
        return 0.0
    q1, med, q3 = statistics.quantiles(values, n=4)
    return (q3 - q1) / med if med else float("inf")


def diff(base_path, new_path):
    spec = load_spec()
    metrics = {m["name"]: m for m in spec["end_to_end"] + spec["per_layer"]}

    def load(p):
        by = {}
        with open(p) as fh:
            for line in fh:
                if line.strip():
                    r = json.loads(line)
                    for k, v in r["metrics"].items():
                        by.setdefault(r["workload"], {}).setdefault(k, []).append(v["value"])
        return by

    base, new = load(base_path), load(new_path)
    worse = 0
    for wl in sorted(set(base) & set(new)):
        print(f"workload {wl}")
        for name in sorted(set(base[wl]) & set(new[wl])):
            a, b = base[wl][name], new[wl][name]
            ma, mb = statistics.median(a), statistics.median(b)
            meta = metrics.get(name, {})
            bound = meta.get("bound")
            delta = (mb - ma) / ma if ma else float("nan")
            sp = max(spread(a), spread(b))
            if bound is None:
                verdict = ""
            elif sp > bound:
                verdict = "unresolved (spread above bound)"
            else:
                bad = delta > bound if meta.get("better") == "lower" else -delta > bound
                verdict = "WORSE beyond bound" if bad else "within bound"
                worse += bad
            bnd = "" if bound is None else f" bound {bound:.0%}"
            print(f"  {name:<44} {ma:>12.6g} -> {mb:<12.6g} {delta:+8.2%}  "
                  f"spread {sp:.1%}{bnd}  {verdict}")
    return 1 if worse else 0


def main():
    p = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    p.add_argument("--workload")
    p.add_argument("--seed", type=int, default=1)
    p.add_argument("--seconds", type=float, default=10)
    p.add_argument("--trace", type=int, choices=[0, 1], default=0)
    p.add_argument("--diff", nargs=2, metavar=("BASE", "NEW"))
    args = p.parse_args()
    if args.diff:
        sys.exit(diff(*args.diff))
    if not args.workload:
        p.error("--workload is required")
    for d in build.SOURCE_DIRS:
        if not glob.glob(os.path.join(d, "**", "*.scala"), recursive=True):
            sys.exit(f"no sources under {d}: run from the repository root")
    run(args)


if __name__ == "__main__":
    main()
