#!/usr/bin/env python3
"""The repo's benchmark: one workload per invocation, one JSON result line.

    python3 perfbench/run.py --workload ingest-cron --seed 1 --seconds 10 --trace 0
    python3 perfbench/run.py --diff BASE NEW

Run from the repository root. The first run builds the program and the
benchmark's JVM side (`perfbench/build.sbt`, offline sbt) into
`perfbench/target`; later runs start the JVM directly. Each run gets a
fresh work directory under `perfbench/.work/` (its own Spark warehouse,
so no memoized artifact survives from an earlier run), generates its
inputs from the seed, runs `perfbench.Main` for `--seconds` of timed
passes, checks the outputs, saves the full record to
`perfbench/.work/records/` and prints one JSON line last. With
`--trace 1` the line carries the per-layer metrics instead of the
end-to-end ones. `--diff` compares two sets of records; see README.md.
"""
import argparse
import datetime
import glob
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
WORK = os.path.join(HERE, ".work")
RECORDS = os.path.join(WORK, "records")
TIME_LIMIT_S = 170

ITERATIVE = ["s32_graph_beam_recall", "d16_simhash_clusters"]
RELATIONAL = ["q01_pricing_summary", "q08_multiway_join", "q13_window_rows_frame",
              "q36_percentiles"]

# per workload: arguments for perfbench.Main and the fixture scale factor
WORKLOADS = {
    "ingest-cron": {"runs": 6},
    "ingest-backfill": {"runs": 3, "locations": 32},
    "registry-iterative": {"sf": 0.01, "queries": ITERATIVE},
    "registry-relational": {"sf": 0.05, "queries": RELATIONAL},
}

# units of the metrics printed and recorded but not in the JSON line
EXTRA_UNITS = {"op_s.p90": "s", "rows_per_s": "rows/s", "peak_rss_mb": "MB",
               "error_rate": "ratio", "ops": "count"}

JDK17_OPENS = ["java.lang", "java.lang.invoke", "java.lang.reflect", "java.io",
               "java.net", "java.nio", "java.util", "java.util.concurrent",
               "java.util.concurrent.atomic", "sun.nio.ch", "sun.nio.cs",
               "sun.security.action", "sun.util.calendar"]


def log(msg):
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def spec():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return json.load(f)


# ---------------------------------------------------------------- build

def source_fingerprint():
    h = hashlib.sha256()
    files = [os.path.join(HERE, "build.sbt"),
             os.path.join(HERE, "project", "build.properties")]
    for base in (os.path.join(ROOT, "src", "main"), os.path.join(HERE, "src")):
        for d, _, names in sorted(os.walk(base)):
            files += [os.path.join(d, n) for n in sorted(names)]
    for p in files:
        st = os.stat(p)
        h.update(f"{os.path.relpath(p, ROOT)}:{st.st_size}:{st.st_mtime_ns}\n".encode())
    return h.hexdigest()


def build():
    """Compile once per source state; return the runtime classpath."""
    stamp_dir = os.path.join(WORK, "build")
    stamp, cp_file = os.path.join(stamp_dir, "stamp"), os.path.join(stamp_dir, "classpath")
    fp = source_fingerprint()
    if os.path.exists(stamp) and open(stamp).read() == fp and os.path.exists(cp_file):
        return open(cp_file).read()
    log("building (sbt compile) ...")
    t = time.time()
    p = subprocess.run(["sbt", "--batch", "-Dsbt.log.noformat=true", "compile",
                        "export Runtime/fullClasspath"],
                       cwd=HERE, stdin=subprocess.DEVNULL, capture_output=True,
                       text=True, timeout=840)
    if p.returncode != 0:
        sys.stderr.write(p.stdout[-4000:] + p.stderr[-4000:])
        sys.exit("perfbench: build failed")
    cps = [l for l in p.stdout.splitlines()
           if os.pathsep in l and "classes" in l and not l.startswith("[")]
    if not cps:
        sys.exit("perfbench: build printed no classpath")
    os.makedirs(stamp_dir, exist_ok=True)
    with open(cp_file, "w") as f:
        f.write(cps[-1].strip())
    with open(stamp, "w") as f:
        f.write(fp)
    log(f"built in {time.time() - t:.0f} s")
    return cps[-1].strip()


# ---------------------------------------------------------------- checks

def _norm(v):
    """Canonical cell text, as the repo's oracle check (tools/check.py)."""
    if v is None:
        return "NULL"
    if isinstance(v, datetime.datetime):
        return v.isoformat(sep=" ")
    if isinstance(v, datetime.date):
        return v.isoformat() + " 00:00:00"
    if isinstance(v, float):
        return "NaN" if math.isnan(v) else repr(v)
    if isinstance(v, bool):
        return str(v).lower()
    if isinstance(v, (list, tuple)):
        return "[" + ",".join(_norm(x) for x in v) + "]"
    if isinstance(v, bytes):
        return v.hex()
    return str(v)


def _canon(cols, rows):
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    lines = sorted("|".join(_norm(r[i]) for i in order) for r in rows)
    return hashlib.md5("\n".join(lines).encode()).hexdigest()


def oracle_check(data_dir, out_dir, queries):
    """Each query's dumped result against its DuckDB oracle: row count,
    column names and the canonical value hash. Returns failed names."""
    import duckdb
    con = duckdb.connect(config={"threads": 2})
    for t in ["region", "nation", "customer", "supplier", "part", "orders",
              "lineitem", "events", "documents", "embeddings"]:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM "
                    f"read_parquet('{os.path.join(data_dir, t + '.parquet')}')")
    oracle = json.load(open(os.path.join(out_dir, "oracle_sql.json")))
    failed = {}
    for q in queries:
        try:
            s = con.sql(f"SELECT * FROM read_parquet('{os.path.join(out_dir, q)}/*.parquet')")
            scols, srows = s.columns, s.fetchall()
            if q not in oracle:
                if not srows:
                    failed[q] = "no oracle and no rows"
                continue
            o = con.sql(oracle[q])
            ocols, orows = o.columns, o.fetchall()
            if sorted(scols) != sorted(ocols):
                failed[q] = f"columns {sorted(scols)} != oracle {sorted(ocols)}"
            elif len(srows) != len(orows):
                failed[q] = f"rows {len(srows)} != oracle {len(orows)}"
            elif _canon(scols, srows) != _canon(ocols, orows):
                failed[q] = "value hash differs from oracle"
        except Exception as e:  # a missing dump or a failing oracle
            failed[q] = f"{type(e).__name__}: {e}"[:300]
    return failed


# ---------------------------------------------------------------- run

def run(args):
    if args.workload not in WORKLOADS:
        sys.exit(f"perfbench: unknown workload {args.workload}; "
                 f"choose from {', '.join(WORKLOADS)}")
    if not os.path.isdir(os.path.join(ROOT, "src", "main", "scala", "graft")):
        sys.exit("perfbench: the program's sources (src/main/scala/graft) are "
                 "missing; run from a checkout of the repository")
    bench = spec()
    cp = build()
    t0 = time.time()
    w = WORKLOADS[args.workload]
    work = os.path.join(WORK, f"run-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(os.path.join(work, "tmp"))
    try:
        main_args = [f"workload={args.workload}", f"seed={args.seed}",
                     f"seconds={args.seconds}", f"trace={args.trace}",
                     f"work={work}", f"out={os.path.join(work, 'result.json')}",
                     f"t0_ms={int(t0 * 1000)}"]
        main_args += [f"{k}={v}" for k, v in w.items() if k not in ("sf", "queries")]
        data = os.path.join(work, "data")
        if "queries" in w:
            import gen
            gen.write(data, w["sf"], args.seed)
            main_args += [f"data={data}", f"queries={','.join(w['queries'])}"]
        java = os.path.join(os.environ["JAVA_HOME"], "bin", "java") \
            if os.environ.get("JAVA_HOME") else "java"
        cmd = [java, "-Xmx3g",
               f"-Djava.io.tmpdir={os.path.join(work, 'tmp')}"]
        for p in JDK17_OPENS:
            cmd += ["--add-opens", f"java.base/{p}=ALL-UNNAMED"]
        cmd += ["-cp", cp, "perfbench.Main"] + main_args
        jvm_log = os.path.join(work, "jvm.log")
        with open(jvm_log, "w") as lf:
            proc = subprocess.Popen(cmd, stdout=lf, stderr=subprocess.STDOUT,
                                    stdin=subprocess.DEVNULL)
            try:
                rc = proc.wait(timeout=max(10, TIME_LIMIT_S - (time.time() - t0)))
            except subprocess.TimeoutExpired:
                proc.kill()
                proc.wait()
                sys.exit("perfbench: the benchmark JVM did not finish in time")
        if rc != 0 or not os.path.exists(os.path.join(work, "result.json")):
            sys.stderr.write(open(jvm_log).read()[-6000:])
            sys.exit(f"perfbench: the benchmark JVM failed (exit {rc})")
        res = json.load(open(os.path.join(work, "result.json")))
        oracle_failed = {}
        if "queries" in w:
            oracle_failed = oracle_check(data, os.path.join(work, "out"), w["queries"])
        failures = res["check_failures"] + [f"{q}: {m}" for q, m in oracle_failed.items()]
        # an op fails if it failed itself, or its query's output check failed,
        # or (ingest) its pass's sink check failed
        ops = [op for p in res["passes"] for op in p["ops"]]
        attempted = len(ops)
        bad_pass_ops = sum(len(p["ops"]) for p in res["passes"]) if res["check_failures"] else 0
        failed = max(bad_pass_ops, sum(1 for op in ops if not op["ok"] or op["name"] in oracle_failed))
        trace = None
        if args.trace == 1 and os.path.exists(os.path.join(work, "trace.json")):
            trace = json.load(open(os.path.join(work, "trace.json")))
        report(args, bench, res, attempted, failed, failures, trace)
        return 0 if failed == 0 else 1
    finally:
        shutil.rmtree(work, ignore_errors=True)


def report(args, bench, res, attempted, failed, failures, trace):
    key = "end_to_end" if args.trace == 0 else "per_layer"
    values = res["e2e"] if args.trace == 0 else res["layer"]
    metrics = {m["name"]: {"value": float(values.get(m["name"], 0.0)), "unit": m["unit"]}
               for m in bench[key]}
    error_rate = failed / attempted if attempted else 1.0
    for f in failures:
        log(f"check failed: {f}")
    log("phases (s from start): " + ", ".join(f"{k} {v:.1f}" for k, v in res["phases"].items()))
    print(f"{args.workload} seed={args.seed} trace={args.trace} "
          f"ops={attempted} passes={len(res['passes'])} "
          f"loadavg {res['loadavg_start']:.2f} -> {res['loadavg_end']:.2f}")
    units = dict(EXTRA_UNITS, **{m["name"]: m["unit"]
                                 for m in bench["end_to_end"] + bench["per_layer"]})
    shown = {name: {"value": float(v), "unit": units.get(name, "")} for name, v in
             dict(values, error_rate=error_rate, ops=res["op_count"]).items()}
    for name, m in shown.items():
        print(f"  {name:32s} {m['value']:14.6g} {m['unit']}")
    record = {"workload": args.workload, "seed": args.seed, "trace": args.trace,
              "seconds": args.seconds, "attempted": attempted, "failed": failed,
              "failures": failures, "metrics": shown, "result": res,
              "trace_spans": trace}
    os.makedirs(RECORDS, exist_ok=True)
    stamp = time.strftime("%Y%m%dT%H%M%S")
    with open(os.path.join(RECORDS, f"{args.workload}.s{args.seed}.t{args.trace}.{stamp}.json"),
              "w") as f:
        json.dump(record, f)
    print(json.dumps({"correct": failed == 0, "attempted": attempted,
                      "failed": failed, "metrics": metrics}))


# ---------------------------------------------------------------- diff

def load_records(spec_path):
    paths = sorted(glob.glob(os.path.join(spec_path, "*.json"))) \
        if os.path.isdir(spec_path) else sorted(glob.glob(spec_path))
    by = {}
    for p in paths:
        r = json.load(open(p))
        for name, m in r["metrics"].items():
            by.setdefault((r["workload"], name), []).append((m["value"], m["unit"]))
    return by


def spread(xs):
    """Interquartile range over the median, as a share."""
    if len(xs) < 2:
        return 0.0
    q = statistics.quantiles(xs, n=4)
    med = statistics.median(xs)
    return (q[2] - q[0]) / abs(med) if med else (0.0 if q[2] == q[0] else math.inf)


def diff(base_path, new_path):
    """Per (workload, metric): both medians, the change with its base and
    unit, and the ratio. A metric whose run-to-run spread on either side
    exceeds its bound is reported as unresolved. When each side holds one
    workload and they differ, the two workloads are compared metric by
    metric (for example registry-iterative against registry-relational)."""
    bench = spec()
    bounds = {m["name"]: m["bound"] for m in bench["end_to_end"]}
    default_bound = max(bounds.values())
    base, new = load_records(base_path), load_records(new_path)
    wb, wn = {w for w, _ in base}, {w for w, _ in new}
    if len(wb) == 1 and len(wn) == 1 and wb != wn:
        label = f"{wb.pop()}->{wn.pop()}"
        base = {(label, m): v for (_, m), v in base.items()}
        new = {(label, m): v for (_, m), v in new.items()}
    print(f"{'workload':40s} {'metric':30s} {'base':>12s} {'new':>12s} "
          f"{'change':>18s} {'ratio':>8s}  verdict")
    for key in sorted(set(base) & set(new)):
        b = [v for v, _ in base[key]]
        n = [v for v, _ in new[key]]
        unit = base[key][0][1]
        mb, mn = statistics.median(b), statistics.median(n)
        bound = bounds.get(key[1], default_bound)
        ratio = mn / mb if mb else (1.0 if mn == mb else math.inf)
        if max(spread(b), spread(n)) > bound:
            verdict = f"unresolved (spread > {bound:g})"
        elif mn == mb:
            verdict = "same"
        elif abs(ratio - 1) <= bound:
            verdict = "within bound"
        else:
            verdict = "changed"
        print(f"{key[0]:40s} {key[1]:30s} {mb:12.6g} {mn:12.6g} "
              f"{mn - mb:+12.4g} {unit:5s} {ratio:8.3f}  {verdict}")


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload")
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=10)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    ap.add_argument("--diff", nargs=2, metavar=("BASE", "NEW"),
                    help="compare two sets of records (directories or globs)")
    args = ap.parse_args()
    if args.diff:
        diff(*args.diff)
        return 0
    if not args.workload:
        ap.error("--workload is required")
    sys.path.insert(0, HERE)
    sys.dont_write_bytecode = True  # leave no __pycache__ in the checkout
    return run(args)


if __name__ == "__main__":
    sys.exit(main())
