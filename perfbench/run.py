#!/usr/bin/env python3
"""graft's benchmark: one command, three workloads, end-to-end and
per-layer metrics.

    python3 perfbench/run.py --workload W --seed N --seconds S --trace 0|1
    python3 perfbench/run.py --smoke ...      (tiny sizes, for test_smoke.py)

Run from the root of a checkout. The first run builds graft and the
harness from source (perfbench/build.py). Each run starts its own JVM
(graftbench.Main) on a `graft.core.Sessions.local` session at
$SPARK_GRAFT_CPUS cores (default: nproc), drives one closed-loop
workload through graft's public entry points, checks every output, and
prints as its last stdout line

    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}

with every end_to_end metric of BENCHMARK.json when --trace 0, and every
per_layer metric when --trace 1. Earlier lines carry a stamp (nproc,
cores, -Xmx, loadavg, source hash), the workload's own named metrics,
each failure with its cause, and (operator_suite) the per-query timings
in chunks under 3 KB. Files land in .bench_build/graftbench/runs/.

Workloads (inputs are generated from --seed before each timer starts;
one driver thread; an operation is a backfill, a trigger or a query):

- medallion_backfill: EVENTS generated events (v1:v2 = 1:2, every 9th a
  replay) drained through the parquet 4-query DAG (Pipeline.run) and
  then through RawIngest.run + TxMedallion.run, on fresh tables; one
  operation = both chains.
- medallion_incremental: one TxMedallion table set receives a series of
  scheduled runs; each is an arrival of ARRIVAL events (10% stamped
  before dayStart, 5% replays of earlier arrivals) followed by
  RawIngest.run + TxMedallion.run + a gold read.
- operator_suite: every STRIDE-th of SparkEntry.queries in name order,
  plus the three queries that build ArtifactCost artifacts, over a
  committed copy of the repository's sf0.01 test tables: a first pass (lazy
  fixture and artifact builds included), then steady passes. The seed
  does not apply.

End-to-end metrics, the same names on every workload:
  setup_s      median of SETUPS session start-ups (Sessions.local)
  peak_rss_mb  VmHWM of the JVM
  first_s      the first operation in the cold process (operator_suite:
               the whole first pass)
  first_cpu_s  JVM CPU seconds (all threads) spent in that first operation
  op_p50_s     median warm operation (operator_suite: over every query
               evaluation of the steady passes)
  op_mean_s    mean warm operation
  op_tail_s    highest order statistic with ten operations beyond it,
               never below the upper median (the percentile is printed);
               with one warm operation (medallion_backfill) it is that op
  op_cpu_s     mean JVM CPU seconds per warm operation
CPU seconds exclude time the host withholds from this machine, so they
stay steady when wall times swing with the host's load.
Warm statistics use untraced operations only. In a traced run every
other warm operation is traced; per-layer values are per traced
operation (operator_suite: per traced steady pass), and
trace.overhead_s is traced minus untraced.

Outputs are checked independently: gold of both chains against a
plain-Scala recomputation from the generated events, and suite results
against SparkEntry.oracleSql run by DuckDB, hashed as
tools/check_oracle.py does (rows > 0 where no oracle exists).
"""
import argparse
import decimal
import json
import math
import os
import shutil
import signal
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)
sys.dont_write_bytecode = True
import build  # noqa: E402

WORKLOADS = ("medallion_backfill", "medallion_incremental", "operator_suite")
# Per-workload sizes: (full, smoke). Chosen so that 22 runs of each
# workload, two builds included, fit in under an hour on a 4-core host.
SIZES = {
    "events": (30000, 3000),
    "arrival": (5000, 1000),
    # warm ops after the first (operator_suite: steady passes)
    "min_ops": {"medallion_backfill": (1, 1), "medallion_incremental": (6, 3),
                "operator_suite": (2, 1)},
    "stride": (20, 40),
    # the queries whose first run builds an ArtifactCost artifact
    # (jaccard pairs, cosine pairs, LM counts), so that the suite's
    # first pass always contains artifact builds
    "extra": ("q_dedup_clusters,q_lm_quality,q_semantic_dedup", "q_dedup_clusters"),
    "data": ("sf0.01", "sf0.001"),
}
SETUPS = 5
XMX = "3g"
JVM_TIMEOUT_S = 170
TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings"]
CHUNK_BYTES = 2800
# The workload-specific metrics each workload prints in its "named" record.
NAMED_UNITS = {
    "medallion_backfill": {"backfill_events_per_s": "1/s", "backfill_tx_events_per_s": "1/s"},
    "medallion_incremental": {"trigger_p50_s": "s", "trigger_tail_s": "s"},
    "operator_suite": {"suite_first_s": "s", "suite_steady_s": "s",
                       "suite_steady_geomean_s": "s", "artifact_builds_s": "s"},
}

JAVA_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
    "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]


def emit(record):
    print(json.dumps(record, separators=(",", ":")), flush=True)


def loadavg():
    with open("/proc/loadavg") as fh:
        return float(fh.read().split()[0])


def nproc():
    return len(os.sched_getaffinity(0))


def git_commit():
    try:
        out = subprocess.run(["git", "-C", ROOT, "rev-parse", "HEAD"], capture_output=True,
                             text=True, timeout=10)
        return out.stdout.strip() if out.returncode == 0 else None
    except (OSError, subprocess.SubprocessError):
        return None


def spec():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        return json.load(fh)


# ---- oracle check: the canonical hash of tools/check_oracle.py ----

def _norm(v):
    if isinstance(v, decimal.Decimal):
        return str(v)
    if isinstance(v, float):
        return "nan" if math.isnan(v) else repr(v)
    return str(v)


def _canon(cols, rows):
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    return sorted(cols), sorted(tuple(_norm(r[i]) for i in order) for r in rows)


def oracle_failures(data_dir, results_dir, oracle):
    """[(query, cause)] for each suite result that differs from DuckDB."""
    import duckdb
    import pyarrow.parquet as pq
    con = duckdb.connect()
    con.execute("SET threads TO 2")
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{data_dir}/{t}.parquet')")
    failures = []
    for name in sorted(oracle):
        try:
            t = pq.read_table(os.path.join(results_dir, name))
            s_cols = t.column_names
            s_rows = [tuple(r[c] for c in s_cols) for r in t.to_pylist()]
            res = con.sql(oracle[name])
            d_cols = list(res.columns)
            drifty = [f"{c}:{ty}" for c, ty in zip(d_cols, (str(x) for x in res.types))
                      if ty == "HUGEINT" or ty.startswith("DECIMAL")]
            d_rows = res.fetchall()
        except Exception as e:  # a broken result or oracle is a failed check
            failures.append((name, f"oracle check error: {type(e).__name__}: {e}"[:400]))
            continue
        if drifty:
            failures.append((name, f"version-fragile oracle output types {drifty}"))
            continue
        sc, sr = _canon(s_cols, s_rows)
        dc, dr = _canon(d_cols, d_rows)
        if sc != dc:
            failures.append((name, f"columns differ: spark={sc} duckdb={dc}"))
        elif sr != dr:
            bad = sum(1 for a, b in zip(sr, dr) if a != b) + abs(len(sr) - len(dr))
            failures.append((name, f"{bad} of {max(len(sr), len(dr))} rows differ from DuckDB"))
    return failures


# ---- one run ----

def run_jvm(args, cp, out_dir, tmp_dir, data_dir, smoke):
    pick = 1 if smoke else 0
    cmd = ["java", f"-Xms{XMX}", f"-Xmx{XMX}", "-Xmn1g", "-Xss4m"]
    cmd += [f"--add-opens={p}=ALL-UNNAMED" for p in JAVA_OPENS]
    cmd += ["-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
            f"-Djava.io.tmpdir={tmp_dir}", "-cp", cp, "graftbench.Main",
            "--workload", args.workload, "--seed", str(args.seed),
            "--seconds", str(args.seconds), "--trace", str(args.trace),
            "--out", out_dir, "--data", data_dir,
            "--events", str(SIZES["events"][pick]), "--arrival", str(SIZES["arrival"][pick]),
            "--setups", str(SETUPS), "--stride", str(SIZES["stride"][pick]),
            "--extra", SIZES["extra"][pick],
            "--min-ops", str(SIZES["min_ops"][args.workload][pick])]
    env = dict(os.environ)
    env.setdefault("SPARK_GRAFT_CPUS", str(nproc()))
    env["SPARK_LOCAL_DIRS"] = tmp_dir
    log_path = os.path.join(out_dir, "jvm.log")
    with open(log_path, "w") as log:
        proc = subprocess.Popen(cmd, stdout=log, stderr=subprocess.STDOUT, env=env,
                                cwd=tmp_dir, start_new_session=True)
        try:
            code = proc.wait(timeout=JVM_TIMEOUT_S)
        except subprocess.TimeoutExpired:
            raise RuntimeError(f"JVM exceeded {JVM_TIMEOUT_S}s (log: {log_path})")
        finally:
            # also on SIGTERM/SIGINT: never leave the JVM behind
            if proc.poll() is None:
                os.killpg(proc.pid, signal.SIGKILL)
                proc.wait()
    if code != 0:
        with open(log_path, errors="replace") as fh:
            tail = fh.read()[-3000:]
        raise RuntimeError(f"JVM exited with {code}:\n{tail}")
    return env["SPARK_GRAFT_CPUS"]


def main():
    p = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    p.add_argument("--workload", required=True, choices=WORKLOADS)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), required=True)
    p.add_argument("--smoke", action="store_true", help="tiny sizes (test_smoke.py)")
    args = p.parse_args()
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))

    bench = spec()
    load_start = loadavg()
    cp, src_stamp = build.build()

    tag = f"{args.workload}_s{args.seed}_t{args.trace}{'_smoke' if args.smoke else ''}"
    out_dir = os.path.join(build.OUT, "runs", tag)
    tmp_dir = os.path.join(build.OUT, "tmp", f"{tag}_{os.getpid()}")
    shutil.rmtree(out_dir, ignore_errors=True)
    os.makedirs(out_dir)
    os.makedirs(tmp_dir)
    try:
        data_dir = os.path.join(tmp_dir, "data")
        if args.workload == "operator_suite":
            # a private copy: fixtures and queries must never touch the
            # committed tables
            shutil.copytree(os.path.join(HERE, "data", SIZES["data"][1 if args.smoke else 0]),
                            data_dir)
        cpus = run_jvm(args, cp, out_dir, tmp_dir, data_dir, args.smoke)
        with open(os.path.join(out_dir, "result.json")) as fh:
            res = json.load(fh)
        failures = [(f["op"], f["cause"]) for f in res["failures"]]
        if args.workload == "operator_suite":
            failures += [(f"oracle:{q}", c) for q, c in
                         oracle_failures(data_dir, os.path.join(out_dir, "results"), res["oracle"])]
    finally:
        shutil.rmtree(tmp_dir, ignore_errors=True)

    emit({"record": "stamp", "workload": args.workload, "seed": args.seed,
          "trace": args.trace, "nproc": nproc(), "SPARK_GRAFT_CPUS": cpus, "xmx": XMX,
          "loadavg_start": load_start, "loadavg_end": loadavg(),
          "commit": git_commit(), "source_sha256": src_stamp})
    for op, cause in failures:
        emit({"record": "failure", "op": op, "cause": cause})
    per_query = res.get("per_query")
    if per_query:
        with open(os.path.join(out_dir, "per_query.json"), "w") as fh:
            json.dump(per_query, fh, indent=1, sort_keys=True)
        rows = {q: [round(v["first_s"], 4), round(v["steady_s"], 4), v["check"]]
                for q, v in sorted(per_query.items())}
        chunks = [{}]
        for q, row in rows.items():
            if chunks[-1] and len(json.dumps({**chunks[-1], q: row})) > CHUNK_BYTES:
                chunks.append({})
            chunks[-1][q] = row
        for i, chunk in enumerate(chunks):
            emit({"record": "per_query_part", "i": i, "cols": ["first_s", "steady_s", "check"],
                  "queries": chunk})
    named = {k: {"value": float(res["named"][k]), "unit": u}
             for k, u in NAMED_UNITS[args.workload].items()}
    named["op_tail_pct"] = {"value": float(res["stats"]["op_tail_pct"]), "unit": "%"}
    emit({"record": "named", "workload": args.workload, **named,
          "counts": {k: v for k, v in res["named"].items() if k not in named},
          "setup_runs_s": res["setup_runs_s"]})

    if args.trace:
        layers = res["layers"]
        metrics = {m["name"]: {"value": float(layers.get(m["name"], 0.0)), "unit": m["unit"]}
                   for m in bench["per_layer"]}
    else:
        e2e = dict(res["e2e"], peak_rss_mb=res["peak_rss_mb"])
        metrics = {m["name"]: {"value": float(e2e[m["name"]]), "unit": m["unit"]}
                   for m in bench["end_to_end"]}
    print(json.dumps({"correct": not failures, "attempted": int(res["attempted"]),
                      "failed": len(failures), "metrics": metrics}), flush=True)


if __name__ == "__main__":
    try:
        main()
    except (build.BuildError, RuntimeError, OSError, KeyError, ValueError) as e:
        print(f"benchmark failed: {e}", file=sys.stderr)
        sys.exit(1)
