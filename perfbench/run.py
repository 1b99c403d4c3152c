#!/usr/bin/env python3
"""The repository benchmark: one closed-loop client, one Spark session at
local[nproc], seeded inputs, every output checked.

    python3 perfbench/run.py --workload hourly_etl --seed 1 --seconds 5 \
        --trace 0

Run from the repository root. It builds the program from source (first
run only), generates the workload's inputs from the seed, runs the JVM
side (`perfbench.Main`), checks the outputs, prints a report, and prints
as its last line one JSON object: `correct`, `attempted`, `failed` and
`metrics` — the end-to-end metrics with `--trace 0`, the per-layer
metrics with `--trace 1`. See perfbench/NOTES.md for what each workload
and metric means.
"""
import argparse
import json
import os
import shutil
import signal
import statistics
import subprocess
import sys
import time

sys.dont_write_bytecode = True
sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

import build  # noqa: E402
import gen  # noqa: E402

# workload -> (generator, unit-op sample name)
WORKLOADS = {
    "hourly_etl": ("hourly", "batch"),
    "star_queries": ("star", "query"),
    "cdc_replica": ("cdc", "write_to_replica"),
}
# the star sinks' oracle queries, by sink table
SINK_ORACLE = {"LineDim": "q40_line_dim", "StopDim": "q41_stop_dim",
               "VehicleDim": "q42_vehicle_dim",
               "WeatherDim": "q43_weather_dim", "TimeDim": "q17_time_dim",
               "DelayFact": "q44_delay_fact"}
STAR_QUERIES = ["q09_star_join", "q40_line_dim", "q41_stop_dim",
                "q42_vehicle_dim", "q43_weather_dim", "q44_delay_fact",
                "q45_star_rollup"]
TIMEOUT_S = 170
RUN_DIR = os.path.join(build.BUILD, "run")
# spans of the last traced run of each workload and seed
TRACE_DIR = os.path.join(build.BUILD, "trace")


def heap():
    """Half of RAM, clamped to 2-8 GiB (the Tier-1 launch rule)."""
    try:
        with open("/proc/meminfo") as f:
            kb = next(int(l.split()[1]) for l in f
                      if l.startswith("MemTotal:"))
        g = kb // 2097152
    except (OSError, StopIteration, ValueError):
        g = 2
    return f"{min(max(g, 2), 8)}g"


def fs_type(path):
    """File system type of the mount holding `path`."""
    path = os.path.realpath(path)
    best, kind = "", "unknown"
    try:
        with open("/proc/mounts") as f:
            for line in f:
                parts = line.split()
                mnt = parts[1]
                if (path == mnt or path.startswith(mnt.rstrip("/") + "/")) \
                        and len(mnt) >= len(best):
                    best, kind = mnt, parts[2]
    except OSError:
        pass
    return kind


def tail(samples):
    """(value, percentile, n): the highest percentile with at least ten
    samples beyond it; below eleven samples there is none and the
    maximum is reported (percentile 100)."""
    xs = sorted(samples)
    n = len(xs)
    if n < 11:
        return xs[-1], 100.0, n
    return xs[n - 11], 100.0 * (n - 10) / n, n


def run_jvm(args, work, data, expect_path, out_path, deadline):
    cmd = ["java", f"-Xmx{heap()}", "-XX:-UsePerfData",
           "-XX:ReservedCodeCacheSize=1g",
           f"-Djava.io.tmpdir={work}/tmp", "-Dspark.ui.enabled=false",
           "-Dspark.sql.session.timeZone=UTC"] + build.ADD_OPENS + [
        "-cp", build.classpath(), "perfbench.Main",
        "--workload", args.workload, "--seed", str(args.seed),
        "--seconds", str(args.seconds), "--trace", str(args.trace),
        "--data", data, "--work", work, "--expect", expect_path,
        "--out", out_path]
    if args.trace:
        os.makedirs(TRACE_DIR, exist_ok=True)
        cmd += ["--spans", os.path.join(
            TRACE_DIR, f"{args.workload}-seed{args.seed}.jsonl")]
    env = {k: v for k, v in os.environ.items()
           if k not in ("SPARK_GRAFT_WRITE_ADAPTIVE",
                        "SPARK_GRAFT_STREAM_ADAPTIVE")}
    os.makedirs(f"{work}/tmp", exist_ok=True)
    with open(f"{work}/jvm.log", "w") as logf:
        started = time.time()
        proc = subprocess.Popen(cmd, stdout=logf, stderr=subprocess.STDOUT,
                                env=env, start_new_session=True)
        try:
            code = proc.wait(timeout=max(10.0, deadline - time.time()))
        except subprocess.TimeoutExpired:
            os.killpg(proc.pid, signal.SIGKILL)
            proc.wait()
            code = "timeout"
    if code != 0:
        with open(f"{work}/jvm.log") as f:
            sys.stderr.write(f.read()[-4000:])
        raise SystemExit(f"perfbench: JVM run failed ({code})")
    with open(out_path) as f:
        return started, json.load(f)


def check_hourly(res, data, sqls):
    """Each sink's key set and row count against DuckDB over the union of
    the hours published. Returns (attempted, failures)."""
    import oracle
    hours = res["extra"]["hours"]
    failures = []
    for table, got in res["extra"]["sinks"].items():
        keys = got["keys"]
        want = set()
        for h in hours:
            want |= oracle.key_set(f"{data}/hourly/{h:02d}",
                                   sqls[SINK_ORACLE[table]], keys)
        want_hash = oracle.result_hash(keys, want)
        if got["rows"] != len(want) or got["key_hash"] != want_hash:
            failures.append(f"sink {table}: {got['rows']} rows, "
                            f"{got['distinct_keys']} keys, hash "
                            f"{got['key_hash'][:12]}; DuckDB {len(want)} "
                            f"keys, hash {want_hash[:12]}")
    return len(res["extra"]["sinks"]), failures


def p50(xs):
    return statistics.median(xs) if xs else float("nan")


def main():
    p = argparse.ArgumentParser(description="repository benchmark")
    p.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = p.parse_args()
    t_start = time.time()
    deadline = t_start + TIMEOUT_S

    why = build.missing_inputs()
    if why:
        sys.exit(f"perfbench: cannot build: {why}")
    build.build()
    sqls = build.oracle_sql()

    kind, unit = WORKLOADS[args.workload]
    work = os.path.join(RUN_DIR, f"{args.workload}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    data = f"{work}/data"
    gen.generate(kind, data, args.seed)
    expect = {}
    if kind == "star":
        import oracle
        expect = oracle.query_hashes(f"{data}/star",
                                     {q: sqls[q] for q in STAR_QUERIES})
    expect_path = f"{work}/expect.json"
    with open(expect_path, "w") as f:
        json.dump(expect, f)

    try:
        popen_at, res = run_jvm(args, work, data, expect_path,
                                f"{work}/result.json", deadline)
        attempted, failed = res["attempted"], res["failed"]
        failures = list(res["failures"])
        if kind == "hourly":
            n, bad = check_hourly(res, data, sqls)
            attempted += n
            failed += len(bad)
            failures += bad
        report(args, res, unit, popen_at, attempted, failed, failures, work)
    finally:
        shutil.rmtree(work, ignore_errors=True)


def report(args, res, unit, popen_at, attempted, failed, failures, work):
    s = res["samples"]
    session_s = res["session_ready_epoch_ms"] / 1000.0 - popen_at
    setup_s = session_s + res["workload_setup_s"]
    ops = s.get(unit, [])
    if not ops:
        raise SystemExit(f"perfbench: no {unit} completed in the window")
    timed = res["timed_s"]
    e2e = {"wall_per_op_s": timed / len(ops), "setup_s": setup_s}

    # every end-to-end figure of the workload, by its documented name
    def timing(name, xs):
        v, pct, n = tail(xs)
        named[name + "_p50_s"] = (p50(xs), f"s (n={n})")
        named[name + "_tail_s"] = (v, f"s (p{pct:.0f} of {n})" if pct < 100
                                   else f"s (max of {n}: no percentile has "
                                        "ten samples beyond it)")
    named = {"setup_s": (setup_s, "s"),
             "error_frac": (failed / attempted, f"({failed}/{attempted})"),
             "wall_s": (timed, "s"),
             "wall_per_op_s": (e2e["wall_per_op_s"], "s")}
    if args.workload == "hourly_etl":
        timing("batch", s["batch"])
        named["space_amp"] = (res["extra"]["space_amp"], "ratio")
    elif args.workload == "star_queries":
        timing("query", s["query"])
        named["plan_p50_s"] = (p50(s["plan"]), "s")
        named["exec_p50_s"] = (p50(s["exec"]), "s")
    else:
        named["write_p50_s"] = (p50(s["write"]), "s")
        for kind in ("merge", "append", "delete"):
            named[f"write_{kind}_p50_s"] = (p50(s.get(f"write_{kind}", [])),
                                            "s")
        named["read_p50_s"] = (p50(s["read"]), "s")
        timing("lag", s["lag"])
        named["space_amp"] = (res["extra"]["space_amp"], "ratio")

    info = res["info"]
    print(f"workload {args.workload}  seed {args.seed}  trace {args.trace}  "
          f"nproc {info['nproc']}  heap {heap()}  "
          f"workdir fs {fs_type(work)}  spark {info['spark']}")
    print(f"set-up: JVM start to session {session_s:.3f} s + fixtures and "
          f"warm-up cycle {res['workload_setup_s']:.3f} s")
    print(f"unit op '{unit}': {len(ops)} in {timed:.3f} s; untimed "
          f"checks and figures after the loop {res['checks_s']:.3f} s")
    for k, (v, u) in named.items():
        print(f"  {k} = {v:.6g} {u}")
    for f in failures[:20]:
        print(f"  FAILED: {f}")

    # the untraced figure a traced run of the same seed and build compares
    # its wall with, to state the tracing overhead
    untraced = os.path.join(build.BUILD, f"untraced_{args.workload}.json")
    key = {"seed": args.seed, "build": build.stamp()}
    if args.trace == 0:
        with open(untraced, "w") as f:
            json.dump(dict(key, wall_per_op_s=e2e["wall_per_op_s"]), f)
        metrics = {k: {"value": v, "unit": "s"} for k, v in e2e.items()}
    else:
        base = None
        if os.path.exists(untraced):
            with open(untraced) as f:
                u = json.load(f)
            if all(u.get(k) == v for k, v in key.items()):
                base = u["wall_per_op_s"]
        metrics = traced_metrics(res, e2e, base, len(ops))
    out = {"correct": failed == 0, "attempted": attempted, "failed": failed,
           "metrics": metrics}
    print(json.dumps(out))


def traced_metrics(res, e2e, base, n_ops):
    """Per-layer metrics, in BENCHMARK.json's order and units (a `/op`
    unit is the window's total divided by its unit ops), with the
    self-time account of the traced wall and the tracing overhead against
    `base`, the untraced wall per op of the same seed and build (None when
    there is no such run)."""
    layers = dict(res["layers"])
    timed = res["timed_s"]
    selfs = {k: v for k, v in layers.items() if k.endswith(".self_s")}
    print(f"traced wall {timed:.3f} s = layer self times "
          f"{sum(selfs.values()):.3f} s + uncovered "
          f"{layers['bench.uncovered_s']:.3f} s; the rest, "
          f"{sum(selfs.values()) + layers['bench.uncovered_s'] - timed:.3f} s,"
          f" is stream-thread time overlapping the client's spans")
    for k, v in sorted(selfs.items(), key=lambda kv: -kv[1]):
        if v:
            print(f"  {k} = {v:.4f} s")
    print("tracing overhead (wall per op vs the untraced run of this "
          "seed and build): " +
          (f"{e2e['wall_per_op_s'] / base - 1:+.3f}" if base else
           "unknown, no untraced run of this seed and build"))
    spec = per_layer_spec()
    missing = [m for m in spec if m not in layers]
    if missing:
        raise SystemExit(f"perfbench: per-layer metrics not produced: "
                         f"{missing}")
    print(f"per-layer totals over {n_ops} unit ops:")
    for k, v in layers.items():
        print(f"  {k} = {v:.6g}")
    return {k: {"value": layers[k] / n_ops if u.endswith("/op")
                else layers[k], "unit": u}
            for k, u in spec.items()}


def per_layer_spec():
    """{name: unit} of BENCHMARK.json's per-layer metrics."""
    path = os.path.join(os.path.dirname(os.path.dirname(
        os.path.abspath(__file__))), "BENCHMARK.json")
    with open(path) as f:
        return {m["name"]: m["unit"] for m in json.load(f)["per_layer"]}


if __name__ == "__main__":
    main()
