#!/usr/bin/env python3
"""The graft co-occurrence benchmark: one command, three workloads.

    python3 perfbench/run.py --workload batch_sampled|stream_ckpt|maint_mixed \
        --seed N --seconds S --trace 0|1 [--threads N] [--size full|tiny]

Run from the root of a checkout. The first run compiles the program and
the harness (perfbench/build.py) into .bench_build/; later runs reuse the
build while the sources are unchanged. Each run generates its inputs from
the seed (perfbench/gen.py), then runs repetitions of the workload, each
in a fresh JVM (one closed-loop caller), until `--seconds` have been
measured. Outputs are checked outside the timed region. The last stdout
line is one JSON object: {"correct", "attempted", "failed", "metrics"};
with --trace 0 the metrics are BENCHMARK.json's end_to_end metrics, with
--trace 1 its per_layer metrics. The full record (per-repetition values,
tail percentiles, input properties, box-speed probe, spans) goes to
.bench_build/records/. See perfbench/METRICS.md.
"""
import argparse
import hashlib
import json
import os
import re
import shutil
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)
sys.dont_write_bytecode = True

import build  # noqa: E402
import gen  # noqa: E402

WORKLOADS = ("batch_sampled", "stream_ckpt", "maint_mixed")
# a run must end within 180 s: no session starts after SESSION_START_LIMIT_S
SESSION_TIMEOUT_S = 120
SESSION_START_LIMIT_S = 50


def box_probe():
    """Fixed single-threaded CPU work, timed: a contended box shows here."""
    t0 = time.perf_counter()
    h = hashlib.sha256()
    block = bytes(range(256)) * 4096
    for _ in range(48):
        h.update(block)
    acc = 0
    for i in range(300_000):
        acc = (acc * 31 + i) % 1_000_003
    return time.perf_counter() - t0


def tail(values):
    """The highest percentile with at least ten samples beyond it; the
    maximum when there are ten samples or fewer."""
    v = sorted(values)
    n = len(v)
    if n > 10:
        return v[n - 11], f"p{100.0 * (n - 10) / n:.1f} of {n}"
    return v[-1], f"max of {n}"


def jvm_command(root, rep_dir, a, p, record, trace):
    return build.java_command(root, [
        f"-Djava.io.tmpdir={rep_dir}/tmp",
        "graft.perfbench.Harness",
        "--workload", a.workload, "--input", os.path.join(a.work, "input"),
        "--work", rep_dir, "--out", record, "--threads", str(a.threads),
        "--trace", "1" if trace else "0", "--seed", str(a.seed),
        "--kmax", str(p.get("k_max", 0)), "--fmax", str(p.get("f_max", 0)),
        "--window-ms", str(gen.DAY_MS), "--compact-every", str(p.get("compact_every", 1)),
    ])


def run_session(root, a, p, i, trace):
    """One JVM: set-up, then the workload's unit of work, once."""
    d = os.path.join(a.work, f"session{i}")
    os.makedirs(os.path.join(d, "tmp"))
    record = os.path.join(d, "record.json")
    env = dict(os.environ, SPARK_LOCAL_DIRS=os.path.join(d, "spark-local"))
    with open(os.path.join(d, "jvm.log"), "w") as log:
        spawn = time.time()
        proc = subprocess.Popen(jvm_command(root, d, a, p, record, trace),
                                stdout=log, stderr=subprocess.STDOUT, env=env, cwd=root)
        try:
            proc.wait(timeout=SESSION_TIMEOUT_S)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
    sess = {}
    if os.path.exists(record):
        with open(record) as f:
            sess = json.load(f)
    if proc.returncode != 0 and "error" not in sess:
        sess["error"] = f"exit {proc.returncode}"
    sess.update(dir=d, exit=proc.returncode, trace=trace)
    if "ready_epoch_ms" in sess:
        sess["setup_s"] = sess["ready_epoch_ms"] / 1000.0 - spawn
    return sess


def materialized(sql):
    """Mark the oracle's top-level CTEs MATERIALIZED. DuckDB otherwise
    inlines each CTE at every reference, and the replay's chain of
    multiply-referenced CTEs then takes tens of seconds to plan; the hint
    changes evaluation only, not the result."""
    return re.sub(r"(?m)^(\w+) AS \(", r"\1 AS MATERIALIZED (", sql)


def oracle_check(a, sessions):
    """Hash-match every repetition's top-K parquet against the DuckDB
    replay of Sampling.sampledLlrOracleSql over the same CSVs."""
    import duckdb

    def digest(rows):
        return hashlib.sha256(repr(sorted(rows)).encode()).hexdigest()

    con = duckdb.connect()
    con.execute("SET threads TO 2")
    csvs = os.path.join(a.work, "input", "*.csv")
    con.execute(
        "CREATE VIEW inter_src AS SELECT CAST(column0 AS INTEGER) AS usr, "
        "CAST(column1 AS INTEGER) AS item, epoch_ms(CAST(column2 AS BIGINT)) AS ts "
        f"FROM read_csv('{csvs}', header=false, "
        "columns={'column0': 'VARCHAR', 'column1': 'VARCHAR', 'column2': 'VARCHAR'})")
    want = None
    for s in sessions:
        if want is None:
            with open(os.path.join(s["dir"], "oracle.sql")) as f:
                want = digest(con.execute(materialized(f.read())).fetchall())
        got = digest(con.execute(
            "SELECT item, rnk, other, score FROM read_parquet('"
            + os.path.join(s["dir"], "out", "*.parquet") + "')").fetchall())
        s["check"] = {"name": "top-K == DuckDB Sampling.sampledLlrOracleSql replay",
                        "ok": got == want, "hash": got, "expected_hash": want}
    con.close()


def end_to_end(done):
    """Every end-to-end figure, as {name: value}, plus how its tails were
    taken. BENCHMARK.json gates a subset; the record keeps them all."""
    med = statistics.median
    batch = [x for r in done for x in r["batch_s"]]
    serve = [x for r in done for x in r["serve_s"]]
    deletes = [x for r in done for x in r.get("delete_s", [])]
    bt, bt_label = tail(batch)
    st, st_label = tail(serve)
    values = {
        "setup_s": med([r["setup_s"] for r in done]),
        "wall_s": med([r["wall_s"] for r in done]),
        "events_per_s": med([r["events"] / r["wall_s"] for r in done]),
        "batch_p50_s": med(batch),
        "batch_tail_s": bt,
        "serve_p50_s": med(serve),
        "serve_tail_s": st,
        "delete_p50_s": med(deletes) if deletes else None,
        "cpu_s": med([r["cpu_s"] for r in done]),
        "peak_rss_mb": med([r["peak_rss_mb"] for r in done]),
        "disk_bytes_per_event": med([r["disk_bytes"] / r["events"] for r in done]),
    }
    how = {"batch_tail": bt_label, "serve_tail": st_label, "samples": {
        "sessions": len(done), "batch": len(batch), "serve": len(serve),
        "delete": len(deletes)}}
    return values, how


def per_layer(done, names):
    traced = [r for r in done if r["trace"]]
    plain = [r for r in done if not r["trace"]]
    med = statistics.median
    out = {}
    for n in names:
        vals = [r["layers"].get(n, 0.0) for r in traced]
        out[n] = med(vals) if vals else 0.0
    if traced and plain:
        out["trace.overhead_s"] = (med([r["wall_s"] for r in traced])
                                   - med([r["wall_s"] for r in plain]))
    return out


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--threads", type=int, default=min(4, os.cpu_count() or 1),
                    help="Spark local threads (default: min(4, nproc))")
    ap.add_argument("--size", choices=sorted(gen.SIZES), default="full")
    a = ap.parse_args()
    a.threads = max(1, min(a.threads, os.cpu_count() or 1))

    root = os.getcwd()
    build_dir = os.path.join(root, ".bench_build")
    if not os.path.exists(os.path.join(root, "src", "main", "scala", "graft", "Main.scala")):
        sys.exit("perfbench: run from the root of a graft checkout "
                 "(src/main/scala/graft/Main.scala not found)")
    with open(os.path.join(root, "BENCHMARK.json")) as f:
        spec = json.load(f)

    probe_before = box_probe()
    build.ensure(root)

    a.work = os.path.join(build_dir, "work", f"{a.workload}-{a.seed}-{os.getpid()}")
    shutil.rmtree(a.work, ignore_errors=True)
    p, props = gen.generate(a.workload, a.seed, a.size, os.path.join(a.work, "input"))

    # sessions back to back (closed loop, one caller) until --seconds are
    # measured; every session is a cold JVM, so adding one never mixes in
    # warm figures. A traced run alternates untraced and traced sessions
    # so the tracing overhead is measured on the same inputs.
    t0 = time.time()
    sessions = []
    while True:
        trace = bool(a.trace) and len(sessions) % 2 == 1
        sessions.append(run_session(root, a, p, len(sessions), trace))
        elapsed = time.time() - t0
        paired = not a.trace or len(sessions) >= 2
        if "error" in sessions[-1] or (elapsed >= a.seconds and paired):
            break
        if elapsed >= SESSION_START_LIMIT_S and paired:
            break
    measured_s = time.time() - t0
    done = [s for s in sessions if "error" not in s]

    if a.workload != "maint_mixed":
        oracle_check(a, done)
    failed = (sum(1 for s in sessions if "error" in s)
              + sum(1 for s in done if not s.get("check", {}).get("ok")))
    # operations: each program call the workload makes, plus one check per
    # session (a session that failed counts as one failed operation)
    attempted = max(1, sum(len(s.get("batch_s", [])) + len(s.get("serve_s", []))
                           + len(s.get("delete_s", [])) + 1 for s in sessions))
    probe_after = box_probe()

    metrics = {}
    record = {"workload": a.workload, "seed": a.seed, "seconds": a.seconds, "trace": a.trace,
              "threads": a.threads, "size": a.size, "params": p, "input": props,
              "box_probe_s": [probe_before, probe_after], "measured_s": measured_s,
              "sessions": sessions, "attempted": attempted, "failed": failed,
              "error_rate": failed / attempted}
    if done:
        if a.trace:
            layer = per_layer(done, [m["name"] for m in spec["per_layer"]])
            metrics = {m["name"]: {"value": layer.get(m["name"], 0.0), "unit": m["unit"]}
                       for m in spec["per_layer"]}
        else:
            values, how = end_to_end(done)
            record.update(end_to_end=values, tails=how)
            metrics = {m["name"]: {"value": values[m["name"]], "unit": m["unit"]}
                       for m in spec["end_to_end"]}
    record["metrics"] = metrics

    rec_dir = os.path.join(build_dir, "records")
    os.makedirs(rec_dir, exist_ok=True)
    rec_path = os.path.join(rec_dir, f"{a.workload}-seed{a.seed}-trace{a.trace}-{int(t0)}.json")
    with open(rec_path, "w") as f:
        json.dump(record, f, indent=1)
    if not failed:
        shutil.rmtree(a.work, ignore_errors=True)

    print(f"# {a.workload} seed={a.seed} sessions={len(sessions)} threads={a.threads} "
          f"measured={measured_s:.1f}s box_probe={probe_before:.3f}/{probe_after:.3f}s "
          f"error_rate={failed / attempted:.4f} record={os.path.relpath(rec_path, root)}")
    if "tails" in record:
        print(f"# tails: batch {record['tails']['batch_tail']}, "
              f"serve {record['tails']['serve_tail']}")
        for name, v in record["end_to_end"].items():
            if name not in metrics and v is not None:
                print(f"# {name} = {v:.6g} (recorded, not gated)")
    for name, m in metrics.items():
        print(f"# {name} = {m['value']:.6g} {m['unit']}")
    for s in sessions:
        if "error" in s:
            print(f"# error: {s['error']} (log {s['dir']}/jvm.log)", file=sys.stderr)
    print(json.dumps({"correct": failed == 0, "attempted": attempted, "failed": failed,
                      "metrics": metrics}))


if __name__ == "__main__":
    main()
