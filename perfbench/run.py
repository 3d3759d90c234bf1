#!/usr/bin/env python3
"""graft benchmark: one run of one workload in a fresh JVM.

    python3 perfbench/run.py --workload frame_ops --seed 1 --seconds 10 --trace 0

Builds the program from the checkout's sources (perfbench/build.py),
generates the seeded inputs (perfbench/gen.py), runs the workload in a
fresh JVM (perfbench/src/perfbench/Harness.scala), checks every op's
result against the DuckDB oracle (perfbench/oracle.py) and prints the
metrics. The last line of stdout is one JSON object: with --trace 0 it
carries the end-to-end metrics, with --trace 1 the per-layer census.
See perfbench/README.md for the workloads and every metric.
"""
import argparse
import hashlib
import json
import os
import shutil
import subprocess
import sys
import time

sys.dont_write_bytecode = True

import numpy as np  # noqa: E402

BENCH = os.path.dirname(os.path.abspath(__file__))
WORK = os.path.join(BENCH, ".work")
EXIT_BY_S = 170          # the whole run ends well inside 180 s ...
BUILD_EXIT_BY_S = 870    # ... or inside 900 s when it compiled the program
JVM_DEADLINE_S = 120     # no optional timed pass starts past this JVM uptime
PROBE_EVERY_S = 1200     # host speed probe re-measured at least this often

JDK_OPENS = ["java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net",
             "java.nio", "java.util", "java.util.concurrent", "java.util.concurrent.atomic",
             "sun.nio.ch", "sun.nio.cs", "sun.security.action", "sun.util.calendar"]


def fail(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(1)


def digest(*parts):
    h = hashlib.sha256()
    for p in parts:
        h.update(p if isinstance(p, bytes) else str(p).encode())
    return h.hexdigest()[:16]


def read(path):
    with open(path, "rb") as f:
        return f.read()


def inputs(seed):
    """The generated tables for `seed`, made once and reused."""
    import gen
    sources = [os.path.join(BENCH, "gen.py")] + [os.path.join(gen.SAMPLE, f"{t}.parquet") for t in gen.TABLES]
    key = f"seed-{seed}-{digest(*map(read, sources))}"
    data = os.path.join(WORK, "data", key)
    if not os.path.exists(os.path.join(data, ".done")):
        tmp = data + ".tmp"
        shutil.rmtree(tmp, ignore_errors=True)
        gen.generate(seed, tmp)
        open(os.path.join(tmp, ".done"), "w").close()
        shutil.rmtree(data, ignore_errors=True)
        os.rename(tmp, data)
    return data, key


def run_jvm(classes, workload, spec, data, run_dir, seconds, trace, budget_s):
    import build
    ops_file = os.path.join(run_dir, "ops.txt")
    with open(ops_file, "w") as f:
        f.write("".join(" ".join(op) + "\n" for op in spec[workload]))
    args = ["--data", data, "--work", run_dir, "--ops", ops_file,
            "--seconds", str(seconds), "--trace", str(trace), "--cpus", str(os.cpu_count() or 1),
            "--min-passes", str(spec["timed_passes"][workload]), "--deadline-s", str(JVM_DEADLINE_S),
            "--event-batch", str(spec["event_batch"]), "--doc-batch", str(spec["doc_batch"])]
    tmp = os.path.join(run_dir, "tmp")
    os.makedirs(tmp, exist_ok=True)
    cmd = (["java", "-Xmx2g", "-XX:-UsePerfData", f"-Djava.io.tmpdir={tmp}",
            "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC"]
           + [f"--add-opens=java.base/{p}=ALL-UNNAMED" for p in JDK_OPENS]
           + ["-cp", build.classpath(classes), "perfbench.Harness"] + args)
    log = os.path.join(run_dir, "jvm.log")
    with open(log, "w") as out:
        proc = subprocess.Popen(cmd, stdout=out, stderr=subprocess.STDOUT, cwd=run_dir)
        try:
            rc = proc.wait(timeout=budget_s)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
            fail(f"JVM exceeded {budget_s:.0f} s; log: {log}")
    if rc != 0:
        with open(log) as f:
            tail = f.read()[-3000:]
        fail(f"JVM exited {rc}; log {log}:\n{tail}")
    with open(os.path.join(run_dir, "result.json")) as f:
        return json.load(f)


def check_ops(res, run_dir, data, key, rows_only_schema):
    """name -> 'pass' or 'fail: reason' for every op of the run."""
    import oracle
    verdict = {}
    checks = res["checks"]
    with open(os.path.join(run_dir, "oracle_sql.json")) as f:
        oracle_sql = {op: sql for op, sql in json.load(f).items() if op in checks}
    cache_key = digest(json.dumps(oracle_sql, sort_keys=True), read(os.path.join(BENCH, "oracle.py")))
    cache = os.path.join(WORK, "oracle", f"{key}-{cache_key}.json")
    if os.path.exists(cache):
        with open(cache) as f:
            expected = json.load(f)
    else:
        expected = oracle.oracle_fingerprints(data, oracle_sql, os.path.join(run_dir, "duckdb"))
        os.makedirs(os.path.dirname(cache), exist_ok=True)
        with open(cache + ".tmp", "w") as f:
            json.dump(expected, f)
        os.replace(cache + ".tmp", cache)
    con = oracle.connect(os.path.join(run_dir, "duckdb"))
    for op, c in checks.items():
        if "error" in c:
            verdict[op] = f"fail: {c['error']}"
            continue
        if "ok" in c:  # a streaming feed, checked in the JVM
            verdict[op] = "pass" if c["ok"] else f"fail: {c}"
            continue
        got = oracle.result_fingerprint(con, os.path.join(run_dir, "check", op))
        if "error" in got:
            verdict[op] = f"fail: {got['error']}"
        elif op in expected:
            want = expected[op]
            if "error" in want:
                verdict[op] = f"fail: oracle error {want['error']}"
            elif got != want:
                diff = {k: (got[k], want[k]) for k in want if got.get(k) != want[k]}
                verdict[op] = f"fail: differs from oracle {json.dumps(diff)[:300]}"
            else:
                verdict[op] = "pass"
        else:
            want = rows_only_schema.get(op)
            if got["rows"] == 0:
                verdict[op] = "fail: no rows"
            elif c["schema"] != want:
                verdict[op] = f"fail: schema {c['schema']} is not the registered {want}"
            else:
                verdict[op] = "pass"
    con.close()
    return verdict


def pct(xs, q):
    return float(np.percentile(np.asarray(xs, dtype=float), q))


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[1])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    a = ap.parse_args()
    t_start = time.monotonic()

    with open(os.path.join(BENCH, "workloads.json")) as f:
        spec_all = json.load(f)
    if a.workload not in ("frame_ops", "corpus"):
        fail(f"unknown workload {a.workload}")

    import build
    import host
    try:
        classes, compiled = build.build(WORK)
    except RuntimeError as e:
        fail(str(e))
    build_s = time.monotonic() - t_start

    ticks0 = host.cpu_ticks()
    t0 = time.monotonic()
    data, key = inputs(a.seed)
    gen_s = time.monotonic() - t0

    run_dir = os.path.join(WORK, "runs", f"{a.workload}-{a.trace}")
    shutil.rmtree(run_dir, ignore_errors=True)
    os.makedirs(run_dir)
    budget = (BUILD_EXIT_BY_S if compiled else EXIT_BY_S) - 25 - (time.monotonic() - t_start)
    t0 = time.monotonic()
    res = run_jvm(classes, a.workload, spec_all, data, run_dir, a.seconds, a.trace, budget)
    jvm_s = time.monotonic() - t0

    # registry audit: a listed op missing from the registry already made
    # the JVM fail; registered queries in no workload are only reported
    with open(os.path.join(run_dir, "registry.json")) as f:
        registry = json.load(f)
    listed = {op for w in ("frame_ops", "corpus") for kind, op, _ in spec_all[w] if kind == "query"}
    unlisted = sorted(set(registry) - listed)

    # the host probe is re-measured when the last one is older than PROBE_EVERY_S
    probe_file = os.path.join(WORK, "host_probe.json")
    probe = None
    if os.path.exists(probe_file):
        with open(probe_file) as f:
            probe = json.load(f)
        if time.time() - probe["at"] > PROBE_EVERY_S:
            probe = None
    t0 = time.monotonic()
    verdict = check_ops(res, run_dir, data, key, spec_all["rows_only_schema"])
    check_s = time.monotonic() - t0
    if probe is None:
        probe = {**host.speed_probe(os.cpu_count() or 1), "at": time.time()}
        with open(probe_file, "w") as f:
            json.dump(probe, f)
    probe = {k: v for k, v in probe.items() if k != "at"} | {"probe_age_s": time.time() - probe["at"]}
    attempts = res["attempts"]
    attempted = sum(attempts.values())
    thrown = res["thrown"]
    failed_ops = sorted({op for op, v in verdict.items() if v != "pass"} | set(thrown))
    failed = sum(attempts.get(op, 0) if verdict.get(op, "pass") != "pass" else thrown.get(op, 0)
                 for op in failed_ops)

    op_ms = res["op_ms"]
    metrics = {
        "setup_s": (gen_s + res["jvm_to_first_op_s"], "s"),
        "pass_s": (float(np.median(res["pass_s"])), "s"),
        "op_p50_ms": (pct(op_ms, 50), "ms"),
        "heap_live_mb": (res["heap_live_mb"], "MB"),
    }
    all_metrics = {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()}
    if len(op_ms) >= 100:
        all_metrics["op_p90_ms"] = {"value": pct(op_ms, 90), "unit": "ms"}
    all_metrics["failed_ratio"] = {"value": failed / attempted if attempted else 1.0, "unit": "ratio"}
    batch_ms = res["batch_ms"]
    if batch_ms:
        all_metrics["rows_per_s"] = {"value": res["rows_fed"] / (sum(batch_ms) / 1000), "unit": "1/s"}
        all_metrics["batch_p50_ms"] = {"value": pct(batch_ms, 50), "unit": "ms"}
        if len(batch_ms) >= 100:
            all_metrics["batch_p90_ms"] = {"value": pct(batch_ms, 90), "unit": "ms"}

    context = {
        "workload": a.workload, "seed": a.seed, "trace": a.trace,
        "timed_passes": len(res["pass_s"]), "op_samples": len(op_ms), "batch_samples": len(batch_ms),
        "phase_s": {"build": build_s, "gen": gen_s, "session": res["session_s"],
                    "check_pass": res["check_s"], "timed": sum(res["pass_s"]), "jvm": jvm_s,
                    "result_check": check_s, "total": time.monotonic() - t_start},
        "checks": verdict, "failed_ops": {op: res["errors"].get(op, verdict.get(op)) for op in failed_ops},
        "unlisted_registered_queries": unlisted,
        "excluded_known_defects": spec_all["excluded"],
        "steal_share": host.steal_share(ticks0, host.cpu_ticks()),
        **probe,
    }
    print(json.dumps({"context": context}))
    print(json.dumps({"all_metrics": all_metrics}))

    last = os.path.join(WORK, "last_untraced", f"{a.workload}.json")
    if a.trace == 0:
        os.makedirs(os.path.dirname(last), exist_ok=True)
        with open(last, "w") as f:
            json.dump(all_metrics, f)
        out = {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()}
    else:
        if os.path.exists(last):
            with open(last) as f:
                base = json.load(f)
            ratio = {k: v["value"] / base[k]["value"] for k, v in all_metrics.items()
                     if k in base and base[k]["value"]}
            print(json.dumps({"tracing_overhead": {"traced_over_untraced": ratio}}))
        else:
            print(json.dumps({"tracing_overhead": "no untraced run of this workload in this checkout yet"}))
        out = {k: {"value": v, "unit": next((u for u in ("ratio", "bytes", "ms") if k.endswith(u)),
                                              "count")}
               for k, v in sorted(res["layers"].items())}
    print(json.dumps({"correct": not failed_ops, "attempted": attempted, "failed": failed,
                      "metrics": out}))


if __name__ == "__main__":
    sys.path.insert(0, BENCH)
    main()
