#!/usr/bin/env python3
"""Sharded fresh-JVM bench harness.

The round-6/7 lesson: a 95-query sf10 suite in ONE shared JVM ages the
JVM enough to inflate late queries 3-13x over their fresh-JVM cost
(measured: ngram 97 s fresh vs 572 s aged, same plan). This harness
splits the registry into family-coherent shards, runs each shard in a
FRESH forked JVM (tools/runjvm.sh graft.Bench <csv>), and merges the
per-shard JSON into one artifact. Families that legitimately share a
SharedFrames entry (q_dup_*, q_dsir*) stay in one shard so the
amortization is measured, not destroyed.

Usage: tools/bench_sharded.py SF_DIR OUT_JSON [ITERS]
"""
import json, subprocess, sys, os, collections, time


PROBE_CHECKSUM = 2072695552     # the pinned loop's value at n=40_000_000
PROBE_MT_CHECKSUM = 738653952   # the same loop's value at n=8_000_000


def host_speed_probe(n=40_000_000):
    """Calibrated host-speed probe: a pinned-iteration single-thread
    CPU loop (~4 s nominal), run immediately before each shard. Epoch
    adjudication was previously inference from canary shards of
    untouched queries; this makes it arithmetic — two artifacts'
    wall-times are comparable after dividing by their host_speed
    ratios. Returns (seconds, checksum_ok); a checksum mismatch against
    PROBE_CHECKSUM means the probe itself is broken (interrupted or
    miscompiled loop), so callers record host_speed as None instead of
    adjudicating against a bogus number."""
    t0 = time.perf_counter()
    acc = 0
    for i in range(n):
        acc = (acc * 1103515245 + i) & 0xFFFFFFFF
    elapsed = round(time.perf_counter() - t0, 3)
    return (elapsed, True) if acc == PROBE_CHECKSUM else (None, False)


def host_speed_probe_mt(n=8_000_000, threads=32):
    """32-way parallel companion to host_speed_probe: the SAME pinned
    loop run simultaneously on `threads` processes (wall = slowest),
    recorded as host_speed_mt. Motivation (r15, BENCH_sf01_r15.json
    core shard): the single-thread probe read 9.487 s — 2× nominal —
    while the shard's 46 untouched 32-thread queries ran ~30% FASTER
    nominally; single-thread epochs (boost clocks, scheduler placement)
    and all-cores epochs (shared caches, memory bandwidth, sustained
    clocks) can diverge, and Spark queries live in the second regime.
    Recording both lets a reader pick the normalizer that matches the
    workload instead of trusting one number. Uses processes, not
    threads (the loop is pure-Python and the GIL would serialize it).
    Returns (seconds, checksum_ok)."""
    import concurrent.futures
    t0 = time.perf_counter()
    try:
        with concurrent.futures.ProcessPoolExecutor(max_workers=threads) as ex:
            accs = list(ex.map(_mt_loop, [n] * threads))
    except Exception:
        return (None, False)
    elapsed = round(time.perf_counter() - t0, 3)
    ok = all(a == PROBE_MT_CHECKSUM for a in accs)
    return (elapsed, True) if ok else (None, False)


def _mt_loop(n):
    acc = 0
    for i in range(n):
        acc = (acc * 1103515245 + i) & 0xFFFFFFFF
    return acc


def main():
    sf_dir = sys.argv[1]
    out_json = sys.argv[2]
    iters = sys.argv[3] if len(sys.argv) > 3 else "1"
    repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

    # full registry from the CODE (graft.Bench --list prints the registry),
    # never from a frozen round artifact — a pinned artifact silently
    # excludes every query registered after that round
    _r = subprocess.run([os.path.join(repo, "tools/runjvm.sh"), "graft.Bench", "--list"],
                        capture_output=True, text=True, check=True)
    names = sorted(l.strip() for l in _r.stdout.splitlines() if l.strip().startswith("q_"))
    assert names, "empty registry from graft.Bench --list"

    shards = collections.OrderedDict((s, []) for s, _ in SHARD_RULES)
    for n in names:
        for s, prefixes in SHARD_RULES:
            if not prefixes or any(n.startswith(p) for p in prefixes):
                shards[s].append(n); break

    merged, errors, shard_info = {}, {}, {}
    for shard, qs in shards.items():
        if not qs:
            continue
        env = dict(os.environ, SPARK_GRAFT_SF_DIR=sf_dir, SPARK_GRAFT_CPUS="32",
                   SPARK_GRAFT_BENCH_ITERS=iters)
        speed, ck_ok = host_speed_probe()
        if not ck_ok:
            print(f"[shard {shard}] host_speed probe CHECKSUM MISMATCH — recording null")
        speed_mt, ck_mt = host_speed_probe_mt()
        if not ck_mt:
            print(f"[shard {shard}] host_speed_mt probe FAILED — recording null")
        print(f"[shard {shard}] {len(qs)} queries (host_speed {speed}s, mt {speed_mt}s)",
              flush=True)
        r = subprocess.run([os.path.join(repo, "tools/runjvm.sh"), "graft.Bench",
                            ",".join(qs)], env=env, capture_output=True, text=True)
        lines = [l for l in r.stdout.splitlines() if l.startswith("{")]
        total_line = next((json.loads(l) for l in reversed(lines)
                           if '"metric":"total"' in l), None)
        full_line = next((json.loads(l) for l in lines
                          if '"metric":"queries_full"' in l), None)
        err_line = next((json.loads(l) for l in lines
                         if '"metric":"errors"' in l), None)
        if full_line is None:
            print(f"[shard {shard}] FAILED rc={r.returncode}\n{r.stdout[-2000:]}\n{r.stderr[-2000:]}")
            shard_info[shard] = {"rc": r.returncode, "error": "no output line"}
            continue
        merged.update(full_line["queries"])
        if err_line:
            errors.update(err_line["errors"])
        shard_info[shard] = {"rc": r.returncode, "n": len(qs),
                             "wall": total_line["value"] if total_line else None,
                             "host_speed": speed, "host_speed_mt": speed_mt}
        print(f"[shard {shard}] done: {shard_info[shard]}", flush=True)

    # streaming rates in their own fresh JVM (a query-subset shard skips
    # the streaming section entirely — the r10 sf10 artifact had none)
    streaming, streaming_error = None, None
    _s = subprocess.run([os.path.join(repo, "tools/runjvm.sh"), "graft.Bench",
                         "--streaming"],
                        env=dict(os.environ, SPARK_GRAFT_SF_DIR=sf_dir,
                                 SPARK_GRAFT_CPUS="32"),
                        capture_output=True, text=True)
    for l in _s.stdout.splitlines():
        if l.startswith("{") and '"metric":"streaming"' in l:
            streaming = json.loads(l)["events_per_sec"]
    if streaming is None:
        # a missing metric line is a FAILURE, not "not measured": record the
        # subprocess exit code + stderr tail so the artifact distinguishes
        # events_per_sec: null (broken) from an intentionally skipped section
        streaming_error = {"rc": _s.returncode, "stderr_tail": _s.stderr[-500:]}
    print(f"[streaming] {streaming or streaming_error}")

    speeds = sorted(v["host_speed"] for v in shard_info.values()
                    if v.get("host_speed") is not None)
    speeds_mt = sorted(v["host_speed_mt"] for v in shard_info.values()
                       if v.get("host_speed_mt") is not None)
    artifact = {
        "metric": "total", "value": round(sum(merged.values()), 2), "unit": "sec",
        "sf": sf_dir, "iters": int(iters), "sharding": "fresh JVM per shard",
        # host epoch: same-code runs on this host swing up to 2.6x/query
        # between host-days — a reader comparing artifacts needs to know
        # whether two totals share a host-hour before reading them as code
        "host_epoch": int(time.time()),
        # calibrated host-speed: median of the per-shard pinned-loop seconds
        # (see host_speed_probe) — divide two artifacts' walls by their
        # host_speed ratio before reading a gap as code movement
        "host_speed": speeds[len(speeds) // 2] if speeds else None,
        # 32-process variant of the same loop (wall of the slowest worker):
        # single-thread and all-cores epochs can diverge (see
        # host_speed_probe_mt) — normalize 32-thread query walls by THIS
        # when the two disagree
        "host_speed_mt": speeds_mt[len(speeds_mt) // 2] if speeds_mt else None,
        "queries": dict(sorted(merged.items())),
        "errors": errors, "shards": shard_info, "n_queries": len(merged),
        "events_per_sec": streaming,
    }
    if streaming_error is not None:
        artifact["streaming_error"] = streaming_error
    with open(out_json, "w") as f:
        json.dump(artifact, f, indent=1)
    print(f"wrote {out_json}: {artifact['n_queries']} queries, "
          f"total {artifact['value']} s, {len(errors)} errors")


SHARD_RULES = [  # (shard, prefixes) — first match wins
    # the suffix-array build gets its OWN fresh JVM: the ~229 s extents
    # build otherwise ages the JVM enough to inflate the unrelated spans
    # queries 2-3x in-suite every round (r12/r13 A-Bs kept
    # re-adjudicating the same queries back to their isolated band —
    # fix the harness instead). Its one consumer is q_dup_passages;
    # q_dup_spans_sa is the k-gram span pipeline at k=5 and runs with
    # the other q_dup_ span queries below
    ("sa_extents", ["q_dup_passages"]),
    ("sa",       ["q_dup_"]),
    ("dedup",    ["q_dedup_"]),
    ("dsir_cur", ["q_dsir", "q_contamination", "q_split", "q_pipeline",
                   "q_quality", "q_mixture", "q_sample", "q_pack",
                   "q_redact", "q_shuffle", "q_chunk"]),
    ("text",     ["q_text_", "q_tfidf", "q_colloc", "q_heavy", "q_vocab",
                   "q_bpe"]),
    ("core",     []),  # fallback
]


# ProcessPoolExecutor workers re-import this module; without the guard
# a spawn/forkserver start method (the Python 3.14 Linux default) would
# re-execute the whole benchmark loop recursively in every worker.
if __name__ == "__main__":
    main()
