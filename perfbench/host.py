"""Host context recorded beside every run: a pinned-loop CPU speed probe
(single thread and one process per core, the same loop and checksums as
`tools/bench_sharded.py`) and the share of CPU time the hypervisor stole
over the run, from /proc/stat. Both are context for reading a run, not
gated metrics."""
import subprocess
import sys
import time

PROBE_CHECKSUM = 2072695552     # the loop's value at n=40_000_000
PROBE_MT_CHECKSUM = 738653952   # the loop's value at n=8_000_000

_LOOP = """
import sys
acc = 0
for i in range(int(sys.argv[1])):
    acc = (acc * 1103515245 + i) & 0xFFFFFFFF
print(acc)
"""


def _loops(n, procs):
    """Runs the loop in `procs` fresh interpreters at once; returns
    (wall seconds of the slowest, every checksum)."""
    t0 = time.perf_counter()
    ps = [subprocess.Popen([sys.executable, "-c", _LOOP, str(n)], stdout=subprocess.PIPE,
                           text=True) for _ in range(procs)]
    outs = [p.communicate()[0].strip() for p in ps]
    return time.perf_counter() - t0, outs


def speed_probe(procs):
    """Single-thread probe (40M iterations), then the `procs`-process
    probe (8M each). A wrong checksum records None."""
    st, out = _loops(40_000_000, 1)
    mt, outs = _loops(8_000_000, procs)
    return {"host_speed_s": st if out == [str(PROBE_CHECKSUM)] else None,
            "host_speed_mt_s": mt if outs == [str(PROBE_MT_CHECKSUM)] * procs else None,
            "probe_procs": procs}


def cpu_ticks():
    """(steal ticks, total ticks) of the aggregate cpu line."""
    with open("/proc/stat") as f:
        vals = [int(v) for v in f.readline().split()[1:]]
    steal = vals[7] if len(vals) > 7 else 0
    return steal, sum(vals[:8])


def steal_share(before, after):
    total = after[1] - before[1]
    return (after[0] - before[0]) / total if total > 0 else 0.0
