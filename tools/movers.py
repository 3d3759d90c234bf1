#!/usr/bin/env python3
"""Cross-round bench adjudication (the round number is an argument,
not a fork of the file): for the
common queries of two sharded-bench artifacts, total ratio raw,
st-normalized, and mt-normalized; per-query movers beyond 1.5x in
either direction under the workload-matched (mt) normalizer, with the
st number reported alongside (bench-discipline rule: 32-thread suite
walls normalize by the mt probe; per-shard probes localize epochs).

Usage: tools/movers.py NEW.json OLD.json OUT.json [new_label old_label]
"""
import json, sys


def main():
    new = json.load(open(sys.argv[1]))
    old = json.load(open(sys.argv[2]))
    ln = sys.argv[4] if len(sys.argv) > 4 else "new"
    lo = sys.argv[5] if len(sys.argv) > 5 else "old"
    qn, qo = new["queries"], old["queries"]
    common = sorted(set(qn) & set(qo))
    tn, to = sum(qn[q] for q in common), sum(qo[q] for q in common)
    st = (new.get("host_speed"), old.get("host_speed"))
    mt = (new.get("host_speed_mt"), old.get("host_speed_mt"))
    raw = tn / to
    st_norm = raw / (st[0] / st[1]) if all(st) else None
    mt_norm = raw / (mt[0] / mt[1]) if all(mt) else None
    movers = {}
    for q in common:
        if qo[q] <= 0:
            continue
        r = qn[q] / qo[q]
        rn = r / (mt[0] / mt[1]) if all(mt) else r
        if rn > 1.5 or rn < 1 / 1.5:
            movers[q] = {f"{lo}_sec": qo[q], f"{ln}_sec": qn[q], "raw_ratio": round(r, 2),
                         "mt_normalized": round(rn, 2),
                         "st_normalized": round(r / (st[0] / st[1]), 2) if all(st) else None}
    out = {
        "common_queries": len(common),
        f"total_{ln}_sec": round(tn, 1), f"total_{lo}_sec": round(to, 1),
        "raw_ratio": round(raw, 3),
        "host_speed_st": {ln: st[0], lo: st[1]},
        "host_speed_mt": {ln: mt[0], lo: mt[1]},
        "st_normalized_ratio": round(st_norm, 3) if st_norm else None,
        "mt_normalized_ratio": round(mt_norm, 3) if mt_norm else None,
        "movers_over_1p5x_mt_normalized": movers,
    }
    json.dump(out, open(sys.argv[3], "w"), indent=1)
    print(json.dumps({k: v for k, v in out.items()
                      if k != "movers_over_1p5x_mt_normalized"}))
    print("movers:", list(movers))


if __name__ == "__main__":
    main()
