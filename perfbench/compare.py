#!/usr/bin/env python3
"""Compare two sets of benchmark records, workload by workload.

    python3 perfbench/compare.py BASE_RECORDS_DIR NEW_RECORDS_DIR

Each directory holds `.json` records that `run.py --record FILE` wrote.
Every record holds an untraced run, and only that run is compared. Records
are paired by workload and seed, and a pair is refused unless its cpus, heap,
scale factor, seed and resolved mix are identical: numbers from
different hosts, heaps or mixes are never compared. For every end-to-end
metric the report gives both sides' medians and quartiles and marks a
metric that got worse by more than its bound in BENCHMARK.json.
"""

import glob
import json
import os
import statistics
import sys

MUST_MATCH = ("cpus", "heap", "sf", "seed", "mix_digest")


def load(d):
    out = {}
    for p in sorted(glob.glob(os.path.join(d, "*.json"))):
        with open(p) as f:
            rec = json.load(f)
        prov = rec["provenance"]
        out.setdefault((prov["workload"], prov["seed"]), []).append(rec)
    return out


def quartiles(vals):
    if len(vals) < 2:
        return vals[0], vals[0], vals[0]
    q1, q2, q3 = statistics.quantiles(vals, n=4)
    return q1, q2, q3


def main(argv):
    if len(argv) != 2:
        print(__doc__, file=sys.stderr)
        return 2
    here = os.path.dirname(os.path.abspath(__file__))
    with open(os.path.join(os.path.dirname(here), "BENCHMARK.json")) as f:
        spec = json.load(f)
    base, new = load(argv[0]), load(argv[1])
    refused = False
    for w in sorted({w for w, _ in base} | {w for w, _ in new}):
        pairs = []
        for key in sorted(k for k in base if k[0] == w):
            if key not in new:
                continue
            for b in base[key]:
                for n in new[key]:
                    diff = [k for k in MUST_MATCH if b["provenance"][k] != n["provenance"][k]]
                    if diff:
                        print("%s seed %d: refused, provenance differs in %s"
                              % (w, key[1], ", ".join(diff)))
                        refused = True
                    else:
                        pairs.append((b, n))
        if not pairs:
            print("%s: no comparable pairs" % w)
            continue
        print("%s: %d pairs" % (w, len(pairs)))
        for m in spec["end_to_end"]:
            name = m["name"]
            bv = [b["untraced"]["metrics"][name] for b, _ in pairs]
            nv = [n["untraced"]["metrics"][name] for _, n in pairs]
            bq, nq = quartiles(bv), quartiles(nv)
            change = (nq[1] - bq[1]) / bq[1] if bq[1] else float("nan")
            worse = change > m["bound"] if m["better"] == "lower" else -change > m["bound"]
            print("  %-12s base %.4g [%.4g, %.4g]  new %.4g [%.4g, %.4g]  %+.1f%%%s"
                  % (name, bq[1], bq[0], bq[2], nq[1], nq[0], nq[2], 100 * change,
                     "  WORSE than bound %.0f%%" % (100 * m["bound"]) if worse else ""))
    return 1 if refused else 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
