"""Compare sets of benchmark run records.

    python3 perfbench/compare.py spread RECORD...
    python3 perfbench/compare.py diff --base RECORD... --new RECORD...

Records are the JSON files ``run.py`` writes under ``.perfbench/records/``.

``spread`` prints, per workload and end-to-end metric, the median and the
distance between the first and third quartile as a share of the median
(``statistics.quantiles(values, n=4)``), next to the metric's bound.

``diff`` flags, per workload:

- an end-to-end metric whose median in ``--new`` is worse than in
  ``--base`` by more than its bound in ``BENCHMARK.json``;
- an operation whose share of its pass's wall time (median over its
  runs) in ``--new`` is larger than in ``--base`` by more than
  ``max(OP_BOUND, 2 x`` the base's own spread of that share``)``. On a
  shared host whose speed drifts, a share holds still where the
  operation's own time does not.

It exits with 1 when anything is flagged.
"""

from __future__ import annotations

import argparse
import json
import statistics
import sys
from pathlib import Path

OP_BOUND = 0.10
BENCH = Path(__file__).resolve().parent.parent / "BENCHMARK.json"


def load(paths) -> dict[str, list[dict]]:
    by_wl: dict[str, list[dict]] = {}
    for p in paths:
        r = json.loads(Path(p).read_text())
        by_wl.setdefault(r["workload"], []).append(r)
    return by_wl


def spread(values: list[float]) -> float:
    """Inter-quartile distance as a share of the median."""
    q1, med, q3 = statistics.quantiles(values, n=4)
    return (q3 - q1) / med if med else 0.0


def e2e_specs() -> list[dict]:
    return json.loads(BENCH.read_text())["end_to_end"]


def op_shares(records: list[dict]) -> dict[str, list[float]]:
    """Operation name -> its median share of its pass's wall time, one
    value per run. A share is relative to the same pass, so it does not
    move when the whole host runs faster or slower."""
    out: dict[str, list[float]] = {}
    for r in records:
        totals: dict[int, float] = {}
        for s in r["samples"]:
            totals[s["pass"]] = totals.get(s["pass"], 0.0) + s["s"]
        per: dict[str, list[float]] = {}
        for s in r["samples"]:
            if s["ok"]:
                per.setdefault(s["name"], []).append(s["s"] / totals[s["pass"]])
        for name, xs in per.items():
            out.setdefault(name, []).append(statistics.median(xs))
    return out


def worse_by(base: float, new: float, better: str) -> float:
    if base == 0:
        return 0.0
    return (new - base) / base if better == "lower" else (base - new) / base


def diff(base: dict[str, list[dict]], new: dict[str, list[dict]]) -> list[str]:
    flags = []
    for wl in sorted(set(base) & set(new)):
        b, n = base[wl], new[wl]
        for m in e2e_specs():
            if any(m["name"] not in r["end_to_end"] for r in b + n):
                continue
            mb = statistics.median(r["end_to_end"][m["name"]] for r in b)
            mn = statistics.median(r["end_to_end"][m["name"]] for r in n)
            w = worse_by(mb, mn, m["better"])
            if w > m["bound"]:
                flags.append(f"{wl} {m['name']}: {mb:.4g} -> {mn:.4g} "
                             f"({w:+.1%}, bound {m['bound']:.0%})")
        ob, on = op_shares(b), op_shares(n)
        for op in sorted(set(ob) & set(on)):
            band = max(OP_BOUND, 2 * spread(ob[op])) if len(ob[op]) > 1 else OP_BOUND
            mb, mn = statistics.median(ob[op]), statistics.median(on[op])
            w = worse_by(mb, mn, "lower")
            if w > band:
                flags.append(f"{wl} op {op}: share of pass {mb:.3f} -> {mn:.3f} "
                             f"({w:+.1%}, band {band:.0%})")
    return flags


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    sub = ap.add_subparsers(dest="cmd", required=True)
    sp = sub.add_parser("spread")
    sp.add_argument("records", nargs="+")
    dp = sub.add_parser("diff")
    dp.add_argument("--base", nargs="+", required=True)
    dp.add_argument("--new", nargs="+", required=True)
    args = ap.parse_args(argv)
    if args.cmd == "spread":
        for wl, recs in sorted(load(args.records).items()):
            print(f"{wl} ({len(recs)} runs)")
            for m in e2e_specs():
                vals = [r["end_to_end"][m["name"]] for r in recs if m["name"] in r["end_to_end"]]
                if not vals:
                    continue
                s = spread(vals) if len(vals) > 1 else 0.0
                print(f"  {m['name']:14s} median {statistics.median(vals):10.4f} {m['unit']:3s}"
                      f"  spread {s:6.1%}  bound {m['bound']:.0%}")
        return 0
    flags = diff(load(args.base), load(args.new))
    for f in flags:
        print("FLAG", f)
    if not flags:
        print("no metric flagged")
    return 1 if flags else 0


if __name__ == "__main__":
    sys.exit(main())
