"""Write the reference per-layer record of each workload.

    python3 perfbench/reference.py [--seed 1] [workload ...]

Run from the root of a checkout. For each workload it makes three
alternating pairs of untraced and traced runs on the same seed and
writes ``perfbench/reference/<workload>-seed<seed>.json``: the
end-to-end and per-layer metrics of the last pair, the tracing overhead
(median traced ``pass_s`` minus median untraced ``pass_s``), whether
every run saw byte-identical inputs, and one record per operation of
the last traced run (spans with self times, planning phases, engine
totals), for a later run to diff against.
"""

from __future__ import annotations

import argparse
import json
import statistics
import subprocess
import sys
import tempfile
from pathlib import Path

HERE = Path(__file__).resolve().parent
SECONDS = json.loads((HERE.parent / "BENCHMARK.json").read_text())["run_seconds"]
PAIRS = 3  # untraced/traced pairs, alternating, per workload


def one_run(workload: str, seed: int, trace: int) -> dict:
    with tempfile.TemporaryDirectory(dir=Path.cwd() / ".perfbench") as d:
        path = Path(d) / "record.json"
        subprocess.run(
            [sys.executable, str(HERE / "run.py"), "--workload", workload,
             "--seed", str(seed), "--seconds", str(SECONDS), "--trace", str(trace),
             "--record", str(path)],
            check=True, stdout=subprocess.DEVNULL,
        )
        return json.loads(path.read_text())


def main(argv=None) -> int:
    import workloads

    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("workloads", nargs="*", default=sorted(workloads.WORKLOADS))
    args = ap.parse_args(argv)
    (Path.cwd() / ".perfbench").mkdir(exist_ok=True)
    out_dir = HERE / "reference"
    out_dir.mkdir(exist_ok=True)
    for wl in args.workloads:
        plain, traced = [], []
        for _ in range(PAIRS):
            plain.append(one_run(wl, args.seed, 0))
            traced.append(one_run(wl, args.seed, 1))
        untraced_s = statistics.median(r["end_to_end"]["pass_s"] for r in plain)
        traced_s = statistics.median(r["layers"]["trace.pass_s"] for r in traced)
        last = traced[-1]
        record = {
            "workload": wl, "seed": args.seed, "seconds": SECONDS, "cores": last["cores"],
            "input_sha256": last["input_sha256"],
            # the same seed gave the same bytes in every run
            "input_sha256_repeatable": all(
                r["input_sha256"] == last["input_sha256"] for r in plain + traced),
            "end_to_end": plain[-1]["end_to_end"],
            "layers": last["layers"],
            "tracing_overhead": {
                "pairs": PAIRS,
                "untraced_pass_s": [r["end_to_end"]["pass_s"] for r in plain],
                "traced_pass_s": [r["layers"]["trace.pass_s"] for r in traced],
                "median_overhead_s": traced_s - untraced_s,
                "median_overhead_share": (traced_s - untraced_s) / untraced_s,
            },
            "checks": last["checks"],
            "ops": last["ops"],
        }
        path = out_dir / f"{wl}-seed{args.seed}.json"
        path.write_text(json.dumps(record, indent=1) + "\n")
        print(f"{wl}: median pass_s untraced {untraced_s:.3f} s, traced {traced_s:.3f} s -> {path}")
    return 0


if __name__ == "__main__":
    sys.path.insert(0, str(HERE))
    sys.exit(main())
