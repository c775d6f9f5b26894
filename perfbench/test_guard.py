"""Guard self-test: the comparison flags an injected 1.3x slowdown of one
operation and flags nothing on an unmodified rerun.

    python3 perfbench/test_guard.py          # or: pytest perfbench/test_guard.py

Run from the root of a checkout. It makes three sets of runs of the
``curation`` workload on the same seeds: a base set, an unmodified rerun,
and a set in which ``run.py --slow`` stretches one operation by 1.3x. The
operation is ``dedup_minhash_lsh_pairs``, whose run-to-run spread is the
lowest of the workload's reads, and the median read, so the slowdown
should show both as that operation and as ``query_p50_s``. It takes about
eight minutes on a 4-vCPU host.
"""

from __future__ import annotations

import json
import subprocess
import sys
from pathlib import Path

HERE = Path(__file__).resolve().parent
sys.path.insert(0, str(HERE))

import compare  # noqa: E402

WORKLOAD = "curation"
SEEDS = (1, 2, 3)
SECONDS = json.loads((HERE.parent / "BENCHMARK.json").read_text())["run_seconds"]
SLOW_OP = "dedup_minhash_lsh_pairs"
FACTOR = 1.3


def run_set(tag: str, out: Path, extra: list[str]) -> list[Path]:
    paths = []
    for seed in SEEDS:
        path = out / f"{tag}-{seed}.json"
        subprocess.run(
            [sys.executable, str(HERE / "run.py"), "--workload", WORKLOAD,
             "--seed", str(seed), "--seconds", str(SECONDS), "--trace", "0",
             "--record", str(path), *extra],
            check=True, stdout=subprocess.DEVNULL, stderr=subprocess.DEVNULL,
        )
        paths.append(path)
    return paths


def test_guard_fires_and_stays_quiet():
    out = Path.cwd() / ".perfbench" / "guard"
    base = compare.load(run_set("base", out, []))
    clean = compare.load(run_set("clean", out, []))
    slow = compare.load(run_set("slow", out, ["--slow", f"{SLOW_OP}={FACTOR}"]))
    quiet = compare.diff(base, clean)
    fired = compare.diff(base, slow)
    print("clean rerun:", quiet or "no metric flagged")
    print(f"{SLOW_OP} x{FACTOR}:", fired or "no metric flagged")
    assert not quiet, quiet
    assert any(f"op {SLOW_OP}:" in f for f in fired), fired


if __name__ == "__main__":
    test_guard_fires_and_stays_quiet()
    print("guard self-test passed")
