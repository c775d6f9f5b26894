"""Run one benchmark workload and print its metrics.

    python3 perfbench/run.py --workload etl --seed 1 --seconds 10 --trace 0

Run from the root of a checkout of the repository. The last line of
standard output is one JSON object with the keys ``correct``,
``attempted``, ``failed`` and ``metrics``: the end-to-end metrics with
``--trace 0``, the per-layer metrics with ``--trace 1``. A fuller record
(every operation's latency, the input hashes, the checks and, traced,
the spans and per-operation engine totals) is written under
``.perfbench/records/``.

Load: one Python process driving Spark ``local[N]``, N = half the cores
this process may use; a closed loop with one client, each operation
starting when the previous one has returned. The only extra thread
samples memory.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import statistics
import subprocess
import sys
import threading
import time
import traceback
from pathlib import Path

HERE = Path(__file__).resolve().parent
BENCHMARK = HERE.parent / "BENCHMARK.json"
sys.path.insert(0, str(HERE))

# Passes keep getting faster for several passes after the warm-up (the
# first measured one up to 40% slower than the third); the median of
# four averages the two middle ones and leaves the first out.
MIN_PASSES = 4
DRIVER_MEM = "2g"


class Context:
    """What the workloads share: the session, the tracer, directories."""

    def __init__(self, repo: Path, work: Path, seed: int, tracer):
        self.repo, self.work, self.seed, self.tracer = repo, work, seed, tracer
        self.spark = None
        self.hashes: dict = {}
        self.warmup_ops: list[tuple[str, float]] = []

    def timed_warmup(self, name: str, fn) -> None:
        t = time.perf_counter()
        fn()
        self.warmup_ops.append((name, time.perf_counter() - t))


_CLK_TCK = os.sysconf("SC_CLK_TCK")
_PAGE = os.sysconf("SC_PAGE_SIZE")


def _stat_fields(pid: int) -> list[str]:
    """Fields of /proc/<pid>/stat after the command name; field n of
    proc(5) is index n - 3."""
    with open(f"/proc/{pid}/stat") as fh:
        return fh.read().rsplit(")", 1)[1].split()


def process_tree(root: int) -> list[int]:
    """``root`` and all its descendants."""
    children: dict[int, list[int]] = {}
    for d in os.listdir("/proc"):
        if d.isdigit():
            try:
                children.setdefault(int(_stat_fields(int(d))[1]), []).append(int(d))
            except (OSError, IndexError, ValueError):
                continue
    out, todo = [], [root]
    while todo:
        pid = todo.pop()
        out.append(pid)
        todo.extend(children.get(pid, ()))
    return out


def cpu_seconds(root: int) -> float:
    """CPU time used so far by this process and by ``root``'s process
    tree (the Spark JVM and its Python workers), reaped children
    included. Time the hypervisor steals from the host is not in it."""
    total = time.process_time()
    for pid in process_tree(root):
        try:
            total += sum(int(x) for x in _stat_fields(pid)[11:15]) / _CLK_TCK
        except (OSError, IndexError, ValueError):
            continue
    return total


class RssSampler(threading.Thread):
    """Samples the resident memory of the Spark JVM and its descendants
    (the Python workers) from /proc."""

    def __init__(self, interval: float = 0.2):
        super().__init__(daemon=True)
        self.interval = interval
        self.root_pid: int | None = None
        self.samples: list[tuple[float, int]] = []
        self._stop_evt = threading.Event()

    def run(self) -> None:
        while not self._stop_evt.wait(self.interval):
            if self.root_pid is not None:
                self.samples.append((time.time(), self._tree_rss(self.root_pid)))

    def stop(self) -> None:
        self._stop_evt.set()
        self.join(timeout=5)

    @staticmethod
    def _tree_rss(root: int) -> int:
        total = 0
        for pid in process_tree(root):
            try:
                with open(f"/proc/{pid}/statm") as fh:
                    total += int(fh.read().split()[1]) * _PAGE
            except (OSError, IndexError, ValueError):
                continue
        return total

    def peak_mb(self, start: float, end: float) -> float:
        vals = [v for t, v in self.samples if start <= t <= end]
        return max(vals) / 2**20 if vals else 0.0


def _alive(pid: int) -> bool:
    """Whether ``pid`` exists and is not a zombie."""
    try:
        return _stat_fields(pid)[0] != "Z"
    except (OSError, IndexError):
        return False


def stop_spark(spark) -> None:
    """Stop the session, then end the gateway JVM and its Python workers
    and wait until each has gone. Left to exit with this process, the
    JVM outlived it by 30-50 s."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    proc = getattr(gateway, "proc", None)
    pids = process_tree(proc.pid) if proc is not None else []
    try:
        if spark is not None:
            spark.stop()
    finally:
        if proc is None:
            return
        gateway.shutdown()
        SparkContext._gateway = SparkContext._jvm = None
        pids = list(dict.fromkeys(pids + process_tree(proc.pid)))
        try:
            proc.stdin.close()
        except OSError:
            pass
        try:
            proc.wait(timeout=5)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
        # workers the JVM forked are not our children: signal, then poll
        for sig in (signal.SIGTERM, signal.SIGKILL):
            for pid in pids:
                if pid != proc.pid and _alive(pid):
                    try:
                        os.kill(pid, sig)
                    except OSError:
                        pass
            end = time.monotonic() + 5
            while any(_alive(p) for p in pids if p != proc.pid) and time.monotonic() < end:
                time.sleep(0.05)


def spin(seconds: float) -> None:
    """Busy-wait: an injected slowdown that costs CPU as well as time."""
    end = time.perf_counter() + seconds
    while time.perf_counter() < end:
        pass


def percentile(xs: list[float], q: float) -> float:
    """Linear-interpolated percentile, q in [0, 100]."""
    xs = sorted(xs)
    if len(xs) == 1:
        return xs[0]
    pos = (len(xs) - 1) * q / 100
    i = int(pos)
    return xs[i] + (xs[min(i + 1, len(xs) - 1)] - xs[i]) * (pos - i)


def parse_args(argv=None):
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--record", default=None, metavar="PATH",
                    help="where to write the run record (default: under .perfbench/records/)")
    ap.add_argument("--slow", default=None, metavar="OP=FACTOR",
                    help="stretch every run of operation OP by FACTOR by busy-waiting "
                         "(the guard self-test's injected slowdown)")
    return ap.parse_args(argv)


def spark_conf(work: Path, trace: bool) -> dict[str, str]:
    conf = {
        "spark.local.dir": str(work / "spark-local"),
        "spark.sql.warehouse.dir": str(work / "warehouse"),
        "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={work / 'tmp'} -XX:-UsePerfData",
    }
    if trace:
        conf.update({
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": str(work / "eventlog"),
            "spark.eventLog.compress": "false",
            "spark.eventLog.rolling.enabled": "false",
            "spark.sql.pyspark.udf.profiler": "perf",
        })
    return conf


def main(argv=None) -> int:
    args = parse_args(argv)
    repo = Path.cwd()
    if not (repo / "data_pipeline_with_spark_spark" / "session.py").is_file():
        print("perfbench: run from the root of a checkout of the repository "
              "(data_pipeline_with_spark_spark/ not found)", file=sys.stderr)
        return 2
    work = repo / ".perfbench" / f"{args.workload}-{args.seed}-{os.getpid()}"
    for sub in ("tmp", "spark-local", "eventlog"):
        (work / sub).mkdir(parents=True, exist_ok=True)
    # Spark task threads, their Python workers, GC and JIT threads on
    # every core of a shared host made the runs follow the neighbours'
    # load; on half the cores the passes took as long and varied less.
    cores = max(1, len(os.sched_getaffinity(0)) // 2)
    os.environ.update({
        "SPARK_GRAFT_CPUS": str(cores),
        "SPARK_GRAFT_DRIVER_MEM": DRIVER_MEM,
        "SPARK_GRAFT_UI": "false",
        "TMPDIR": str(work / "tmp"),
        "SPARK_LOCAL_DIRS": str(work / "spark-local"),
        "PYSPARK_PYTHON": sys.executable,
        "PYSPARK_DRIVER_PYTHON": sys.executable,
        # one BLAS thread per Python worker: a worker is one task slot
        "OPENBLAS_NUM_THREADS": "1",
        "OMP_NUM_THREADS": "1",
        "MKL_NUM_THREADS": "1",
    })
    import tempfile

    tempfile.tempdir = str(work / "tmp")
    sys.path.insert(0, str(repo))
    try:
        return run(args, repo, work, cores)
    finally:
        shutil.rmtree(work, ignore_errors=True)


def run(args, repo: Path, work: Path, cores: int) -> int:
    import numpy as np

    import spans as tr
    import workloads
    from data_pipeline_with_spark_spark.session import get_spark

    if args.workload not in workloads.WORKLOADS:
        print(f"perfbench: unknown workload {args.workload!r}; one of "
              f"{sorted(workloads.WORKLOADS)}", file=sys.stderr)
        return 2
    slow_op, slow_factor = None, 1.0
    if args.slow:
        slow_op, factor = args.slow.split("=")
        slow_factor = float(factor)

    tracer = tr.Tracer(bool(args.trace))
    ctx = Context(repo, work, args.seed, tracer)
    wl = workloads.WORKLOADS[args.workload](ctx)

    t = time.perf_counter()
    wl.prepare()
    gen_s = time.perf_counter() - t
    print(f"inputs generated in {gen_s:.2f} s", file=sys.stderr)

    sampler = RssSampler()
    sampler.start()
    conf = spark_conf(work, bool(args.trace))
    try:
        # one set-up per run, from a cold JVM: repeating it (a fresh
        # SparkContext and warm-up each time) costs more than a run has
        t0 = time.perf_counter()
        ctx.spark = get_spark(f"perfbench-{args.workload}", extra_conf=conf)
        start_s = time.perf_counter() - t0
        sampler.root_pid = ctx.spark.sparkContext._gateway.proc.pid
        wl.setup()
        setup_s = time.perf_counter() - t0
        if tracer.enabled:
            patch(tracer)

        jvm = sampler.root_pid
        samples: list[dict] = []
        pass_times: list[float] = []
        pass_cpu: list[float] = []
        errors: list[str] = []
        run_start = time.time()
        # a fixed number of whole passes, sized from --seconds by the
        # workload's pass time on the reference host: a count that
        # followed the clock would measure fewer and colder passes while
        # the host is slow, and so widen the spread between runs
        n_passes = max(MIN_PASSES, round(args.seconds / wl.pass_s))
        for pass_no in range(n_passes):
            rng = np.random.default_rng([args.seed, pass_no])
            ops = wl.ops(pass_no, rng)
            p0 = time.perf_counter()
            pc0 = cpu_seconds(jvm)
            for i, (name, kind, fn) in enumerate(ops):
                op_id = f"p{pass_no}.{i}.{name}"
                with tracer.op(ctx.spark, op_id, name, kind, pass_no):
                    c0 = cpu_seconds(jvm)
                    o0 = time.perf_counter()
                    ok = True
                    try:
                        fn()
                    except Exception:
                        ok = False
                        errors.append(f"{op_id}: {traceback.format_exc()}")
                    dt = time.perf_counter() - o0
                    if name == slow_op:
                        spin(dt * (slow_factor - 1))
                        dt = time.perf_counter() - o0
                    c1 = cpu_seconds(jvm)
                samples.append({"op": op_id, "name": name, "kind": kind,
                                "pass": pass_no, "s": dt, "cpu_s": c1 - c0, "ok": ok})
            pass_times.append(time.perf_counter() - p0)
            pass_cpu.append(cpu_seconds(jvm) - pc0)
        run_end = time.time()
        udf_s = udf_profile_seconds(ctx.spark, repo, work) if tracer.enabled else 0.0
        tracer.unpatch()

        checks = wl.check()
        layer_extra = wl.layer_metrics() if tracer.enabled else {}
    finally:
        stop_spark(ctx.spark)
        sampler.stop()

    failed_checks = [c for c in checks if not c[1]]
    for c in failed_checks:
        print(f"check failed: {c[0]}: {c[2]}", file=sys.stderr)
    for e in errors:
        print(f"operation failed: {e}", file=sys.stderr)
    attempted = len(samples)
    failed = sum(not s["ok"] for s in samples) + len(failed_checks)

    def lat(kind: str, key: str) -> list[float]:
        return [s[key] for s in samples if s["kind"] == kind and s["ok"]]

    e2e = {
        "setup_s": (setup_s, "s"),
        "pass_s": (statistics.median(pass_times), "s"),
        "query_p50_s": (percentile(lat("read", "s"), 50), "s"),
        "query_p90_s": (percentile(lat("read", "s"), 90), "s"),
        "commit_p50_s": (percentile(lat("write", "s"), 50), "s"),
        "commit_p90_s": (percentile(lat("write", "s"), 90), "s"),
        "pass_cpu_s": (statistics.median(pass_cpu), "s"),
        "query_cpu_p50_s": (percentile(lat("read", "cpu_s"), 50), "s"),
        "query_cpu_p90_s": (percentile(lat("read", "cpu_s"), 90), "s"),
        "commit_cpu_p50_s": (percentile(lat("write", "cpu_s"), 50), "s"),
        "commit_cpu_p90_s": (percentile(lat("write", "cpu_s"), 90), "s"),
        "peak_rss_mb": (sampler.peak_mb(run_start, run_end), "MB"),
    }
    record = {
        "workload": args.workload, "seed": args.seed, "seconds": args.seconds,
        "trace": args.trace, "cores": cores, "slow": args.slow,
        "input_generation_s": gen_s, "input_sha256": ctx.hashes,
        "session_start_s": start_s, "warmup_s": setup_s - start_s,
        "warmup_ops": ctx.warmup_ops, "pass_s": pass_times, "pass_cpu_s": pass_cpu,
        "samples": samples,
        "checks": [{"name": n, "ok": ok, "msg": m} for n, ok, m in checks],
        "end_to_end": {k: v for k, (v, _u) in e2e.items()},
        "ops_failed_ratio": failed / max(attempted, 1),
    }
    if tracer.enabled:
        log_files = sorted((work / "eventlog").iterdir(), key=lambda p: p.stat().st_mtime)
        log = tr.parse_event_log(log_files[-1])
        layers = tr.per_layer(tracer, log, cores, start_s, setup_s - start_s, udf_s, pass_times)
        layers.update(layer_extra)
        layers["exec.peak_rss_mb"] = e2e["peak_rss_mb"][0]
        layers["ops_failed_ratio"] = record["ops_failed_ratio"]
        record["layers"] = layers
        record["spans"] = tracer.spans
        record["ops"] = tr.per_op_records(tracer, log)
        metrics = {k: {"value": v, "unit": tr.UNITS[k]} for k, v in
                   ((k, layers.get(k, 0.0)) for k in tr.UNITS)}
    else:
        names = [m["name"] for m in json.loads(BENCHMARK.read_text())["end_to_end"]]
        metrics = {k: {"value": e2e[k][0], "unit": e2e[k][1]} for k in names}
    if args.record:
        path = Path(args.record)
    else:
        stamp = time.strftime("%Y%m%dT%H%M%S")
        path = (repo / ".perfbench" / "records"
                / f"{args.workload}-s{args.seed}-t{args.trace}-{stamp}-{os.getpid()}.json")
    path.parent.mkdir(parents=True, exist_ok=True)
    path.write_text(json.dumps(record, indent=1, default=str))
    print(json.dumps({"correct": not failed_checks and not errors,
                      "attempted": attempted, "failed": failed, "metrics": metrics}))
    return 0


def patch(tracer) -> None:
    """Span wrappers on the package's lake and streaming entry points."""
    import spans as tr
    from data_pipeline_with_spark_spark.lake.versioned import VersionedTable

    for name in tr.LAKE_WRITES:
        tracer.wrap(VersionedTable, name, "lake")
    for name in tr.LAKE_READS:
        tracer.wrap(VersionedTable, name, "lake")


def udf_profile_seconds(spark, repo: Path, work: Path) -> float:
    """Total profiled time (Arrow I/O in the worker included) of Python
    UDFs whose code lives in ``llm``, over the whole run: the package
    caches some UDF outputs within a session, so after the warm-up the
    passes may not run them at all. Worker profiles name files by base
    name only; ``codecs.py`` is left out, as it is also a stdlib name."""
    import pstats

    llm = {p.name for p in (repo / "data_pipeline_with_spark_spark" / "llm").glob("*.py")}
    llm -= {"__init__.py", "codecs.py"}
    out = work / "udf-profile"
    spark.profile.dump(str(out), type="perf")
    total = 0.0
    for f in out.glob("*"):
        st = pstats.Stats(str(f))
        if any(key[0] in llm for key in st.stats):
            total += st.total_tt
    return total


if __name__ == "__main__":
    sys.exit(main())
