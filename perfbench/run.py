"""Benchmark entry point.

    python3 perfbench/run.py --workload refresh --seed 1 --seconds 10 --trace 0

Run from the root of a checkout. The run generates its inputs from
``--seed`` under ``.perfbench_work/`` (removed at the end), computes the
oracle answers in DuckDB, starts one Spark session with ``local[nproc]``,
runs the workload's warm-up passes, then timed passes until ``--seconds`` have
elapsed (at least one; a traced run alternates untraced and traced passes
and runs at least one of each).
Every output of every pass is checked. The last line of standard output is
the result: ``{"correct", "attempted", "failed", "metrics"}``; with
``--trace 0`` the metrics are the end-to-end ones, with ``--trace 1`` the
per-layer ones, and the spans are written under ``.perfbench_out/``.
"""

from __future__ import annotations

import time

T0 = time.time()

import argparse  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import platform  # noqa: E402
import shlex  # noqa: E402
import shutil  # noqa: E402
import signal  # noqa: E402
import statistics  # noqa: E402
import sys  # noqa: E402
import threading  # noqa: E402

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

import gen  # noqa: E402
from checks import Oracle  # noqa: E402
from workloads import PKG, WORKLOADS  # noqa: E402

END_TO_END = {"setup_s": "s", "run_s": "s", "ok_ratio": "ratio"}
LAYER_UNITS = {"_s": "s", "_mb": "MB", "_ms_p50": "ms", "_ms": "ms", "modularity": "Q"}


def unit_of(name: str) -> str:
    for suffix, unit in LAYER_UNITS.items():
        if name.endswith(suffix):
            return unit
    return "count"


# -- process tree ------------------------------------------------------------


def _children() -> dict[int, list[int]]:
    kids: dict[int, list[int]] = {}
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat", encoding="utf-8") as fh:
                ppid = int(fh.read().rsplit(")", 1)[1].split()[1])
        except (OSError, IndexError, ValueError):
            continue
        kids.setdefault(ppid, []).append(int(d))
    return kids


def descendants(pid: int) -> list[int]:
    kids, out, todo = _children(), [], [pid]
    while todo:
        for c in kids.get(todo.pop(), []):
            out.append(c)
            todo.append(c)
    return out


def tree_rss_mb(pid: int) -> float:
    total = 0
    for p in (pid, *descendants(pid)):
        try:
            with open(f"/proc/{p}/statm", encoding="utf-8") as fh:
                total += int(fh.read().split()[1])
        except (OSError, IndexError, ValueError):
            continue
    return total * os.sysconf("SC_PAGE_SIZE") / (1024.0 * 1024.0)


class RssSampler:
    """Peak resident memory of this process and all its descendants (the
    JVM and the Python workers), sampled while the timed passes run."""

    def __init__(self, interval: float = 0.25):
        self.interval = interval
        self.peak = 0.0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._loop, daemon=True)

    def _loop(self) -> None:
        while not self._stop.is_set():
            self.peak = max(self.peak, tree_rss_mb(os.getpid()))
            self._stop.wait(self.interval)

    def __enter__(self):
        self._thread.start()
        return self

    def __exit__(self, *exc):
        self._stop.set()
        self._thread.join(timeout=10)


# -- host ----------------------------------------------------------------------


def host_cpus() -> int:
    return len(os.sched_getaffinity(0))


def host_ram_mb() -> int:
    return os.sysconf("SC_PHYS_PAGES") * os.sysconf("SC_PAGE_SIZE") // (1024 * 1024)


def configure(work: str, trace: bool) -> None:
    """Pin the engine to this host and keep every file a run writes inside
    ``work``: the model store, Spark's local dirs, the warehouse, the Derby
    home and the JVM temp dir."""
    for d in ("store", "spark-local", "warehouse", "tmp"):
        os.makedirs(os.path.join(work, d), exist_ok=True)
    os.environ["SPARK_GRAFT_CPUS"] = str(host_cpus())
    os.environ["SPARK_GRAFT_DRIVER_MEM"] = f"{min(2048, host_ram_mb() // 4)}m"
    os.environ["SPARK_GRAFT_STORE_DIR"] = os.path.join(work, "store")
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    os.environ.pop("SPARK_GRAFT_UI_ENABLED", None)
    confs = {
        "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
        "spark.driver.extraJavaOptions": (
            f"-Djava.io.tmpdir={os.path.join(work, 'tmp')} -Dderby.system.home={work}"
        ),
        "spark.ui.showConsoleProgress": "false",
    }
    if trace:
        # keep every stage of the run in the status store for attribution
        confs["spark.ui.retainedStages"] = "1000000"
        confs["spark.ui.retainedJobs"] = "1000000"
    os.environ["PYSPARK_SUBMIT_ARGS"] = (
        " ".join(f"--conf {shlex.quote(f'{k}={v}')}" for k, v in confs.items()) + " pyspark-shell"
    )
    os.chdir(work)


def stop_spark(spark) -> None:
    """Stop the session, then the JVM and every process under it, and wait
    until each has ended."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    proc = getattr(gateway, "proc", None)
    tree = descendants(os.getpid())
    spark.stop()
    gateway.shutdown()
    if proc is not None:
        proc.stdin.close()
        try:
            proc.wait(timeout=30)
        except Exception:  # noqa: BLE001 — any wait failure ends in a kill
            proc.kill()
            proc.wait()
    deadline = time.time() + 20
    for pid in tree:
        while os.path.exists(f"/proc/{pid}") and time.time() < deadline:
            time.sleep(0.05)
        if os.path.exists(f"/proc/{pid}"):
            try:
                os.kill(pid, signal.SIGKILL)
            except ProcessLookupError:
                pass
    for pid in tree:
        while os.path.exists(f"/proc/{pid}") and time.time() < deadline + 10:
            time.sleep(0.05)


# -- run -------------------------------------------------------------------------


def log(msg: str) -> None:
    print(f"perfbench: {time.time() - T0:7.2f}s {msg}", file=sys.stderr, flush=True)


def run(args, work: str) -> tuple[dict, dict]:
    from importlib import import_module

    trace = bool(args.trace)
    cls = WORKLOADS[args.workload]
    data = os.path.join(work, "data")
    excluded = 0.0

    t = time.time()
    input_hash = gen.write(cls.scale, args.seed, data)
    excluded += time.time() - t
    log(f"inputs generated ({time.time() - t:.2f}s, excluded from setup_s)")

    configure(work, trace)
    tracer = None
    if trace:
        from spans import Tracer

        tracer = Tracer()
        tracer.install()
    session = import_module(f"{PKG}.session")
    import_module(f"{PKG}.plans.registry")
    w = cls(data, work, tracer)

    t = time.time()
    oracle = Oracle(data, os.path.join(work, "duckdb-tmp"), host_cpus())
    try:
        w.prepare(oracle)
    finally:
        oracle.close()
    excluded += time.time() - t
    log(f"oracle answers ready ({time.time() - t:.2f}s, excluded from setup_s)")

    spark = session.get_spark("perfbench")
    log("spark session started")
    try:
        if tracer is not None:
            tracer.listen_streaming(spark)
        for _ in range(w.warmup_passes):
            w.run_pass(spark)
            log("warm-up pass done")
        setup_s = time.time() - T0 - excluded

        untraced: list[float] = []
        traced: list[float] = []
        start = time.time()
        with RssSampler() as rss:
            i = 0
            while True:
                on = tracer is not None and i % 2 == 1
                if tracer is not None:
                    tracer.enabled, tracer.phase = on, "pass"
                t = time.time()
                w.run_pass(spark)
                (traced if on else untraced).append(time.time() - t)
                log(f"{'traced' if on else 'timed'} pass {time.time() - t:.2f}s")
                i += 1
                enough = untraced and (tracer is None or traced)
                if enough and time.time() - start >= args.seconds:
                    break
        run_s = statistics.median(untraced)
        stamp = {
            "workload": args.workload, "seed": args.seed, "input_sha256": input_hash,
            "rows": gen.row_counts(data), "nproc": host_cpus(), "ram_mb": host_ram_mb(),
            "spark": spark.version,
            "java": spark.sparkContext._jvm.System.getProperty("java.version"),
            "python": platform.python_version(), "warmup_passes": w.warmup_passes,
            "timed_passes": len(untraced), "traced_passes": len(traced),
        }
        if tracer is None:
            metrics = {
                "setup_s": setup_s,
                "run_s": run_s,
                "ok_ratio": (w.attempted - w.failed) / max(1, w.attempted),
            }
            units = END_TO_END
        else:
            from spans import layer_metrics

            tracer.enabled = False
            tracer.attribute_stages(spark)
            metrics = layer_metrics(tracer, len(traced), w.ingest_dirs())
            metrics["peak_rss_mb"] = rss.peak
            metrics["trace_overhead_s"] = statistics.median(traced) - run_s
            units = {k: unit_of(k) for k in metrics}
            out_dir = os.path.join(ROOT, ".perfbench_out")
            os.makedirs(out_dir, exist_ok=True)
            path = os.path.join(out_dir, f"trace-{args.workload}-{args.seed}.json")
            with open(path, "w", encoding="utf-8") as fh:
                json.dump({"stamp": stamp, "metrics": metrics, "spans": tracer.dump()}, fh, indent=1)
            print(f"perfbench: spans written to {path}", file=sys.stderr)
    finally:
        stop_spark(spark)
        log("spark stopped")

    result = {
        "correct": w.failed == 0,
        "attempted": w.attempted,
        "failed": w.failed,
        "metrics": {k: {"value": float(metrics[k]), "unit": units[k]} for k in metrics},
    }
    return stamp, result


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__, formatter_class=argparse.RawDescriptionHelpFormatter)
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    if not os.path.isfile(os.path.join(ROOT, PKG, "api.py")):
        print(f"perfbench: engine package {PKG}/ not found under {ROOT}", file=sys.stderr)
        return 2
    sys.path.insert(0, ROOT)
    work = os.path.join(ROOT, ".perfbench_work", f"{args.workload}-{args.seed}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    try:
        stamp, result = run(args, work)
    finally:
        os.chdir(ROOT)
        shutil.rmtree(work, ignore_errors=True)
    print(json.dumps({"stamp": stamp}))
    print(json.dumps(result), flush=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
