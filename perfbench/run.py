"""Crawl benchmark: one command, one workload per run, one JSON result line.

    python3 perfbench/run.py --workload crawl_wide --seed 1 --seconds 10 --trace 0

Runs from the repository root. The Spark session is the one ``main.py``
builds (``get_spark`` defaults) on ``local[<cores>]``. Set-up reads the
pages corpus (building it once into the work directory if missing) and
warms the JVM; then the workload runs as a closed loop with one client for
``--seconds``, every call's outputs are checked (``check.py``), and the last
stdout line is

    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}

with the end-to-end metrics (``--trace 0``) or the per-layer metrics of a
separate traced pass (``--trace 1``, see ``tracing.py``). Everything the run
writes stays under ``.perfbench_work/`` in the checkout, and every process
it starts is stopped and reaped before it exits.
"""

from __future__ import annotations

import argparse
import json
import os
import signal
import sys
import threading
import time
import traceback

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(ROOT, ".perfbench_work")

RSS_INTERVAL_S = 0.2
STOP_GRACE_S = 2.0
PR_SET_CHILD_SUBREAPER = 36


def metric_units(kind: str) -> dict[str, str]:
    """name -> unit of the ``end_to_end`` or ``per_layer`` metrics that
    ``BENCHMARK.json`` declares (the names a result must print)."""
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return {m["name"]: m["unit"] for m in json.load(f)[kind]}


def process_start_time() -> float:
    """Wall-clock start of this process, from /proc (so interpreter and
    import time count toward set-up)."""
    with open("/proc/self/stat") as f:
        start_ticks = int(f.read().rsplit(")", 1)[1].split()[19])
    with open("/proc/stat") as f:
        btime = next(int(line.split()[1]) for line in f if line.startswith("btime"))
    return btime + start_ticks / os.sysconf("SC_CLK_TCK")


def _proc_tree() -> list[int]:
    """This process and all its descendants (driver, JVM, Python workers)."""
    parent: dict[int, int] = {}
    for name in os.listdir("/proc"):
        if name.isdigit():
            try:
                with open(f"/proc/{name}/stat") as f:
                    parent[int(name)] = int(f.read().rsplit(")", 1)[1].split()[1])
            except (OSError, IndexError, ValueError):
                continue
    tree, frontier = [os.getpid()], [os.getpid()]
    while frontier:
        p = frontier.pop()
        children = [c for c, pp in parent.items() if pp == p]
        tree.extend(children)
        frontier.extend(children)
    return tree


def tree_cpu_s() -> float:
    """CPU seconds used so far by the process tree, reaped children included."""
    ticks = 0
    for pid in _proc_tree():
        try:
            with open(f"/proc/{pid}/stat") as f:
                fields = f.read().rsplit(")", 1)[1].split()
            ticks += sum(int(x) for x in fields[11:15])  # utime stime cutime cstime
        except (OSError, IndexError, ValueError):
            continue
    return ticks / os.sysconf("SC_CLK_TCK")


class RssSampler:
    """Peak resident memory of the process tree, sampled from /proc every
    ``RSS_INTERVAL_S`` seconds."""

    def __init__(self):
        self.peak_bytes = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._loop, daemon=True)
        self._page = os.sysconf("SC_PAGE_SIZE")

    def _tree_rss(self) -> int:
        total = 0
        for pid in _proc_tree():
            try:
                with open(f"/proc/{pid}/statm") as f:
                    total += int(f.read().split()[1]) * self._page
            except (OSError, IndexError, ValueError):
                continue
        return total

    def _loop(self) -> None:
        while not self._stop.is_set():
            self.peak_bytes = max(self.peak_bytes, self._tree_rss())
            self._stop.wait(RSS_INTERVAL_S)

    def __enter__(self) -> "RssSampler":
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join()


def isolate_environment() -> None:
    """Keep every file Spark, the JVM and Python workers write inside the
    work directory, and let executor Python workers import the package."""
    for sub in ("tmp", "spark-local"):
        os.makedirs(os.path.join(WORK, sub), exist_ok=True)
    tmp = os.path.join(WORK, "tmp")
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(WORK, "spark-local")
    os.environ["PYSPARK_SUBMIT_ARGS"] = (
        f'--driver-java-options "-Djava.io.tmpdir={tmp} -XX:-UsePerfData" pyspark-shell'
    )
    os.environ["PYTHONPATH"] = os.pathsep.join([ROOT, HERE, os.environ.get("PYTHONPATH", "")])
    sys.path[:0] = [ROOT, HERE]
    import tempfile

    tempfile.tempdir = tmp


def become_subreaper() -> None:
    """Adopt this process's orphaned descendants (a Python worker whose JVM
    has exited), so that ``stop_descendants`` can find and reap them."""
    import ctypes

    ctypes.CDLL(None, use_errno=True).prctl(PR_SET_CHILD_SUBREAPER, 1, 0, 0, 0)


def _reap(block: bool) -> None:
    """Collect the exit status of every child that has ended (with ``block``,
    wait for all children)."""
    while True:
        try:
            pid, _ = os.waitpid(-1, 0 if block else os.WNOHANG)
        except ChildProcessError:
            return
        if pid == 0:
            return


def stop_descendants() -> None:
    """Stop every process this run started that is still alive (the JVM
    behind the stopped session, its Python workers, multiprocessing's
    resource tracker): SIGTERM, then SIGKILL for what outlives
    ``STOP_GRACE_S``; return once all of them have ended and been reaped."""
    deadline = time.time() + STOP_GRACE_S
    signalled: set[tuple[int, int]] = set()
    while True:
        _reap(block=False)
        alive = _proc_tree()[1:]
        if not alive:
            break
        sig = signal.SIGTERM if time.time() < deadline else signal.SIGKILL
        for pid in alive:
            if (pid, sig) not in signalled:
                signalled.add((pid, sig))
                try:
                    os.kill(pid, sig)
                except ProcessLookupError:
                    pass
        time.sleep(0.05)
    _reap(block=True)


def log(msg: str) -> None:
    print(f"[perfbench {time.strftime('%H:%M:%S')}] {msg}", file=sys.stderr, flush=True)


def end_to_end(setup_s: float, calls: list[dict]) -> dict:
    """The run's metrics, from its fastest timed call: other load on the
    machine and a JIT still warming can only slow a call down, and how many
    calls fit in the run varies with the machine's speed."""
    units = metric_units("end_to_end")
    fastest = min(calls, key=lambda c: c["run_s"])
    metrics = {
        "setup_s": setup_s,
        "run_s": fastest["run_s"],
        "urls_per_s": fastest["urls"] / fastest["run_s"],
    }
    if set(metrics) != set(units):
        drift = sorted(set(metrics) ^ set(units))
        raise RuntimeError(f"end-to-end names differ from BENCHMARK.json: {drift}")
    return {k: {"value": v, "unit": units[k]} for k, v in metrics.items()}


def main(argv: list[str] | None = None) -> int:
    t_start = process_start_time()
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload")
    ap.add_argument("--seed", type=int)
    ap.add_argument("--seconds", type=float)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument(
        "--record-expected",
        action="store_true",
        help="write this corpus's expected outputs into expected.json and exit "
        "(only after changing the corpus generator)",
    )
    args = ap.parse_args(argv)
    if not args.record_expected and None in (args.workload, args.seed, args.seconds):
        ap.error("--workload, --seed and --seconds are required")

    isolate_environment()
    try:
        import webcrawler_woc_spark  # noqa: F401  (the program under test)
    except ImportError as e:
        print(f"perfbench: the engine package is not importable: {e}", file=sys.stderr)
        return 2
    import corpus
    import workloads
    from webcrawler_woc_spark.session import get_spark

    if args.record_expected:
        import check

        spark = get_spark(app_name="perfbench", master=f"local[{len(os.sched_getaffinity(0))}]")
        try:
            corpus.ensure_corpus(spark, WORK)
            check.record_expected(spark, WORK)
        finally:
            spark.stop()
        return 0
    if args.workload not in workloads.WORKLOADS:
        print(f"perfbench: unknown workload {args.workload!r}", file=sys.stderr)
        return 2
    wl = workloads.WORKLOADS[args.workload](args.seed, WORK)

    tracer = None
    if args.trace:
        import tracing

        tracer = tracing.Tracer(WORK)
    with RssSampler() as rss:
        spark = get_spark(
            app_name="perfbench",
            master=f"local[{len(os.sched_getaffinity(0))}]",
            extra_conf=tracer.spark_conf() if tracer else None,
        )
        log(f"session up at {time.time() - t_start:.2f}s")
        built = corpus.ensure_corpus(spark, WORK)
        pages = spark.read.parquet(built["path"])  # as main.py --pages reads it
        wl.warm_up(spark, pages)
        setup_s = time.time() - t_start - built["build_s"]
        log(f"ready: setup_s={setup_s:.2f} (corpus build {built['build_s']:.2f}s excluded)")

        cpu0 = tree_cpu_s()
        calls = wl.measure(spark, pages, args.seconds)
        cpu_s = tree_cpu_s() - cpu0
        log(f"measured {len(calls)} call(s): {[round(c['run_s'], 2) for c in calls]}")
    try:
        if tracer is not None:
            calls.append(tracer.traced_call(spark, pages, wl))
        failed = wl.check(spark, pages, calls)
        log(f"checked: {failed} failed")
        wl.report(calls, sys.stdout)
        if tracer is not None:
            process = {"peak_rss_mb": rss.peak_bytes / 2**20, "cpu_s": cpu_s}
            metrics = tracer.finish(
                spark, pages, wl, built, process, calls, metric_units("per_layer")
            )
            failed = sum(not c["ok"] for c in calls)
        else:
            metrics = end_to_end(setup_s, [c for c in calls if c["ok"]] or calls)
    finally:
        wl.cleanup()
        spark.stop()
    print(
        json.dumps(
            {
                "correct": failed == 0,
                "attempted": len(calls),
                "failed": failed,
                "metrics": metrics,
            }
        )
    )
    return 0


if __name__ == "__main__":
    become_subreaper()
    try:
        code = main()
    except Exception:
        traceback.print_exc()
        code = 1
    finally:
        stop_descendants()
    sys.exit(code)
