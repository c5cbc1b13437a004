"""The traced pass: per-layer numbers for one workload run.

After the untraced calls, ``--trace 1`` runs one more call with the
package's public entry points wrapped by in-memory spans (name, start, end,
parent id), then:

* replays the last wave of that call operator by operator, each
  materialized on its own from cached inputs, and checks the replay's row
  counts against the committed manifest;
* on ``extract_corpus`` only, times one extract pass over a quarter of the
  corpus at the session's core count;
* stops the session, reads the Spark event log the traced session wrote
  (jobs, stages, tasks, shuffle, spill, GC and CPU per span);
* on ``extract_corpus`` only, runs the same pass on ``local[1]`` for the
  scaling ratio.

Spans are written to ``traces/`` in the work directory at the end; the event
log (hundreds of MB) is deleted once read. Nothing in
the package is modified on disk; the wrappers are installed on the imported
modules for the traced call only and removed afterwards.
"""

from __future__ import annotations

import contextlib
import functools
import json
import os
import shutil
import statistics
import threading
import time

SEEN_FILTERS = ("bloom", "cuckoo")
STATE_TABLES = (
    "frontier", "seen", "rejected", "links_out", "flagged", "extracted_text", "crawl_order",
)
SPARK_MEASURES = ("shuffle_write_bytes", "shuffle_read_bytes", "spill_bytes", "gc_s", "task_cpu_s")


def dir_bytes(path: str) -> int:
    if os.path.isfile(path):
        return os.path.getsize(path)
    return sum(
        os.path.getsize(os.path.join(d, f)) for d, _, files in os.walk(path) for f in files
    )


class Tracer:
    def __init__(self, work: str):
        self.work = work
        self.eventlog_dir = os.path.join(work, "eventlog", str(os.getpid()))
        os.makedirs(self.eventlog_dir, exist_ok=True)
        self.spans: list[dict] = []
        self._lock = threading.Lock()
        self._local = threading.local()
        self._wave_span: int | None = None  # parent of spans opened in pool threads

    def spark_conf(self) -> dict[str, str]:
        return {
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": "file://" + self.eventlog_dir,
            "spark.eventLog.compress": "false",
        }

    # -- spans --------------------------------------------------------------

    @contextlib.contextmanager
    def span(self, name: str, **attrs):
        stack = self._local.__dict__.setdefault("stack", [])
        parent = stack[-1] if stack else self._wave_span
        with self._lock:
            sid = len(self.spans)
            rec = {"id": sid, "parent": parent, "name": name, "start": time.time(),
                   "end": None, "attrs": attrs}
            self.spans.append(rec)
        stack.append(sid)
        try:
            yield rec
        finally:
            stack.pop()
            rec["end"] = time.time()

    def _wrap(self, fn, name: str, attrs=None):
        tracer = self

        @functools.wraps(fn)
        def wrapper(*args, **kwargs):
            with tracer.span(name) as rec:
                out = fn(*args, **kwargs)
            if attrs is not None:
                rec["attrs"].update(attrs(args, kwargs, out))
            return out

        return wrapper

    @contextlib.contextmanager
    def patched(self):
        """Install span wrappers on the package's work-executing entry
        points; restore the originals on exit."""
        from webcrawler_woc_spark.operators import bloom, cuckoo, sharded_probe
        from webcrawler_woc_spark.plans import crawl as crawl_mod
        from webcrawler_woc_spark.plans.state import Warehouse

        def run_wave(fn):
            def wrapper(*args, **kwargs):
                with self.span("plans.crawl.run_wave", wave=args[3]) as rec:
                    self._wave_span = rec["id"]
                    try:
                        out = fn(*args, **kwargs)
                    finally:
                        self._wave_span = None
                rec["attrs"]["counts"] = out
                return out

            return wrapper

        def table_attrs(args, kwargs, out):
            return {"table": args[1], "wave": args[2], "bytes": dir_bytes(out)}

        def read_attrs(args, kwargs, out):
            wh, table = args[0], args[1]
            up_to = kwargs.get("up_to_wave", args[2] if len(args) > 2 else None)
            last = wh.manifest["last_wave"] if up_to is None else up_to
            paths = sum(
                1 for w, info in wh.manifest["waves"].items()
                if int(w) <= last and table in info.get("tables", {})
            )
            return {"table": table, "paths": paths}

        def save_attrs(args, kwargs, out):
            return {"bytes": dir_bytes(args[1])}

        targets = [
            (crawl_mod, "run_wave", run_wave),
            (Warehouse, "write_wave_table", ("plans.state.write_wave_table", table_attrs)),
            (Warehouse, "commit_wave", ("plans.state.commit_wave", None)),
            (Warehouse, "read_waves", ("plans.state.read_waves", read_attrs)),
            (Warehouse, "load_seen_filter", ("plans.state.load_seen_filter", None)),
            (bloom, "build_bucket_bitmaps", ("operators.bloom.build", None)),
            (bloom.PartitionedBloom, "merge_spark_bitmaps", ("operators.bloom.merge", None)),
            (bloom.PartitionedBloom, "save", ("operators.bloom.save", save_attrs)),
            (bloom.PartitionedBloom, "load", ("operators.bloom.load", None)),
            (cuckoo, "build_bucket_tables", ("operators.cuckoo.build", None)),
            (cuckoo, "merge_spark_tables", ("operators.cuckoo.merge", None)),
            (cuckoo.PartitionedCuckoo, "save", ("operators.cuckoo.save", save_attrs)),
            (cuckoo.PartitionedCuckoo, "load", ("operators.cuckoo.load", None)),
            (sharded_probe, "save_sharded", ("operators.sharded_probe.save", save_attrs)),
        ]
        saved = []
        for owner, attr, how in targets:
            orig = owner.__dict__[attr]
            saved.append((owner, attr, orig))
            if callable(how):
                new = how(orig)
            elif isinstance(orig, classmethod):
                new = classmethod(self._wrap(orig.__func__, *how))
            else:
                new = self._wrap(orig, *how)
            setattr(owner, attr, new)
        try:
            yield
        finally:
            for owner, attr, orig in saved:
                setattr(owner, attr, orig)

    # -- the traced call ----------------------------------------------------

    def traced_call(self, spark, pages, wl) -> dict:
        if not hasattr(wl, "resume"):
            with self.span("extract_corpus.call") as rec:
                call = wl.call(spark, pages)
        else:
            wh = wl.prepare(spark, pages, "traced")
            with self.patched(), self.span("plans.crawl.crawl") as rec:
                call = wl.resume(spark, pages, wh)
        call["span"] = rec["id"]
        return call

    # -- the rest of the traced pass ----------------------------------------

    def finish(
        self, spark, pages, wl, built: dict, process: dict, calls: list[dict], units: dict
    ) -> dict:
        """The per-layer metrics, one for each name in ``units`` (those that
        ``BENCHMARK.json`` declares)."""
        import replay

        m = {name: 0.0 for name in units}
        m["sources.corpus.build_s"] = built["build_s"]
        m["sources.corpus.pages"] = built["pages"]
        m["sources.corpus.bytes"] = built["bytes"]
        m["process.peak_rss_mb"] = process["peak_rss_mb"]
        m["process.cpu_s"] = process["cpu_s"]
        traced = calls[-1]
        untraced = [c["run_s"] for c in calls[:-1]]
        m["trace.run_s_traced"] = traced["run_s"]
        m["trace.run_s_untraced"] = statistics.median(untraced)
        m["trace.overhead_s"] = traced["run_s"] - m["trace.run_s_untraced"]

        if "wh" in traced:
            self._crawl_spans(m, traced)
            rep, ok = replay.replay_wave(spark, pages, wl, traced["wh"])
        else:
            rep, ok = replay.replay_extract(spark, pages, wl)
        m.update(rep)
        traced["ok"] = traced["ok"] and ok
        m["trace.replay_ok"] = int(ok)

        cores = spark.sparkContext.defaultParallelism
        # the scaling check runs on extract_corpus only: on a crawl workload
        # it would take the traced run past its time limit
        scaling = "wh" not in traced
        if scaling:
            tpn = replay.extract_throughput(spark, pages, wl)
        spark.stop()
        self._spark_spans(m, cores, traced)
        if scaling:
            tp1 = replay.single_core_throughput(self.work, wl)
            m["scaling.extract_corpus.tpn_pages_per_s"] = tpn
            m["scaling.extract_corpus.tp1_pages_per_s"] = tp1
            m["scaling.extract_corpus.scaling_eff"] = tpn / (cores * tp1)
        m["trace.spans"] = len(self.spans)
        self._write_spans(wl)
        shutil.rmtree(self.eventlog_dir)
        if set(m) != set(units):
            drift = sorted(set(m) ^ set(units))
            raise RuntimeError(f"per-layer names differ from BENCHMARK.json: {drift}")
        return {k: {"value": v, "unit": units[k]} for k, v in m.items()}

    def _named(self, name: str) -> list[dict]:
        return [s for s in self.spans if s["name"] == name and s["end"] is not None]

    def _crawl_spans(self, m: dict, call: dict) -> None:
        waves = self._named("plans.crawl.run_wave")
        wave_s = [s["end"] - s["start"] for s in waves]
        m["plans.crawl.run_wave.s_p50"] = statistics.median(wave_s)
        m["plans.crawl.run_wave.s_max"] = max(wave_s)
        m["plans.crawl.driver_gap_s"] = call["run_s"] - sum(wave_s)

        def med(name: str) -> float:
            spans = self._named(name)
            return statistics.median(s["end"] - s["start"] for s in spans) if spans else 0.0

        for t in STATE_TABLES:
            spans = [s for s in self._named("plans.state.write_wave_table") if s["attrs"]["table"] == t]
            if spans:
                m[f"plans.state.write_wave_table.{t}.s"] = statistics.median(
                    s["end"] - s["start"] for s in spans
                )
                m[f"plans.state.write_wave_table.{t}.bytes"] = statistics.median(
                    s["attrs"]["bytes"] for s in spans
                )
        m["plans.state.commit_wave.s"] = med("plans.state.commit_wave")
        m["plans.state.read_waves.s"] = med("plans.state.read_waves")
        reads = self._named("plans.state.read_waves")
        m["plans.state.read_waves.paths"] = max((s["attrs"]["paths"] for s in reads), default=0)
        m["plans.state.load_seen_filter.s"] = med("plans.state.load_seen_filter")
        inserts = sum(c["scheduled"] for c in call["counts"])
        for kind in SEEN_FILTERS:
            mod = f"operators.{kind}"
            if self._named(f"{mod}.build"):
                m[f"{mod}.build.s"] = med(f"{mod}.build")
                m[f"{mod}.build.inserts"] = inserts
            m[f"{mod}.merge.s"] = med(f"{mod}.merge")
            m[f"{mod}.load.s"] = med(f"{mod}.load")
        for mod in ("operators.bloom", "operators.cuckoo", "operators.sharded_probe"):
            saves = self._named(f"{mod}.save")
            if saves:
                m[f"{mod}.save.s"] = statistics.median(s["end"] - s["start"] for s in saves)
                m[f"{mod}.sidecar_bytes"] = saves[-1]["attrs"]["bytes"]

    def _spark_spans(self, m: dict, cores: int, call: dict) -> None:
        import eventlog

        log = eventlog.read(self.eventlog_dir)
        root = self.spans[call["span"]]
        whole = log.window(root["start"], root["end"])
        for k in SPARK_MEASURES:
            m[f"spark.call.{k}"] = whole[k]
        m["spark.call.core_busy_share"] = whole["task_s"] / ((root["end"] - root["start"]) * cores)
        waves = self._named("plans.crawl.run_wave")
        if not waves:
            return
        per_wave = [(s, log.window(s["start"], s["end"])) for s in waves]
        for s, w in per_wave:
            s["attrs"]["spark"] = w
            w["core_busy_share"] = w["task_s"] / ((s["end"] - s["start"]) * cores)
        for key in ("jobs", "stages", "tasks", "core_busy_share"):
            m[f"plans.wave.{key}"] = statistics.median(w[key] for _, w in per_wave)
        largest = max(per_wave, key=lambda sw: sw[0]["attrs"]["counts"]["scheduled"])[1]
        m["plans.wave.core_busy_share_largest"] = largest["core_busy_share"]
        for k in SPARK_MEASURES:
            m[f"spark.largest_wave.{k}"] = largest[k]

    def _write_spans(self, wl) -> None:
        out = os.path.join(self.work, "traces")
        os.makedirs(out, exist_ok=True)
        path = os.path.join(out, f"{wl.name}-seed{wl.seed}-{os.getpid()}.json")
        with open(path, "w") as f:
            json.dump(self.spans, f, indent=1, default=str)
