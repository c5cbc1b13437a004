"""Crawl-state warehouse: per-wave parquet snapshots + an atomic manifest.

Plays the role Iceberg plays in the full-scale design (SURVEY.md §1.3 — the
Iceberg runtime jar is not available in this sandbox, so the same
snapshot-commit contract is implemented directly over parquet):

* every wave commits its outputs under ``<table>/wave=K/`` directories;
* a wave is visible only once the JSON manifest (written tmp + atomic rename)
  records it — readers NEVER list directories, they read exactly the paths
  the manifest names, so a crash mid-write leaves at most invisible orphans;
* the manifest stores per-wave row counts, per-host lineage and wall time
  => resumable from any completed wave (north rule: "resumable from
  checkpoint with per-partition lineage + metrics"); a wave whose seen set
  exceeds the probe gate also records its seen-filter sidecar
  (``SIDECAR_KEYS``).

Tables (manifest ``format`` 2): each wave writes ``links_out`` (one row per
discovered link — the wave's crawled urls with their politeness ``slot``,
then its newly rejected links), ``frontier`` (the next wave's input) and
``extracted_text``; the depth-mode residual flush adds uncrawled rows to
``links_out`` at wave = depth. ``seen``, ``rejected``, ``flagged`` and
``crawl_order`` are never stored: ``read_waves`` serves them as filtered
projections of ``links_out`` (``VIEWS``). Every read names its table's
schema (``TABLE_SCHEMAS``), so no read runs a schema-inference job.

Politeness tables: ``robots_delay`` (host, crawl_delay) for the host
budget and ``robots_disallow`` (host, prefix) for the Disallow gate, each
one directory under the root, named by the manifest's ``politeness`` entry.
Like the seen-filter sidecar they are a cache of derived state: the
first ``crawl`` call whose config needs one and whose manifest names none
parses it from the corpus robots.txt pages and records it; every call then
reads it back, so a resume never parses robots.txt again.
"""

from __future__ import annotations

import json
import os
import shutil
import time
from typing import Callable

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from ..operators.bloom import SEEN_FILTERS

FORMAT = 2

# the manifest keys naming a wave's seen-filter sidecar: the whole-filter
# .npz path ("bloom" for every kind, a legacy name), the filter's kind (a
# SEEN_FILTERS key) and, in sharded mode, its file-per-bucket directory; all
# None on a wave below the probe gate. The sidecar is a cache of the seen
# view: a wave that needs one and finds none of the kind it wants rebuilds it
# from the seen view (plans/wave.py).
SIDECAR_KEYS = ("bloom", "sidecar_kind", "sharded_dir")

# name -> (filter over links_out, projected columns); ``wave`` is the
# partition column of the links_out/wave=K directories
VIEWS = {
    "seen": ("crawled", ("url_hash", "url", "wave")),
    "rejected": ("NOT crawled", ("url_hash", "url", "wave")),
    "flagged": ("crawled AND contains_words", ("url", "wave")),
    "crawl_order": ("crawled", ("wave", "host", "slot", "url")),
}

# the stored tables' columns as written; a read of <table>/wave=K directories
# adds the ``wave`` partition column
TABLE_SCHEMAS = {
    "links_out": (
        "url string, url_hash bigint, host string, content_type string, "
        "headers map<string,string>, crawled boolean, ipv4 string, ipv6 string, "
        "link_type string, contains_words boolean, slot int"
    ),
    "frontier": "wave int, url string, url_hash bigint, host string, priority double",
    "extracted_text": "url string, text string",
    "robots_delay": "host string, crawl_delay int",
    "robots_disallow": "host string, prefix string",
}


def view(links_out: DataFrame | None, name: str) -> DataFrame | None:
    """The ``VIEWS`` projection ``name`` of a ``links_out`` read."""
    if links_out is None:
        return None
    cond, cols = VIEWS[name]
    return links_out.filter(cond).select(*cols)


class Warehouse:
    def __init__(self, spark: SparkSession, path: str):
        self.spark = spark
        # absolute root: manifest table paths must resolve regardless of the
        # cwd a later (resuming) process runs from
        self.path = os.path.abspath(path)
        os.makedirs(path, exist_ok=True)
        self._manifest_path = os.path.join(path, "manifest.json")
        self.manifest = self._load_manifest()

    # ------------------------------------------------------------------ io

    def _load_manifest(self) -> dict:
        if not os.path.exists(self._manifest_path):
            return {"format": FORMAT, "last_wave": -1, "waves": {}}
        with open(self._manifest_path) as f:
            manifest = json.load(f)
        fmt = manifest.get("format")
        if fmt != FORMAT:
            # an older layout's links_out lacks the slot the crawl-order view reads
            layout = (
                "the 7-table layout (seen, rejected, flagged and crawl_order stored "
                "per wave; no manifest 'format')"
                if fmt is None
                else f"manifest format {fmt!r}"
            )
            raise ValueError(
                f"warehouse {self.path} was written in {layout}; this engine reads "
                f"format {FORMAT} (links_out, frontier, extracted_text) — start the "
                "crawl in a fresh warehouse directory"
            )
        return manifest

    def _commit_manifest(self) -> None:
        tmp = self._manifest_path + ".tmp"
        with open(tmp, "w") as f:
            json.dump(self.manifest, f, indent=1, sort_keys=True)
        os.replace(tmp, self._manifest_path)  # atomic on POSIX

    def table_wave_path(self, table: str, wave: int) -> str:
        return os.path.join(self.path, table, f"wave={wave}")

    def write_wave_table(self, table: str, wave: int, df: DataFrame) -> str:
        path = self.table_wave_path(table, wave)
        df.write.mode("overwrite").parquet(path)
        return path

    def read_waves(self, table: str, up_to_wave: int | None = None) -> DataFrame | None:
        """Union of all committed wave snapshots of a table (manifest-driven).
        A ``VIEWS`` name reads the waves' ``links_out``, filtered and
        projected; the residual flush is not a wave's routing output (its
        uncrawled rows were never rejected), so no view reads it."""
        is_view = table in VIEWS
        source = "links_out" if is_view else table
        last = self.manifest["last_wave"] if up_to_wave is None else up_to_wave
        paths = [
            info["tables"][source]
            for w_str, info in self.manifest["waves"].items()
            if int(w_str) <= last
            and source in info.get("tables", {})
            and not (is_view and "residual_flush" in info["counts"])
        ]
        if not paths:
            return None
        df = self._read(source, paths, partitioned=True)
        return view(df, table) if is_view else df

    def read_frontier(self, wave: int) -> DataFrame | None:
        path = self.table_wave_path("frontier", wave)
        if not os.path.exists(path):
            return None
        return self._read("frontier", [path])

    def _read(self, table: str, paths: list[str], partitioned: bool = False) -> DataFrame:
        """Parquet ``paths`` of ``table`` read with its known schema (plus the
        ``wave`` partition column when ``partitioned``): no inference job."""
        schema = TABLE_SCHEMAS[table]
        reader = self.spark.read
        if partitioned:
            reader = reader.option("basePath", os.path.join(self.path, table))
            schema += ", wave int"
        return reader.schema(schema).parquet(*paths)

    def politeness_table(self, name: str, derive: Callable[[], DataFrame]) -> DataFrame:
        """The politeness table ``name``. When the manifest names none
        (a fresh crawl, a warehouse written before the table was kept, a
        config that newly needs it) or its directory is gone, ``derive()``
        is written under the root and recorded first; either way the stored
        table is read back."""
        tables = self.manifest.setdefault("politeness", {})
        path = tables.get(name)
        if path is None or not os.path.exists(path):
            path = os.path.join(self.path, name)
            derive().write.mode("overwrite").parquet(path)
            tables[name] = path
            self._commit_manifest()
        return self._read(name, [path])

    # --------------------------------------------------------------- commit

    def commit_wave(
        self,
        wave: int,
        table_paths: dict[str, str],
        counts: dict[str, int],
        host_lineage: list[dict] | None,
        wall_sec: float,
        bloom,
        timings: dict | None = None,
        sharded: bool = False,
        seen_probe: str | None = None,
    ) -> None:
        """Atomically record a completed wave (the Spark 'action barrier').

        ``bloom`` is the wave's seen filter (any ``SEEN_FILTERS`` class), saved
        as the wave's sidecar, or None for a wave below the probe gate, which
        records no sidecar. ``sharded=True``
        additionally writes the file-per-bucket layout
        (operators/sharded_probe.py) so the next wave can probe without
        broadcasting the merged filter. ``seen_probe`` records how the wave
        subtracted the seen set: ``exact`` (anti-join alone), a filter kind
        (broadcast probe) or ``sharded``."""
        sidecar = dict.fromkeys(SIDECAR_KEYS)
        if bloom is not None:
            sidecar["sidecar_kind"] = bloom.kind
            sidecar["bloom"] = os.path.join(self.path, f"{bloom.kind}_wave_{wave}.npz")
            bloom.save(sidecar["bloom"])
            if sharded:
                from ..operators.sharded_probe import save_sharded

                sidecar["sharded_dir"] = os.path.join(
                    self.path, f"{bloom.kind}_sharded_wave_{wave}"
                )
                save_sharded(bloom, sidecar["sharded_dir"])
        self._record_wave(wave, {
            "tables": table_paths,
            "counts": counts,
            "host_lineage": host_lineage or [],
            "wall_sec": wall_sec,
            "seen_probe": seen_probe,
            "timings": timings or {},
            "committed_at": time.time(),
            **sidecar,
        })

    def commit_flush(self, wave: int, links_out_path: str, rows: int) -> None:
        """Record the depth-mode residual flush as pseudo-wave ``wave``. It
        adds no url to the seen set, so it carries the previous wave's
        sidecar forward."""
        prev = self.manifest["waves"].get(str(wave - 1), {})
        self._record_wave(wave, {
            "tables": {"links_out": links_out_path},
            "counts": {"residual_flush": rows},
            "host_lineage": [],
            "wall_sec": 0.0,
            **{key: prev.get(key) for key in SIDECAR_KEYS},
        })

    def _record_wave(self, wave: int, entry: dict) -> None:
        self.manifest["waves"][str(wave)] = entry
        self.manifest["last_wave"] = wave
        self._commit_manifest()

    def load_seen_filter(self, wave: int | None = None):
        """Seen-filter sidecar of the latest (or given) committed wave; None
        when the wave carried none, its file is gone, or its kind is not in
        ``SEEN_FILTERS``."""
        last = self.manifest["last_wave"] if wave is None else wave
        info = self.manifest["waves"].get(str(last)) or {}
        cls = SEEN_FILTERS.get(info.get("sidecar_kind"))
        if cls is None or not info.get("bloom") or not os.path.exists(info["bloom"]):
            return None
        return cls.load(info["bloom"])

    def sharded_dir(self, wave: int | None = None) -> str | None:
        """Latest (or given) committed wave's file-per-bucket sidecar dir,
        None when that wave wasn't committed with sharded=True."""
        last = self.manifest["last_wave"] if wave is None else wave
        info = self.manifest["waves"].get(str(last))
        d = info.get("sharded_dir") if info else None
        return d if d and os.path.isdir(d) else None

    def destroy(self) -> None:
        shutil.rmtree(self.path, ignore_errors=True)

    @property
    def last_wave(self) -> int:
        return self.manifest["last_wave"]

    def wave_counts(self, wave: int) -> dict:
        return self.manifest["waves"][str(wave)]["counts"]


def uncrawled_links(df: DataFrame, link_type: Column) -> DataFrame:
    """links_out rows for links emitted but not crawled (a wave's newly
    rejected links, the depth-mode residual flush): no response metadata
    and no politeness slot."""
    return df.select(
        F.col("url"),
        F.col("url_hash"),
        F.col("host"),
        F.lit(None).cast("string").alias("content_type"),
        F.lit(None).cast("map<string,string>").alias("headers"),
        F.lit(False).alias("crawled"),
        F.lit(None).cast("string").alias("ipv4"),
        F.lit(None).cast("string").alias("ipv6"),
        link_type.alias("link_type"),
        F.lit(False).alias("contains_words"),
        F.lit(None).cast("int").alias("slot"),
    )
