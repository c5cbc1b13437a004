"""Bucket-sharded seen-filter probe — the 10^10-URL dual of the broadcast probe.

``make_might_contain_udf`` (bloom.py / cuckoo.py) broadcasts the ENTIRE
merged filter to every executor: correct and cheap at sandbox scale, but at
the north-star design point (10^10 URLs, 16-bit cuckoo fingerprints) the
merged filter is ~20 GB — too big to broadcast or hold per executor. This
module inverts the data flow, mirroring the wire shape the per-bucket
build/delete paths already use:

* the filter lives AT REST as ONE SIDECAR FILE PER BUCKET
  (``bucket_00042.npz``) plus a tiny ``meta.json`` — written bucket-files
  first, meta last, so the meta file doubles as the commit marker. A
  bucket file holds the filter's ``bucket_arrays`` and meta.json its
  ``shard_meta``, whose ``kind`` picks the class in ``bloom.SEEN_FILTERS``
  (the seen-filter protocol, documented on ``PartitionedBloom``);
* candidates shuffle to their ``pmod(url_hash, n_buckets)`` bucket (the
  exact key the filter was built and is deleted under);
* each grouped task loads ONLY its own bucket's file — per-task filter
  bytes are total/n_buckets regardless of cluster size, the
  storage-partitioned-join shape against a file-per-bucket layout.

Cost model vs the broadcast probe: one extra exchange of the candidate
stream keyed on bucket (new links per wave — the small side), in place of
an O(filter) broadcast to every executor. At 10^10 URLs that trades a
~20 GB per-executor resident set for a candidates-sized shuffle; size
``n_buckets`` >= cluster parallelism there (e.g. 4096) so the groupBy
saturates the cluster. ``sidecar_dir`` must be on storage every executor
can read (sandbox: local FS; cluster: the warehouse's shared store, where
the per-wave sidecars already live).

Exactness is inherited: the sharded probe answers bit-for-bit what the
driver-held filter answers (parity-tested for both kinds), so the
prefiltered anti-join remains exact — no false negatives, maybe-seen rows
confirmed by the scan-only anti-join.

Like the broadcast probe, it runs only once the cumulative seen set exceeds
``config.BROADCAST_MAX_ROWS`` (``plans/wave.py`` gates every probe mode);
below that the wave runs the exact anti-join alone and writes no sidecar.
The last wave below the gate writes the first one, so the first wave above
it has a sidecar to probe.
"""

from __future__ import annotations

import json
import os

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import BooleanType, StructField, StructType

from .routing import prefiltered_anti_join

META_NAME = "meta.json"

# worker-local cache of loaded bucket probes: repeated tasks for the same
# bucket in one python worker skip the re-read; keyed on the bucket file's
# mtime so a rewritten sidecar (next wave) is never answered from stale
# state. Accessed via runtime module import (see _cached_loader) — never
# captured into a pickled closure.
_bucket_cache: dict = {}
_BUCKET_CACHE_CAP = 64


def _bucket_file(sidecar_dir: str, bucket: int) -> str:
    return os.path.join(sidecar_dir, f"bucket_{bucket:05d}.npz")


def save_sharded(filt, sidecar_dir: str) -> None:
    """Write a seen filter of any kind as a file-per-bucket sidecar
    directory (bucket files first, meta.json last = commit)."""
    os.makedirs(sidecar_dir, exist_ok=True)
    for b in range(filt.n_buckets):
        np.savez_compressed(_bucket_file(sidecar_dir, b), **filt.bucket_arrays(b))
    with open(os.path.join(sidecar_dir, META_NAME), "w") as fh:
        json.dump(filt.shard_meta(), fh)


def read_meta(sidecar_dir: str) -> dict:
    with open(os.path.join(sidecar_dir, META_NAME)) as fh:
        return json.load(fh)


def _load_bucket_probe(sidecar_dir: str, meta: dict, bucket: int):
    """Deserialize ONE bucket's filter state from its own file; return a
    ``hashes -> bool ndarray`` membership callable. This is the only
    function that touches filter bytes on the probe path — a task calls it
    exactly once, for its own bucket (pinned in tests)."""
    from .bloom import SEEN_FILTERS

    with np.load(_bucket_file(sidecar_dir, bucket)) as z:
        arrays = {name: z[name] for name in z.files}
    return SEEN_FILTERS[meta["kind"]].bucket_probe(meta, arrays)


def _cached_loader(sidecar_dir: str, meta: dict, bucket: int):
    # runtime module import: the cache dict must be THIS worker process's,
    # not a pickled-by-value copy of the driver's (cloudpickle serializes a
    # nested function's referenced globals by value)
    from webcrawler_woc_spark.operators import sharded_probe as mod

    key = (sidecar_dir, bucket, os.path.getmtime(mod._bucket_file(sidecar_dir, bucket)))
    fn = mod._bucket_cache.get(key)
    if fn is None:
        if len(mod._bucket_cache) >= mod._BUCKET_CACHE_CAP:
            mod._bucket_cache.clear()
        fn = mod._load_bucket_probe(sidecar_dir, meta, bucket)
        mod._bucket_cache[key] = fn
    return fn


def _make_probe_kernel(sidecar_dir: str, meta: dict, cols: list, loader=_cached_loader):
    """The applyInPandas kernel over one bucket's candidate rows. Factored
    out (with an injectable loader) so tests can drive it in-process and
    assert it deserializes exactly its own bucket and nothing else."""

    def probe(pdf: pd.DataFrame) -> pd.DataFrame:
        fn = loader(sidecar_dir, meta, int(pdf["_bucket"].iloc[0]))
        out = pdf[cols].copy()
        out["_maybe_seen"] = fn(pdf["url_hash"].to_numpy(np.int64))
        return out

    return probe


def sharded_tag_maybe_seen(candidates: DataFrame, sidecar_dir: str) -> DataFrame:
    """candidates + boolean ``_maybe_seen`` via the file-per-bucket probe.

    One exchange of the candidate stream on ``pmod(url_hash, n_buckets)``;
    no broadcast, no driver-resident filter — the driver only reads
    meta.json."""
    meta = read_meta(sidecar_dir)
    out_schema = StructType(
        list(candidates.schema.fields) + [StructField("_maybe_seen", BooleanType())]
    )
    kernel = _make_probe_kernel(sidecar_dir, meta, candidates.columns)
    return (
        candidates.withColumn(
            "_bucket", F.pmod(F.col("url_hash"), F.lit(int(meta["n_buckets"])))
        )
        .groupBy("_bucket")
        .applyInPandas(kernel, schema=out_schema)
    )


def sharded_prefiltered_anti_join(
    spark: SparkSession,
    candidates: DataFrame,
    seen: DataFrame,
    sidecar_dir: str,
    candidates_rows: int | None = None,
) -> DataFrame:
    """candidates minus seen with the sharded probe ahead of the exact
    anti-join (routing.prefiltered_anti_join, the body the broadcast probes
    share)."""
    return prefiltered_anti_join(
        candidates, seen, lambda df: sharded_tag_maybe_seen(df, sidecar_dir), candidates_rows
    )
