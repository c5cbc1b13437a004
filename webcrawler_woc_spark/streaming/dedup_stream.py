"""Stateful streaming URL dedup — the seen-set as a Structured Streaming
custom stateful operator (``applyInPandasWithState``).

The batch engine keeps the seen-set as a view of its links_out parquet +
Bloom sidecars (operators/bloom.py); in a continuous-ingest deployment the
same semantics live in the state store: group by canonical URL, keep a
one-bit 'seen' state per group, emit each URL exactly once — the streaming
twin of the reference's ``crawled`` HashSet membership
(src/crawler.rs:82-99).

Scale notes: one state-store entry per distinct URL, keyed by
(url_hash, url) — state lookups are hash-partitioned by the same 64-bit key
the batch engine's seen filter buckets on, and the per-group state is a single boolean, so
10^10 URLs cost ~10^10 * O(few bytes) across the cluster's RocksDB state
stores with no skew beyond the URL distribution itself.
"""

from __future__ import annotations

from collections.abc import Iterator

import pandas as pd
from pyspark.sql import SparkSession
from pyspark.sql import functions as F
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

LINKS_SCHEMA = "parent_url string, url string, link_type string"


def _first_seen(key, pdfs: Iterator[pd.DataFrame], state: GroupState):
    """Emit the group's URL iff this is the first micro-batch that sees it."""
    # drain the iterator (required by the contract) before deciding
    n = sum(len(pdf) for pdf in pdfs)
    if not state.exists and n > 0:
        state.update((True,))
        yield pd.DataFrame({"url_hash": [key[0]], "url": [key[1]]})


def stream_dedup_links(
    spark: SparkSession,
    links_dir: str,
    out_dir: str,
    checkpoint_dir: str,
    max_files_per_trigger: int = 1,
    trigger_available_now: bool = True,
):
    """readStream(links parquet) -> stateful first-occurrence dedup ->
    append(parquet). Re-discovered URLs in later micro-batches are dropped by
    the state store, exactly like the batch anti-join against ``seen``.

    Returns the StreamingQuery.
    """
    links = (
        spark.readStream.schema(LINKS_SCHEMA)
        .option("maxFilesPerTrigger", str(max_files_per_trigger))
        .parquet(links_dir)
    )
    keyed = links.select(F.xxhash64("url").alias("url_hash"), "url")
    deduped = keyed.groupBy("url_hash", "url").applyInPandasWithState(
        _first_seen,
        outputStructType="url_hash long, url string",
        stateStructType="seen boolean",
        outputMode="append",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )
    writer = (
        deduped.writeStream.format("parquet")
        .option("path", out_dir)
        .option("checkpointLocation", checkpoint_dir)
        .outputMode("append")
    )
    if trigger_available_now:
        writer = writer.trigger(availableNow=True)
    return writer.start()
