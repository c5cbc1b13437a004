"""Partitioned Bloom-filter seen-set prefilter (north-rule component).

One Bloom bitmap per url_hash bucket (``bucket = pmod(url_hash, n_buckets)``),
built distributed with ``applyInPandas`` (one small bitmap per bucket crosses
the wire, never the URLs), OR-merged incrementally each wave with the bits of
the newly-seen URLs, broadcast to executors, and probed by an Arrow-batched
pandas UDF ahead of the exact left-anti join:

    definitely-new (bloom says no)  -> skip the anti-join entirely;
    maybe-seen     (bloom says yes) -> exact anti-join confirms.

False positives cost one extra join probe; false negatives are impossible by
construction, so the seen-set stays exact (property-tested in
tests/test_bloom.py). At the 10^10-URL design point this turns the per-wave
anti-join from (new_links ⋈ 10^10 seen) into (small maybe-seen ⋈ seen).

All hashing is the JVM's xxhash64 (computed once, reused as bucket key, Bloom
probe source, and join key); k probe positions derive from the single 64-bit
hash via double hashing (Kirsch-Mitzenmacher).

``SEEN_FILTERS`` at the bottom maps each filter kind to its class; the
engine (plans/, operators/sharded_probe.py) reaches a filter only through it
and through the protocol ``PartitionedBloom`` documents, so removing a kind
is one class and one mapping entry.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.functions import pandas_udf
from pyspark.sql.types import BooleanType

from .routing import broadcast_tag, prefiltered_anti_join

DEFAULT_BITS_PER_BUCKET = 1 << 20  # 128 KiB / bucket
DEFAULT_K = 4


def _probes(hashes: np.ndarray, m_bits: int, k: int) -> np.ndarray:
    """(n, k) probe bit-positions from int64 hashes (double hashing)."""
    h = hashes.astype(np.uint64)
    g1 = h & np.uint64(0xFFFFFFFF)
    g2 = (h >> np.uint64(32)) | np.uint64(1)
    i = np.arange(k, dtype=np.uint64)
    return ((g1[:, None] + i[None, :] * g2[:, None]) % np.uint64(m_bits)).astype(np.int64)


def _set_bits(bitmap: np.ndarray, positions: np.ndarray) -> None:
    np.bitwise_or.at(bitmap, positions.ravel() >> 3, (1 << (positions.ravel() & 7)).astype(np.uint8))


def _test_bits(bitmap: np.ndarray, positions: np.ndarray) -> np.ndarray:
    """All-k-bits-set per row."""
    bits = (bitmap[positions >> 3] >> (positions & 7).astype(np.uint8)) & 1
    return bits.all(axis=1)


class PartitionedBloom:
    """n_buckets Bloom bitmaps keyed by pmod(url_hash, n_buckets).

    The seen-filter protocol, shared with PartitionedCuckoo (the engine
    reaches either class only through ``SEEN_FILTERS``):

    * ``build_rows(df)`` — distributed per-bucket build over df(url_hash);
    * ``merge(rows)`` — fold those rows into this filter;
    * ``probe_udf(spark)`` — broadcast the filter, return a membership UDF;
    * ``shard_meta()`` / ``bucket_arrays(b)`` — the file-per-bucket layout
      (operators/sharded_probe.py), and ``bucket_probe(meta, arrays)`` —
      a membership callable rebuilt from one bucket's arrays;
    * ``save(path)`` / ``load(path)`` — the whole-filter ``.npz`` sidecar.
    """

    kind = "bloom"  # SEEN_FILTERS key, sidecar file prefix and manifest tag

    def __init__(self, n_buckets: int, m_bits: int = DEFAULT_BITS_PER_BUCKET, k: int = DEFAULT_K):
        self.n_buckets = n_buckets
        self.m_bits = m_bits
        self.k = k
        self.bitmaps = {b: np.zeros(m_bits // 8, dtype=np.uint8) for b in range(n_buckets)}

    def add_hashes(self, hashes: np.ndarray) -> None:
        if len(hashes) == 0:
            return
        buckets = np.mod(hashes, self.n_buckets)  # pmod: result sign of divisor
        for b in np.unique(buckets):
            pos = _probes(hashes[buckets == b], self.m_bits, self.k)
            _set_bits(self.bitmaps[int(b)], pos)

    def might_contain(self, hashes: np.ndarray) -> np.ndarray:
        if len(hashes) == 0:
            return np.zeros(0, dtype=bool)
        out = np.zeros(len(hashes), dtype=bool)
        buckets = np.mod(hashes, self.n_buckets)
        for b in np.unique(buckets):
            mask = buckets == b
            pos = _probes(hashes[mask], self.m_bits, self.k)
            out[mask] = _test_bits(self.bitmaps[int(b)], pos)
        return out

    # --- the seen-filter protocol (module functions are looked up at call
    # time, so wrappers installed on them see every call) ---

    def build_rows(self, df: DataFrame) -> list:
        return build_bucket_bitmaps(df, self.n_buckets, self.m_bits, self.k)

    def merge(self, rows: list) -> None:
        self.merge_spark_bitmaps(rows)

    def probe_udf(self, spark: SparkSession):
        return make_might_contain_udf(spark, self)

    def shard_meta(self) -> dict:
        return {"kind": self.kind, "n_buckets": self.n_buckets, "m_bits": self.m_bits, "k": self.k}

    def bucket_arrays(self, bucket: int) -> dict:
        return {"bitmap": self.bitmaps[bucket]}

    @staticmethod
    def bucket_probe(meta: dict, arrays: dict):
        bitmap, m_bits, k = arrays["bitmap"], int(meta["m_bits"]), int(meta["k"])
        return lambda hashes: _test_bits(bitmap, _probes(hashes, m_bits, k))

    def save(self, path: str) -> None:
        np.savez_compressed(
            path,
            meta=np.array([self.n_buckets, self.m_bits, self.k], dtype=np.int64),
            **{f"b{b}": bm for b, bm in self.bitmaps.items()},
        )

    @classmethod
    def load(cls, path: str) -> "PartitionedBloom":
        with np.load(path) as z:
            n_buckets, m_bits, k = (int(x) for x in z["meta"])
            bloom = cls(n_buckets, m_bits, k)
            for b in range(n_buckets):
                bloom.bitmaps[b] = z[f"b{b}"].copy()
        return bloom

    def merge_spark_bitmaps(self, rows: list) -> None:
        """OR per-bucket bitmaps built distributed (rows of (bucket, bitmap))."""
        for bucket, blob in rows:
            self.bitmaps[int(bucket)] |= np.frombuffer(blob, dtype=np.uint8)


def build_bucket_bitmaps(df: DataFrame, n_buckets: int, m_bits: int, k: int) -> list:
    """Distributed per-bucket bitmap build over df(url_hash).

    groupBy(bucket).applyInPandas -> one (bucket, bitmap_bytes) row per
    bucket; only n_buckets * m_bits/8 bytes ever reach the driver.
    """
    def build(pdf: pd.DataFrame) -> pd.DataFrame:
        bitmap = np.zeros(m_bits // 8, dtype=np.uint8)
        pos = _probes(pdf["url_hash"].to_numpy(np.int64), m_bits, k)
        _set_bits(bitmap, pos)
        return pd.DataFrame({"bucket": [int(pdf["bucket"].iloc[0])], "bitmap": [bitmap.tobytes()]})

    rows = (
        df.select(F.col("url_hash"), F.pmod(F.col("url_hash"), F.lit(n_buckets)).alias("bucket"))
        .groupBy("bucket")
        .applyInPandas(build, schema="bucket int, bitmap binary")
        .collect()
    )
    return [(r["bucket"], r["bitmap"]) for r in rows]


def make_might_contain_udf(spark: SparkSession, bloom: PartitionedBloom):
    """Broadcast the bitmaps; return an Arrow-batched membership UDF."""
    bc = spark.sparkContext.broadcast(
        {"n": bloom.n_buckets, "m": bloom.m_bits, "k": bloom.k,
         "maps": {b: bm.tobytes() for b, bm in bloom.bitmaps.items()}}
    )

    @pandas_udf(BooleanType())
    def might_contain(url_hash: pd.Series) -> pd.Series:
        state = bc.value
        local = PartitionedBloom(state["n"], state["m"], state["k"])
        for b, blob in state["maps"].items():
            local.bitmaps[b] = np.frombuffer(blob, dtype=np.uint8)
        return pd.Series(local.might_contain(url_hash.to_numpy(np.int64)))

    return might_contain


def bloom_prefiltered_anti_join(
    spark: SparkSession,
    candidates: DataFrame,
    seen: DataFrame,
    bloom: PartitionedBloom | None,
    candidates_rows: int | None = None,
) -> DataFrame:
    """candidates minus seen, with the broadcast Bloom probe ahead of the
    exact anti-join; without a bloom the exact anti-join alone
    (routing.prefiltered_anti_join)."""
    return prefiltered_anti_join(candidates, seen, broadcast_tag(spark, bloom), candidates_rows)


from .cuckoo import PartitionedCuckoo  # noqa: E402  (cuckoo.py imports nothing from here)

# the one place a seen-filter kind string selects code: --seen-filter values,
# the manifest's sidecar_kind and the sharded meta.json "kind" all key it
SEEN_FILTERS = {cls.kind: cls for cls in (PartitionedBloom, PartitionedCuckoo)}
