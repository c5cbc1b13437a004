"""Partitioned Cuckoo-filter seen-set prefilter — the deletable twin of
operators/bloom.py (the north rule names "bloom/cuckoo URL-seen" — this is
the cuckoo half).

Same outer shape and the same seen-filter protocol as PartitionedBloom
(documented there; ``bloom.SEEN_FILTERS["cuckoo"]`` is this class): one
filter table per url_hash bucket
(``bucket = pmod(url_hash, n_buckets)``), built distributed with
``applyInPandas`` (one small table per bucket crosses the wire, never the
URLs), merged driver-side, broadcast to executors, and probed by an
Arrow-batched pandas UDF ahead of the exact anti-join:

    definitely-new (cuckoo says no) -> skip the anti-join entirely;
    maybe-seen     (cuckoo says yes) -> exact anti-join confirms.

Why a cuckoo filter at all when the Bloom path exists (Fan et al. 2014,
"Cuckoo Filter: Practically Better Than Bloom"):

* DELETION — a recrawl frontier expires URLs (page gone, TTL lapsed); a
  Bloom bit can never be cleared without rebuilding, a cuckoo fingerprint
  can be removed slot-exactly (``delete_hashes``);
* ~same space at lower false-positive rates (16-bit fingerprints, 4-slot
  buckets, load <= ~0.95), and membership needs 2 cache lines, not k.

Determinism: a cuckoo TABLE LAYOUT depends on insertion order (evictions),
but the MEMBERSHIP verdict does not — an item's two candidate buckets
``{i1, i1 ^ h(fp)}`` form an order-independent pair, a resident item always
sits in one of its pair, and a probe checks both, so true-positives are
exact and the false-positive set depends only on the multiset of
(fingerprint, bucket-pair)s resident in the TABLE. The one order-dependent
edge — WHICH item overflows to the stash when a table saturates — cannot
change verdicts either (stash membership is exact on the full 64-bit hash
and contributes no false positives). No false negatives by construction:
every inserted hash is in the table or the stash (property-tested in
tests/test_cuckoo.py).

Reference n/a: the reference keeps seen-URLs in one in-process HashSet
(src/crawler.rs:43-45); a 10^10-URL frontier needs the sketch + exact
confirm split, same as the Bloom path.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.functions import pandas_udf
from pyspark.sql.types import BooleanType

from .routing import broadcast_tag, prefiltered_anti_join

DEFAULT_M_BUCKETS = 1 << 15  # 32768 4-slot buckets = 131072 slots / partition
SLOTS = 4
MAX_KICKS = 500
_FP_MIX = np.uint64(0x5BD1E995)  # MurmurHash2 multiplier for the partner map


def _fingerprints(hashes: np.ndarray) -> np.ndarray:
    """16-bit nonzero fingerprints from int64 hashes (0 marks empty slots)."""
    f = ((hashes.astype(np.uint64) >> np.uint64(20)) & np.uint64(0xFFFF)).astype(np.uint16)
    f[f == 0] = 1
    return f


def _index_pair(hashes: np.ndarray, fps: np.ndarray, m: int) -> tuple[np.ndarray, np.ndarray]:
    """(i1, i2) candidate bucket indices; m must be a power of two so the
    partner map i2 = i1 ^ h(fp) stays in range and is an involution."""
    mask = np.uint64(m - 1)
    i1 = (hashes.astype(np.uint64) & mask).astype(np.int64)
    i2 = (i1.astype(np.uint64) ^ ((fps.astype(np.uint64) * _FP_MIX) & mask)).astype(np.int64)
    return i1, i2


def _pair_key(f: int, i: int, m: int) -> tuple[int, int]:
    """Canonical (fingerprint, min-of-pair) key — the order-independent
    identity of a resident fingerprint (its pair is recoverable from either
    member because i2 = i1 ^ h(f) is an involution)."""
    j = int(np.uint64(i) ^ ((np.uint64(f) * _FP_MIX) & np.uint64(m - 1)))
    return (f, min(i, j))


class CuckooTable:
    """One (m x SLOTS) uint16 fingerprint table + exact overflow stashes.

    ``stash`` is a MULTISET (full 64-bit hash -> count) of insert-path
    overflow (exact, no false positives): counts matter because the same
    hash can be inserted in two separately-built-and-merged rounds, and a
    set would collapse both logical insertions into one entry — a single
    delete would then expire membership for the surviving insert, a false
    negative. ``stash_fp`` is the same multiset shape over canonical
    (fp, pair-min) keys (merge-path overflow, where only the fingerprint
    survives): there the colliders are two DISTINCT hashes sharing a key.
    Both stashes are probed by might_contain, so overflow can
    NEVER yield a false negative. An insertion whose eviction chain fails is
    fully UNDONE before stashing, so the table never holds a half-applied
    chain."""

    def __init__(self, m: int = DEFAULT_M_BUCKETS):
        if m & (m - 1):
            raise ValueError("m must be a power of two")
        self.m = m
        self.table = np.zeros((m, SLOTS), dtype=np.uint16)
        self.stash: dict[int, int] = {}
        self.stash_fp: dict[tuple[int, int], int] = {}

    def _stash_list(self) -> list[int]:
        """The full-hash stash as a sorted flat list, one entry per held
        copy — the wire/persistence format (a multiset serialized with
        repetition keeps every array<bigint> schema and npz layout intact)."""
        return sorted(h for h, c in self.stash.items() for _ in range(c))

    # one (de)serialization contract for save/load, the probe UDF broadcast,
    # and distributed deletion — field drift between four hand-rolled copies
    # was the alternative
    def to_state(self) -> dict:
        return {
            "table": self.table.tobytes(),
            "stash": self._stash_list(),
            "stash_fp": [[f, i, c] for (f, i), c in sorted(self.stash_fp.items())],
        }

    @classmethod
    def from_state(cls, m: int, state: dict, writable: bool = False) -> "CuckooTable":
        t = cls(m)
        arr = np.frombuffer(state["table"], dtype=np.uint16).reshape(m, SLOTS)
        t.table = arr.copy() if writable else arr  # probes never write
        t.stash = {}
        for h in state["stash"]:
            t.stash[int(h)] = t.stash.get(int(h), 0) + 1
        t.stash_fp = {(int(x[0]), int(x[1])): int(x[2]) for x in state["stash_fp"]}
        return t

    def add_hashes(self, hashes: np.ndarray) -> None:
        """Insert (sorted first: a deterministic layout regardless of the
        arrival order Spark happens to produce)."""
        for h in np.sort(np.unique(hashes)).tolist():
            hs = np.array([h], dtype=np.int64)
            f = int(_fingerprints(hs)[0])
            i1 = int(_index_pair(hs, np.array([f], dtype=np.uint16), self.m)[0][0])
            if not self._insert_fp(f, i1):
                self.stash[int(h)] = self.stash.get(int(h), 0) + 1

    def _insert_fp(self, f: int, i1: int) -> bool:
        """Place fingerprint f with first candidate bucket i1; False when the
        bounded eviction chain fails (table state rolled back)."""
        i2 = int(np.uint64(i1) ^ ((np.uint64(f) * _FP_MIX) & np.uint64(self.m - 1)))
        for i in (i1, i2):
            free = np.nonzero(self.table[i] == 0)[0]
            if len(free):
                self.table[i, free[0]] = f
                return True
        i, cur = i1, f
        moves: list[tuple[int, int, int]] = []  # (bucket, slot, displaced)
        for kick in range(MAX_KICKS):
            slot = kick % SLOTS
            displaced = int(self.table[i, slot])
            self.table[i, slot] = cur
            moves.append((i, slot, displaced))
            cur = displaced
            i = int(np.uint64(i) ^ ((np.uint64(cur) * _FP_MIX) & np.uint64(self.m - 1)))
            free = np.nonzero(self.table[i] == 0)[0]
            if len(free):
                self.table[i, free[0]] = cur
                return True
        for b, s, old in reversed(moves):  # saturated: undo the whole chain
            self.table[b, s] = old
        return False

    def might_contain(self, hashes: np.ndarray) -> np.ndarray:
        if len(hashes) == 0:
            return np.zeros(0, dtype=bool)
        fps = _fingerprints(hashes)
        i1, i2 = _index_pair(hashes, fps, self.m)
        hit = (self.table[i1] == fps[:, None]).any(axis=1) | (
            self.table[i2] == fps[:, None]
        ).any(axis=1)
        if self.stash or self.stash_fp:
            for j in np.nonzero(~hit)[0]:
                h = int(hashes[j])
                if h in self.stash or (
                    self.stash_fp
                    and _pair_key(int(fps[j]), int(i1[j]), self.m) in self.stash_fp
                ):
                    hit[j] = True
        return hit

    def delete_hashes(self, hashes: np.ndarray) -> np.ndarray:
        """Remove one resident copy per hash; True where something was
        removed. (The caller must only delete hashes it inserted — the
        standard cuckoo-filter contract.)"""
        out = np.zeros(len(hashes), dtype=bool)
        fps = _fingerprints(hashes)
        i1, i2 = _index_pair(hashes, fps, self.m)
        for j in range(len(hashes)):
            h = int(hashes[j])
            n_h = self.stash.get(h, 0)
            if n_h:
                if n_h == 1:
                    del self.stash[h]
                else:
                    self.stash[h] = n_h - 1
                out[j] = True
                continue
            f = int(fps[j])
            for i in (int(i1[j]), int(i2[j])):
                slot = np.nonzero(self.table[i] == f)[0]
                if len(slot):
                    self.table[i, slot[0]] = 0
                    out[j] = True
                    break
            else:
                pk = _pair_key(f, int(i1[j]), self.m)
                n = self.stash_fp.get(pk, 0)
                if n:
                    # decrement, never drop below other holders' copies
                    if n == 1:
                        del self.stash_fp[pk]
                    else:
                        self.stash_fp[pk] = n - 1
                    out[j] = True
        return out

    def merge_resident(self, other_table: np.ndarray, other_stash) -> None:
        """Merge another table built with the SAME m: residents re-insert by
        (fingerprint, bucket) — the pair is recoverable from either member —
        and stash copies ADD per element (other_stash is the flat
        list-with-repetition wire form; summing counts preserves the
        one-deletable-copy-per-insert invariant across merge rounds)."""
        idx, slots = np.nonzero(other_table)
        for i, s in zip(idx.tolist(), slots.tolist()):
            f = int(other_table[i, s])
            if not self._insert_fp(f, int(i)):
                pk = _pair_key(f, int(i), self.m)
                self.stash_fp[pk] = self.stash_fp.get(pk, 0) + 1
        for h in other_stash:
            self.stash[int(h)] = self.stash.get(int(h), 0) + 1


class PartitionedCuckoo:
    """n_buckets cuckoo tables keyed by pmod(url_hash, n_buckets) — the
    same partitioning contract as PartitionedBloom."""

    kind = "cuckoo"  # sidecar/dispatch tag (PartitionedBloom.kind = "bloom")

    def __init__(self, n_buckets: int, m: int = DEFAULT_M_BUCKETS):
        self.n_buckets = n_buckets
        self.m = m
        self.tables = {b: CuckooTable(m) for b in range(n_buckets)}

    def _by_bucket(self, hashes: np.ndarray):
        buckets = np.mod(hashes, self.n_buckets)
        for b in np.unique(buckets):
            yield int(b), hashes[buckets == b], buckets == b

    def add_hashes(self, hashes: np.ndarray) -> None:
        for b, hs, _ in self._by_bucket(hashes):
            self.tables[b].add_hashes(hs)

    def might_contain(self, hashes: np.ndarray) -> np.ndarray:
        out = np.zeros(len(hashes), dtype=bool)
        for b, hs, mask in self._by_bucket(hashes):
            out[mask] = self.tables[b].might_contain(hs)
        return out

    def delete_hashes(self, hashes: np.ndarray) -> np.ndarray:
        out = np.zeros(len(hashes), dtype=bool)
        for b, hs, mask in self._by_bucket(hashes):
            out[mask] = self.tables[b].delete_hashes(hs)
        return out

    # --- the seen-filter protocol (documented on PartitionedBloom; module
    # functions are looked up at call time, so wrappers installed on them
    # see every call) ---

    def build_rows(self, df: DataFrame) -> list:
        return build_bucket_tables(df, self.n_buckets, self.m)

    def merge(self, rows: list) -> None:
        merge_spark_tables(self, rows)

    def probe_udf(self, spark: SparkSession):
        return make_might_contain_udf(spark, self)

    def shard_meta(self) -> dict:
        return {"kind": self.kind, "n_buckets": self.n_buckets, "m": self.m}

    def bucket_arrays(self, bucket: int) -> dict:
        t = self.tables[bucket]
        return {
            "table": t.table,
            "stash": np.array(t._stash_list(), dtype=np.int64),
            "stash_fp": np.array(
                [[f, i, c] for (f, i), c in sorted(t.stash_fp.items())], dtype=np.int64
            ).reshape(-1, 3),
        }

    @staticmethod
    def bucket_probe(meta: dict, arrays: dict):
        return CuckooTable.from_state(int(meta["m"]), arrays).might_contain

    def save(self, path: str) -> None:
        np.savez_compressed(
            path,
            meta=np.array([self.n_buckets, self.m], dtype=np.int64),
            **{
                f"{_NPZ_PREFIX[name]}{b}": arr
                for b in self.tables
                for name, arr in self.bucket_arrays(b).items()
            },
        )

    @classmethod
    def load(cls, path: str) -> "PartitionedCuckoo":
        with np.load(path) as z:
            n_buckets, m = (int(x) for x in z["meta"])
            cuckoo = cls(n_buckets, m)
            for b in range(n_buckets):
                cuckoo.tables[b] = CuckooTable.from_state(
                    m, {name: z[f"{p}{b}"] for name, p in _NPZ_PREFIX.items()}, writable=True
                )
        return cuckoo


# bucket array name -> key prefix of the whole-filter .npz (t3 = bucket 3's table)
_NPZ_PREFIX = {"table": "t", "stash": "s", "stash_fp": "f"}


def build_bucket_tables(df: DataFrame, n_buckets: int, m: int) -> list:
    """Distributed per-bucket cuckoo build over df(url_hash): groupBy(bucket)
    .applyInPandas -> one (bucket, table_bytes, stash_hashes) row per bucket;
    only n_buckets * m * SLOTS * 2 bytes ever reach the driver."""

    def build(pdf: pd.DataFrame) -> pd.DataFrame:
        t = CuckooTable(m)
        t.add_hashes(pdf["url_hash"].to_numpy(np.int64))
        stash = t._stash_list()  # add_hashes overflow is always full hashes
        return pd.DataFrame(
            {
                "bucket": [int(pdf["bucket"].iloc[0])],
                "table": [t.table.tobytes()],
                "stash": [stash],
            }
        )

    rows = (
        df.select(F.col("url_hash"), F.pmod(F.col("url_hash"), F.lit(n_buckets)).alias("bucket"))
        .groupBy("bucket")
        .applyInPandas(build, schema="bucket int, table binary, stash array<bigint>")
        .collect()
    )
    return [(r["bucket"], r["table"], list(r["stash"])) for r in rows]


def merge_spark_tables(cuckoo: PartitionedCuckoo, rows: list) -> None:
    """Fold distributed per-bucket tables into the driver-held filter."""
    for bucket, blob, stash in rows:
        other = np.frombuffer(blob, dtype=np.uint16).reshape(cuckoo.m, SLOTS)
        cuckoo.tables[int(bucket)].merge_resident(other, stash)


def delete_bucket_hashes(
    spark: SparkSession, cuckoo: PartitionedCuckoo, df: DataFrame
) -> None:
    """Distributed DELETION over df(url_hash) — the recrawl/TTL-expiry path
    (the capability Bloom fundamentally lacks): expired hashes are grouped
    by their url_hash bucket, each task deletes from ITS bucket's broadcast
    table and ships the updated table back (one small row per bucket, the
    same wire shape as the build); the driver swaps tables in place. The
    expired set itself never collects to the driver.

    Deleting a hash removes ONE resident copy of its fingerprint from its
    bucket pair; distinct urls colliding to the same (fingerprint, pair)
    each inserted their own copy (table slots or stash_fp counts), so
    survivors keep theirs — no false negatives for still-active urls
    (property-tested)."""
    keyed = df.select(
        F.col("url_hash"),
        F.pmod(F.col("url_hash"), F.lit(cuckoo.n_buckets)).alias("bucket"),
    )
    # broadcast only the buckets the expired set actually touches (the
    # distinct-bucket list is <= n_buckets rows — driver-trivial); each
    # grouped task reads exactly one bucket's state, so shipping all of
    # them would cost ~n_buckets x the bytes any task needs
    touched = [int(r["bucket"]) for r in keyed.select("bucket").distinct().collect()]
    bc = spark.sparkContext.broadcast(
        {"m": cuckoo.m, "states": {b: cuckoo.tables[b].to_state() for b in touched}}
    )

    def drop(pdf: pd.DataFrame) -> pd.DataFrame:
        state = bc.value
        b = int(pdf["bucket"].iloc[0])
        t = CuckooTable.from_state(state["m"], state["states"][b], writable=True)
        t.delete_hashes(np.unique(pdf["url_hash"].to_numpy(np.int64)))
        out = t.to_state()
        return pd.DataFrame(
            {
                "bucket": [b],
                "table": [out["table"]],
                "stash": [out["stash"]],
                "stash_fp": [out["stash_fp"]],
            }
        )

    rows = (
        keyed.groupBy("bucket")
        .applyInPandas(
            drop,
            schema="bucket int, table binary, stash array<bigint>, "
            "stash_fp array<array<bigint>>",
        )
        .collect()
    )
    for r in rows:
        cuckoo.tables[int(r["bucket"])] = CuckooTable.from_state(
            cuckoo.m,
            {"table": r["table"], "stash": r["stash"], "stash_fp": r["stash_fp"]},
            writable=True,
        )
    bc.unpersist()


def make_might_contain_udf(spark: SparkSession, cuckoo: PartitionedCuckoo):
    """Broadcast the tables; return an Arrow-batched membership UDF."""
    bc = spark.sparkContext.broadcast(
        {
            "n": cuckoo.n_buckets,
            "m": cuckoo.m,
            "states": {b: t.to_state() for b, t in cuckoo.tables.items()},
        }
    )

    # memoized per python worker: the filter is read-only in the probe, so
    # rebuild it once per executor process, not once per Arrow batch (and
    # from_state without writable — might_contain never writes the table;
    # the bloom twin uses the same zero-copy pattern)
    holder: list[PartitionedCuckoo] = []

    @pandas_udf(BooleanType())
    def might_contain(url_hash: pd.Series) -> pd.Series:
        if not holder:
            state = bc.value
            local = PartitionedCuckoo(state["n"], state["m"])
            for b, st in state["states"].items():
                local.tables[b] = CuckooTable.from_state(state["m"], st)
            holder.append(local)
        return pd.Series(holder[0].might_contain(url_hash.to_numpy(np.int64)))

    return might_contain


def cuckoo_prefiltered_anti_join(
    spark: SparkSession,
    candidates: DataFrame,
    seen: DataFrame,
    cuckoo: PartitionedCuckoo | None,
    candidates_rows: int | None = None,
) -> DataFrame:
    """candidates minus seen, with the broadcast cuckoo probe ahead of the
    exact anti-join; without a cuckoo the exact anti-join alone
    (routing.prefiltered_anti_join, the body every filter kind shares)."""
    return prefiltered_anti_join(candidates, seen, broadcast_tag(spark, cuckoo), candidates_rows)
