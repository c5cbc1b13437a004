"""The seen-filter sidecar layouts on disk, pinned by their literal key names.

A warehouse keeps its filter in two layouts: the whole-filter ``.npz`` each
wave commits, and (sharded probe mode) one ``bucket_NNNNN.npz`` per url_hash
bucket plus ``meta.json``. The files here are written by hand with the key
names of manifest format 2, not through the filter classes, and then loaded
and probed through the seen-filter protocol: a warehouse written before the
protocol existed still resumes, and what the classes write today is still
that layout.
"""

from __future__ import annotations

import json
import os

import numpy as np
import pytest

from webcrawler_woc_spark.operators.bloom import SEEN_FILTERS, PartitionedBloom
from webcrawler_woc_spark.operators.cuckoo import PartitionedCuckoo
from webcrawler_woc_spark.operators.sharded_probe import (
    _load_bucket_probe,
    save_sharded,
    sharded_tag_maybe_seen,
)
from webcrawler_woc_spark.plans.state import Warehouse

N_BUCKETS = 4
KINDS = ["bloom", "cuckoo"]


def _hashes(n: int, seed: int) -> np.ndarray:
    rng = np.random.default_rng(seed)
    return rng.integers(-(2**63), 2**63 - 1, size=n, dtype=np.int64)


MEMBERS = _hashes(300, seed=3)
OTHERS = _hashes(300, seed=5)


def _filter(kind: str):
    """A filter holding MEMBERS. The cuckoo tables are tiny and get a second
    merged round, so both overflow stashes (stash and stash_fp) hold rows."""
    if kind == "bloom":
        filt = PartitionedBloom(N_BUCKETS, m_bits=1 << 12, k=3)
        filt.add_hashes(MEMBERS)
        return filt
    filt = PartitionedCuckoo(N_BUCKETS, m=4)
    filt.add_hashes(MEMBERS[:150])
    other = PartitionedCuckoo(N_BUCKETS, m=4)
    other.add_hashes(MEMBERS[150:])
    filt.merge([(b, t.table.tobytes(), t._stash_list()) for b, t in other.tables.items()])
    assert any(t.stash for t in filt.tables.values())
    assert any(t.stash_fp for t in filt.tables.values())
    return filt


def _stash_fp(t) -> np.ndarray:
    return np.array(
        [[f, i, c] for (f, i), c in sorted(t.stash_fp.items())], dtype=np.int64
    ).reshape(-1, 3)


def _bucket_arrays(kind: str, filt, b: int) -> dict:
    """One bucket's arrays under the format-2 key names."""
    if kind == "bloom":
        return {"bitmap": filt.bitmaps[b]}
    t = filt.tables[b]
    return {
        "table": t.table,
        "stash": np.array(t._stash_list(), dtype=np.int64),
        "stash_fp": _stash_fp(t),
    }


def _write_npz_by_hand(kind: str, filt, path: str) -> None:
    if kind == "bloom":
        np.savez_compressed(
            path,
            meta=np.array([filt.n_buckets, filt.m_bits, filt.k], dtype=np.int64),
            **{f"b{b}": filt.bitmaps[b] for b in range(filt.n_buckets)},
        )
        return
    arrays = {}
    for b, t in filt.tables.items():
        arrays[f"t{b}"] = t.table
        arrays[f"s{b}"] = np.array(t._stash_list(), dtype=np.int64)
        arrays[f"f{b}"] = _stash_fp(t)
    np.savez_compressed(path, meta=np.array([filt.n_buckets, filt.m], dtype=np.int64), **arrays)


def _meta_by_hand(kind: str, filt) -> dict:
    if kind == "bloom":
        return {"kind": "bloom", "n_buckets": filt.n_buckets, "m_bits": filt.m_bits, "k": filt.k}
    return {"kind": "cuckoo", "n_buckets": filt.n_buckets, "m": filt.m}


def _write_sharded_by_hand(kind: str, filt, sdir: str) -> None:
    os.makedirs(sdir)
    for b in range(filt.n_buckets):
        np.savez_compressed(
            os.path.join(sdir, f"bucket_{b:05d}.npz"), **_bucket_arrays(kind, filt, b)
        )
    with open(os.path.join(sdir, "meta.json"), "w") as fh:
        json.dump(_meta_by_hand(kind, filt), fh)


def _assert_same_answers(loaded, filt) -> None:
    probe = np.concatenate([MEMBERS, OTHERS])
    assert loaded.might_contain(MEMBERS).all()
    assert np.array_equal(loaded.might_contain(probe), filt.might_contain(probe))


@pytest.mark.parametrize("kind", KINDS)
def test_hand_written_npz_loads_through_the_warehouse(spark, tmp_path, kind):
    """A format-2 manifest entry naming a hand-written ``.npz`` resumes: the
    warehouse loads it as the recorded kind, answering as the filter did."""
    filt = _filter(kind)
    path = str(tmp_path / f"{kind}_wave_0.npz")
    _write_npz_by_hand(kind, filt, path)
    assert isinstance(SEEN_FILTERS[kind].load(path), type(filt))
    with open(tmp_path / "manifest.json", "w") as fh:
        json.dump({"format": 2, "last_wave": 0, "waves": {"0": {
            "tables": {}, "counts": {"scheduled": len(MEMBERS)},
            "bloom": path, "sidecar_kind": kind, "sharded_dir": None,
        }}}, fh)
    loaded = Warehouse(spark, str(tmp_path)).load_seen_filter()
    assert type(loaded) is type(filt)
    _assert_same_answers(loaded, filt)


@pytest.mark.parametrize("kind", KINDS)
def test_hand_written_bucket_files_probe(spark, tmp_path, kind):
    """A hand-written file-per-bucket directory probes bucket by bucket, in
    process and through the sharded Spark probe, as the filter answers."""
    filt = _filter(kind)
    sdir = str(tmp_path / "sharded")
    _write_sharded_by_hand(kind, filt, sdir)
    meta = _meta_by_hand(kind, filt)
    probe = np.concatenate([MEMBERS, OTHERS])
    buckets = np.mod(probe, N_BUCKETS)
    for b in range(N_BUCKETS):
        hs = probe[buckets == b]
        assert np.array_equal(_load_bucket_probe(sdir, meta, b)(hs), filt.might_contain(hs))

    cand = spark.createDataFrame(
        [(int(h), f"http://h.example/{i}") for i, h in enumerate(probe)],
        "url_hash long, url string",
    )
    got = {r["url_hash"]: r["_maybe_seen"] for r in sharded_tag_maybe_seen(cand, sdir).collect()}
    assert got == dict(zip(probe.tolist(), filt.might_contain(probe).tolist()))


@pytest.mark.parametrize("kind", KINDS)
def test_filters_write_the_format_2_layout(tmp_path, kind):
    """What the classes write is the layout the hand-written files use."""
    filt = _filter(kind)
    path = str(tmp_path / "filt.npz")
    filt.save(path)
    want = str(tmp_path / "want.npz")
    _write_npz_by_hand(kind, filt, want)
    with np.load(path) as got_z, np.load(want) as want_z:
        assert sorted(got_z.files) == sorted(want_z.files)
        for key in want_z.files:
            assert np.array_equal(got_z[key], want_z[key]), key

    sdir = str(tmp_path / "sharded")
    save_sharded(filt, sdir)
    with open(os.path.join(sdir, "meta.json")) as fh:
        assert json.load(fh) == _meta_by_hand(kind, filt)
    for b in range(N_BUCKETS):
        want_arrays = _bucket_arrays(kind, filt, b)
        with np.load(os.path.join(sdir, f"bucket_{b:05d}.npz")) as z:
            assert sorted(z.files) == sorted(want_arrays)
            for key, arr in want_arrays.items():
                assert np.array_equal(z[key], arr), (b, key)
