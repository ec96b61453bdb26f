"""Partitioned Bloom/cuckoo seen-filter: zero false negatives (no URL ever
dropped that wasn't truly seen), sane false-positive rate, equivalence of the
fused probe+update pass with the split path, and byte-stable blobs."""

import hashlib

import pytest
from pyspark.sql import functions as F

from goprowl_spark import seen_filter


def _urls(spark, lo, hi, prefix="https://h1.test/p/"):
    return spark.range(lo, hi).select(
        F.concat(F.lit(prefix), F.col("id").cast("string")).alias("url"),
        F.xxhash64(F.concat(F.lit(prefix), F.col("id").cast("string"))).alias(
            "url_hash"
        ),
    )


def test_bloom_no_false_negatives(spark):
    seen = _urls(spark, 0, 5000)
    empty = spark.createDataFrame([], seen_filter.schemas.SEEN_BLOOM)
    blooms = seen_filter.update_blooms(empty, seen, bits_per_bucket=1 << 14)
    probed = seen_filter.probe_blooms(seen, blooms)
    # every truly-seen url must probe maybe_seen=True
    assert probed.where(~F.col("maybe_seen")).count() == 0


def test_bloom_fpr_reasonable(spark):
    seen = _urls(spark, 0, 5000)
    empty = spark.createDataFrame([], seen_filter.schemas.SEEN_BLOOM)
    blooms = seen_filter.update_blooms(empty, seen, bits_per_bucket=1 << 17)
    unseen = _urls(spark, 10_000, 20_000)
    probed = seen_filter.probe_blooms(unseen, blooms)
    fp = probed.where(F.col("maybe_seen")).count()
    assert fp / 10_000 < 0.05  # ~78 hashes/bucket in 128Kib bits → tiny fpr


def test_incremental_update_preserves_members(spark):
    a = _urls(spark, 0, 1000)
    b = _urls(spark, 1000, 2000)
    empty = spark.createDataFrame([], seen_filter.schemas.SEEN_BLOOM)
    blooms = seen_filter.update_blooms(empty, a, bits_per_bucket=1 << 14)
    blooms = seen_filter.update_blooms(blooms, b, bits_per_bucket=1 << 14)
    both = a.unionByName(b)
    probed = seen_filter.probe_blooms(both, blooms)
    assert probed.where(~F.col("maybe_seen")).count() == 0
    assert blooms.agg(F.sum("n_items")).collect()[0][0] == 2000


def test_bloom_delta_latest_generation_wins(spark):
    # round 1 inserts [0,100), round 2 appends a delta for [100,200);
    # probing the UNION of generations must see both ranges
    a = _urls(spark, 0, 100)
    b = _urls(spark, 100, 200)
    empty = spark.createDataFrame([], seen_filter.schemas.SEEN_BLOOM)
    g1 = seen_filter.update_blooms(empty, a, bits_per_bucket=1 << 14, gen=1)
    delta2 = seen_filter.update_blooms(
        g1, b, bits_per_bucket=1 << 14, gen=2, emit_untouched=False
    )
    # simulate the appended table: generation-1 rows PLUS generation-2 delta
    merged = g1.unionByName(delta2)
    probed = seen_filter.probe_blooms(_urls(spark, 0, 200), merged)
    assert probed.where(~F.col("maybe_seen")).count() == 0


@pytest.mark.parametrize("kind", ["bloom", "cuckoo"])
def test_probe_and_update_matches_split_path(spark, kind):
    seen = _urls(spark, 0, 500)
    cands = _urls(spark, 400, 700)
    empty = spark.createDataFrame([], seen_filter.schemas.SEEN_BLOOM)
    blobs = seen_filter.update_blooms(
        empty, seen, bits_per_bucket=1 << 14, gen=0, kind=kind
    )
    fused = seen_filter.probe_and_update(
        cands, blobs, bits_per_bucket=1 << 14, gen=1, kind=kind
    )
    probed = fused.where(F.col("filter_blob").isNull())
    split = seen_filter.probe_blooms(cands, blobs, kind=kind)
    got = {(r["url"], r["maybe_seen"]) for r in probed.collect()}
    want = {(r["url"], r["maybe_seen"]) for r in split.collect()}
    assert got == want
    # the emitted blobs contain every candidate (probe after update → all True)
    delta = fused.where(F.col("filter_blob").isNotNull()).select(
        F.col("__bucket").alias("bucket"), "filter_blob", "n_items", "gen"
    )
    reprobe = seen_filter.probe_blooms(cands, blobs.unionByName(delta), kind=kind)
    assert reprobe.where(~F.col("maybe_seen")).count() == 0


def test_update_blooms_full_merge_keeps_untouched_buckets(spark):
    # default (full-table) form: chaining a SPARSE second batch must not
    # drop untouched buckets (regression: the delta form under the same
    # signature silently lost them -> Bloom false negatives)
    a = _urls(spark, 0, 1000)
    sparse = _urls(spark, 1000, 1005)  # touches only a few buckets
    empty = spark.createDataFrame([], seen_filter.schemas.SEEN_BLOOM)
    b1 = seen_filter.update_blooms(empty, a, bits_per_bucket=1 << 14)
    b2 = seen_filter.update_blooms(b1, sparse, bits_per_bucket=1 << 14)
    probed = seen_filter.probe_blooms(_urls(spark, 0, 1005), b2)
    assert probed.where(~F.col("maybe_seen")).count() == 0




# ---------------------------------------------------------------- cuckoo
# The cuckoo backend: same shard/delta contract, per-entry fingerprints.
# What Bloom cannot do — and these tests pin — is DELETE (recrawl/expiry).


def test_cuckoo_no_false_negatives(spark):
    seen = _urls(spark, 0, 5000)
    empty = spark.createDataFrame([], seen_filter.schemas.SEEN_BLOOM)
    cf = seen_filter.update_blooms(empty, seen, kind="cuckoo")
    probed = seen_filter.probe_blooms(seen, cf, kind="cuckoo")
    assert probed.where(~F.col("maybe_seen")).count() == 0


def test_cuckoo_fpr_small(spark):
    seen = _urls(spark, 0, 5000)
    empty = spark.createDataFrame([], seen_filter.schemas.SEEN_BLOOM)
    cf = seen_filter.update_blooms(empty, seen, kind="cuckoo")
    probed = seen_filter.probe_blooms(
        _urls(spark, 10_000, 20_000), cf, kind="cuckoo"
    )
    fp = probed.where(F.col("maybe_seen")).count()
    # 16-bit fingerprints at ~1% shard load: expected FPR ~ 2*4/65536
    assert fp / 10_000 < 0.01


def test_cuckoo_incremental_update_exact_count(spark):
    a = _urls(spark, 0, 1000)
    b = _urls(spark, 1000, 2000)
    empty = spark.createDataFrame([], seen_filter.schemas.SEEN_BLOOM)
    cf = seen_filter.update_blooms(empty, a, kind="cuckoo")
    cf = seen_filter.update_blooms(cf, b, kind="cuckoo")
    probed = seen_filter.probe_blooms(a.unionByName(b), cf, kind="cuckoo")
    assert probed.where(~F.col("maybe_seen")).count() == 0
    # n_items is EXACT for the cuckoo table (per-entry storage), and a
    # member's re-insert is a no-op: inserting a again must not change it
    assert cf.agg(F.sum("n_items")).collect()[0][0] == 2000
    cf2 = seen_filter.update_blooms(cf, a, kind="cuckoo")
    assert cf2.agg(F.sum("n_items")).collect()[0][0] == 2000


def test_cuckoo_autogrow_under_overload(spark):
    """Overload an under-provisioned shard: 16 inner buckets x 4 slots = 64
    slots per shard, ~80 entries per shard. The shard must auto-grow in
    place (slot cap doubles until the load fits under CUCKOO_GROW_LOAD)
    instead of walking eviction storms, so the stash stays EMPTY, every
    member still probes maybe_seen, and n_items is exact."""
    import numpy as np

    seen = _urls(spark, 0, 5000)
    empty = spark.createDataFrame([], seen_filter.schemas.SEEN_BLOOM)
    cf = seen_filter.update_blooms(
        empty, seen, kind="cuckoo", inner_buckets=16, slot_cap=4
    )
    probed = seen_filter.probe_blooms(seen, cf, kind="cuckoo")
    assert probed.where(~F.col("maybe_seen")).count() == 0
    hdrs = [
        np.frombuffer(r["filter_blob"], dtype=np.uint64, count=3)
        for r in cf.select("filter_blob").collect()
    ]
    # every shard grew past the requested cap of 4, and none needed the stash
    assert all(int(h[1]) > 4 for h in hdrs)
    assert sum(int(h[2]) for h in hdrs) == 0
    assert cf.agg(F.sum("n_items")).collect()[0][0] == 5000


def test_cuckoo_bulk_stash_beyond_max_cap(spark):
    """Push a shard past its growth ceiling (inner_buckets=2 caps the table
    at 2 x CUCKOO_MAX_SLOT_CAP slots; 5000 urls over 4 shards is ~1250 per
    shard): the overflow must land in the exact bulk stash — no false
    negatives, exact n_items, cap pinned at CUCKOO_MAX_SLOT_CAP."""
    import numpy as np

    seen = _urls(spark, 0, 5000)
    empty = spark.createDataFrame([], seen_filter.schemas.SEEN_BLOOM)
    cf = seen_filter.update_blooms(
        empty, seen, n_buckets=4, kind="cuckoo", inner_buckets=2, slot_cap=4
    )
    probed = seen_filter.probe_blooms(seen, cf, n_buckets=4, kind="cuckoo")
    assert probed.where(~F.col("maybe_seen")).count() == 0
    hdrs = [
        np.frombuffer(r["filter_blob"], dtype=np.uint64, count=3)
        for r in cf.select("filter_blob").collect()
    ]
    assert all(int(h[1]) == seen_filter.CUCKOO_MAX_SLOT_CAP for h in hdrs)
    assert sum(int(h[2]) for h in hdrs) > 0
    assert cf.agg(F.sum("n_items")).collect()[0][0] == 5000


def test_cuckoo_blob_deterministic(spark):
    seen = _urls(spark, 0, 2000)
    empty = spark.createDataFrame([], seen_filter.schemas.SEEN_BLOOM)
    b1 = {
        r["bucket"]: bytes(r["filter_blob"])
        for r in seen_filter.update_blooms(empty, seen, kind="cuckoo").collect()
    }
    b2 = {
        r["bucket"]: bytes(r["filter_blob"])
        for r in seen_filter.update_blooms(empty, seen, kind="cuckoo").collect()
    }
    assert b1 == b2


# ---------------------------------------------------------------- blob format
# Blobs persist across resumes, so every path that writes one must keep
# producing the same bytes. Digests of sorted (bucket, blob, n_items, gen)
# rows over a fixed URL range; the cuckoo geometry (64 inner buckets x 4
# slots, ~250 urls per shard) also takes the in-shard slot-cap growth.
_GOLDEN = {
    "bloom": {
        "full": "fa9840eb61aa817243443ff5c66926706951a89f558c86fa0d767e5f7a4d583e",
        "delta": "3d2f2dd2fd8d1f2d8a03af6dbc3c8a4a5d357f1734aec606c54b245ea7c3365b",
        "fused": "3d2f2dd2fd8d1f2d8a03af6dbc3c8a4a5d357f1734aec606c54b245ea7c3365b",
    },
    "cuckoo": {
        "full": "cf17f9c672092df588356cef220875aceffc8c0261128838ccc19775b581626b",
        "delta": "8c448934ece2ab0f15678f2dab0ac13c3620d8b1d517fd92e0419185d00b53ab",
        "fused": "8c448934ece2ab0f15678f2dab0ac13c3620d8b1d517fd92e0419185d00b53ab",
    },
}


def _blob_digest(df):
    h = hashlib.sha256()
    rows = sorted((r[0], bytes(r[1]), r[2], r[3]) for r in df.collect())
    for bucket, blob, n_items, gen in rows:
        h.update(f"{bucket}:{n_items}:{gen}:".encode())
        h.update(blob)
    return h.hexdigest()


@pytest.mark.parametrize("kind", ["bloom", "cuckoo"])
def test_blob_format_golden(spark, kind):
    geom = dict(n_buckets=8, bits_per_bucket=1 << 14, kind=kind,
                inner_buckets=64, slot_cap=4)
    empty = spark.createDataFrame([], seen_filter.schemas.SEEN_BLOOM)
    seen, cands = _urls(spark, 0, 2000), _urls(spark, 1500, 3000)
    full = seen_filter.update_blooms(empty, seen, gen=0, **geom)
    got = {
        "full": _blob_digest(full),
        "delta": _blob_digest(
            seen_filter.update_blooms(full, cands, gen=1, emit_untouched=False,
                                      **geom)
        ),
        "fused": _blob_digest(
            seen_filter.probe_and_update(cands, full, gen=1, **geom)
            .where(F.col("filter_blob").isNotNull())
            .select("__bucket", "filter_blob", "n_items", "gen")
        ),
    }
    assert got == _GOLDEN[kind]
