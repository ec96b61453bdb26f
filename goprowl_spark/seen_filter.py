"""Partitioned Bloom/cuckoo URL-seen filter (the core scale op of the graft).

Reference behavior: colly's in-heap exact visited-set (the ``Visit`` skip
path, search/crawlers/colly.go:92-97). An exact in-memory set caps out on
one node; at the 10^10-URL design point the rebuild uses:

1. a **partitioned filter**: the seen-set's 64-bit url hashes are
   hash-partitioned into ``n_buckets`` shards; each shard is one blob (a
   row of the ``seen_bloom`` table). Blobs are built/merged per shard by
   Arrow cogroups (``applyInArrow``) over numpy kernels: no per-row Python
   and no pandas conversion, so the filter is sharded across executors and
   each round only rewrites touched shards;
2. a **probe** stage: candidate URLs cogroup with their shard's blob and
   test membership vectorized. "Definitely new" candidates skip the
   expensive exact join entirely;
3. an **exact anti-join** on the (tiny) "maybe seen" remainder — filter
   false positives would otherwise silently drop never-crawled URLs, so the
   filter only ever *prunes the probe side*; correctness comes from the
   exact join (zero false drops by construction).

Two filter kinds share that shape: "bloom" (bit arrays) and "cuckoo"
(fingerprint tables). Each kind's blob format lives in one module-private
**shard codec** (``_BloomShard``, ``_CuckooShard``): build a fresh shard,
decode a blob, ``contains``, ``insert``, ``encode``. ``_codec`` is the
only place a kind is looked up; the Spark-facing functions are
kind-agnostic drivers over a codec.

A stored blob is the authority on its own geometry, for both kinds: a
Bloom blob has ``8·len(blob)`` bits and a cuckoo blob's header records its
table shape. ``bits_per_bucket``, ``inner_buckets`` and ``slot_cap`` only
size FRESH shards, so a crawl resumed with different values still reads
every stored shard correctly. ``n_buckets`` is different: it addresses the
shards (``pmod(url_hash, n_buckets)``), so a workdir must keep it (the
crawl engine checks it on resume).

There are three cogroups: the shard merge (``update_blooms``), the probe
(``probe_blooms``, the split-path reference) and the fused probe + update
of a crawl round (``probe_and_update``). A round's touched shards are
upserted by bucket through the catalog's delete log, one live shard per
bucket; several rows of a bucket (a union of deltas) resolve to the
latest ``gen``. Neither kind deletes: the crawl's expiry rebuilds the
touched shards from the exact seen table (``CrawlEngine.expire_urls``).

At 10^10 URLs with ~1% fpp this is ~12 GB of blobs across all buckets —
a few MB per bucket at n_buckets=4096, each comfortably a single Arrow
batch. The seen table itself is hash-bucketed on url_hash so the residual
anti-join is a co-partitioned shuffle on the same key.
"""

from __future__ import annotations

import numpy as np
import pyarrow as pa
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T
from pyspark.sql.pandas.types import to_arrow_schema

from goprowl_spark import schemas

DEFAULT_N_BUCKETS = 64
DEFAULT_BITS_PER_BUCKET = 1 << 20  # 128 KiB blob per bucket
N_HASHES = 5
# default cuckoo shard geometry (details in the cuckoo section below)
CUCKOO_INNER_BUCKETS = 1 << 14  # per shard; power of two for the XOR pair
CUCKOO_SLOT_CAP = 4


def _positions(hashes: np.ndarray, m_bits: int) -> np.ndarray:
    """k probe positions per hash via double hashing (k x n matrix)."""
    h = hashes.astype(np.uint64)
    h1 = h & np.uint64(0xFFFFFFFF)
    h2 = ((h >> np.uint64(32)) | np.uint64(1)) & np.uint64(0xFFFFFFFF)
    ks = np.arange(N_HASHES, dtype=np.uint64)[:, None]
    return ((h1[None, :] + ks * h2[None, :]) % np.uint64(m_bits)).astype(np.int64)


def _set_bits(blob: np.ndarray, hashes: np.ndarray, m_bits: int) -> np.ndarray:
    pos = _positions(hashes, m_bits).ravel()
    np.bitwise_or.at(blob, pos >> 3, (1 << (pos & 7)).astype(np.uint8))
    return blob


def _test_bits(blob: np.ndarray, hashes: np.ndarray, m_bits: int) -> np.ndarray:
    pos = _positions(hashes, m_bits)
    bits = (blob[pos >> 3] >> (pos & 7)) & 1
    return bits.all(axis=0)

# --------------------------------------------------------------------------
# Cuckoo-filter backend (the "cuckoo" alternative the north rule names).
#
# Same sharding and delta-generation contract as the Bloom blobs (one blob
# row per outer bucket, latest gen wins), different blob payload:
#
#   header  uint64[3]: [inner_buckets, slot_cap, stash_len]
#   table   uint16[inner_buckets * slot_cap]  (0 = empty slot)
#   stash   uint64[stash_len]  (canonical (min_bucket << 16 | fp) overflow)
#
# Why a second backend: the cuckoo table is the other filter the north
# rule names, with an exact per-shard member count (n_items) and a slot
# cap that grows in place. Same 128 KiB per shard as the default Bloom
# blob (16384 buckets x 4 slots x 2 bytes) at a ~0.01% fingerprint FPR.
# Neither kind deletes: keys sharing a fingerprint and a candidate bucket
# share one entry, so removing one could un-see another.
#
# Vectorization discipline (input_hint: no per-row Python): probe is pure
# numpy (gather + compare); insert places the bulk with two vectorized
# choice passes and walks ONLY the contended tail (both candidate buckets
# full) through the classic eviction loop — deterministic victim, bounded
# kicks, exact stash fallback. Membership is preserved by every
# relocation, so zero-false-negatives holds at ANY load. A shard whose
# load would cross CUCKOO_GROW_LOAD first resizes itself in place
# (_cuckoo_grow: slot-cap doubling, membership-preserving), so an
# under-provisioned filter degrades to a bounded FPR increase, never to
# per-row eviction storms; size a-priori via cuckoo_inner_buckets_for.

CUCKOO_MAX_KICKS = 250
# In-shard auto-resize (the production answer to "the crawl outgrew the
# filter", measured: a 9.5M-URL crawl over the fixed 64x16384x4 = 4.2M-slot
# geometry degraded the biggest wave 59s -> 900s at 16 cores — every insert
# past full walked 250 kicks in Python and the stash hit millions of
# np.isin'd entries). Bucket indices depend ONLY on the bucket count, so
# doubling SLOT_CAP is a membership-preserving zero-rehash reshape (pad each
# bucket row with empty slots); the stash drains back into the grown table
# because its canonical keys encode (bucket, fp). Each doubling doubles the
# per-probe FPR (2 buckets x cap slots x 2^-16), so growth is capped —
# beyond the cap, inserts stash in BULK (vectorized, exact) instead of
# walking evictions that cannot succeed.
CUCKOO_MAX_SLOT_CAP = 128  # FPR ceiling ~0.4%; 32x the default capacity
CUCKOO_GROW_LOAD = 0.85  # grow so the post-insert load factor stays below
_CUCKOO_HDR = 3  # uint64 header words


def cuckoo_inner_buckets_for(
    expected_items: int,
    n_buckets: int = DEFAULT_N_BUCKETS,
    slot_cap: int = CUCKOO_SLOT_CAP,
    target_load: float = 0.7,
) -> int:
    """A-priori shard geometry: the smallest power-of-two bucket count per
    shard that holds ``expected_items`` across ``n_buckets`` shards at
    ``target_load`` with the default slot cap. A production crawl knows its
    scale (the corpus/frontier bound); sizing up front keeps the filter at
    the design FPR and never triggers the in-shard slot-cap growth."""
    per_shard = max(1, int(expected_items / max(1, n_buckets)))
    need = int(per_shard / (slot_cap * target_load)) + 1
    nb = CUCKOO_INNER_BUCKETS
    while nb < need:
        nb <<= 1
    return nb


def _cuckoo_parts(h: np.ndarray, nb: int) -> tuple[np.ndarray, np.ndarray, np.ndarray]:
    """(fp, b1, b2) for int64 url hashes: 16-bit fingerprint from the top
    bits (never 0), partial-key XOR bucket pair.

    b1 must NOT reuse the hash's low bits: the shard key is
    pmod(url_hash, n_buckets), so within one shard the low bits are
    CONSTANT — `u & (nb-1)` would collapse b1 to nb/n_buckets distinct
    values per shard (1/64th of the table's primary capacity at the
    defaults), degrading placement to near-single-choice. A Fibonacci
    multiply-shift takes the HIGH bits of u*phi, which vary freely within
    a shard and stay independent of the fp bits."""
    u = h.astype(np.uint64)
    fp = (u >> np.uint64(48)).astype(np.uint16)
    fp = np.where(fp == 0, np.uint16(1), fp)
    shift = np.uint64(64 - int(nb).bit_length() + 1)  # 64 - log2(nb)
    b1 = ((u * np.uint64(0x9E3779B97F4A7C15)) >> shift).astype(np.int64)
    kick = (fp.astype(np.uint64) * np.uint64(0x5BD1E995)) & np.uint64(nb - 1)
    b2 = (b1.astype(np.uint64) ^ kick).astype(np.int64)
    return fp, b1, b2


def _cuckoo_canon(fp: np.ndarray, b1: np.ndarray, b2: np.ndarray) -> np.ndarray:
    """Canonical stash key: (min candidate bucket << 16) | fp — derivable
    from either bucket via the XOR pair, so a probe finds it from either."""
    lo = np.minimum(b1, b2).astype(np.uint64)
    return (lo << np.uint64(16)) | fp.astype(np.uint64)


def _cuckoo_empty(nb: int, cap: int) -> tuple[np.ndarray, np.ndarray]:
    return np.zeros(nb * cap, dtype=np.uint16), np.zeros(0, dtype=np.uint64)


def _cuckoo_decode(blob: bytes) -> tuple[np.ndarray, np.ndarray, int, int]:
    hdr = np.frombuffer(blob, dtype=np.uint64, count=_CUCKOO_HDR)
    nb, cap, stash_len = int(hdr[0]), int(hdr[1]), int(hdr[2])
    off = _CUCKOO_HDR * 8
    table = np.frombuffer(blob, dtype=np.uint16, count=nb * cap, offset=off).copy()
    off += nb * cap * 2
    stash = np.frombuffer(blob, dtype=np.uint64, count=stash_len, offset=off).copy()
    return table, stash, nb, cap


def _cuckoo_encode(table: np.ndarray, stash: np.ndarray, nb: int, cap: int) -> bytes:
    hdr = np.array([nb, cap, len(stash)], dtype=np.uint64)
    return hdr.tobytes() + table.tobytes() + stash.tobytes()


def _cuckoo_contains(
    table: np.ndarray, stash: np.ndarray, nb: int, cap: int, h: np.ndarray
) -> np.ndarray:
    """Vectorized membership: fingerprint in either candidate bucket, or
    canonical key in the stash."""
    if len(h) == 0:
        return np.zeros(0, dtype=bool)
    fp, b1, b2 = _cuckoo_parts(h, nb)
    t = table.reshape(nb, cap)
    hit1 = (t[b1] == fp[:, None]).any(axis=1)
    hit2 = (t[b2] == fp[:, None]).any(axis=1)
    out = hit1 | hit2
    if len(stash):
        out |= np.isin(_cuckoo_canon(fp, b1, b2), stash)
    return out


def _place_bulk(
    table2d: np.ndarray, buckets: np.ndarray, fps: np.ndarray
) -> np.ndarray:
    """One vectorized choice pass: for entries grouped by target bucket
    (in input order), fill that bucket's free slots first-come. Returns a
    boolean placed mask. Free slots per bucket and within-group ranks are
    all numpy; nothing touches Python per entry."""
    if len(buckets) == 0:
        return np.zeros(0, dtype=bool)
    cap = table2d.shape[1]
    order = np.argsort(buckets, kind="stable")
    sb = buckets[order]
    # rank of each entry within its bucket group
    first = np.concatenate(([True], sb[1:] != sb[:-1]))
    grp_start = np.flatnonzero(first)
    ranks = np.arange(len(sb)) - np.repeat(grp_start, np.diff(np.append(grp_start, len(sb))))
    free = (table2d[sb] == 0).sum(axis=1)
    placed_sorted = ranks < free
    # write the placed fingerprints: for each placed entry, the target slot
    # is the (slot_rank)-th free slot of its bucket
    pb, pf = sb[placed_sorted], fps[order][placed_sorted]
    pr = ranks[placed_sorted]
    if len(pb):
        free_slots = table2d[pb] == 0
        # index of the pr-th free slot per row: cumulative count of free
        # slots per row, find first position where cumsum > pr
        cum = free_slots.cumsum(axis=1)
        slot = (cum <= pr[:, None]).sum(axis=1)
        table2d[pb, slot] = pf
    placed = np.zeros(len(buckets), dtype=bool)
    placed[order] = placed_sorted
    return placed


def _cuckoo_grow(
    table: np.ndarray, stash: np.ndarray, nb: int, cap: int, need: int
) -> tuple[np.ndarray, np.ndarray, int]:
    """Membership-preserving in-shard resize: double the slot cap until
    ``need`` live entries fit under CUCKOO_GROW_LOAD (ceiling:
    CUCKOO_MAX_SLOT_CAP). Bucket addressing depends only on ``nb``, so the
    grow is a reshape-pad — no rehash, and no original keys needed — and
    the stash drains back into the new free slots (its canonical keys
    encode (min candidate bucket, fp), which is the full placement
    information). Every doubling doubles the per-probe FPR, which is why
    growth is bounded and a-priori sizing (cuckoo_inner_buckets_for) is
    the production default."""
    new_cap = cap
    while new_cap < CUCKOO_MAX_SLOT_CAP and nb * new_cap * CUCKOO_GROW_LOAD < need:
        new_cap <<= 1
    if new_cap == cap:
        return table, stash, cap
    t_new = np.zeros((nb, new_cap), dtype=np.uint16)
    t_new[:, :cap] = table.reshape(nb, cap)
    if len(stash):
        fp = (stash & np.uint64(0xFFFF)).astype(np.uint16)
        b1 = (stash >> np.uint64(16)).astype(np.int64)
        kick = (fp.astype(np.uint64) * np.uint64(0x5BD1E995)) & np.uint64(nb - 1)
        b2 = (b1.astype(np.uint64) ^ kick).astype(np.int64)
        placed = _place_bulk(t_new, b1, fp)
        rem = np.flatnonzero(~placed)
        if len(rem):
            placed2 = _place_bulk(t_new, b2[rem], fp[rem])
            rem = rem[~placed2]
        stash = stash[rem]
    return t_new.reshape(-1), stash, new_cap


def _cuckoo_insert(
    table: np.ndarray, stash: np.ndarray, nb: int, cap: int, h: np.ndarray
) -> tuple[np.ndarray, np.ndarray, int, int]:
    """Insert hashes (skipping ones already maybe-present — a member's
    re-insert is a no-op, mirroring Bloom re-set semantics, and a
    false-positive skip is harmless because the matching fingerprint
    keeps answering every future probe). Returns (table, stash, slot_cap,
    n_inserted) — slot_cap can come back LARGER than it went in: an
    insert batch that would push the load factor past CUCKOO_GROW_LOAD
    first grows the shard in place (see _cuckoo_grow)."""
    h = np.unique(h)
    fresh = ~_cuckoo_contains(table, stash, nb, cap, h)
    h = h[fresh]
    if len(h) == 0:
        return table, stash, cap, 0
    live = int(np.count_nonzero(table)) + len(stash)
    if live + len(h) > nb * cap * CUCKOO_GROW_LOAD:
        table, stash, cap = _cuckoo_grow(table, stash, nb, cap, live + len(h))
    fp, b1, b2 = _cuckoo_parts(h, nb)
    t = table.reshape(nb, cap)
    placed1 = _place_bulk(t, b1, fp)
    r = ~placed1
    placed2 = np.zeros(len(h), dtype=bool)
    if r.any():
        placed2_sub = _place_bulk(t, b2[r], fp[r])
        placed2[np.flatnonzero(r)[placed2_sub]] = True
    rest = np.flatnonzero(~(placed1 | placed2))
    new_stash = []
    if len(rest):
        # Eviction walk, contended tail only: deterministic victim slot
        # (kick count mod cap), membership preserved at every step. The
        # walk's total work is BOUNDED: each successful walk consumes one
        # free slot, so at most free_remaining walks can ever park, and a
        # bounded allowance of failed walks is tolerated on top — past
        # either limit the remainder stashes in bulk (vectorized, exact
        # membership either way). Without the bound, an over-capacity
        # shard (only reachable at CUCKOO_MAX_SLOT_CAP) pays 250 Python
        # kicks per entry — the measured 15x crawl-wave cliff.
        free_remaining = int((t == 0).sum())
        walk_budget = max(1024, 4 * free_remaining)
        bulk_from = len(rest)
        for j, i in enumerate(rest):
            if free_remaining == 0 or j >= walk_budget:
                bulk_from = j
                break
            cur_fp, cur_b = int(fp[i]), int(b1[i])
            parked = False
            for kicks in range(CUCKOO_MAX_KICKS):
                row = t[cur_b]
                empty = np.flatnonzero(row == 0)
                if len(empty):
                    row[empty[0]] = cur_fp
                    parked = True
                    break
                victim_slot = kicks % cap
                victim_fp = int(row[victim_slot])
                row[victim_slot] = cur_fp
                vkick = (victim_fp * 0x5BD1E995) & (nb - 1)
                cur_fp, cur_b = victim_fp, cur_b ^ vkick
            if parked:
                free_remaining -= 1
            else:
                # stash the fp the walk is still holding (canonical form)
                alt = cur_b ^ ((cur_fp * 0x5BD1E995) & (nb - 1))
                canon = (min(cur_b, alt) << 16) | cur_fp
                new_stash.append(canon)
        tail = rest[bulk_from:]
        if len(tail):
            stash = np.concatenate(
                [stash, _cuckoo_canon(fp[tail], b1[tail], b2[tail])]
            )
    if new_stash:
        stash = np.concatenate([stash, np.array(new_stash, dtype=np.uint64)])
    return table, stash, cap, int(len(h))


# --------------------------------------------------------------------------
# Shard codecs: everything that knows a blob format. A shard is opened
# fresh (at the caller's fresh-shard geometry) or decoded from a stored blob
# (at the geometry the blob records), then mutated in place by insert,
# which returns the change in the shard's member count.


class _BloomShard:
    """A Bloom shard is its bit array; the blob is the array's bytes, so a
    stored shard has 8·len(blob) bits whatever ``bits_per_bucket`` says."""

    def __init__(self, bits: np.ndarray):
        self.bits = bits
        self.m_bits = len(bits) << 3

    @classmethod
    def fresh(cls, bits_per_bucket: int) -> _BloomShard:
        return cls(np.zeros(bits_per_bucket >> 3, dtype=np.uint8))

    @classmethod
    def decode(cls, blob: bytes) -> _BloomShard:
        return cls(np.frombuffer(blob, dtype=np.uint8).copy())

    def contains(self, h: np.ndarray) -> np.ndarray:
        return _test_bits(self.bits, h, self.m_bits)

    def insert(self, h: np.ndarray) -> int:
        # counts every inserted hash: an upper bound on distinct members
        _set_bits(self.bits, h, self.m_bits)
        return len(h)

    def encode(self) -> bytes:
        return self.bits.tobytes()


class _CuckooShard:
    """A cuckoo shard is its fingerprint table plus stash, at the geometry
    (inner buckets, slot cap) its blob header records. Reading a blob at any
    other geometry would misaddress every stored fingerprint — silent false
    negatives — so the header always wins."""

    def __init__(self, table: np.ndarray, stash: np.ndarray, nb: int, cap: int):
        self.table, self.stash, self.nb, self.cap = table, stash, nb, cap

    @classmethod
    def fresh(cls, inner_buckets: int, slot_cap: int) -> _CuckooShard:
        return cls(*_cuckoo_empty(inner_buckets, slot_cap), inner_buckets, slot_cap)

    @classmethod
    def decode(cls, blob: bytes) -> _CuckooShard:
        return cls(*_cuckoo_decode(blob))

    def contains(self, h: np.ndarray) -> np.ndarray:
        return _cuckoo_contains(self.table, self.stash, self.nb, self.cap, h)

    def insert(self, h: np.ndarray) -> int:
        # counts entries actually added, so n_items is the exact live count
        self.table, self.stash, self.cap, n = _cuckoo_insert(
            self.table, self.stash, self.nb, self.cap, h
        )
        return n

    def encode(self) -> bytes:
        return _cuckoo_encode(self.table, self.stash, self.nb, self.cap)


def _codec(
    kind: str,
    bits_per_bucket: int = DEFAULT_BITS_PER_BUCKET,
    inner_buckets: int = CUCKOO_INNER_BUCKETS,
    slot_cap: int = CUCKOO_SLOT_CAP,
) -> tuple:
    """``(decode, fresh)`` for a filter kind: ``decode(blob)`` opens a
    stored shard, ``fresh()`` builds an empty one at the given geometry."""
    if kind == "bloom":
        return _BloomShard.decode, lambda: _BloomShard.fresh(bits_per_bucket)
    if kind == "cuckoo":
        return _CuckooShard.decode, lambda: _CuckooShard.fresh(
            inner_buckets, slot_cap
        )
    raise ValueError(f"unknown filter kind {kind!r}")


def _latest(decode, blobs: pa.Table) -> tuple:
    """Resolve latest-generation-wins over a bucket's blob rows (one from
    a crawl's live load; several in a union of deltas): the decoded shard
    and its n_items."""
    i = int(np.argmax(blobs.column("gen").to_numpy()))
    return decode(blobs.column("filter_blob")[i].as_py()), blobs.column("n_items")[i].as_py()


def _min_depth_rows(cand: pa.Table) -> pa.Table:
    """Per url, the first row holding its minimum ``depth``: the rows of
    ``groupBy("url").agg(min("depth"))`` when every other column is a
    function of url. One hash aggregate over (depth, row) packed in an
    int64, no string sort."""
    n = cand.num_rows
    key = cand.column("depth").to_numpy().astype(np.int64) * n + np.arange(n)
    best = (
        pa.table({"url": cand.column("url"), "k": key})
        .group_by("url", use_threads=False)
        .aggregate([("k", "min")])
        .column("k_min")
        .to_numpy()
    )
    return cand.take(np.sort(best % n))


def _table(schema: pa.Schema, columns: list) -> pa.Table:
    """Arrow ``columns`` as a table of ``schema``'s types, in its order."""
    return pa.Table.from_arrays(
        [c.cast(f.type) for c, f in zip(columns, schema)], schema=schema
    )


def shard_of(n_buckets: int) -> Column:
    """The shard a ``url_hash`` row belongs to: pmod(url_hash, n_buckets)."""
    return F.pmod(F.col("url_hash"), F.lit(n_buckets)).cast("int")


# --------------------------------------------------------------------------
# Spark-facing drivers: three cogroups, each over any codec.


def _merge_shards(
    seen_bloom: DataFrame,
    hashes: DataFrame,
    n_buckets: int,
    gen: int,
    emit_untouched: bool,
    decode,
    fresh,
) -> DataFrame:
    """Shard-merge cogroup: each bucket's latest shard takes its hashes
    through the codec's ``insert`` and is emitted stamped ``gen``. A
    bucket without a shard starts from ``fresh()``. A bucket without
    hashes is emitted only under ``emit_untouched``."""
    hashed = hashes.select(shard_of(n_buckets).alias("bucket"), "url_hash")
    out = to_arrow_schema(schemas.SEEN_BLOOM)

    def merge(key, blobs: pa.Table, hashes: pa.Table) -> pa.Table:
        if hashes.num_rows == 0 and (blobs.num_rows == 0 or not emit_untouched):
            return out.empty_table()
        shard, n = _latest(decode, blobs) if blobs.num_rows else (fresh(), 0)
        if hashes.num_rows:
            n += shard.insert(hashes.column("url_hash").to_numpy())
        return pa.Table.from_pydict(
            {"bucket": [key[0].as_py()], "filter_blob": [shard.encode()],
             "n_items": [n], "gen": [gen]},
            schema=out,
        )

    return (
        seen_bloom.groupBy("bucket")
        .cogroup(hashed.groupBy("bucket"))
        .applyInArrow(merge, schema=schemas.SEEN_BLOOM)
    )


def update_blooms(
    seen_bloom: DataFrame,
    new_hashes: DataFrame,
    n_buckets: int = DEFAULT_N_BUCKETS,
    bits_per_bucket: int = DEFAULT_BITS_PER_BUCKET,
    gen: int = 0,
    emit_untouched: bool = True,
    kind: str = "bloom",
    inner_buckets: int = CUCKOO_INNER_BUCKETS,
    slot_cap: int = CUCKOO_SLOT_CAP,
) -> DataFrame:
    """Merge newly-seen url hashes into their buckets' shards, of either
    filter ``kind``.

    ``seen_bloom``: schemas.SEEN_BLOOM (may hold several generations per
    bucket; latest wins); ``new_hashes``: any df with a ``url_hash`` column.
    By default the result is a FULL merged table (safe to chain / commit
    as a replacement — no bucket is ever silently dropped). Pass
    ``emit_untouched=False`` for the delta form: only buckets receiving
    new hashes are emitted, stamped ``gen``: an upsert by bucket, or a
    delta to union with the prior table (latest generation wins; see
    probe_and_update). ``n_items`` counts hashes inserted for
    Bloom (an upper bound on distinct members) and live entries for
    cuckoo (exact: fingerprints are stored individually, and a member's
    re-insert is a no-op). ``bits_per_bucket`` (Bloom) and
    ``inner_buckets``/``slot_cap`` (cuckoo) size fresh shards only.
    """
    decode, fresh = _codec(kind, bits_per_bucket, inner_buckets, slot_cap)
    return _merge_shards(
        seen_bloom, new_hashes, n_buckets, gen, emit_untouched, decode, fresh
    )


def probe_blooms(
    candidates: DataFrame,
    seen_bloom: DataFrame,
    n_buckets: int = DEFAULT_N_BUCKETS,
    kind: str = "bloom",
) -> DataFrame:
    """candidates(+url_hash) → candidates + ``maybe_seen`` boolean.

    maybe_seen=False is definitive (neither kind has false negatives); True
    rows still need the exact anti-join. The split-path reference that
    probe_and_update is tested against.
    """
    decode, _ = _codec(kind)
    cols = candidates.columns
    with_bucket = candidates.withColumn("__bucket", shard_of(n_buckets))
    out_schema = T.StructType(
        list(with_bucket.schema.fields)
        + [T.StructField("maybe_seen", T.BooleanType(), False)]
    )
    out = to_arrow_schema(out_schema)

    def probe(cand: pa.Table, blobs: pa.Table) -> pa.Table:
        if cand.num_rows == 0:
            return out.empty_table()
        maybe = (
            _latest(decode, blobs)[0].contains(cand.column("url_hash").to_numpy())
            if blobs.num_rows
            else np.zeros(cand.num_rows, dtype=bool)
        )
        return _table(out, cand.columns + [pa.array(maybe)])

    probed = (
        with_bucket.groupBy("__bucket")
        .cogroup(seen_bloom.groupBy("bucket"))
        .applyInArrow(probe, schema=out_schema)
    )
    return probed.select(*cols, "maybe_seen")


def probe_and_update(
    candidates: DataFrame,
    seen_bloom: DataFrame,
    n_buckets: int = DEFAULT_N_BUCKETS,
    bits_per_bucket: int = DEFAULT_BITS_PER_BUCKET,
    gen: int = 0,
    dedup: bool = False,
    kind: str = "bloom",
    inner_buckets: int = CUCKOO_INNER_BUCKETS,
    slot_cap: int = CUCKOO_SLOT_CAP,
) -> DataFrame:
    """Fused probe + update: ONE cogroup pass per round instead of two.

    ``kind`` selects the shard codec ("bloom" or "cuckoo"); the cogroup
    shape, the probe-before-insert semantics and the delta-generation
    contract are the same for both. ``bits_per_bucket`` and
    ``inner_buckets``/``slot_cap`` size FRESH shards only (a stored blob's
    geometry is authoritative); size cuckoo shards for the expected crawl
    scale with cuckoo_inner_buckets_for.

    Emits two kinds of rows distinguished by ``filter_blob IS NULL``:

    * candidate rows — original columns + ``maybe_seen`` (the probe);
    * one blob row per touched bucket — the bucket's blob with ALL the
      bucket's candidate hashes inserted, stamped ``gen`` and carrying
      ``n_cands`` (the bucket's candidate count after dedup). A bucket
      without candidates emits nothing: the blob rows are the round's
      upsert of ``seen_bloom``, keyed by bucket.

    With ``dedup`` the per-url min-depth reduction ALSO happens inside
    this pass: a url's rows always land in one bucket, so the bucket
    group sees every occurrence — in-group dedup replaces the whole
    upstream ``groupBy("url")`` shuffle (one less wide dependency per
    crawl round; requires a ``depth`` column).

    Inserting all candidates (not just the post-anti-join survivors) is
    identical to inserting only the new entries: a candidate either
    survives the exact anti-join (would be inserted anyway) or is already
    in the seen set (already a member — re-insert is a no-op). Fusing
    removes the second candidates shuffle and the second Python/Arrow pass
    the split probe→update design paid per round.

    Callers persist the result and split it:
        probed = fused.where(col("filter_blob").isNull())
        blobs  = fused.where(col("filter_blob").isNotNull())
    """
    decode, fresh = _codec(kind, bits_per_bucket, inner_buckets, slot_cap)
    with_bucket = candidates.withColumn("__bucket", shard_of(n_buckets))
    out_schema = T.StructType(
        [T.StructField(f.name, f.dataType, True) for f in with_bucket.schema.fields]
        + [
            T.StructField("maybe_seen", T.BooleanType(), True),
            T.StructField("filter_blob", T.BinaryType(), True),
            T.StructField("n_items", T.LongType(), True),
            T.StructField("gen", T.IntegerType(), True),
            T.StructField("n_cands", T.LongType(), True),
        ]
    )
    out = to_arrow_schema(out_schema)

    def fused(key, cand: pa.Table, blobs: pa.Table) -> pa.Table:
        parts = []
        shard, n = _latest(decode, blobs) if blobs.num_rows else (None, 0)
        if dedup and cand.num_rows:
            cand = _min_depth_rows(cand)
        if cand.num_rows:
            arr = cand.column("url_hash").to_numpy()
            maybe = (
                np.zeros(len(arr), dtype=bool) if shard is None else shard.contains(arr)
            )
            # candidate rows: the probe, with the four blob columns null
            parts.append(_table(out, cand.columns + [pa.array(maybe)] + [
                pa.nulls(len(arr), t) for t in out.types[-4:]
            ]))
            if shard is None:
                shard = fresh()
            n += shard.insert(arr)
            # the bucket's blob row, with null candidate columns
            row = {f.name: [None] for f in out}
            row.update(__bucket=[key[0].as_py()], filter_blob=[shard.encode()],
                       n_items=[n], gen=[gen], n_cands=[cand.num_rows])
            parts.append(pa.Table.from_pydict(row, schema=out))
        return pa.concat_tables(parts) if parts else out.empty_table()

    return (
        with_bucket.groupBy("__bucket")
        .cogroup(seen_bloom.groupBy("bucket"))
        .applyInArrow(fused, schema=out_schema)
    )
