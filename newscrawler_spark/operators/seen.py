"""URL-seen set: bucket-store filter prefilter + exact anti-join.

The reference's seen set is a per-row ``SELECT ... WHERE url = :url``
before INSERT (``src/cli.py:72-77``) backed by a UNIQUE index
(``init-schema.sql:8``).  At 10^10-URL scale the Spark translation is:

  1. an **approximate filter** (bloom or cuckoo) over the seen
     ``url_hash`` values, split into ``B`` buckets by
     ``pmod(url_hash, B)``.  Each bucket's filter is a shared-storage
     blob in one :class:`BucketStore` (``filter_cls`` :class:`NumpyBloom`
     or :class:`NumpyCuckoo`) that executor tasks advance, remove from
     and apply themselves in one bucket pass — the driver never
     assembles or broadcasts a filter.  Filter *negatives* are
     definitely new and skip the join entirely;
  2. an **exact left-anti join** on ``(url_hash, url)`` for the filter
     *positives* only.  The join keys include the full URL string, so a
     60-bit hash collision can never drop a URL — the hash exists to
     make the filter and the shuffle cheap, the anti-join is the truth.

Scale notes (10^10 frontier): a single bloom for 10^10 hashes at fpp
1e-3 is ~17 GB — too big for one broadcast.  Bucketed, each blob is
~17 GB / B and each task loads only the buckets its rows touch.  The
crawler runs this one code path at every B; ``B=1`` (the default) is a
single blob, ``B>1`` shards it.

Equivalence contract: ``anti_join_seen(f, s, store=st) ≡
anti_join_seen(f, s)`` (the plain left-anti join) for every input —
tested filter-on vs filter-off at B=1 and B>1.
"""

from __future__ import annotations

import math
import os
from typing import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

_MASK64 = np.uint64(0xFFFFFFFFFFFFFFFF)
_MIX = np.uint64(0x9E3779B97F4A7C15)


class NumpyBloom:
    """Vectorized bloom filter over int64 hashes (numpy bitset).

    Double hashing: probe_i = (h1 + i*h2) mod m, h2 odd — standard
    Kirsch-Mitzenmacher construction, entirely ufunc-vectorized so the
    pandas-UDF prefilter costs O(batch) numpy ops, not per-row Python.
    """

    BLOB_PREFIX = "bloomb"

    def __init__(self, expected: int, fpp: float = 1e-3):
        expected = max(expected, 16)
        m = int(-expected * math.log(fpp) / (math.log(2) ** 2))
        self.m = ((m + 63) // 64) * 64
        self.k = max(1, round(self.m / expected * math.log(2)))
        self.words = np.zeros(self.m // 64, dtype=np.uint64)

    def _probes(self, hashes: np.ndarray) -> Iterator[np.ndarray]:
        h1 = hashes.astype(np.int64).view(np.uint64)
        h2 = ((h1 * _MIX) & _MASK64) | np.uint64(1)
        for i in range(self.k):
            yield ((h1 + np.uint64(i) * h2) % np.uint64(self.m)).astype(np.uint64)

    def add(self, hashes: np.ndarray) -> None:
        for idx in self._probes(hashes):
            np.bitwise_or.at(self.words, (idx >> np.uint64(6)).astype(np.int64),
                             np.uint64(1) << (idx & np.uint64(63)))

    def might_contain(self, hashes: np.ndarray) -> np.ndarray:
        if len(hashes) == 0:
            return np.zeros(0, dtype=bool)
        out = np.ones(len(hashes), dtype=bool)
        for idx in self._probes(hashes):
            word = self.words[(idx >> np.uint64(6)).astype(np.int64)]
            out &= ((word >> (idx & np.uint64(63))) & np.uint64(1)).astype(bool)
        return out

    # -- serialization (blob protocol, see BucketStore) ------------------
    def blob_name(self, bucket: int, round_id: int) -> str:
        return f"{self.BLOB_PREFIX}{bucket}-{round_id}.m{self.m}k{self.k}.bin"

    def to_bytes(self) -> bytes:
        return self.words.tobytes()

    def from_bytes(self, blob: bytes) -> "NumpyBloom":
        """Load ``blob`` into this (empty) filter; its geometry must match."""
        words = np.frombuffer(blob, dtype=np.uint64)
        if words.size != self.m // 64:
            raise ValueError(
                f"bloom blob has {words.size} words, expected {self.m // 64}"
                " — written under a different filter config"
            )
        self.words = words.copy()
        return self


def build_bloom(seen: DataFrame, hash_col: str, expected: int, fpp: float = 1e-3) -> NumpyBloom:
    """Build a bloom over ``seen[hash_col]`` map-side.

    Each partition emits one serialized partial bitset (mapInPandas);
    the driver ORs them — the full hash set never moves to the driver,
    only ~m/8 bytes per partition.  Not on the crawler's seen path,
    which builds its blooms on the executors (:class:`BucketStore`).
    """
    proto = NumpyBloom(expected, fpp)
    m, k = proto.m, proto.k

    def partial(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        bloom = NumpyBloom(expected, fpp)
        assert bloom.m == m and bloom.k == k
        nonempty = False
        for pdf in it:
            h = pdf[hash_col].to_numpy(dtype=np.int64)
            if len(h):
                bloom.add(h)
                nonempty = True
        if nonempty:
            yield pd.DataFrame({"bits": [bloom.to_bytes()]})

    parts = seen.select(hash_col).mapInPandas(partial, schema="bits binary").collect()
    for row in parts:
        proto.words |= np.frombuffer(row["bits"], dtype=np.uint64)
    return proto


# ---------------------------------------------------------------------------
# Cuckoo-filter seen set — the deletable twin of the bloom path
# ---------------------------------------------------------------------------

_FP_MIX = np.uint64(0xBF58476D1CE4E5B9)  # splitmix64 finalizer constants
_FP_MIX2 = np.uint64(0x94D049BB133111EB)


def _splitmix(h: np.ndarray) -> np.ndarray:
    """splitmix64 finalizer — decorrelates the index/fingerprint bits
    from the raw hash.  Required here: the bucket-store splits keys by
    ``pmod(url_hash, B)``, so raw low bits are CONSTANT within a blob
    and indexing by them would collapse every key into m/B buckets."""
    z = h.astype(np.int64).view(np.uint64).copy()
    z ^= z >> np.uint64(30)
    z = (z * _FP_MIX) & _MASK64
    z ^= z >> np.uint64(27)
    z = (z * _FP_MIX2) & _MASK64
    z ^= z >> np.uint64(31)
    return z


class NumpyCuckoo:
    """Vectorized cuckoo filter over int64 hashes (partial-key cuckoo
    hashing, Fan et al. 2014): ``m`` power-of-two buckets × 4 slots of
    16-bit fingerprints.  The north-star names "bloom/cuckoo-filter
    URL-seen set"; this is the cuckoo half, and its discriminator is
    **deletion** — a URL due for re-crawl can be REMOVED from the seen
    filter (re-crawl policy), which a bloom cannot do without a rebuild.

    * fpp ≈ 8/2^16 ≈ 0.012% at 95% load — better than the bloom default
      at comparable bits/key;
    * lookup is fully vectorized (two gathers + compares per batch);
      insert is vectorized first-fit with a Python eviction loop only
      for the rare overflow items;
    * **no false negatives, ever**: items whose eviction chain exceeds
      the retry bound go to a bounded stash (checked by lookups); if the
      stash fills, the filter flips to ``saturated`` and reports
      everything as "maybe seen" — degrading to the exact anti-join for
      all rows, never dropping a seen URL.  (A failed cuckoo insert that
      was silently forgotten would make the prefilter report a SEEN url
      as new — the one failure mode the bloom-equivalence contract
      cannot tolerate.)
    * deletion caveat (inherent to cuckoo filters): only delete keys
      known to be present, and at most once per insert — deleting an
      absent key may evict a colliding key's fingerprint.

    Runs in the same :class:`BucketStore` as the bloom
    (``filter_cls=NumpyCuckoo``, the crawler's ``seen_filter="cuckoo"``);
    its blob carries the stash and the saturation flag with the table.
    """

    SLOTS = 4
    STASH_MAX = 512
    MAX_KICKS = 500

    BLOB_PREFIX = "cuckoob"

    def __init__(self, expected: int):
        want = max(16, int(expected / (self.SLOTS * 0.95)))
        m = 1 << (want - 1).bit_length()
        self.m = m
        self.table = np.zeros((m, self.SLOTS), dtype=np.uint16)
        self.stash_b: list[int] = []
        self.stash_fp: list[int] = []
        self.saturated = False

    # -- key derivation -------------------------------------------------
    def _derive(self, hashes: np.ndarray):
        z = _splitmix(hashes)
        fp = (z & np.uint64(0xFFFF)).astype(np.uint16)
        fp = np.where(fp == 0, np.uint16(1), fp)  # 0 marks an empty slot
        i1 = (z >> np.uint64(16)) % np.uint64(self.m)
        i2 = i1 ^ self._fp_index(fp)
        return fp, i1.astype(np.int64), i2.astype(np.int64)

    def _fp_index(self, fp) -> np.ndarray:
        # partial-key displacement hash: i2 = i1 XOR hash(fp) (mod m);
        # XOR keeps the pair relation symmetric so eviction can recover
        # the alternate bucket from (bucket, fp) alone
        return ((fp.astype(np.uint64) * _MIX) & _MASK64) % np.uint64(self.m)

    # -- insert ---------------------------------------------------------
    def add(self, hashes: np.ndarray) -> None:
        if self.saturated or len(hashes) == 0:
            return
        fp, i1, i2 = self._derive(hashes)
        placed = np.zeros(len(fp), dtype=bool)
        # vectorized first-fit: for each (choice bucket, slot), let the
        # FIRST unplaced item per bucket claim an empty slot; repeat.
        # Two sweeps cover the common case; leftovers take the kick loop.
        for _ in range(2):
            for idx in (i1, i2):
                for s in range(self.SLOTS):
                    cand = np.flatnonzero(~placed & (self.table[idx, s] == 0))
                    if cand.size == 0:
                        continue
                    _, first = np.unique(idx[cand], return_index=True)
                    winners = cand[first]
                    self.table[idx[winners], s] = fp[winners]
                    placed[winners] = True
            if placed.all():
                return
        for j in np.flatnonzero(~placed):
            self._insert_one(int(fp[j]), int(i1[j]))
            if self.saturated:
                return

    def _insert_one(self, fp: int, i1: int) -> None:
        cur_fp, b = np.uint16(fp), i1
        for kick in range(self.MAX_KICKS):
            empty = np.flatnonzero(self.table[b] == 0)
            if empty.size:
                self.table[b, empty[0]] = cur_fp
                return
            slot = kick % self.SLOTS  # deterministic eviction choice
            cur_fp, self.table[b, slot] = self.table[b, slot], cur_fp
            b = int(np.int64(b) ^ np.int64(self._fp_index(np.array([cur_fp], dtype=np.uint16))[0]))
        if len(self.stash_b) < self.STASH_MAX:
            self.stash_b.append(b)
            self.stash_fp.append(int(cur_fp))
        else:
            # stash full: degrade to all-maybe (exact join takes over) —
            # slower, never wrong.  The displaced chain already in the
            # table stays valid; only lookup behavior changes.
            self.saturated = True

    # -- lookup ---------------------------------------------------------
    def might_contain(self, hashes: np.ndarray) -> np.ndarray:
        n = len(hashes)
        if n == 0:
            return np.zeros(0, dtype=bool)
        if self.saturated:
            return np.ones(n, dtype=bool)
        fp, i1, i2 = self._derive(hashes)
        out = (self.table[i1] == fp[:, None]).any(axis=1)
        out |= (self.table[i2] == fp[:, None]).any(axis=1)
        if self.stash_b:
            sb = np.asarray(self.stash_b, dtype=np.int64)
            sf = np.asarray(self.stash_fp, dtype=np.uint16)
            for k in range(len(sb)):  # stash is tiny (and usually empty)
                out |= (fp == sf[k]) & ((i1 == sb[k]) | (i2 == sb[k]))
        return out

    # -- delete ---------------------------------------------------------
    def remove(self, hashes: np.ndarray) -> int:
        """Remove one fingerprint occurrence per hash; returns how many
        were found.  Only call for keys known present (standard cuckoo
        deletion contract)."""
        removed = 0
        if len(hashes) == 0 or self.saturated:
            return removed
        fp, i1, i2 = self._derive(hashes)
        for j in range(len(fp)):
            done = False
            for b in (int(i1[j]), int(i2[j])):
                slots = np.flatnonzero(self.table[b] == fp[j])
                if slots.size:
                    self.table[b, slots[0]] = 0
                    removed += 1
                    done = True
                    break
            if done:
                continue
            for k in range(len(self.stash_b)):
                if self.stash_fp[k] == int(fp[j]) and self.stash_b[k] in (
                    int(i1[j]),
                    int(i2[j]),
                ):
                    del self.stash_b[k], self.stash_fp[k]
                    removed += 1
                    break
        return removed

    # -- serialization (blob protocol, see BucketStore) ------------------
    def blob_name(self, bucket: int, round_id: int) -> str:
        return f"{self.BLOB_PREFIX}{bucket}-{round_id}.m{self.m}.bin"

    def to_bytes(self) -> bytes:
        head = np.array([len(self.stash_b), int(self.saturated)], dtype=np.uint64)
        return (
            head.tobytes()
            + np.asarray(self.stash_b, dtype=np.int64).tobytes()
            + np.asarray(self.stash_fp, dtype=np.uint16).tobytes()
            + self.table.tobytes()
        )

    def from_bytes(self, blob: bytes) -> "NumpyCuckoo":
        """Load ``blob`` into this (empty) filter; its geometry must match."""
        head = np.frombuffer(blob[:16], dtype=np.uint64)
        ns, sat = int(head[0]), bool(head[1])
        off = 16
        stash_b = np.frombuffer(blob[off : off + 8 * ns], dtype=np.int64)
        off += 8 * ns
        stash_fp = np.frombuffer(blob[off : off + 2 * ns], dtype=np.uint16)
        off += 2 * ns
        table = np.frombuffer(blob[off:], dtype=np.uint16)
        if table.size != self.table.size:
            raise ValueError(
                f"cuckoo blob has {table.size} slots, expected {self.table.size}"
                " — written under a different filter config"
            )
        self.table = table.reshape(self.table.shape).copy()
        self.stash_b = [int(x) for x in stash_b]
        self.stash_fp = [int(x) for x in stash_fp]
        self.saturated = sat
        return self


# ---------------------------------------------------------------------------
# Bucket store: one filter blob per pmod(url_hash, B) bucket
# ---------------------------------------------------------------------------


class BucketStore:
    """Partitioned, bucket-aligned seen filters (SURVEY §7.3): one filter
    per ``pmod(url_hash, B)`` bucket, stored as shared-storage blobs that
    EXECUTORS write and read directly — the driver never assembles (or
    even sees) a full filter.  ``filter_cls`` is :class:`NumpyBloom` (the
    default) or :class:`NumpyCuckoo`; each filter owns its blob format
    (``to_bytes`` / ``from_bytes`` / ``blob_name``), the store owns the
    files.

    Why: a single bloom for 10^10 hashes at fpp 1e-3 is ~17 GB — too
    big to build on, hold in, or broadcast from the driver.  Bucketed,
    each blob is ~17 GB / B; build tasks add only their buckets' deltas
    into their buckets' blobs, and apply tasks load only the buckets
    their rows touch (with the seen/frontier tables bucket-partitioned
    by the same key in storage — the Iceberg layout — that is exactly
    one blob per task, fetched once).  Locally the "shared storage" is
    the crawl store's ``_blobs`` dir (atomic tmp + rename, the same
    protocol as the RoundStore manifests); on a cluster it is
    object-store puts from executors.  ``B=1`` is a single blob — the
    crawler's default.

    Files are per-round cumulative (``bloomb{b}-{r}.m{m}k{k}.bin``,
    ``cuckoob{b}-{r}.m{m}.bin``): round r's blob for bucket b = round
    r-1's plus delta_r ∩ bucket b, so resume reads exactly the committed
    round's files and a crash mid-build is invisible (next run
    overwrites round r's files idempotently; commit is the round
    manifest, as for tables).  The filter geometry is part of the file
    name: blobs written under a different config (e.g. a resume with a
    new ``bloom_expected``) are simply "not found", so :meth:`complete`
    turns false and the caller rebuilds from the committed seen rounds —
    reinterpreting a filter with the wrong geometry would produce false
    NEGATIVES, which the exact-anti-join-on-positives design cannot
    recover from.
    """

    def __init__(self, root: str, n_buckets: int, expected_per_bucket: int,
                 filter_cls: type = NumpyBloom):
        self.root = root
        self.n_buckets = n_buckets
        self.expected_per_bucket = expected_per_bucket
        self.filter_cls = filter_cls

    def empty(self):
        """A fresh filter of this store's geometry."""
        return self.filter_cls(self.expected_per_bucket)

    def _path(self, filt, bucket: int, round_id: int) -> str:
        return os.path.join(self.root, filt.blob_name(bucket, round_id))

    def complete(self, round_id: int) -> bool:
        """True iff every bucket has a blob for ``round_id``."""
        filt = self.empty()
        return all(
            os.path.exists(self._path(filt, b, round_id)) for b in range(self.n_buckets)
        )

    def clear(self) -> None:
        """Delete every blob of this store's filter kind, any round or
        geometry (a cold rebuild starts from empty filters)."""
        if not os.path.isdir(self.root):
            return
        for name in os.listdir(self.root):
            if name.startswith(self.filter_cls.BLOB_PREFIX):
                os.remove(os.path.join(self.root, name))

    # -- executor-side primitives (no Spark imports at call time) ------
    def load_bucket(self, bucket: int, round_id: int):
        filt = self.empty()
        p = self._path(filt, bucket, round_id)
        if round_id >= 0 and os.path.exists(p):
            with open(p, "rb") as f:
                filt.from_bytes(f.read())
        return filt

    def write_bucket(self, bucket: int, round_id: int, filt) -> None:
        os.makedirs(self.root, exist_ok=True)
        p = self._path(filt, bucket, round_id)
        tmp = p + f".tmp{os.getpid()}"
        with open(tmp, "wb") as f:
            f.write(filt.to_bytes())
        os.rename(tmp, p)


def _bucket_of(hashes: np.ndarray, n_buckets: int) -> np.ndarray:
    """pmod(hash, B) with Spark's non-negative-modulo semantics."""
    return ((hashes.astype(np.int64) % n_buckets) + n_buckets) % n_buckets


def _add(filt, hashes: np.ndarray) -> int:
    filt.add(hashes)
    return len(hashes)


def _remove(filt, hashes: np.ndarray) -> int:
    return filt.remove(hashes)


def _bucket_pass(
    df: DataFrame,
    hash_col: str,
    store: BucketStore,
    op,
    round_in: int,
    round_out: int,
    carry: bool,
) -> int:
    """Apply ``op(filter, hashes) -> n`` to every bucket's filter,
    entirely on the executors: load round ``round_in``'s blob, apply,
    write round ``round_out``'s blob.  Returns the sum of ``n``.

    ``df`` is repartitioned by bucket (B-way shuffle of the skinny hash
    column only — on an Iceberg seen table bucket-partitioned by the
    same key this shuffle disappears; here it moves 8 bytes/row).  With
    ``carry`` a skeleton row per bucket guarantees even buckets with no
    rows carry their cumulative blob forward.  The driver receives only
    (bucket, n) counters.
    """
    spark = df.sparkSession
    B = store.n_buckets
    rows = df.select(
        F.pmod(F.col(hash_col), F.lit(B)).cast("int").alias("__bucket"),
        F.col(hash_col).alias("__h"),
        F.lit(True).alias("__real"),
    )
    if carry:
        # skeleton rows use a flag, NOT a null hash — a nullable int64
        # column arrives in pandas as float64, silently rounding 60-bit
        # hashes (>2^53) and corrupting the filter (false negatives,
        # which unlike false positives break the equivalence contract)
        rows = rows.unionByName(
            spark.range(B).select(
                F.col("id").cast("int").alias("__bucket"),
                F.lit(0).cast("long").alias("__h"),
                F.lit(False).alias("__real"),
            )
        )

    # the store is plain data (paths + geometry) — the closure ships it
    # to the executors whole
    def run(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        filters: dict[int, object] = {}
        counts: dict[int, int] = {}
        for pdf in it:
            for b, grp in pdf.groupby("__bucket"):
                b = int(b)
                if b not in filters:
                    filters[b] = store.load_bucket(b, round_in)
                    counts[b] = 0
                h = grp.loc[grp["__real"], "__h"].to_numpy(dtype=np.int64)
                if len(h):
                    counts[b] += op(filters[b], h)
        for b, filt in filters.items():
            store.write_bucket(b, round_out, filt)
        if filters:
            yield pd.DataFrame({"bucket": list(filters), "n": [counts[b] for b in filters]})

    stats = (
        rows.repartition(B, "__bucket")
        .mapInPandas(run, schema="bucket int, n long")
        .collect()
    )
    return int(sum(r["n"] for r in stats))


def advance_partitioned_bloom(
    seen_delta: DataFrame, hash_col: str, store: BucketStore, round_id: int
) -> int:
    """Advance every bucket's cumulative filter to ``round_id`` by adding
    the round's seen delta to round ``round_id - 1``'s blobs; returns the
    number of hashes added."""
    return _bucket_pass(seen_delta, hash_col, store, _add, round_id - 1, round_id, True)


def remove_partitioned_keys(
    df: DataFrame, hash_col: str, store: BucketStore, round_id: int
) -> int:
    """Delete ``df``'s hashes from the round's (cuckoo) blobs, in place.
    The re-crawl policy primitive: URLs whose re-crawl is due are removed
    from the seen filter so the next round's prefilter passes them as
    new; the exact anti-join side must drop the same keys from the seen
    TABLE (policy does both — the filter and the table stay in lockstep,
    as for inserts).  Returns the number of fingerprints actually
    removed."""
    return _bucket_pass(df, hash_col, store, _remove, round_id, round_id, False)


def anti_join_seen(
    frontier: DataFrame,
    seen: DataFrame,
    url_col: str = "canon_url",
    hash_col: str = "url_hash",
    store: BucketStore | None = None,
    round_id: int = -1,
) -> DataFrame:
    """Rows of ``frontier`` whose (hash, url) is absent from ``seen``.

    Without a ``store``: the plain left-anti join (the correctness
    baseline).  With one: each row is first tested against its bucket's
    round-``round_id`` filter, map-side wherever the frontier rows
    already are (no extra shuffle; each task lazily loads only the
    bucket blobs its batches touch).  Negatives bypass the join (the
    filters have no false negatives); positives take the EXACT (hash,
    url) anti-join, so the result is identical either way.
    """
    seen_keys = seen.select(hash_col, url_col)
    if store is None:
        return frontier.join(seen_keys, on=[hash_col, url_col], how="left_anti")

    from pyspark.sql import types as T

    n_buckets = store.n_buckets

    def prefilter(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        cache: dict[int, object] = {}
        for pdf in it:
            h = pdf[hash_col].to_numpy(dtype=np.int64)
            out = np.zeros(len(h), dtype=bool)
            buckets = _bucket_of(h, n_buckets)
            for b in np.unique(buckets):
                b = int(b)
                if b not in cache:
                    cache[b] = store.load_bucket(b, round_id)
                mask = buckets == b
                out[mask] = cache[b].might_contain(h[mask])
            pdf = pdf.copy()
            pdf["__maybe_seen"] = out
            yield pdf

    out_schema = T.StructType(
        list(frontier.schema.fields) + [T.StructField("__maybe_seen", T.BooleanType())]
    )
    tagged = frontier.mapInPandas(prefilter, schema=out_schema)
    definitely_new = tagged.filter(~F.col("__maybe_seen")).drop("__maybe_seen")
    maybe = tagged.filter(F.col("__maybe_seen")).drop("__maybe_seen")
    survivors = maybe.join(seen_keys, on=[hash_col, url_col], how="left_anti")
    return definitely_new.unionByName(survivors)

