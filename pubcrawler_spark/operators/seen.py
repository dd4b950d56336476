"""URL-seen set (SURVEY.md J2/U2/V7): exact and bloom-sharded filters.

The reference's seen-set semantics is an exact anti-join of new ids
against already-indexed ids (/root/reference/src/search/
embedder_chroma.py:56-82). At 10^10-URL scale an exact join of the
frontier against the full seen table every iteration shuffles the
(huge) seen side, so the north rule mandates a partitioned bloom/cuckoo
filter instead:

- **exact mode** — ``left_anti`` join on ``url_hash`` (64-bit murmur3;
  collision FP odds at 10^10 keys ≈ 3e-3 across the whole corpus,
  measured and accepted; fixture tests use this mode so they are
  deterministic).
- **bloom mode** — seen URLs are sharded by ``pmod(url_hash, n_shards)``;
  each shard is a numpy bit-array bloom filter built with
  ``applyInPandas`` (map-side, one blob row per shard). Two probe paths
  (:func:`filter_unseen_bloom` ``mode=``):

  - ``"broadcast"`` — blobs collected + broadcast, probe is a
    shuffle-free ``mapInPandas`` pass (:func:`probe_broadcast`, the one
    probe loop every driver-held filter uses, cuckoo's included). Right
    while the blob table (``n_bits/8 × n_shards`` bytes) fits a
    broadcast.
  - ``"shard_join"`` — at 10^10 URLs / 1% FPP the blobs total ~12 GB,
    past broadcast: candidates shuffle ONCE on ``shard_id`` and meet
    their shard's single blob row in a cogrouped ``applyInPandas`` —
    no driver collect, no broadcast, each blob shipped to exactly one
    task.

  The seen-update twin of shard_join is :func:`update_bloom_shards`:
  the per-iteration delta of new url_hashes cogroups with the existing
  blob rows and each task ORs its shard's positions — the driver never
  materializes hashes or blobs.

  No false negatives by construction (property-tested); false positives
  only drop re-crawls, never violate politeness.

``CrawlEngine`` drives every configuration through one
:class:`SeenFilter`, built by :func:`seen_filter`. Driver-held shards
(bloom blobs, cuckoo tables) checkpoint in one format
(:func:`write_shards`): one parquet row per shard, with the filter
geometry also kept in the file metadata.
"""

from __future__ import annotations

import math
import os

import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.parquet as pq
from pyspark.sql import DataFrame, functions as F

SEEN_SCHEMA = "url_hash long, url_canon string"
BLOOM_SCHEMA = "shard_id int, bloom_bytes binary, n_items long, n_bits long, n_hashes int"
# column types of the driver-held shard checkpoint (write_shards)
_SHARD_COLUMNS = {
    "shard_id": pa.int32(),
    "bloom_bytes": pa.binary(),
    "table_bytes": pa.binary(),
    "n_items": pa.int64(),
    "n_bits": pa.int64(),
    "n_hashes": pa.int32(),
    "n_buckets": pa.int64(),
    "n_shards": pa.int32(),
}


def _parquet_files(path: str) -> list[str]:
    return [
        os.path.join(path, f)
        for f in os.listdir(path)
        if f.startswith("part-") and f.endswith(".parquet")
    ]


def _count_parquet(path: str) -> int:
    """Row count from parquet footers — no Spark job."""
    return sum(pq.ParquetFile(f).metadata.num_rows for f in _parquet_files(path))


def _read_col(path: str, col: str, mask_col: str | None = None, mask_value=None) -> np.ndarray:
    """Read one column from a parquet dir driver-side (pyarrow; no Spark
    job). Used for small per-iteration deltas — the distributed twin for
    huge deltas is build_bloom_delta_shards + OR-merge."""
    arrays = []
    for f in _parquet_files(path):
        cols = [col] + ([mask_col] if mask_col else [])
        t = pq.read_table(f, columns=cols)
        a = t.column(col)
        if mask_col is not None:
            a = pc.filter(a, pc.equal(t.column(mask_col), mask_value))
        arrays.append(a.to_numpy(zero_copy_only=False))
    if not arrays:
        return np.empty(0, dtype=np.int64)
    return np.concatenate(arrays)


def filter_unseen_exact(candidates: DataFrame, seen: DataFrame) -> DataFrame:
    """Exact anti-join on url_hash (J2). ``seen`` has SEEN_SCHEMA."""
    return candidates.join(seen.select("url_hash"), "url_hash", "left_anti")


# ---------------------------------------------------------------------------
# bloom shards
# ---------------------------------------------------------------------------


def _bloom_params(n_items: int, fpp: float) -> tuple[int, int]:
    """Optimal (n_bits, n_hashes) for n items at target fpp.

    n_bits floored at 4096 (512 B/shard): without the floor, a nearly
    empty shard gets a 64-bit filter with ~70% fill and FPP in the 1e-3
    range — observed as a real schedule divergence in testing. k is
    computed from the TARGET ratio (not the floored one) and capped so
    small shards keep FPP ≪ 1e-9.
    """
    n_items = max(1, n_items)
    n_bits = max(4096, int(-n_items * math.log(fpp) / (math.log(2) ** 2)))
    n_bits = (n_bits + 7) // 8 * 8
    n_hashes = max(1, round(n_bits / n_items * math.log(2)))
    return n_bits, min(16, n_hashes)


def _positions(hashes: np.ndarray, n_bits: int, n_hashes: int) -> np.ndarray:
    """Double hashing: pos_i = (h1 + i*h2) mod n_bits, shape (k, n)."""
    h = hashes.astype(np.uint64)
    h1 = h
    h2 = (h >> np.uint64(32)) | (h << np.uint64(32)) | np.uint64(1)
    i = np.arange(n_hashes, dtype=np.uint64)[:, None]
    return ((h1[None, :] + i * h2[None, :]) % np.uint64(n_bits)).astype(np.int64)


def _set_bits(bits: np.ndarray, hashes: np.ndarray, n_bits: int, n_hashes: int) -> None:
    """OR the hashes' positions into ``bits`` in place."""
    pos = _positions(hashes, n_bits, n_hashes)
    np.bitwise_or.at(bits, pos >> 3, (1 << (pos & 7)).astype(np.uint8))


def bloom_build_bytes(hashes: np.ndarray, n_bits: int, n_hashes: int) -> bytes:
    bits = np.zeros(n_bits // 8, dtype=np.uint8)
    _set_bits(bits, hashes, n_bits, n_hashes)
    return bits.tobytes()


def bloom_probe_bytes(blob: bytes, hashes: np.ndarray, n_bits: int, n_hashes: int) -> np.ndarray:
    """Boolean array: True where possibly-seen."""
    if len(hashes) == 0:
        return np.zeros(0, dtype=bool)
    bits = np.frombuffer(blob, dtype=np.uint8)
    pos = _positions(hashes, n_bits, n_hashes)
    hit = (bits[pos >> 3] & (1 << (pos & 7)).astype(np.uint8)) != 0
    return hit.all(axis=0)


def probe_broadcast(candidates: DataFrame, shards: dict, n_shards: int, member) -> DataFrame:
    """Drop candidates that probe positive against driver-held shards.

    ``shards`` maps shard_id → a picklable payload and is broadcast
    once; each batch is split by ``pmod(url_hash, n_shards)`` and
    ``member(payload, hashes)`` returns the possibly-seen mask of one
    shard's hashes. A ``mapInPandas`` pass — no shuffle of the candidate
    side; a shard with no payload passes its candidates, and an empty
    filter is no probe at all."""
    if not shards:
        return candidates
    bc = candidates.sparkSession.sparkContext.broadcast(shards)

    def _probe(it):
        payloads = bc.value
        for pdf in it:
            h = pdf["url_hash"].to_numpy(dtype=np.int64)
            shard = np.mod(h, n_shards)  # numpy % matches Spark pmod for int64
            keep = np.ones(len(pdf), dtype=bool)
            for sid in np.unique(shard):
                payload = payloads.get(int(sid))
                if payload is not None:
                    mask = shard == sid
                    keep[mask] = ~member(payload, h[mask])
            yield pdf[keep]

    return candidates.mapInPandas(_probe, schema=candidates.schema)


def write_shards(path: str, geometry: dict[str, int], **per_shard: dict) -> None:
    """Checkpoint driver-held shards (pyarrow; no Spark job): one parquet
    file, one row per shard — ``shard_id``, then each ``per_shard``
    column (shard_id → value), then the geometry. The geometry repeats
    on every row, where Spark readers of the table take it, and also
    sits in the file metadata, so a zero-shard checkpoint (an iteration
    that marked nothing seen) reads back as an empty filter."""
    sids = sorted(next(iter(per_shard.values())))
    cols = {"shard_id": sids}
    cols.update({name: [v[s] for s in sids] for name, v in per_shard.items()})
    cols.update({name: [g] * len(sids) for name, g in geometry.items()})
    tbl = pa.table({name: pa.array(v, _SHARD_COLUMNS[name]) for name, v in cols.items()})
    os.makedirs(path, exist_ok=True)
    pq.write_table(
        tbl.replace_schema_metadata({name: str(g) for name, g in geometry.items()}),
        os.path.join(path, "part-00000-shards.parquet"),
    )


def read_shards(path: str, geometry: tuple[str, ...]) -> tuple[dict[str, int], dict[str, list]]:
    """Inverse of :func:`write_shards`: (geometry, columns as lists)."""
    tbl = pq.read_table(_parquet_files(path)[0])
    meta = {k.decode(): v.decode() for k, v in (tbl.schema.metadata or {}).items()}
    cols = tbl.to_pydict()
    try:
        geom = {k: int(meta[k] if k in meta else cols[k][0]) for k in geometry}
    except IndexError:
        raise ValueError(f"shard checkpoint {path} records no geometry") from None
    return geom, cols


class BloomShards:
    """Incremental sharded bloom filter — the ``seen_shards`` state table.

    Fixed-capacity shards (n_bits sized once from ``capacity``/``fpp``)
    so per-iteration updates are pure bitwise OR — no rebuild over the
    full seen set (rebuilds made the seen update O(total·iterations)).
    Blobs live as binary rows in the checkpoint; the probe broadcasts
    them (n_shards × n_bits/8 bytes). At 10^10 URLs you raise n_shards
    so each blob stays broadcastable, or chain filters (scalable bloom)
    — both are config, not code changes.

    No false negatives ever (bits are only set, never cleared); FPP
    degrades gracefully past capacity and is measured in tests.
    """

    def __init__(self, n_shards: int, n_bits: int, n_hashes: int):
        self.n_shards = n_shards
        self.n_bits = n_bits
        self.n_hashes = n_hashes
        self.blobs: dict[int, np.ndarray] = {}
        self.n_items: dict[int, int] = {}

    @classmethod
    def sized(cls, capacity: int, fpp: float = 0.01, n_shards: int = 32) -> "BloomShards":
        n_bits, n_hashes = _bloom_params(max(1, capacity // n_shards), fpp)
        return cls(n_shards, n_bits, n_hashes)

    def add_hashes(self, hashes: np.ndarray) -> None:
        """OR the hashes into their shards (numpy; driver-side for small
        deltas — the distributed twin is build_bloom_delta_shards + OR merge)."""
        if len(hashes) == 0:
            return
        shard = np.mod(hashes, self.n_shards)
        for sid in np.unique(shard):
            h = hashes[shard == sid]
            blob = self.blobs.get(int(sid))
            if blob is None:
                blob = np.zeros(self.n_bits // 8, dtype=np.uint8)
                self.blobs[int(sid)] = blob
            _set_bits(blob, h, self.n_bits, self.n_hashes)
            self.n_items[int(sid)] = self.n_items.get(int(sid), 0) + len(h)

    def add_blob_rows(self, rows) -> None:
        """OR-merge fixed-geometry delta blob rows (the distributed
        big-delta path: build_bloom_delta_shards output, one bounded-size
        row per shard — the driver never sees raw hashes)."""
        for r in rows:
            if int(r["n_bits"]) != self.n_bits or int(r["n_hashes"]) != self.n_hashes:
                raise ValueError(
                    f"shard {r['shard_id']}: delta geometry ({r['n_bits']}, {r['n_hashes']}) "
                    f"!= filter geometry ({self.n_bits}, {self.n_hashes})"
                )
            sid = int(r["shard_id"])
            incoming = np.frombuffer(r["bloom_bytes"], dtype=np.uint8)
            blob = self.blobs.get(sid)
            if blob is None:
                self.blobs[sid] = incoming.copy()
            else:
                np.bitwise_or(blob, incoming, out=blob)
            self.n_items[sid] = self.n_items.get(sid, 0) + int(r["n_items"])

    def filter_unseen(self, candidates: DataFrame) -> DataFrame:
        """Broadcast probe (:func:`probe_broadcast`)."""
        n_bits, n_hashes = self.n_bits, self.n_hashes
        return probe_broadcast(
            candidates,
            {sid: b.tobytes() for sid, b in self.blobs.items()},
            self.n_shards,
            lambda blob, h: bloom_probe_bytes(blob, h, n_bits, n_hashes),
        )

    def write(self, path: str) -> None:
        write_shards(
            path,
            {"n_bits": self.n_bits, "n_hashes": self.n_hashes, "n_shards": self.n_shards},
            bloom_bytes={sid: b.tobytes() for sid, b in self.blobs.items()},
            n_items=self.n_items,
        )

    @classmethod
    def read(cls, path: str) -> "BloomShards":
        geom, cols = read_shards(path, ("n_shards", "n_bits", "n_hashes"))
        out = cls(**geom)
        for sid, blob, n in zip(cols["shard_id"], cols["bloom_bytes"], cols["n_items"]):
            out.blobs[sid] = np.frombuffer(blob, dtype=np.uint8).copy()
            out.n_items[sid] = n
        return out


def build_bloom_shards(
    seen: DataFrame, n_shards: int = 32, fpp: float = 0.01, expected_per_shard: int | None = None
) -> DataFrame:
    """seen(url_hash, ...) -> one bloom blob row per shard (V7 build),
    each shard sized to its own count (or ``expected_per_shard``)."""
    return _build_shards(
        seen, n_shards, lambda n: _bloom_params(expected_per_shard or max(n, 1), fpp)
    )


def build_bloom_delta_shards(
    delta: DataFrame, n_shards: int, n_bits: int, n_hashes: int
) -> DataFrame:
    """delta(url_hash, ...) → one FIXED-geometry blob row per non-empty
    shard. Unlike :func:`build_bloom_shards` (which sizes each shard to
    its own count), the geometry is pinned to the caller's filter so the
    output blobs are OR-compatible with an existing shard table."""
    return _build_shards(delta, n_shards, lambda n: (n_bits, n_hashes))


def _build_shards(df: DataFrame, n_shards: int, geometry) -> DataFrame:
    """``applyInPandas`` over ``groupBy(shard_id)``: each shard's bits
    are built map-side in numpy at ``geometry(n_items)``; output is one
    tiny row per non-empty shard."""

    def _build(key, pdf: pd.DataFrame) -> pd.DataFrame:
        h = pdf["url_hash"].to_numpy(dtype=np.int64)
        n_bits, n_hashes = geometry(len(h))
        return _blob_row(key[0], bloom_build_bytes(h, n_bits, n_hashes), len(h), n_bits, n_hashes)

    return (
        df.select("url_hash")
        .withColumn("shard_id", F.pmod(F.col("url_hash"), F.lit(n_shards)).cast("int"))
        .groupBy("shard_id")
        .applyInPandas(_build, schema=BLOOM_SCHEMA)
    )


def _blob_row(shard_id: int, blob: bytes, n_items: int, n_bits: int, n_hashes: int) -> pd.DataFrame:
    """One BLOOM_SCHEMA row."""
    return pd.DataFrame(
        {
            "shard_id": [shard_id],
            "bloom_bytes": [blob],
            "n_items": [n_items],
            "n_bits": [n_bits],
            "n_hashes": [n_hashes],
        }
    )


def filter_unseen_bloom(
    candidates: DataFrame,
    bloom_shards: DataFrame,
    n_shards: int = 32,
    mode: str = "broadcast",
) -> DataFrame:
    """Drop candidates whose url_hash probes positive (V7 probe).

    ``mode="broadcast"``: blobs are collected and broadcast (small:
    n_shards rows); the probe itself is a mapInPandas pass — no shuffle
    of the candidate side.

    ``mode="shard_join"``: the 10^10-URL path — no collect, no
    broadcast. Candidates shuffle once on ``shard_id`` and meet their
    shard's blob row in a cogrouped ``applyInPandas``; each blob is
    shipped to exactly one task regardless of candidate count.
    """
    if mode == "shard_join":
        return _filter_unseen_bloom_shard_join(candidates, bloom_shards, n_shards)
    if mode != "broadcast":
        raise ValueError(f"unknown probe mode {mode!r} (expected 'broadcast' or 'shard_join')")
    blobs = {
        r["shard_id"]: (r["bloom_bytes"], r["n_bits"], r["n_hashes"])
        for r in bloom_shards.collect()
    }
    return probe_broadcast(
        candidates, blobs, n_shards, lambda e, h: bloom_probe_bytes(e[0], h, e[1], e[2])
    )


def _filter_unseen_bloom_shard_join(
    candidates: DataFrame, bloom_shards: DataFrame, n_shards: int
) -> DataFrame:
    """Shard-join probe: cogroup candidates×blobs on shard_id.

    One shuffle of the candidate side (by ``pmod(url_hash, n_shards)``),
    zero driver materialization — the scale path once the blob table
    outgrows broadcast (~12 GB at 10^10 URLs / 1% FPP). Shards with no
    blob row pass their candidates through unchanged, so an empty filter
    is a correct no-op.
    """
    out_cols = candidates.columns
    schema = candidates.schema
    cand = candidates.withColumn(
        "__shard_id", F.pmod(F.col("url_hash"), F.lit(n_shards)).cast("int")
    )
    blobs = bloom_shards.withColumnRenamed("shard_id", "__shard_id")

    def _probe(cand_pdf: pd.DataFrame, blob_pdf: pd.DataFrame) -> pd.DataFrame:
        out = cand_pdf[out_cols]
        if not len(cand_pdf) or not len(blob_pdf):
            return out
        blob = blob_pdf["bloom_bytes"].iloc[0]
        n_bits = int(blob_pdf["n_bits"].iloc[0])
        n_hashes = int(blob_pdf["n_hashes"].iloc[0])
        h = cand_pdf["url_hash"].to_numpy(dtype=np.int64)
        keep = ~bloom_probe_bytes(blob, h, n_bits, n_hashes)
        return out[keep]

    return (
        cand.groupBy("__shard_id")
        .cogroup(blobs.groupBy("__shard_id"))
        .applyInPandas(_probe, schema=schema)
    )


def update_bloom_shards(
    delta: DataFrame,
    bloom_shards: DataFrame,
    n_shards: int,
    n_bits: int,
    n_hashes: int,
) -> DataFrame:
    """Distributed seen-update: OR the per-iteration delta of new
    url_hashes into the existing blob table, fully executor-side.

    Cogroup on shard_id: each task gets its shard's delta hashes plus
    the (single) existing blob row and emits the merged blob. Shards
    present on either side survive (cogroup is full-outer over keys), so
    untouched shards pass through and brand-new shards are created with
    the pinned geometry. The driver never sees a hash or a blob —
    this is the update twin of the shard_join probe.

    Existing blob rows must share the pinned (n_bits, n_hashes)
    geometry (enforced); bits are only ever set, never cleared.
    """

    d = delta.select("url_hash").withColumn(
        "__shard_id", F.pmod(F.col("url_hash"), F.lit(n_shards)).cast("int")
    )
    b = bloom_shards.withColumnRenamed("shard_id", "__shard_id")

    def _merge(key, d_pdf: pd.DataFrame, b_pdf: pd.DataFrame) -> pd.DataFrame:
        if len(b_pdf):
            if int(b_pdf["n_bits"].iloc[0]) != n_bits or int(b_pdf["n_hashes"].iloc[0]) != n_hashes:
                raise ValueError(
                    f"shard {key[0]}: blob geometry "
                    f"({int(b_pdf['n_bits'].iloc[0])}, {int(b_pdf['n_hashes'].iloc[0])}) "
                    f"!= pinned ({n_bits}, {n_hashes})"
                )
            bits = np.frombuffer(b_pdf["bloom_bytes"].iloc[0], dtype=np.uint8).copy()
            n_items = int(b_pdf["n_items"].iloc[0])
        else:
            bits = np.zeros(n_bits // 8, dtype=np.uint8)
            n_items = 0
        if len(d_pdf):
            h = d_pdf["url_hash"].to_numpy(dtype=np.int64)
            _set_bits(bits, h, n_bits, n_hashes)
            n_items += len(h)
        return _blob_row(key[0], bits.tobytes(), n_items, n_bits, n_hashes)

    return (
        d.groupBy("__shard_id")
        .cogroup(b.groupBy("__shard_id"))
        .applyInPandas(_merge, schema=BLOOM_SCHEMA)
    )


# ---------------------------------------------------------------------------
# the seen filter CrawlEngine drives
# ---------------------------------------------------------------------------


class SeenFilter:
    """The URL-seen set as ``CrawlEngine`` drives it. Per iteration the
    engine probes the candidates, writes :meth:`seen_rows` of the delta
    (fetched ∪ robots-disallowed) as the ``seen`` dir, hands that dir to
    :meth:`add` before the commit rename and the committed ``iter=K``
    dir to :meth:`commit` after it; :meth:`seen_total` gives the
    manifest's seen-set size and :meth:`start` takes the committed dirs
    at each ``run()``. The base is the probabilistic filters'
    append-only ledger of per-iteration deltas, with the filter's own
    checkpoint in ``iter=K/<state_dir>``. ``driver_materializes``: may
    the driver read the iteration's url_hashes?"""

    state_dir = "seen"
    driver_materializes = True

    def __init__(self, spark) -> None:
        self.spark = spark
        self.total = 0  # cumulative ledger size

    def start(self, iter_dirs: list[str]) -> None:
        self._load(iter_dirs[-1] if iter_dirs else None)
        self.total = sum(_count_parquet(os.path.join(d, "seen")) for d in iter_dirs)

    def _state(self, iter_dir: str) -> str:
        path = os.path.join(iter_dir, self.state_dir)
        if not os.path.isdir(path):
            raise FileNotFoundError(f"committed iteration has no seen-filter state dir {path}")
        return path

    def seen_rows(self, delta: DataFrame) -> DataFrame:
        return delta

    def seen_total(self, seen_path: str) -> int:
        self.total += _count_parquet(seen_path)
        return self.total

    def delete(self, url_hashes) -> int:
        raise ValueError("mark_unseen requires seen_mode='cuckoo'")


class ExactSeen(SeenFilter):
    """Exact anti-join against one consolidated table: the ``seen`` dir
    holds the whole set, rewritten every iteration (fixture-scale
    determinism), and the driver reads no hashes."""

    driver_materializes = False

    def _load(self, iter_dir: str | None) -> None:
        self.table = (
            self.spark.read.parquet(self._state(iter_dir))
            if iter_dir
            else self.spark.createDataFrame([], SEEN_SCHEMA)
        )

    commit = _load

    def probe(self, candidates: DataFrame) -> DataFrame:
        return filter_unseen_exact(candidates, self.table)

    def seen_rows(self, delta: DataFrame) -> DataFrame:
        return delta.unionByName(self.table).dropDuplicates(["url_hash"])

    def add(self, seen_path: str, tmp: str, write) -> None:
        pass  # the seen dir is this filter's whole state

    def seen_total(self, seen_path: str) -> int:
        return _count_parquet(seen_path)


class DriverFilter(SeenFilter):
    """Shards held in driver memory (:class:`BloomShards` or
    ``CuckooShards``): broadcast probe, driver-side update from the
    iteration's ``seen`` dir, checkpointed with :func:`write_shards`.

    ``_at`` is the committed ``iter=K`` dir the in-memory shards
    reflect. :meth:`add` clears it just before the first mutation and
    :meth:`commit` sets it after the rename, so :meth:`start` keeps live
    shards (and any ``mark_unseen`` deletes since) only when they match
    the checkpoint it resumes from, and otherwise re-reads the committed
    shards: a failure between the update and the rename never leaves
    that iteration's url_hashes in the filter — a bloom filter could
    never forget them. A failure before the update keeps the shards."""

    def __init__(self, spark, empty) -> None:
        super().__init__(spark)
        self._empty = empty  # () -> empty shards at the configured geometry
        self.shards = empty()
        self._at: str | None = None

    def _load(self, iter_dir: str | None) -> None:
        if iter_dir is None:
            self.shards, self._at = self._empty(), None
        elif iter_dir != self._at:
            self.shards, self._at = type(self.shards).read(self._state(iter_dir)), iter_dir

    def probe(self, candidates: DataFrame) -> DataFrame:
        return self.shards.filter_unseen(candidates)

    def add(self, seen_path: str, tmp: str, write) -> None:
        self._at = None
        self._update(seen_path)
        self.shards.write(os.path.join(tmp, self.state_dir))

    def _update(self, seen_path: str) -> None:
        self.shards.add_hashes(_read_col(seen_path, "url_hash").astype(np.int64))

    def commit(self, iter_dir: str) -> None:
        self._at = iter_dir


class BloomDriverFilter(DriverFilter):
    """Bloom blobs in driver memory, probed by broadcast — right while
    they fit the driver. A delta past ``delta_driver_limit`` rows is
    built into fixed-geometry blobs distributed and OR-merged as
    (bounded-size) blob rows: the driver never pulls its raw hashes."""

    state_dir = "seen_shards"

    def __init__(self, spark, empty, delta_driver_limit: int) -> None:
        super().__init__(spark, empty)
        self.delta_driver_limit = delta_driver_limit

    def _update(self, seen_path: str) -> None:
        if _count_parquet(seen_path) <= self.delta_driver_limit:
            return super()._update(seen_path)
        s = self.shards
        s.add_blob_rows(
            build_bloom_delta_shards(
                self.spark.read.parquet(seen_path), s.n_shards, s.n_bits, s.n_hashes
            ).collect()
        )


class BloomTableFilter(SeenFilter):
    """Blobs live only as the checkpointed ``seen_shards`` table — the
    10^10-URL path: shard-join probe, distributed OR-merge update
    (:func:`update_bloom_shards`); the driver never materializes a hash
    or a blob."""

    state_dir = "seen_shards"
    driver_materializes = False

    def __init__(self, spark, n_shards: int, n_bits: int, n_hashes: int) -> None:
        super().__init__(spark)
        self.n_shards, self.n_bits, self.n_hashes = n_shards, n_bits, n_hashes

    def _load(self, iter_dir: str | None) -> None:
        # None: no blob yet, so nothing to probe until the first update
        self.table = self.spark.read.parquet(self._state(iter_dir)) if iter_dir else None

    commit = _load

    def probe(self, candidates: DataFrame) -> DataFrame:
        if self.table is None:
            return candidates
        return filter_unseen_bloom(candidates, self.table, self.n_shards, mode="shard_join")

    def add(self, seen_path: str, tmp: str, write) -> None:
        base = self.table
        if base is None:
            base = self.spark.createDataFrame([], BLOOM_SCHEMA)
        delta = self.spark.read.parquet(seen_path).select("url_hash")
        write(
            update_bloom_shards(delta, base, self.n_shards, self.n_bits, self.n_hashes),
            self.state_dir,
        )


def seen_filter(
    spark,
    seen_mode: str,
    bloom_impl: str,
    n_shards: int,
    expected_urls: int,
    delta_driver_limit: int,
) -> SeenFilter:
    """Build ``CrawlEngine``'s seen filter: ``seen_mode="exact"`` →
    :class:`ExactSeen`; ``"bloom"`` (no false negatives, no deletes)
    with ``bloom_impl="driver"`` → :class:`BloomDriverFilter`, with
    ``"table"`` → :class:`BloomTableFilter`; ``"cuckoo"`` →
    ``cuckoo.CuckooFilter`` (deletes: the ``mark_unseen`` re-crawl hook
    bloom cannot express; Fan et al. CoNEXT'14). Probabilistic filters
    are sized for ``expected_urls`` over ``n_shards`` shards."""
    if seen_mode == "exact":
        return ExactSeen(spark)
    if seen_mode == "cuckoo":
        from pubcrawler_spark.operators.cuckoo import CuckooFilter, CuckooShards

        return CuckooFilter(spark, lambda: CuckooShards.sized(expected_urls, n_shards=n_shards))
    bloom = lambda: BloomShards.sized(expected_urls, n_shards=n_shards)  # noqa: E731
    if seen_mode == "bloom" and bloom_impl == "driver":
        return BloomDriverFilter(spark, bloom, delta_driver_limit)
    if seen_mode == "bloom" and bloom_impl == "table":
        g = bloom()
        return BloomTableFilter(spark, n_shards, g.n_bits, g.n_hashes)
    raise ValueError(f"unknown seen configuration {seen_mode!r} / {bloom_impl!r}")
