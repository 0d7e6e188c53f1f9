"""Exactly-once MERGE-upsert lake table over Parquet (SURVEY §4.1).

No Iceberg/Delta jars ship in this sandbox, so this implements the minimal
Iceberg-style contract the engine needs, behind an interface a real cluster
can swap for ``MERGE INTO`` with zero pipeline changes:

* **Atomic snapshot commit** — data files are written first, then a JSON
  manifest (naming live files, schema, committed batch id, bookmarks) is
  published by the exclusive creation of its version file; ``_latest.json``
  holds only a HEAD version hint. Readers only ever see a fully-committed
  snapshot.
* **Idempotent batch ids** — ``merge_upsert(batch_id=...)`` is a no-op when
  ``batch_id <= last_batch_id_for(writer_id)``: the standard Structured
  Streaming ``foreachBatch`` idempotent-sink contract; replay from any
  checkpoint reconverges (north_rule). Merges are ALSO semantically
  idempotent (LWW by (seq, commit)), so even out-of-ledger replays of old
  events cannot corrupt state.
* **Bucketed copy-on-write MERGE** — the table is hash-bucketed on the
  merge keys; a batch only rewrites the buckets its keys touch. At 10^10
  rows this is the difference between rewriting ~(batch_keys/num_buckets
  fraction) of the table and rewriting all of it. Untouched buckets carry
  their old files forward in the new manifest (metadata-only). The
  bucket column is also how the merge join avoids a global shuffle: both
  sides are pre-partitioned by the same function.
* **Additive schema evolution** — manifest records the table schema; a
  batch with new columns widens it via
  :func:`tap_rest_api_msdk_spark.functions.infer.merge_schemas` (append
  nullable, int->double widening, never narrow); old files are read with
  missing columns as nulls.

Multi-writer: commits are optimistic-concurrency CAS on the manifest
version (exclusive create of ``manifests/v{N}.json``). Lost races rebase
metadata when the intervening commits touched disjoint buckets (MOR delta
appends always rebase) and recompute otherwise; the idempotence ledger is
per ``writer_id``. One streaming query per (table, writer_id) remains the
deployment norm (the reference equally runs one tap process per config;
Singer parallelism is per-stream, tap.py:454-553) — the CAS protocol makes
concurrent writers safe, not free: conflicting-bucket COW writers serialize
through recomputes.
"""

from __future__ import annotations

import hashlib
import json
import os
import re
import shutil
import time
import uuid
from collections import Counter
from typing import Optional, Sequence

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from tap_rest_api_msdk_spark.functions.infer import merge_schemas
from tap_rest_api_msdk_spark.functions.sqlexpr import quote_ident, select_struct
from tap_rest_api_msdk_spark.session import arrow_frame

LATEST_POINTER = "_latest.json"

# max intra-bucket slice depth: the key-slice is ALWAYS computed as
# xxhash64(keys, '__salt__') mod SLICE_MOD; a commit writing S = 2^j slices
# uses (slice mod S), and because S | SLICE_MOD the residues nest across
# commits with different S (DESIGN_hierarchical_bucketing.md)
SLICE_MOD = 64

# Target rows per DELTA file: a delta append's write fan-out is capped at
# ceil(batch_rows / this), so a small batch's delta files are SHARED across
# buckets. Uncapped, a small batch writes up to num_buckets near-empty
# files whose footers and commit latency dominate (measured +30% steady
# ingest at 64 buckets, 2.9x at 1024); 4096 puts 50k-row steady batches at
# ~13 files, the measured knee (16 files beat both 64 and 4 on the
# 30-batch steady shape). batch_rows is the writer's previous delta batch,
# kept in the snapshot (``delta_fanout``).
DELTA_FILE_ROWS_AUTO = 4096

# lookup frames built from Python rows: (file basename, owning bucket)
# ownership pairs and touched (bucket, slice64) granules
_OWNED_PAIRS = T.StructType(
    [T.StructField("__file", T.StringType()), T.StructField("__owned_bucket", T.IntegerType())]
)
_GRANULES = T.StructType(
    [T.StructField("__b", T.IntegerType()), T.StructField("__s64", T.IntegerType())]
)


def key_hash(keys: Sequence[str], modulus: int, seed: Optional[str] = None):
    """``int(pmod(xxhash64(keys[, seed]), modulus))`` as one SQL expression:
    the bucket (no seed) and slice/salt (seed ``"__salt__"``) of a row."""
    args = [quote_ident(k) for k in keys] + ([f"'{seed}'"] if seed else [])
    return F.expr(f"cast(pmod(xxhash64({', '.join(args)}), {int(modulus)}) as int)")


def claims_at(entry, S: int) -> set:
    """Residues at depth ``S`` of the keys a file can hold, from its
    ``slice_meta`` claim ``entry = [d, residues]`` — THE claim rule every
    planner and key probe uses: file (d, r) meets granule (S, s) iff
    r ≡ s (mod min(d, S)) (DESIGN_hierarchical_bucketing.md). Exact both
    ways: ``{r mod S}`` when the file is at least S deep, every s < S with
    ``s mod d`` among the residues when it is shallower. A bare residue
    set lifts or projects the same way: ``claims_at([S_b, due], S_w)``."""
    d, rs = int(entry[0]), {int(r) for r in entry[1]}
    if d >= S:
        return {r % S for r in rs}
    return {s for s in range(S) if s % d in rs}


def granule_claims(entries: dict) -> tuple:
    """``(S_b, {name: claims at S_b})`` of a file set (name -> claim
    entry): the granule depth is the files' minimum claim depth — residues
    nest, so granules at that depth partition the files."""
    S_b = min(int(e[0]) for e in entries.values())
    return S_b, {n: claims_at(e, S_b) for n, e in entries.items()}


def claim_closure(claims: dict, seed: set) -> set:
    """The smallest superset of ``seed`` that no file straddles: a file
    claiming a selected and an unselected residue drags the other one in,
    so a rewrite always consumes whole files."""
    out = set(seed)
    while True:
        pulled = set().union(*(rs for rs in claims.values() if rs & out))
        if pulled <= out:
            return out
        out |= pulled


def mm3_hash_int(value: int, seed: int = 42) -> int:
    """Spark-compatible Murmur3_x86_32 hash of a 32-bit int (signed result).

    Mirrors ``org.apache.spark.unsafe.hash.Murmur3_x86_32.hashInt`` — the
    function behind ``HashPartitioning`` / ``F.hash`` — so the driver can
    compute which shuffle partition (and therefore which output file) each
    bucket id landed in, without an extra Spark job. Verified against
    ``F.hash`` and ``spark_partition_id`` in tests/test_laketable.py.
    """
    mask = 0xFFFFFFFF
    k = value & mask
    k = (k * 0xCC9E2D51) & mask
    k = ((k << 15) | (k >> 17)) & mask
    k = (k * 0x1B873593) & mask
    h = seed & mask
    h ^= k
    h = ((h << 13) | (h >> 19)) & mask
    h = (h * 5 + 0xE6546B64) & mask
    h ^= 4  # length in bytes
    h ^= h >> 16
    h = (h * 0x85EBCA6B) & mask
    h ^= h >> 13
    h = (h * 0xC2B2AE35) & mask
    h ^= h >> 16
    return h - (1 << 32) if h >= (1 << 31) else h


def bucket_to_partition(bucket: int, num_partitions: int) -> int:
    """pmod(murmur3(bucket), K) — HashPartitioning's partition assignment."""
    return mm3_hash_int(bucket) % num_partitions


def bucket_salt_to_partition(bucket: int, salt: int, num_partitions: int) -> int:
    """HashPartitioning over TWO int columns (bucket, salt): Spark chains
    murmur3 per column, each previous hash seeding the next — verified
    against ``F.hash(b, s)`` + ``spark_partition_id`` in tests."""
    return mm3_hash_int(salt, mm3_hash_int(bucket, 42)) % num_partitions


def bucket_salt_era_to_partition(
    bucket: int, salt: int, era: int, num_partitions: int
) -> int:
    """HashPartitioning over THREE int columns (bucket, salt, era) — the
    range-clustered rewrite layout (r4 verdict lead #7): same chained
    murmur3, one more link. Era does NOT join the claim coordinates —
    claims stay (bucket, slice64); the era key only splits each granule's
    output into era-disjoint FILES so their zone maps stay tight after
    compaction merges history."""
    return mm3_hash_int(
        era, mm3_hash_int(salt, mm3_hash_int(bucket, 42))
    ) % num_partitions


def zorder_cell_and_key(cluster_bounds: dict, n_cells: int, bits: int = 8):
    """Z-order (Morton) cell id + full-resolution sort key as Column
    expressions, for multi-dimensional clustered rewrites.

    ``cluster_bounds`` maps column -> (lo, hi) — global numeric bounds of
    the rewrite's input, from manifest zone maps (metadata-only,
    ``LakeTable._cluster_bounds``). Each column is quantized to ``bits``
    rank levels within its bounds, the quantized values' bits are
    interleaved MSB-first across columns (standard Morton order), and:

    * the CELL is the interleaved key's top ``log2(n_cells)`` bits — a
      2-D (or N-D) tile id, so files split on it are tile-disjoint and
      every clustered column's per-file zone map stays tight;
    * the KEY is the full interleaved value — sorting rows by it within
      each file keeps parquet row-group min/max tight on ALL clustered
      columns (balanced, vs. total tightness on one column only).

    Everything is plain column arithmetic (floor/shift/bitwise) — stays
    inside whole-stage codegen, no UDFs. Out-of-bounds or null values
    clamp to the edge cells rather than erroring (bounds are advisory
    layout hints, never correctness gates)."""
    cols = list(cluster_bounds)
    n_c = len(cols)
    top = (1 << bits) - 1
    quantized = []
    for c in cols:
        lo, hi = cluster_bounds[c]
        span = (hi - lo) or 1
        q = F.coalesce(
            F.least(
                F.lit(top),
                F.greatest(
                    F.lit(0),
                    F.floor((F.col(c) - F.lit(lo)) * (1 << bits) / F.lit(span)),
                ),
            ),
            F.lit(0),
        ).cast("long")
        quantized.append(q)
    total_bits = bits * n_c
    z = F.lit(0).cast("long")
    for j in range(bits):  # j = 0 is each column's MSB
        for i, q in enumerate(quantized):
            src = bits - 1 - j
            dst = total_bits - 1 - (j * n_c + i)
            bit = F.shiftright(q, src).bitwiseAND(F.lit(1))
            z = z.bitwiseOR(F.shiftleft(bit, dst))
    cell_bits = max(1, (int(n_cells) - 1).bit_length())
    cell = F.least(
        F.shiftright(z, max(0, total_bits - cell_bits)).cast("int"),
        F.lit(int(n_cells) - 1),
    )
    return cell, z


_MANIFEST_CORE_KEYS = frozenset({
    "version", "batch_id", "batch_ids", "committed_at", "schema", "files",
    "deltas", "slice_meta", "bookmarks", "num_buckets", "keys", "order_by",
    "op_col", "fold_round", "file_owners", "file_bytes", "file_stats",
    "key_blooms", "sections_ref",
})

#: per-file key-bloom parameters (Hudi bloom-index analog): 3 lanes via
#: Kirsch-Mitzenmacher double hashing over salted xxhash64; the bit width
#: is 16384 bits per file (≈ 10+ bits/key at typical file sizes — sub-1%
#: false-positive candidates) and each stored entry records its own width,
#: base64-packed little-endian
BLOOM_BITS_DEFAULT = 16384
BLOOM_K = 3


def _pack_bloom(words: list) -> str:
    import base64
    import struct

    raw = struct.pack(f"<{len(words)}Q", *((w & 0xFFFFFFFFFFFFFFFF) for w in words))
    return base64.b64encode(raw).decode("ascii")


def _unpack_bloom(b64: str) -> list:
    import base64
    import struct

    raw = base64.b64decode(b64)
    return list(struct.unpack(f"<{len(raw) // 8}Q", raw))


#: default ``base`` of the commit entry points: resolve HEAD at call time
#: (a caller passing its own snapshot may pass None for an empty table)
_HEAD = object()

#: ``compact_buckets(buckets=...)`` value selecting every non-empty bucket
#: (``compact()``)
_EVERY_BUCKET = object()

#: manifest keys that split into per-bucket SECTION files (split manifests,
#: the Iceberg manifest-list shape): the version file carries only core
#: scalars + content-addressed refs, so commit metadata writes are
#: O(touched buckets), not O(table files)
_SECTION_SPLIT_KEYS = (
    "files", "deltas", "slice_meta", "file_bytes", "file_owners",
    "file_stats", "key_blooms",
)

#: content-addressed section files are IMMUTABLE — a process-level cache
#: can never go stale; cleared wholesale when it grows past the cap
_SECTION_CACHE: dict = {}
_SECTION_CACHE_MAX = 8192


def _load_section(path: str) -> dict:
    sec = _SECTION_CACHE.get(path)
    if sec is None:
        with open(path) as fh:
            sec = json.load(fh)
        if len(_SECTION_CACHE) >= _SECTION_CACHE_MAX:
            _SECTION_CACHE.clear()
        _SECTION_CACHE[path] = sec
    return sec


def assemble_manifest(table_path: str, m: Optional[dict]) -> Optional[dict]:
    """Resolve a manifest core's ``sections_ref`` into the full in-memory
    dict every consumer works with (None passes through). Section files
    are content-addressed (sha1 of canonical JSON), so unchanged buckets
    re-reference the same file across versions and the process cache
    makes repeated loads O(changed sections)."""
    if m is None:
        return None
    out = {k: v for k, v in m.items() if k != "sections_ref"}
    files: dict = {}
    deltas: dict = {}
    slice_meta: dict = {}
    fbytes: dict = {}
    fstats: dict = {}
    blooms: dict = {}
    owners: dict = {}
    for b, rel in m["sections_ref"].items():
        sec = _load_section(os.path.join(table_path, "manifests", rel))
        if sec.get("files"):
            files[b] = list(sec["files"])
        if sec.get("deltas"):
            deltas[b] = list(sec["deltas"])
        if sec.get("slice_meta"):
            slice_meta[b] = dict(sec["slice_meta"])
        fbytes.update(sec.get("file_bytes", {}))
        fstats.update(sec.get("file_stats", {}))
        blooms.update(sec.get("key_blooms", {}))
        for bn, ob in sec.get("file_owners", {}).items():
            # a shared file appears in every owner bucket's section, each
            # carrying the FULL owner list — union is a no-op but cheap
            owners[bn] = sorted(set(owners.get(bn, [])) | set(ob))
    out["files"] = files
    out["deltas"] = deltas
    out["slice_meta"] = slice_meta
    out["file_bytes"] = fbytes
    if fstats:
        out["file_stats"] = fstats
    if blooms:
        out["key_blooms"] = blooms
    out["file_owners"] = owners
    return out


def section_of(table_path: str, core: dict, b_str: str) -> dict:
    """ONE bucket's section of a manifest core: bucket-scoped consumers
    (point lookups, single-bucket readers) parse O(1) metadata instead of
    assembling the whole manifest — the completion of the split-manifest
    design for the read side."""
    rel = core["sections_ref"].get(b_str)
    if rel is None:
        return {}
    return _load_section(os.path.join(table_path, "manifests", rel))


def load_core_at(table_path: str, version: int) -> Optional[dict]:
    """The version file at ``version`` WITHOUT section assembly: core
    properties (schema, keys, ledgers, version) plus ``sections_ref`` —
    enough for consumers that go on to resolve only the sections they
    need (``section_of``, ``assemble_manifest_buckets``)."""
    p = os.path.join(table_path, "manifests", f"v{version:010d}.json")
    try:
        with open(p) as fh:
            return json.load(fh)
    except FileNotFoundError:
        return None


def load_manifest_at(table_path: str, version: int) -> Optional[dict]:
    """Assembled snapshot manifest at ``version`` (module-level so metadata
    consumers — e.g. the streaming changes source — need no SparkSession)."""
    return assemble_manifest(table_path, load_core_at(table_path, version))


def assemble_manifest_buckets(table_path: str, core: dict, buckets) -> dict:
    """Assemble ONLY the given buckets' sections of a manifest core —
    the partial-read completion of the split-manifest design: consumers
    that can prove the other buckets irrelevant (e.g. cdc_diff's
    section-ref prefilter) pay O(relevant sections) metadata instead of
    O(live files)."""
    wanted = set(str(b) for b in buckets)
    pruned = dict(core)
    pruned["sections_ref"] = {
        b: rel for b, rel in core["sections_ref"].items() if b in wanted
    }
    return assemble_manifest(table_path, pruned)


def _stat_bounds(entry, col: str):
    """``[lo, hi]`` of ``col`` from a ``file_stats`` entry
    (``{col: [lo, hi], ...}``), or None."""
    return entry.get(col) if entry else None


def _resolved(v):
    """Commit-payload values (``bookmark_updates`` / ``extra_manifest``)
    may be CALLABLES: they resolve lazily, after the merge's write action
    and immediately before the CAS commit. This lets the pipeline overlap
    its lineage-metrics job with the merge write (the bulk-load fast
    path) while still landing exact bookmarks in the same atomic commit.
    The callable should memoize — CAS retries resolve again."""
    return v() if callable(v) else v


def valid_tag_name(name: str) -> bool:
    """One rule for BOTH tag-resolution paths (LakeTable methods and the
    data source's option strings): the safe charset, minus the reserved
    '.tmp.' marker for in-flight files, minus ALL-DIGIT names — both
    ``resolve_version`` and the data source's version option try
    ``int(ref)`` FIRST, so a tag named '2024' could never be resolved by
    name (it would silently time-travel to manifest v2024 instead);
    rejecting it at creation keeps every creatable tag resolvable."""
    return (
        bool(re.fullmatch(r"[A-Za-z0-9._-]+", name))
        and ".tmp." not in name
        and not re.fullmatch(r"[0-9]+", name)
    )


def read_tag_version(table_path: str, name: str) -> Optional[int]:
    """Version pinned by tag ``name`` (module-level so metadata consumers
    — the changes data source — need no LakeTable instance). Invalid
    names (path traversal, reserved '.tmp.') resolve to None, same as a
    missing tag."""
    if not valid_tag_name(name):
        return None
    try:
        with open(os.path.join(table_path, "tags", f"{name}.json")) as fh:
            return int(json.load(fh)["version"])
    except (FileNotFoundError, json.JSONDecodeError, KeyError, ValueError):
        return None


def head_version(table_path: str) -> Optional[int]:
    """O(1 + pointer lag) HEAD version (pointer hint + forward probe;
    directory-listing fallback)."""
    return _head_with_reads(table_path)[0]


def _head_with_reads(table_path: str):
    """(head version | None, metadata reads used) — the accounting
    variant behind both head_version and LakeTable.current_manifest."""
    hint_v = None
    try:
        with open(os.path.join(table_path, LATEST_POINTER)) as fh:
            hint = json.load(fh)
        if isinstance(hint, dict) and isinstance(hint.get("version"), int):
            hint_v = hint["version"]
    except (FileNotFoundError, json.JSONDecodeError, OSError):
        pass

    def mpath(v):
        return os.path.join(table_path, "manifests", f"v{v:010d}.json")

    if hint_v is not None and os.path.exists(mpath(hint_v)):
        v, probes = hint_v, 1
        while os.path.exists(mpath(v + 1)):
            v += 1
            probes += 1
        return v, probes
    try:
        names = [
            n
            for n in os.listdir(os.path.join(table_path, "manifests"))
            if n.startswith("v") and n.endswith(".json")
        ]
    except FileNotFoundError:
        return None, 1
    return max((int(n[1:-5]) for n in names), default=None), len(names) + 1


def ledger_of(m: Optional[dict]) -> dict:
    """Per-writer idempotent batch-id ledger: writer id -> last batch id."""
    return dict((m or {}).get("batch_ids", {}))


def all_files_of(m: Optional[dict]) -> set:
    out: set = set()
    for section in ("files", "deltas"):
        for flist in (m or {}).get(section, {}).values():
            out.update(flist)
    return out


def _section_files(table_path: str, rel: str) -> set:
    sec = _load_section(os.path.join(table_path, "manifests", rel))
    return set(sec.get("files", [])) | set(sec.get("deltas", []))


def _step_added_files(
    table_path: str, prev_m: Optional[dict], cur_m: dict
) -> set:
    """Files present in core ``cur_m`` but not in core ``prev_m`` (None:
    the empty table). Only sections whose content-addressed ref CHANGED
    are loaded — an unchanged ref proves the bucket's file set identical.
    Valid because a data file's bucket claims are fixed when it is
    written (a section never adopts a pre-existing file from another
    bucket), so the union of per-changed-section diffs equals the global
    set difference."""
    pr = prev_m["sections_ref"] if prev_m is not None else {}
    out: set = set()
    for b, rel in cur_m["sections_ref"].items():
        prev_rel = pr.get(b)
        if prev_rel == rel:
            continue
        prev_files = _section_files(table_path, prev_rel) if prev_rel else set()
        out |= _section_files(table_path, rel) - prev_files
    return out


def walk_added_files(
    table_path: str, start_v: int, end_v: int, end_manifest: Optional[dict] = None
) -> list:
    """(file, commit_version) pairs added by DATA commits in
    (start_v, end_v] — THE commit walk shared by ``changes_since``,
    ``cdc_diff`` anchoring, and the streaming changes source, so batch and
    stream CDC reads can never disagree. Maintenance commits (unchanged
    per-writer ledger) are skipped. Raises when the window's anchor or an
    interior manifest has been expired (diffing against an empty snapshot
    would misreport the whole table as changes) or when a change file was
    vacuumed.

    Split-manifest histories walk CORE version files only and load just
    the sections whose content-addressed refs changed per step
    (``_step_added_files``) — per-version cost is O(changed buckets),
    never O(live files)."""
    prev = load_core_at(table_path, start_v) if start_v >= 0 else None
    if start_v >= 0 and prev is None:
        raise ValueError(
            f"manifest v{start_v} expired: the incremental window's anchor "
            "exceeds retained metadata; raise expire_manifests("
            "retain_last=...) to cover readers"
        )
    prev_ledger = ledger_of(prev)
    added: list = []
    for v in range(start_v + 1, end_v + 1):
        if end_manifest is not None and v == end_v:
            cur = end_manifest
        else:
            cur = load_core_at(table_path, v)
        if cur is None:
            raise ValueError(
                f"manifest v{v} missing inside the incremental window "
                f"({start_v}, {end_v}]; metadata expired past a reader"
            )
        cur_ledger = ledger_of(cur)
        if cur_ledger != prev_ledger:  # data commit
            for f in sorted(_step_added_files(table_path, prev, cur)):
                added.append((f, v))
        prev, prev_ledger = cur, cur_ledger
    missing = sorted(f for f, _v in added if not os.path.exists(f))
    if missing:
        raise ValueError(
            "incremental read window exceeds retained snapshots "
            f"({len(missing)} change files vacuumed, e.g. {missing[0]}); "
            "increase vacuum(retain_last=...) to cover readers"
        )
    return added


class LakeTable:
    """A bucketed, manifest-committed Parquet lake table with MERGE-upsert."""

    def __init__(
        self,
        spark: SparkSession,
        path: str,
        num_buckets: int = 16,
        files_per_bucket: Optional[int] = None,
        stats_columns: Optional[Sequence[str]] = None,
        key_index: bool = False,
    ):
        self.spark = spark
        self.path = path
        # the bucket count, the extra zone-map columns and the key index
        # are TABLE properties that live in the snapshot: each operation
        # takes them from the snapshot it planned on (``_buckets_of``,
        # ``_stats_columns_of``, ``_key_index_of``), and these constructor
        # values only seed a table whose snapshot has no committed value
        # yet. Extra zone-map columns (beyond the LWW ordering column):
        # every commit harvests [min, max] per listed column from the
        # parquet footers it just wrote, and reads can file-prune on any
        # of them (``read_range(col=...)``) — e.g. the event-time column
        # of an append-mostly table, so "events from March" touches
        # March's files, not the table. Key index: every write (merges,
        # folds, compaction, rebucket) harvests a key bloom per file it
        # writes, so ``lookup`` and the point DML verbs prune to the files
        # that may hold a key; it is fixed when the first commit lands.
        self._seed_buckets = int(num_buckets)
        self._seed_stats_columns = list(stats_columns) if stats_columns else []
        self._seed_key_index = bool(key_index)
        # range-clustered rewrite layout (r4 verdict lead #7): when > 1,
        # full/binpack compaction splits each (bucket, slice) granule's
        # output into up to era_split files keyed by the LWW ordering
        # column's value range — era-disjoint files BY CONSTRUCTION, so
        # read_since/read_range zone maps keep pruning after maintenance
        # merges history. A per-writer execution knob (like
        # files_per_bucket), not a table property: claims stay
        # (bucket, slice64) regardless. Cost: file count per rewrite
        # multiplies by up to era_split.
        self.era_split = 1
        # MULTI-dimensional clustered rewrite layout (z-order, the
        # Delta Lake OPTIMIZE ZORDER BY analog): when set to >= 2 numeric
        # columns (each either the LWW ordering column or listed in
        # stats_columns, so manifest zone maps carry their bounds),
        # compaction/binpack splits each granule's output by a Morton
        # CELL over those columns instead of the 1-D era range, and
        # clusters rows by the full Morton key within each file. A 1-D
        # era layout keeps only the ordering column prunable after
        # maintenance merges history; z-order trades per-column tightness
        # for BALANCED tightness, so range reads on EVERY clustered
        # column skip ~sqrt-fraction files on a 2-D layout. era_split is
        # still the cell count. Per-writer execution knob like era_split;
        # claims stay (bucket, slice64). Quietly disables (falls back to
        # the 1-D era split) when any column lacks bounds.
        self.cluster_by: Optional[list] = None
        # cow_incremental: a granule folds when its pending delta chain
        # reaches ``fold_every`` files (the Hudi NUM_COMMITS compaction
        # trigger, applied per (bucket, slice) granule) — write
        # amplification O(table/k) amortized, read amplification <= k
        # delta files per granule, and cold granules never pay a rewrite;
        # 10 matches the usual lakehouse delta-commits-per-compaction
        # default (cdcbench's steady_cdc workload runs at it)
        self.fold_every = 10
        # scan accounting for the latest read_state() call (every read):
        # {files_total, files_scanned, min_order}
        self.last_read_plan: Optional[dict] = None
        # merge shuffle width is DECOUPLED from the bucket count: each
        # bucket may be written as up to ``files_per_bucket`` files, split
        # by a key-salt, so a 16-bucket table still merges with cores-scale
        # parallelism (None = auto from defaultParallelism). Unlike the
        # bucket count this is NOT a table property — it's a per-writer
        # execution knob; the manifest records whatever files each commit
        # produced.
        self.files_per_bucket = files_per_bucket
        os.makedirs(os.path.join(path, "data"), exist_ok=True)
        os.makedirs(os.path.join(path, "manifests"), exist_ok=True)

    def _buckets_of(self, m: Optional[dict]) -> int:
        """The bucket count of snapshot ``m``: its committed value, else
        this handle's seed (a table with nothing committed yet). Every key
        routing goes through the snapshot it planned on, so a handle
        opened before a ``rebucket()`` can never hash into the old space."""
        return int(m["num_buckets"]) if m and m.get("num_buckets") else self._seed_buckets

    def bucket_col(self, keys: Sequence[str], m: Optional[dict]):
        """THE bucket of each row's ``keys`` under snapshot ``m``."""
        return key_hash(keys, self._buckets_of(m))

    def _stats_columns_of(self, m: Optional[dict]) -> list:
        """Snapshot ``m``'s extra zone-map columns; the seed only applies
        to a table with nothing committed."""
        return list(m.get("stats_columns") or []) if m else list(self._seed_stats_columns)

    def _key_index_of(self, m: Optional[dict]) -> bool:
        """Whether snapshot ``m``'s table keeps per-file key blooms; the
        seed only applies to a table with nothing committed."""
        return bool(m.get("key_index")) if m else self._seed_key_index

    @property
    def num_buckets(self) -> int:
        """The bucket count at HEAD."""
        return self._buckets_of(self._current_core())

    @property
    def stats_columns(self) -> list:
        """The extra zone-map columns at HEAD."""
        return self._stats_columns_of(self._current_core())

    def _stat_cols(self, m: Optional[dict], order_by) -> list:
        """Zone-map column set for a write job planned on ``m``: the LWW
        ordering column (always, when numeric — the read_since/read_range
        workhorse) plus the snapshot's ``stats_columns``."""
        first = (list(order_by) or [None])[0] if order_by else None
        out = [first] if first else []
        out += [c for c in self._stats_columns_of(m) if c not in out]
        # cluster columns too: a z-order rewrite's OUTPUT files must
        # carry bounds on every clustered column or the NEXT rewrite
        # (and read-side pruning) would quietly lose the layout
        out += [c for c in (self.cluster_by or []) if c not in out]
        return out

    def _fpb(self, n_affected: int) -> int:
        """Files (salt slices) per bucket for this commit: auto mode spreads
        the merge across ~defaultParallelism tasks regardless of how few
        buckets a batch touches; capped so tiny tables don't fragment.

        Always a POWER OF TWO (see DESIGN_hierarchical_bucketing.md): the
        slice of a key is slice64 = xxhash64(keys) mod 64, and a commit at
        S slices uses slice64 mod S — residues NEST across commits with
        different S only when S | 64, which is what makes (bucket, slice)-
        granular rewrites possible at all."""
        if self.files_per_bucket is not None:
            want = max(1, self.files_per_bucket)
        else:
            cores = self.spark.sparkContext.defaultParallelism
            want = max(1, min(8, -(-cores // max(1, n_affected))))
        p = 1
        while p < want:
            p *= 2
        return min(p, SLICE_MOD)

    # ------------------------------------------------------------------
    # manifest plumbing
    # ------------------------------------------------------------------
    def _pointer_path(self) -> str:
        return os.path.join(self.path, LATEST_POINTER)

    def _manifest_path(self, version: int) -> str:
        return os.path.join(self.path, "manifests", f"v{version:010d}.json")

    def current_manifest(self) -> Optional[dict]:
        """Highest committed snapshot in O(1 + pointer lag) reads.

        Source of truth is the manifests/ directory (each version file is
        the atomic commit point under the multi-writer CAS protocol);
        ``_latest.json`` is a best-effort HEAD HINT swung after every
        publish. Resolution probes FORWARD from the hint version with
        existence checks until the next version is absent — the pointer
        lags only across a writer crash between link and pointer swing,
        or a lost pointer-rename race, both bounded by in-flight writers,
        so HEAD cost is independent of the table's commit count (the r3
        verdict's O(versions) directory listing is the fallback, used
        only when the hint is missing/stale-beyond-repair).
        ``last_head_reads`` records the probe count for accounting."""
        m = self._current_core()
        return assemble_manifest(self.path, m)

    def _current_core(self) -> Optional[dict]:
        """The HEAD version file WITHOUT section assembly — enough for
        core properties (schema, keys, ledgers) and for bucket-scoped
        consumers that resolve single sections via ``section_of``."""
        v, probes = _head_with_reads(self.path)
        if v is not None:
            try:
                with open(self._manifest_path(v)) as fh:
                    out = json.load(fh)
                self.last_head_reads = probes + 1
                return out
            except (json.JSONDecodeError, OSError, FileNotFoundError):
                pass  # fall through to the parse-tolerant listing walk
        return self._current_core_by_listing()

    def _current_core_by_listing(self) -> Optional[dict]:
        """O(versions) fallback: list manifests/ and walk downward past
        unparseable top files (a crashed legacy writer's partial write)."""
        mdir = os.path.join(self.path, "manifests")
        try:
            names = sorted(
                (n for n in os.listdir(mdir) if n.startswith("v") and n.endswith(".json")),
                reverse=True,
            )
        except FileNotFoundError:
            names = []
        self.last_head_reads = len(names) + 1
        for name in names:
            try:
                with open(os.path.join(mdir, name)) as fh:
                    return json.load(fh)
            except (json.JSONDecodeError, OSError):
                continue
        return None

    def manifest_at(self, version: int) -> Optional[dict]:
        """Historical snapshot manifest (time travel): every commit's
        manifest is retained under manifests/ until vacuumed."""
        return load_manifest_at(self.path, version)

    def _publish(self, manifest: dict) -> bool:
        """Compare-and-swap commit of one snapshot version.

        The commit point is the EXCLUSIVE creation of
        ``manifests/v{N}.json`` (write a temp file, then ``os.link`` it to
        the version name — link fails atomically if the version already
        exists). Two concurrent writers racing for the same version: one
        wins, the other gets False and must rebase or recompute against
        the new current snapshot. On an object store this maps to
        put-if-absent / Iceberg's pointer CAS. ``_latest.json`` is swung
        afterwards to ``{"version": N}``, a best-effort HEAD hint only.

        Returns True iff this call committed the version.
        """
        version = manifest["version"]
        core = self._split_sections(manifest)
        mpath = os.path.join(self.path, "manifests", f"v{version:010d}.json")
        tmp = mpath + f".tmp.{uuid.uuid4().hex}"
        with open(tmp, "w") as fh:
            json.dump(core, fh)
        try:
            os.link(tmp, mpath)  # atomic create-if-absent = the CAS
        except FileExistsError:
            os.remove(tmp)
            return False
        finally:
            if os.path.exists(tmp):
                os.remove(tmp)
        ptmp = self._pointer_path() + f".tmp.{uuid.uuid4().hex}"
        with open(ptmp, "w") as fh:
            json.dump({"version": version}, fh)
        os.rename(ptmp, self._pointer_path())
        return True

    def _split_sections(self, manifest: dict) -> dict:
        """Split manifests (Iceberg manifest-list shape): per-bucket
        sections go to content-addressed files under manifests/sections/,
        written BEFORE the CAS like data files; the version file carries
        only core scalars + refs. An UNCHANGED bucket hashes to the same
        section file as the previous version — nothing is rewritten — so
        commit metadata cost is O(touched buckets), not O(table files).
        A lost CAS leaves content-addressed orphans for expire_manifests'
        grace-windowed GC."""
        core = {k: v for k, v in manifest.items() if k not in _SECTION_SPLIT_KEYS}
        buckets = (
            set(manifest.get("files", {}))
            | set(manifest.get("deltas", {}))
            | set(manifest.get("slice_meta", {}))
        )
        sdir = os.path.join(self.path, "manifests", "sections")
        os.makedirs(sdir, exist_ok=True)
        fbytes = manifest.get("file_bytes", {})
        owners = manifest.get("file_owners", {})
        refs = {}
        for b in sorted(buckets, key=str):
            sec = {
                "files": manifest.get("files", {}).get(b, []),
                "deltas": manifest.get("deltas", {}).get(b, []),
                "slice_meta": manifest.get("slice_meta", {}).get(b, {}),
            }
            bns = [os.path.basename(f) for f in sec["files"] + sec["deltas"]]
            sec["file_bytes"] = {bn: fbytes[bn] for bn in bns if bn in fbytes}
            sec["file_owners"] = {bn: owners[bn] for bn in bns if bn in owners}
            fstats = manifest.get("file_stats", {})
            st_sec = {bn: fstats[bn] for bn in bns if bn in fstats}
            if st_sec:
                sec["file_stats"] = st_sec
            kb = manifest.get("key_blooms", {})
            kb_sec = {bn: kb[bn] for bn in bns if bn in kb}
            if kb_sec:
                sec["key_blooms"] = kb_sec
            blob = json.dumps(sec, sort_keys=True)
            h = hashlib.sha1(blob.encode()).hexdigest()
            rel = f"sections/{h}.json"
            p = os.path.join(self.path, "manifests", rel)
            if not os.path.exists(p):  # content-addressed: write once
                stmp = p + f".tmp.{uuid.uuid4().hex}"
                with open(stmp, "w") as fh:
                    fh.write(blob)
                os.replace(stmp, p)  # same-content race is idempotent
            refs[str(b)] = rel
        core["sections_ref"] = refs
        return core

    @staticmethod
    def _bumped_ledger(cur: Optional[dict], writer_id: str, batch_id: int) -> dict:
        """The next snapshot's ledger: this writer's entry advances
        MONOTONICALLY (max, never overwrite) — a rebase against a snapshot
        where a duplicate of this writer already committed a later batch
        must not regress the entry, or a subsequent replay of that later
        batch would pass the idempotence check and apply twice."""
        led = ledger_of(cur)
        led[writer_id] = max(int(led.get(writer_id, -1)), int(batch_id))
        return led

    @staticmethod
    def _last_for(m: Optional[dict], writer_id: str) -> int:
        """This writer's last committed batch id under ``m`` (-1: none)."""
        return int(ledger_of(m).get(writer_id, -1))

    def last_batch_id_for(self, writer_id: str = "default",
                          manifest: Optional[dict] = None) -> int:
        """``writer_id``'s last committed batch id at ``manifest`` (a
        snapshot the caller already holds), else at HEAD."""
        return self._last_for(
            manifest if manifest is not None else self.current_manifest(), writer_id
        )

    def bookmarks(self) -> dict:
        m = self.current_manifest()
        return {} if m is None else m.get("bookmarks", {})

    def schema(self) -> Optional[T.StructType]:
        m = self.current_manifest()
        if m is None or not m.get("schema"):
            return None
        return T.StructType.fromJson(m["schema"])

    # ------------------------------------------------------------------
    # read path
    # ------------------------------------------------------------------
    def read_state(
        self,
        buckets: Optional[Sequence[int]] = None,
        version: Optional[int] = None,
        min_order: Optional[float] = None,
        manifest: Optional[dict] = None,
        max_order: Optional[float] = None,
        col_ranges: Optional[dict] = None,
    ) -> Optional[DataFrame]:
        """Resolved state (with ``__bucket`` column): LWW over base ∪ delta
        rows. For a pure copy-on-write table this is a no-op dedup (base is
        already one row per key); for merge-on-read it resolves the delta
        log against the base — the read-side half of the MOR contract.

        ``version`` time-travels to a historical snapshot, by number or
        TAG NAME (valid until ``vacuum()`` reclaims its files). ``manifest``
        pins an already-loaded snapshot (overrides ``version``): one
        manifest decides BOTH the file listing and whether LWW dedup is
        needed — two independent loads could tear (skip dedup off a
        pre-compact no-deltas snapshot while listing a racer's new delta
        files), so callers that also consult the manifest MUST pass the
        one they loaded.

        ``buckets`` lists only that subset's files (bucket pruning); a file
        may be shared by several colliding buckets, so the ownership
        semi-join keeps exactly the requested rows.

        ``min_order`` skips files whose zone map proves every row's LWW
        ordering value < min_order (``file_stats`` max bound);
        ``max_order`` symmetrically skips files whose MIN bound exceeds
        it, and ``col_ranges`` ({col: (lo, hi)}) prunes on other zone-map
        columns. These are FILE prunes plus scan-adjacent row filters:
        callers get a superset of matching winners and must still filter;
        ``read_since``/``read_range`` wrap them with the sound
        LWW-then-filter composition (upper-bound and non-ordering pruning
        is only sound when every row is already its key's winner — the
        CALLER must pass ``max_order``/``col_ranges`` only on a no-deltas
        snapshot; lower-bound pruning is always sound). Files without
        stats are never skipped. Scan accounting in
        ``self.last_read_plan``."""
        if manifest is None:
            version = self.resolve_version(version) if version is not None else None
            manifest = (
                self.manifest_at(version) if version is not None else self.current_manifest()
            )
        m = manifest
        if m is None:
            return None
        schema = T.StructType.fromJson(m["schema"])
        stored = T.StructType(schema.fields + [T.StructField("__bucket", T.IntegerType(), True)])
        want = None if buckets is None else {int(b) for b in buckets}
        order0 = (m.get("order_by") or [None])[0]
        # prune spec: {col: (lo, hi)} — the LWW ordering bounds plus any
        # caller-supplied multi-column zone-map ranges (read_range(col=))
        ranges: dict = {}
        if min_order is not None or max_order is not None:
            if order0 is None:
                raise ValueError("order bounds need a table with order_by")
            ranges[order0] = (min_order, max_order)
        for c, (lo, hi) in (col_ranges or {}).items():
            ranges[c] = (lo, hi)
        stats = m.get("file_stats", {}) if ranges else {}
        files: set[str] = set()
        pairs: list[tuple[str, int]] = []  # (file basename, bucket) ownership
        listed: set[str] = set()  # unique files pre-prune (accounting)
        for section in ("files", "deltas"):
            for b, flist in m.get(section, {}).items():
                if want is None or int(b) in want:
                    for f in flist:
                        listed.add(f)
                        bn = os.path.basename(f)
                        entry = stats.get(bn)
                        dead = False
                        if entry is not None:
                            for c, (lo, hi) in ranges.items():
                                st = _stat_bounds(entry, c)
                                if st is not None and (
                                    (lo is not None and st[1] < lo)
                                    or (hi is not None and st[0] > hi)
                                ):
                                    dead = True  # provably outside bounds
                                    break
                        if dead:
                            continue
                        files.add(f)
                        pairs.append((bn, int(b)))
        self.last_read_plan = {
            "files_total": len(listed),
            "files_scanned": len(files),
            "min_order": min_order,
            "max_order": max_order,
            **({"col_ranges": {c: list(v) for c, v in col_ranges.items()}}
               if col_ranges else {}),
        }
        if not files:
            df = arrow_frame(self.spark, [], stored)
        else:
            # schema evolution: read each file with the CURRENT table
            # schema; parquet reader fills missing columns with null by name.
            df = self.spark.read.schema(stored).parquet(*sorted(files))
            # push the range predicates HERE, adjacent to the scan: the
            # ownership projection computes __file via input_file_name(),
            # a NONDETERMINISTIC expression Catalyst will not push filters
            # past — a caller-side filter lands above the semi-join and the
            # scan shows no PushedFilters (found live in r5 verify).
            # Row-filtering before LWW is sound for exactly the bounds that
            # reach here: the min_order lower bound by the
            # winner-maximizes-order argument (read_since docstring), and
            # max_order / col_ranges only arrive on no-deltas snapshots
            # (to_df gates them), where every row is already its key's
            # winner. Parquet row-group stats then skip inside files the
            # whole-file zone map cannot prune.
            for c, (lo, hi) in ranges.items():
                if lo is not None:
                    df = df.filter(F.col(c) >= F.lit(lo))
                if hi is not None:
                    df = df.filter(F.col(c) <= F.lit(hi))
            df = self._owned_rows(df, pairs)
        if not m.get("deltas"):
            return df
        from tap_rest_api_msdk_spark.operators.dedup import lww_dedup

        return lww_dedup(df, list(m["keys"]) + ["__bucket"], m["order_by"])

    def _owned_rows(self, df: DataFrame, pairs) -> DataFrame:
        """Ownership semi-join: a physical file may be SHARED by several
        colliding buckets, and a later commit can rewrite one of them —
        rows only count for the (file basename, bucket) ``pairs`` the
        manifest still references, otherwise the sharing bucket's old file
        would leak the rewritten bucket's stale rows. File basenames are
        unique (epoch dir + task uuid). The pairs reach the JVM as one
        Arrow frame (``arrow_frame``), so building the broadcast side is
        a JVM-only stage whatever the pair count."""
        lookup = arrow_frame(self.spark, sorted(set(pairs)), _OWNED_PAIRS)
        df = df.withColumn(
            "__file", F.element_at(F.split(F.input_file_name(), "/"), -1)
        )
        return df.join(
            F.broadcast(lookup),
            (df["__file"] == lookup["__file"])
            & (df["__bucket"] == lookup["__owned_bucket"]),
            "leftsemi",
        ).drop("__file")

    def read_since(
        self,
        min_order,
        drop_deletes: bool = True,
        version: Optional[int] = None,
    ) -> Optional[DataFrame]:
        """Zone-map-pruned incremental state read: exactly
        ``to_df(drop_deletes, version).filter(order_col >= min_order)`` —
        "rows whose CURRENT version carries replication key >= X", the
        warm-path CDC consumer read — but skipping every file whose
        ``file_stats`` zone map proves all its rows sit below the bound.
        At 100 TB a time-range read over an append-mostly table touches
        the recent files, not the table.

        Soundness of prune-then-LWW-then-filter (numeric LWW ordering,
        first ``order_by`` column): a key that survives the residual
        filter has its true LWW winner at order >= min_order (the winner
        maximizes the first order column lexicographically), so the
        winner's file zone-map max >= min_order and is never skipped —
        the pruned LWW resolves the SAME winner, other versions only
        lose. A key whose winner sits below the bound has ALL versions
        below it, so every surviving stand-in fails the residual filter.
        Tombstones participate in LWW like any row, so a key deleted at
        order >= min_order resolves to its tombstone (filtered by
        ``drop_deletes``), never resurrecting an older live version.
        Files without stats (non-numeric ordering columns) are always
        read — pruning can only skip provably-dead
        files. Scan accounting in ``self.last_read_plan``."""
        return self.to_df(
            drop_deletes=drop_deletes, version=version, min_order=min_order
        )

    def read_range(
        self,
        min_order,
        max_order,
        drop_deletes: bool = True,
        version: Optional[int] = None,
        col: Optional[str] = None,
    ) -> Optional[DataFrame]:
        """Zone-map-pruned range read: exactly
        ``to_df(...).filter(lo <= order_col <= hi)`` but skipping files
        whose ``file_stats`` zone map proves no row can fall inside the
        bounds. The backfill/audit read — "events from March" on a
        100 TB table should touch March's files, not the table.

        ``col`` (r5, multi-column zone maps): range-read on a NON-ordering
        column — e.g. the event-time column of a table LWW-ordered by
        log sequence. The column must be listed in the table's
        ``stats_columns`` for commits to have harvested its bounds;
        without stats the read still returns exact results (residual
        filter), it just cannot skip files. Semantics: current winners
        whose ``col`` value falls in [lo, hi].

        Lower-bound pruning on the ORDERING column is sound under pending
        deltas for the same LWW-winner argument as ``read_since``.
        Upper-bound file pruning — and ANY file pruning on a
        non-ordering column — is only sound when every stored row is
        already its key's winner (a resolved, no-deltas snapshot):
        otherwise a stale version inside the bounds could survive while
        its true winner (outside them, in a pruned file) never reaches
        the LWW resolve — resurrecting the key. ``to_df`` therefore
        engages those prunes only on delta-free manifests and degrades
        them to residual row filters otherwise; results are identical
        either way. Scan accounting in ``self.last_read_plan``."""
        if col is not None:
            return self.to_df(
                drop_deletes=drop_deletes,
                version=version,
                col_ranges={col: (min_order, max_order)},
            )
        return self.to_df(
            drop_deletes=drop_deletes,
            version=version,
            min_order=min_order,
            max_order=max_order,
        )

    def changes_since(self, version) -> Optional[DataFrame]:
        """Incremental CDC read: rows in data files added by DATA commits
        after ``version`` (an int version or a TAG name).

        Maintenance commits (folds, compactions) rewrite unchanged base
        rows into fresh files — including those would misreport the whole
        rewritten granule as changes. They are detected by an unchanged
        per-writer batch ledger and SKIPPED; a data commit consumed by a
        later fold still contributes its original delta files (retained on
        disk until vacuum — incremental readers must keep ``vacuum``
        retention covering their read window, the Iceberg
        expire-snapshots contract; a vacuumed window raises).

        Under merge-on-read / cow_incremental the returned rows are
        exactly the change rows (delta files hold within-batch LWW
        winners, incl. tombstones). Under copy-on-write, rewritten
        buckets carry unchanged rows along — filter by
        ``replication_key > bookmarks[stream]@version`` for an exact
        stream (the caller knows its stream name).

        RAISES on an expired window (behavior change vs pre-r4): if any
        interior manifest in (version, HEAD] was removed by
        ``expire_manifests``, the walk raises ValueError instead of
        silently falling back to the endpoint diff — the old fallback
        misreported every file added-then-removed inside the gap. The
        operational contract is the Iceberg one: size
        ``expire_manifests(retain_last=...)`` (and ``vacuum`` retention)
        to cover your SLOWEST consumer's polling interval, or pin its
        anchor with a tag (tagged versions never expire).
        """
        # CORE head only: schema/version are core fields and the walk's
        # section-ref step-diff handles an unassembled end manifest — a
        # full assembly here would make every batch poll O(live files)
        version = self.resolve_version(version)
        new = self._current_core()
        if new is None:
            return None
        added = {
            f
            for f, _v in walk_added_files(
                self.path, version, new["version"], end_manifest=new
            )
        }
        schema = T.StructType.fromJson(new["schema"])
        stored = T.StructType(schema.fields + [T.StructField("__bucket", T.IntegerType(), True)])
        if not added:
            return arrow_frame(self.spark, [], stored)
        return self.spark.read.schema(stored).parquet(*sorted(added))

    # ------------------------------------------------------------------
    # write path
    # ------------------------------------------------------------------
    @staticmethod
    def _lww_partitioned(df: DataFrame, keys, order_by, k_parts: int, S: int) -> DataFrame:
        """Single-shuffle LWW merge (SURVEY §4.3 physical plan): one hash
        exchange on (__bucket, __salt) — the salt is a pure function of
        the merge keys, so every row of a key still co-locates — then an
        in-partition sort and a first-row-per-key filter via lag(). No
        second exchange: the window's required distribution is exactly
        the repartition columns, and the write consumes the clustered
        layout directly (sort doubles as file order -> contiguous
        __bucket runs -> row-group stats). Winners keep ``__salt``."""
        from pyspark.sql import Window

        rep = df.withColumn("__salt", key_hash(keys, S, "__salt__")).repartition(
            k_parts, "__bucket", "__salt"
        )
        w = Window.partitionBy("__bucket", "__salt").orderBy(
            *[F.col(k).asc() for k in keys], *[F.col(o).desc() for o in order_by]
        )
        key_changed = F.lit(False)
        for k in keys:
            lagged = F.lag(F.col(k)).over(w)
            key_changed = key_changed | lagged.isNull() | (lagged != F.col(k))
        return rep.withColumn("__first", key_changed).filter("__first").drop("__first")

    def _epoch_dir(self, epoch: int) -> str:
        """A fresh data directory for one write job of snapshot ``epoch``.
        Unique per job: concurrent writers must never share a physical
        directory (mode="overwrite" would eat each other's files); the
        manifest, not the dir name, defines the snapshot."""
        return os.path.join(self.path, "data", f"epoch={epoch:010d}-{uuid.uuid4().hex[:8]}")

    @staticmethod
    def _write_parts(df: DataFrame, out_dir: str) -> dict:
        """Write ``df`` under ``out_dir``; returns partition index -> file
        (the HashPartitioning assignment the claims derive from)."""
        df.write.mode("overwrite").parquet(out_dir)
        return {
            int(f.split("-")[1]): os.path.join(out_dir, f)
            for f in os.listdir(out_dir)
            if f.startswith("part-") and f.endswith(".parquet")
        }

    @staticmethod
    def _files_and_meta(affected, S, k_parts, by_index, allowed=None,
                        eras=None):
        """Per-bucket (file list, slice metadata) for one write job.

        Metadata entry per (bucket, file basename): ``[S, [residues...]]``
        — the salt residues (at depth S) of this bucket that landed in the
        file (several when partition indices collide). This is the
        bookkeeping that makes (bucket, slice)-granular rewrites possible:
        a key with slice64 σ lives in the file iff σ mod S ∈ residues.

        ``allowed`` (bucket -> set of residues at depth S) restricts the
        CLAIMED residues to those the job actually wrote — a partial fold
        only rewrites its due granules, and over-claiming the rest would
        drag the new files into every subsequent fold of unrelated
        granules (degrading partial folds toward whole-bucket rewrites).

        ``eras`` (range-clustered rewrites): the era ids the job added to
        the partition key. A (bucket, residue) then spans ONE FILE PER
        ERA — each gets the same [S, residues] claim entry (the format
        already supports several files per residue via collisions), so
        the claim model is untouched; only the file-per-granule count
        multiplies by len(eras)."""
        files: dict[str, list] = {}
        meta: dict[str, dict] = {}
        for b in affected:
            residues_by_file: dict[str, list] = {}
            ok = None if allowed is None else allowed.get(int(b))
            for s in range(S):
                if ok is not None and s not in ok:
                    continue
                for e in (eras if eras is not None else (None,)):
                    p = (
                        bucket_salt_to_partition(b, s, k_parts)
                        if e is None
                        else bucket_salt_era_to_partition(b, s, e, k_parts)
                    )
                    if p in by_index:
                        rs = residues_by_file.setdefault(by_index[p], [])
                        if s not in rs:
                            rs.append(s)
            files[str(b)] = sorted(residues_by_file)
            meta[str(b)] = {
                os.path.basename(f): [S, sorted(rs)]
                for f, rs in residues_by_file.items()
            }
        return files, meta

    @staticmethod
    def _with_file_index(
        manifest: dict,
        new_sizes: Optional[dict] = None,
        cur: Optional[dict] = None,
        new_blooms: Optional[dict] = None,
        new_stats: Optional[dict] = None,
    ) -> dict:
        """Finalize a manifest's file index (r3 verdict item #8):

        * ``file_owners`` — basename -> sorted bucket ids referencing it,
          the reverse map the fold's ownership fast path needs; deriving
          it here is O(files-in-manifest), the same order as serializing
          the manifest itself, so fold PLANNING no longer pays an extra
          all-sections pass per fold.
        * ``file_bytes`` — basename -> on-disk bytes (recorded at write
          time), the input to small-file compaction and ``stats()``;
          entries for files no longer referenced are pruned, so the map
          tracks the live file set exactly.
        * ``file_stats`` — basename -> ``[min, max]`` of the table's LWW
          ordering column (zone maps, the Iceberg per-file column-bounds
          analog), harvested from parquet footers at write time; input to
          ``read_since``'s file skipping. Pruned to the live set like
          ``file_bytes``; files without an entry are never skipped.
        """
        owners: dict[str, set] = {}
        for section in ("files", "deltas"):
            for b, flist in manifest.get(section, {}).items():
                for f in flist:
                    owners.setdefault(os.path.basename(f), set()).add(int(b))
        merged = {
            **(cur or {}).get("file_bytes", {}),
            **manifest.get("file_bytes", {}),
            **(new_sizes or {}),
        }
        manifest["file_owners"] = {f: sorted(bs) for f, bs in owners.items()}
        manifest["file_bytes"] = {f: merged[f] for f in owners if f in merged}
        st = {
            **(cur or {}).get("file_stats", {}),
            **manifest.get("file_stats", {}),
            **(new_stats or {}),
        }
        st = {f: st[f] for f in owners if f in st}
        if st:
            manifest["file_stats"] = st
        elif "file_stats" in manifest:
            del manifest["file_stats"]
        kb = {
            **(cur or {}).get("key_blooms", {}),
            **manifest.get("key_blooms", {}),
            **(new_blooms or {}),
        }
        kb = {f: kb[f] for f in owners if f in kb}
        if kb:
            manifest["key_blooms"] = kb
        elif "key_blooms" in manifest:
            del manifest["key_blooms"]
        return manifest

    @staticmethod
    def _stats_of(by_index: dict, cols) -> dict:
        """basename -> ``{col: [min, max]}`` for a write job's output
        files — MULTI-COLUMN zone maps (r4 verdict item #6), harvested
        from the parquet FOOTER row-group statistics (metadata-only
        driver reads of files this process just wrote; no data pages
        touched, no Spark job). ``cols`` is a string or a sequence; all
        requested columns come from ONE footer read per file.

        Only numeric bounds are recorded: string min/max may be
        TRUNCATED in parquet footers (not exact bounds); a non-numeric
        column simply forgoes file skipping — a missing col entry means
        "never skip this file for that column", so stats can only prune,
        never change results."""
        if isinstance(cols, str):
            cols = [cols]
        cols = [c for c in (cols or []) if c]
        if not cols:
            return {}
        import pyarrow.parquet as pq

        out: dict[str, dict] = {}
        for f in by_index.values():
            try:
                md = pq.ParquetFile(f).metadata
                idx = {}
                for i in range(md.num_columns):
                    p = md.schema.column(i).path
                    if p in cols:
                        idx[p] = i
                entry: dict[str, list] = {}
                for col, ci in idx.items():
                    lo = hi = None
                    ok = md.num_row_groups > 0
                    for r in range(md.num_row_groups):
                        st = md.row_group(r).column(ci).statistics
                        if st is None or not st.has_min_max:
                            ok = False
                            break
                        mn, mx = st.min, st.max
                        if not all(
                            isinstance(v, (int, float)) and not isinstance(v, bool)
                            for v in (mn, mx)
                        ):
                            ok = False
                            break
                        lo = mn if lo is None else min(lo, mn)
                        hi = mx if hi is None else max(hi, mx)
                    if ok and lo is not None:
                        entry[col] = [lo, hi]
                if entry:
                    out[os.path.basename(f)] = entry
            except Exception:
                # stats are prune-only metadata whose absence is defined
                # safe — a footer pyarrow can't parse (ArrowInvalid is a
                # ValueError, not OSError) must not fail the COMMIT
                continue
        return out

    @staticmethod
    def _sizes_of(by_index: dict) -> dict:
        """basename -> bytes for a write job's output files (driver-side
        stat of files this process just wrote — no extra Spark job)."""
        out = {}
        for f in by_index.values():
            try:
                out[os.path.basename(f)] = os.path.getsize(f)
            except OSError:
                pass
        return out

    @staticmethod
    def _merged_extra(cur: Optional[dict], extra_manifest: Optional[dict]) -> dict:
        """Extra-manifest keys for one commit. DICT-valued keys merge
        shallowly with the current snapshot's value (ours win per entry) —
        so per-writer counter maps (e.g. the pipeline's
        ``records_committed_by``) survive a CAS rebase without clobbering
        the entries other writers updated in between. Scalar keys replace,
        as before."""
        extra = dict(extra_manifest or {})
        for k_, v in list(extra.items()):
            cur_v = (cur or {}).get(k_)
            if isinstance(v, dict) and isinstance(cur_v, dict):
                extra[k_] = {**cur_v, **v}
        return extra

    @staticmethod
    def _bucket_claims(m: dict, b_str: str) -> tuple:
        """``granule_claims`` over one bucket's base and delta files: the
        bucket's granule depth and each file's claims there."""
        bmeta = m.get("slice_meta", {}).get(b_str, {})
        return granule_claims({
            f: bmeta[os.path.basename(f)] for f in LakeTable._bucket_files(m, b_str)
        })

    def _cow_granule_plans(self, m: Optional[dict], foot: dict, S_w: Optional[int] = None):
        """Granular-COW plan (r3 verdict item #5): per touched bucket, the
        granule depth ``S_b``, the CLOSED touched residue set, and the
        base/delta files this commit consumes (rewrites). Buckets with no
        existing files plan at the write depth ``S_w`` (pure inserts,
        nothing consumed; default: sized from the footprint and the
        touched buckets' depths). The whole-file closure
        (``claim_closure``) is the fold's: a file spanning a touched and an
        untouched granule drags the other granule in, so commits always
        consume whole files."""
        m = m or {}
        raw = {}
        for b, s64s in foot.items():
            b_str = str(b)
            if not self._bucket_files(m, b_str):
                raw[b] = None  # finalized once S_w is known
                continue
            S_b, claims = self._bucket_claims(m, b_str)
            touched = claim_closure(claims, claims_at([SLICE_MOD, s64s], S_b))
            raw[b] = (
                S_b,
                touched,
                [f for f in m.get("files", {}).get(b_str, []) if claims[f] & touched],
                [f for f in m.get("deltas", {}).get(b_str, []) if claims[f] & touched],
            )
        S_w = S_w or max(
            [self._fpb(len(foot))] + [p[0] for p in raw.values() if p is not None]
        )
        plans = {}
        for b, p in raw.items():
            if p is None:
                plans[b] = (S_w, claims_at([SLICE_MOD, foot[b]], S_w), [], [])
            else:
                plans[b] = p
        return plans, S_w

    @staticmethod
    def _cow_granular_rebase_ok(m: Optional[dict], cur: dict, plans: dict) -> bool:
        """Can a granular-COW commit rebase onto ``cur`` without recompute?

        Yes iff, per planned bucket: every file we consumed is still
        referenced by ``cur`` (an intervening fold/compact/COW didn't eat
        it), and no intervening commit added a BASE file whose claims
        meet our touched granules (its merged content would be lost under
        our rewrite). Intervening DELTA files in our granules are fine — they
        are later batches and stay pending; LWW over (our new base ∪
        delta) reaches the same fixpoint regardless of arrival order."""
        for b, (S_b, touched, cb, cd) in plans.items():
            b_str = str(b)
            cur_base = cur.get("files", {}).get(b_str, [])
            if not set(cb) <= set(cur_base):
                return False
            if not set(cd) <= set(cur.get("deltas", {}).get(b_str, [])):
                return False
            m_base = set((m or {}).get("files", {}).get(b_str, []))
            cmeta = cur.get("slice_meta", {}).get(b_str, {})
            if any(
                claims_at(cmeta[os.path.basename(f)], S_b) & touched
                for f in cur_base
                if f not in m_base
            ):
                return False
        return True

    def _rebased_schema(self, cur: Optional[dict], writer_id: str, batch_id: int,
                        new_schema: T.StructType, keys, nb: int):
        """A batch commit's schema rebased onto ``cur`` after a lost CAS;
        ``nb`` is the bucket count the batch was hashed with.

        ``_SKIP`` when ``cur`` shows this writer already committed the
        batch (or a later one): a zombie/failover duplicate won the race,
        and overwriting would REGRESS the ledger and let a later replay
        apply twice. None (recompute) when a rebucket() won the race (our
        files' __bucket values and section claims are in the OLD space;
        the retry plans on the new snapshot's count — bucket-level
        conflict checks could pass VACUOUSLY for a commit that consumed
        nothing), when the schemas do not merge, or when the merge
        changes a key column's type: the table's (existing rows would
        re-bucket) or ours (our files bucket keys under new_schema's
        types, e.g. long keys written on an empty table while a racer
        committed double — the retry re-aligns the batch to the winner's
        key type)."""
        if self._last_for(cur, writer_id) >= batch_id:
            return self._SKIP
        if self._buckets_of(cur) != nb:
            return None
        if cur is None or not cur.get("schema"):
            return new_schema
        cur_schema = T.StructType.fromJson(cur["schema"])
        try:
            final = merge_schemas(cur_schema, new_schema)
        except Exception:
            return None
        ft = {f.name: f.dataType for f in final.fields}
        for schema in (cur_schema, new_schema):
            t = {f.name: f.dataType for f in schema.fields}
            if any(k in t and t[k] != ft.get(k, t[k]) for k in keys):
                return None
        return final

    def _batch_manifest(self, cur, batch_id, writer_id, schema, keys, order_by, op_col,
                        files, deltas, slice_meta, bookmark_updates, extra_manifest,
                        sizes, blooms, stats) -> dict:
        """The next manifest of a batch commit on top of ``cur``."""
        bookmarks = dict(cur.get("bookmarks", {})) if cur else {}
        bookmarks.update(bookmark_updates or {})
        stats_cols = self._stats_columns_of(cur)
        return self._with_file_index({
            # carry foreign extra keys (another writer's custom fields)
            # through rebases; ours overlay below
            **{k_: v for k_, v in (cur or {}).items() if k_ not in _MANIFEST_CORE_KEYS},
            "batch_id": batch_id,
            "batch_ids": self._bumped_ledger(cur, writer_id, batch_id),
            "committed_at": time.time(),
            "schema": schema.jsonValue(),
            "files": files,
            "deltas": deltas,
            "slice_meta": slice_meta,
            "bookmarks": bookmarks,
            "num_buckets": self._buckets_of(cur),
            **({"stats_columns": stats_cols} if stats_cols else {}),
            **({"key_index": True} if self._key_index_of(cur) else {}),
            "keys": list(keys),
            "order_by": list(order_by),
            "op_col": op_col,
            "fold_round": int(cur.get("fold_round", 0)) if cur else 0,
            **self._merged_extra(cur, extra_manifest),
        }, sizes, cur, blooms, new_stats=stats)

    def _commit_batch(self, m, out_dir, bookmark_updates, extra_manifest, assemble):
        """CAS-commit a batch whose files are in ``out_dir``.

        Lazy commit payloads resolve HERE — after the write action, right
        before the commit — so a caller may overlap its own metrics job
        with the write and still land exact bookmarks in the same
        manifest. If a payload aborts (e.g. the pipeline's empty-batch
        signal), the just-written epoch dir is reclaimed: no manifest
        references it, so vacuum() could never see it (ADVICE r5 —
        orphaned dir of empty part files)."""
        try:
            bookmark_updates = _resolved(bookmark_updates)
            extra_manifest = _resolved(extra_manifest)
        except BaseException:
            shutil.rmtree(out_dir, ignore_errors=True)
            raise
        return self._try_commit(m, lambda cur: assemble(cur, bookmark_updates, extra_manifest))

    #: sentinel an ``assemble`` closure returns when, on a CAS rebase, the
    #: fresh snapshot shows the batch was ALREADY committed (a zombie /
    #: failover duplicate of the same writer won the race) — the commit
    #: must become a no-op, not a recompute and never a ledger overwrite
    _SKIP = object()

    def _try_commit(self, base_m: Optional[dict], assemble):
        """Optimistic-concurrency commit loop: ``assemble(cur_manifest)``
        builds the next manifest on top of the CURRENT snapshot (returning
        None when the caller's data files are stale against it and the
        whole operation must recompute, or ``_SKIP`` when the fresh
        snapshot shows this batch id already applied for this writer).
        CAS-publish; on a lost race, re-read and re-assemble (metadata
        rebase) — the Iceberg commit protocol."""
        cur = base_m
        while True:
            manifest = assemble(cur)
            if manifest is None or manifest is self._SKIP:
                return manifest
            manifest["version"] = (cur["version"] + 1) if cur else 0
            if self._publish(manifest):
                return manifest
            cur = self.current_manifest()

    def _compute_file_blooms(self, files: Sequence[str], keys: Sequence[str]) -> dict:
        """Per-file key blooms for the files just written (Hudi
        bloom-index analog): ONE small Spark job over the new files only —
        per row, K bit positions via Kirsch-Mitzenmacher double hashing of
        xxhash64(keys); per (file, word) a bit_or aggregate; packed
        driver-side into 64 int64 words per file. Cost is a scan of the
        BATCH's output, never the table."""
        if not files:
            return {}
        m_bits = BLOOM_BITS_DEFAULT
        # BOTH lane seeds are salted: xxhash64(keys) is also the bucket
        # hash, so within one bucket's file it only spans m/num_buckets
        # positions — an unsalted lane 0 saturates and inflates false
        # positives
        h1 = F.xxhash64(*[F.col(k) for k in keys], F.lit("__bloom1__"))
        h2 = F.xxhash64(*[F.col(k) for k in keys], F.lit("__bloom2__"))
        df = self.spark.read.parquet(*sorted(files)).select(
            F.element_at(F.split(F.input_file_name(), "/"), -1).alias("__f"),
            h1.alias("__h1"),
            h2.alias("__h2"),
        )
        # reduce BEFORE combining: h1 + i*h2 overflows int64 under ANSI;
        # (h1 mod B) + i*(h2 mod B) stays tiny and is congruent mod B
        lanes = F.explode(
            F.transform(
                F.sequence(F.lit(0), F.lit(BLOOM_K - 1)),
                lambda i: F.pmod(
                    F.pmod(F.col("__h1"), F.lit(m_bits))
                    + i * F.pmod(F.col("__h2"), F.lit(m_bits)),
                    F.lit(m_bits),
                ),
            )
        ).alias("__pos")
        pos = df.select("__f", lanes)
        words = (
            pos.selectExpr(
                "__f",
                "cast(__pos / 64 as int) as __w",
                "shiftleft(1L, cast(__pos % 64 as int)) as __m",
            )
            .groupBy("__f", "__w")
            .agg(F.bit_or("__m").alias("__bits"))
            .collect()
        )
        acc: dict = {}
        for r in words:
            acc.setdefault(r["__f"], [0] * (m_bits // 64))[r["__w"]] = int(r["__bits"])
        return {f: [m_bits, _pack_bloom(w)] for f, w in acc.items()}

    @staticmethod
    def _bloom_may_contain(entry, h1: int, h2: int) -> bool:
        m_bits, words = int(entry[0]), _unpack_bloom(entry[1])
        b1, b2 = h1 % m_bits, h2 % m_bits  # Python % is >= 0
        for i in range(BLOOM_K):
            p = (b1 + i * b2) % m_bits
            if not (words[p >> 6] >> (p & 63)) & 1:
                return False
        return True

    def lookup(self, values: dict) -> Optional[DataFrame]:
        """Point lookup of one key: the key funnel (``_key_funnel``:
        bucket → section → (bucket, slice64) claims → per-file key BLOOMS)
        reads and LWW-resolves only the surviving files, then filters the
        exact key. Blooms exist on a table created with
        ``LakeTable(..., key_index=True)``, for every file it writes; files
        without a bloom stay candidates.
        ``last_lookup_stats`` records the pruning funnel. Returns None on
        an empty table.

        Metadata cost is bucket-scoped: the CORE version file plus ONE
        bucket section are parsed (``section_of``) — never the full
        manifest — so point lookups stay O(1) metadata at any table
        size."""
        m = self._current_core()
        if m is None:
            return None
        keys = list(m["keys"])
        if set(values) != set(keys):
            raise ValueError(f"lookup needs exactly the merge keys {keys}")
        _probe, out, self.last_lookup_stats = self._key_funnel(m, [values])
        cond = F.lit(True)
        for k in keys:
            cond = cond & (F.col(k) == F.lit(values[k]))
        return out.filter(cond)

    def _key_funnel(self, m: dict, key_values: Sequence[dict]) -> tuple:
        """The key-pruning funnel shared by ``lookup`` and point DML:
        bucket → that bucket's section → (bucket, slice64) claims →
        per-file key blooms → (file, bucket) ownership pairs; reads only
        the candidate files and LWW-resolves them (tombstones dropped).
        Returns ``(probe frame of the requested keys, resolved rows,
        funnel stats)``."""
        keys = list(m["keys"])
        schema = T.StructType.fromJson(m["schema"])
        probe_schema = T.StructType([f for f in schema.fields if f.name in keys])
        probe = arrow_frame(
            self.spark,
            [tuple(kv[f.name] for f in probe_schema.fields) for kv in key_values],
            probe_schema,
        )
        # one bounded job: every requested key's pruning coordinates
        coords = probe.select(
            self.bucket_col(keys, m).alias("b"),
            key_hash(keys, SLICE_MOD, "__salt__").alias("s64"),
            F.xxhash64(*keys, F.lit("__bloom1__")).alias("h1"),
            F.xxhash64(*keys, F.lit("__bloom2__")).alias("h2"),
        ).collect()
        by_bucket: dict = {}
        for row in coords:
            by_bucket.setdefault(int(row["b"]), []).append(row)
        candidates: set = set()
        pairs: list = []
        bucket_files_total = 0
        for b, b_rows in sorted(by_bucket.items()):
            sec = section_of(self.path, m, str(b))
            bmeta = sec.get("slice_meta", {}) or {}
            blooms = sec.get("key_blooms", {}) or {}
            bucket_files = list(sec.get("files", [])) + list(sec.get("deltas", []))
            bucket_files_total += len(bucket_files)
            for f in bucket_files:
                bn = os.path.basename(f)
                claimed = claims_at(bmeta[bn], SLICE_MOD)
                bl = blooms.get(bn)
                # ownership is per (file, bucket) PAIR: a file SHARED by
                # two buckets (partition-index collisions) is a candidate
                # of each, or the ownership semi-join drops the second
                # bucket's keys
                if any(
                    row["s64"] in claimed
                    and (bl is None or self._bloom_may_contain(bl, row["h1"], row["h2"]))
                    for row in b_rows
                ):
                    candidates.add(f)
                    pairs.append((bn, b))
        stats = {
            "keys_requested": len(coords),
            "buckets_touched": len(by_bucket),
            "sections_loaded": len(by_bucket),
            "bucket_files": bucket_files_total,
            "candidate_files": len(candidates),
        }
        resolved = self._read_resolved_subset(m, candidates, pairs, None, m.get("op_col"))
        return probe, resolved, stats

    def merge_upsert(
        self,
        batch_df: DataFrame,
        keys: Sequence[str],
        order_by: Sequence[str],
        batch_id: int,
        op_col: Optional[str] = None,
        bookmark_updates: Optional[dict] = None,
        extra_manifest: Optional[dict] = None,
        mode: str = "cow",
        writer_id: str = "default",
        footprint=None,
        base=_HEAD,
    ) -> dict:
        """LWW MERGE of a change batch into the table (exactly-once).

        ``base`` is the HEAD manifest the caller already resolved (None =
        empty table): the first attempt plans and commits against it
        instead of reading HEAD again. Omitted, HEAD is read here.

        ``footprint`` is the batch's one planning fact: a zero-arg
        callable returning ``{bucket: (slice64 residues, events)}`` under
        ``base``'s bucket count (e.g. from the caller's lineage aggregate,
        running concurrently with the write). None: one (bucket, slice64)
        count aggregate over the batch computes it. It is resolved BEFORE
        the write only when the write cannot be planned without it — a
        COW into a snapshot that has files (its granule plan) and a delta
        append whose writer has no recorded fan-out (its file count) —
        and otherwise after the write, where it names the exact claims. A
        recompute after a lost race computes its own footprint on the
        fresh snapshot (a ``rebucket()`` may have changed the space).

        Returns a small stats dict (for the metrics/lineage table).
        Semantics: per key, the row with max (order_by...) wins across
        {existing table row} ∪ {batch rows}. Delete winners are PERSISTED
        as tombstone rows (``op_col == 'delete'``) rather than dropped, so
        a late lower-seq upsert arriving in a later batch cannot resurrect
        a deleted key — replay converges regardless of batch boundaries.
        ``to_df(drop_deletes=True)`` exposes the live state; compaction can
        purge tombstones once the low watermark passes them.

        ``mode``:
        * ``"cow"`` — copy-on-write: the (bucket, slice) granules the
          batch touches are rewritten fully merged, closed over the files
          they share (``_cow_granule_plans``); into an empty table the
          batch is written whole, as a granule plan that consumes
          nothing. Reads are one-row-per-key with zero resolve cost.
        * ``"mor"`` — merge-on-read: the batch's within-batch LWW winners
          are appended as DELTA files without touching the base — write
          amplification is O(batch), not O(table); readers resolve via
          ``read_state`` (Hudi/Iceberg MOR equivalent). ``mor`` is
          ``cow_incremental`` with folds off: its deltas reach the base
          only through an explicit ``compact()``/``compact_buckets()``.
          Every delta append sizes its files by one rule
          (``DELTA_FILE_ROWS_AUTO`` rows per file, from the writer's
          recorded ``delta_fanout``; see ``_append_delta``).
        * ``"cow_incremental"`` — the same delta append, then ``fold_due``
          on the manifest it just published: the steady-state
          streaming-CDC write path.

        Write settings are not per call: the table properties (bucket
        count, ``stats_columns``, ``key_index``) come from the snapshot the
        merge planned on, and the fold trigger is the handle's
        ``fold_every``.

        All modes share semantics and the batch-id ledger, and may be
        mixed batch-by-batch.

        Multi-writer: commits CAS the manifest version (``_publish``);
        the idempotence ledger is per ``writer_id``. A lost race rebases
        metadata when the intervening commits left the granules this
        merge rewrote alone (``_cow_granular_rebase_ok``; MOR deltas
        always rebase), and recomputes the merge from the fresh snapshot
        otherwise — no committed work is ever lost.
        """
        if mode not in ("cow", "mor", "cow_incremental"):
            raise ValueError(
                f"unknown sink mode {mode!r}; use 'cow', 'mor', or "
                "'cow_incremental'"
            )
        import random

        for _attempt in range(8):
            # liveness under sustained contention: after 3 lost COW
            # recomputes, degrade THIS commit to a MOR delta append — it
            # always rebases (no bucket conflict possible), reaches the
            # same LWW fixpoint, and compact()/read_state resolve it; the
            # alternative is starving a small writer behind a big one
            eff_mode = mode if (mode != "cow" or _attempt < 3) else "mor"
            out = self._merge_upsert_once(
                batch_df, keys, order_by, batch_id, op_col, bookmark_updates,
                extra_manifest, eff_mode, writer_id,
                # a recompute re-plans against the fresh HEAD, footprint
                # included
                footprint=footprint if _attempt == 0 else None,
                base=base if _attempt == 0 else _HEAD,
            )
            if out is not None:
                if eff_mode != mode:
                    out["degraded_to_mor"] = True
                return out
            time.sleep(random.uniform(0, 0.05 * (2 ** min(_attempt, 5))))
        raise RuntimeError(
            f"merge_upsert(batch_id={batch_id}) lost the commit race 8 times; "
            "a concurrent writer is evolving the schema incompatibly"
        )

    def delete_where(
        self,
        predicate,
        batch_id: int,
        writer_id: str = "default",
        mode: str = "cow",
        seq_bump: int = 1,
    ) -> dict:
        """Predicate DELETE (the GDPR / retention-expiry primitive): emit
        LWW-winning tombstones for every LIVE row matching ``predicate``
        (a SQL string or Column), routed through the exactly-once merge
        path — same per-writer ledger, CAS commit, and sink ``mode`` as
        any change batch, so a replayed ``batch_id`` is a no-op and the
        tombstones flow through ``cdc_diff``/net-changes as ordinary
        delete events.

        The tombstone's order key is the victim row's order tuple with
        the FIRST ``order_by`` column bumped by ``seq_bump`` (the column
        must be integral: the bump must strictly beat the victim under
        the lexicographic LWW without touching the rest of the tuple).
        Point-in-time semantics: a concurrent upsert committed with a
        higher order key after our snapshot read beats the tombstone on
        rebase/recompute — predicate deletes race like any writer, they
        are not barriers. A later replayed LOWER-seq upsert cannot
        resurrect the key (the persisted tombstone wins), matching the
        WAL-fed delete semantics.

        Requires the table to carry an ``op_col`` (tombstone
        representation). Returns the merge stats plus ``n_deleted``
        (matched live rows at the snapshot; 0 skips the commit).
        """
        return self._dml_commit(
            "delete_where", lambda core, m: self.to_df(manifest=m).filter(predicate),
            batch_id, writer_id, mode, seq_bump,
        )

    def update_where(
        self,
        predicate,
        set_values: dict,
        batch_id: int,
        writer_id: str = "default",
        mode: str = "cow",
        seq_bump: int = 1,
    ) -> dict:
        """Predicate UPDATE (the GDPR redact-in-place primitive, the
        other half of ``delete_where``): emit LWW-winning UPDATED
        versions of every LIVE row matching ``predicate``, with the
        ``set_values`` assignments applied — routed through the
        exactly-once merge path (per-writer ledger, CAS commit, sink
        ``mode``), so a replayed ``batch_id`` is a no-op and the updates
        flow through ``cdc_diff``/net-changes as ordinary update events.

        ``set_values`` maps column name -> Column or SQL expression
        string (evaluated against the victim row — expressions may
        reference its old values, e.g. redact a substring). Assignments
        are cast back to the column's existing type (redaction must not
        drift the schema). Merge keys, the order columns, and the op
        column are not assignable: re-keying rows would re-bucket them
        (use delete + insert), and the bump/liveness columns belong to
        the merge protocol. Point-in-time semantics match
        ``delete_where``: a concurrent higher-seq upsert beats the
        update; a later replayed LOWER-seq version cannot undo it.
        Returns merge stats plus ``n_updated`` (0 skips the commit
        without burning the ledger slot)."""
        return self._dml_commit(
            "update_where", lambda core, m: self.to_df(manifest=m).filter(predicate),
            batch_id, writer_id, mode, seq_bump, set_values=set_values,
        )

    def delete_keys(
        self,
        key_values: Sequence[dict],
        batch_id: int,
        writer_id: str = "default",
        mode: str = "cow",
        seq_bump: int = 1,
    ) -> dict:
        """Index-pruned point DELETE (the right-to-be-forgotten fast
        path): tombstone SPECIFIC keys through the key funnel ``lookup``
        uses (``_key_funnel``: bucket → (bucket, slice64) claims →
        per-file key blooms), so the data read is O(candidate files for
        those keys), never a table scan (contrast ``delete_where``, which
        evaluates an arbitrary predicate over the live state). Metadata
        cost: only the touched buckets' sections are parsed. Tombstone
        semantics, ledger, and sink ``mode`` are exactly
        ``delete_where``'s; keys absent (or already deleted) skip
        silently, and an all-absent request skips the commit without
        burning the ledger slot. ``last_delete_stats`` records the
        pruning funnel."""
        return self._dml_commit(
            "delete_keys", lambda core, m: self._point_victims(core, key_values),
            batch_id, writer_id, mode, seq_bump, key_values=key_values,
        )

    def update_keys(
        self,
        key_values: Sequence[dict],
        set_values: dict,
        batch_id: int,
        writer_id: str = "default",
        mode: str = "cow",
        seq_bump: int = 1,
    ) -> dict:
        """Index-pruned point UPDATE (the "fix this one record" fast
        path): apply ``set_values`` (Column or SQL expression over the
        victim's old values, cast back to the column's existing type) to
        SPECIFIC live keys through the key funnel ``lookup`` and
        ``delete_keys`` use — bucket → (bucket, slice64) claims →
        per-file key blooms — so the data read is O(candidate files),
        never a table scan. Merge keys / order / op columns are not
        assignable; absent (or deleted) keys skip silently; an all-absent
        request skips the commit without burning the ledger slot.
        LWW/replay semantics match ``update_where``. ``last_delete_stats``
        records the shared pruning funnel."""
        return self._dml_commit(
            "update_keys", lambda core, m: self._point_victims(core, key_values),
            batch_id, writer_id, mode, seq_bump, set_values=set_values,
            key_values=key_values,
        )

    def _point_victims(self, m: dict, key_values: Sequence[dict]):
        """Live rows of the requested keys, through the key funnel
        (``last_delete_stats`` records it); None for an empty request."""
        if not key_values:
            return None
        probe, resolved, self.last_delete_stats = self._key_funnel(m, key_values)
        return resolved.join(F.broadcast(probe), list(m["keys"]), "leftsemi")

    def _dml_commit(self, verb: str, victims_of, batch_id: int, writer_id: str,
                    mode: str, seq_bump: int, set_values: Optional[dict] = None,
                    key_values: Optional[Sequence[dict]] = None) -> dict:
        """The one commit path of the four DML verbs, on ONE snapshot: HEAD
        is read once, and that core validates the call, short-circuits a
        replayed ``batch_id`` BEFORE the victim scan, feeds the victim
        scan (``victims_of(core, assembled manifest)``) and is the merge's
        ``base``. The victims merge as tombstones — or, with
        ``set_values``, as assigned rows — whose first ``order_by`` value
        is bumped by ``seq_bump`` so they win the LWW. Zero victims skip
        the commit without burning the ledger slot. Returns the merge
        stats plus ``n_deleted``/``n_updated``."""
        core = self._current_core()
        if core is None:
            raise ValueError(f"{verb} on an empty table")
        keys, order_by = list(core["keys"]), list(core["order_by"])
        op_col = core.get("op_col")
        dtypes = {
            f.name: f.dataType.simpleString()
            for f in T.StructType.fromJson(core["schema"]).fields
        }
        if set_values is None and not op_col:
            raise ValueError(
                f"{verb} requires a table with an op_col (tombstones "
                "are how deletes persist); this table was created without one"
            )
        if set_values is not None:
            self._validated_assignment_types(core, set_values, dtypes, verb)
        bump_col = order_by[0]
        if dtypes.get(bump_col) not in ("tinyint", "smallint", "int", "bigint"):
            raise ValueError(
                f"{verb} needs an integral first order_by column to mint a "
                f"winning seq; {bump_col!r} is {dtypes.get(bump_col)!r}"
            )
        for kv in key_values or ():
            if set(kv) != set(keys):
                raise ValueError(f"{verb} needs exactly the merge keys {keys}")
        result = "n_deleted" if set_values is None else "n_updated"
        skip = {"skipped": True, "batch_id": batch_id, result: 0}
        if batch_id <= self._last_for(core, writer_id):
            return skip  # a replay must not pay the victim scan
        m = assemble_manifest(self.path, core)
        victims = victims_of(core, m)
        if victims is None:
            return skip
        # persist across the gating count AND the merge write (one victim
        # scan per call, not two)
        victims = victims.persist()
        try:
            n = victims.count()
            if n == 0:
                return skip
            rows = (
                victims.withColumn(op_col, F.lit("delete"))
                if set_values is None
                else self._apply_assignments(victims, set_values, dtypes)
            )
            stats = self.merge_upsert(
                rows.withColumn(
                    bump_col,
                    (F.col(bump_col) + F.lit(int(seq_bump))).cast(dtypes[bump_col]),
                ),
                keys=keys,
                order_by=order_by,
                batch_id=batch_id,
                op_col=op_col,
                mode=mode,
                writer_id=writer_id,
                base=m,
            )
        finally:
            victims.unpersist()
        # a commit suppressed by a racer's ledger advance applied nothing
        stats[result] = 0 if stats.get("skipped") else n
        return stats

    def _validated_assignment_types(
        self, m: dict, set_values: dict, dtypes: dict, verb: str
    ) -> None:
        """Refuse assignments to merge-protocol columns and to columns
        that don't exist — shared by update_where / update_keys."""
        keys, order_by = list(m["keys"]), list(m["order_by"])
        reserved = set(keys) | set(order_by) | {m.get("op_col"), "__bucket", None}
        bad = [c for c in set_values if c in reserved]
        if bad:
            raise ValueError(
                f"{verb} cannot assign merge-protocol columns {sorted(bad)}; "
                "keys re-bucket rows (delete + insert instead), order/op "
                "columns belong to the merge protocol"
            )
        missing = [c for c in set_values if c not in dtypes]
        if missing:
            raise ValueError(f"{verb}: no such column(s) {sorted(missing)}")

    @staticmethod
    def _apply_assignments(victims, set_values: dict, dtypes: dict):
        """SIMULTANEOUS assignment (SQL UPDATE SET semantics): every
        expression is evaluated against the victim row's OLD values in
        one select — {'a': 'b', 'b': 'a'} swaps, it does not chain
        through earlier assignments like sequential withColumn would."""
        assigned = {
            c: (F.expr(v) if isinstance(v, str) else v).cast(dtypes[c]).alias(c)
            for c, v in set_values.items()
        }
        return victims.select(
            *[assigned.get(c, F.col(c)) for c in victims.columns]
        )

    def _merge_upsert_once(
        self, batch_df, keys, order_by, batch_id, op_col, bookmark_updates,
        extra_manifest, mode, writer_id, footprint=None, base=_HEAD,
    ) -> Optional[dict]:
        """One optimistic attempt: compute + write data files against the
        snapshot ``base`` (default: HEAD), then CAS-commit. Returns None
        when a concurrent commit invalidated the data files (conflicting
        granules) — the caller recomputes from the fresh snapshot."""
        m = self.current_manifest() if base is _HEAD else base
        if batch_id <= self._last_for(m, writer_id):
            return {"skipped": True, "batch_id": batch_id}
        if m is not None:
            # keys/order_by/op_col are TABLE properties (like num_buckets):
            # a second writer with different merge semantics would corrupt
            # LWW resolution for every other writer — refuse mismatches,
            # and inherit op_col so a caller omitting it cannot clobber
            # tombstone filtering (a delete-resurrection bug found live)
            if m.get("keys") and list(keys) != list(m["keys"]):
                raise ValueError(f"merge keys {list(keys)} != table keys {m['keys']}")
            if m.get("order_by") and list(order_by) != list(m["order_by"]):
                raise ValueError(
                    f"order_by {list(order_by)} != table order_by {m['order_by']}"
                )
            if op_col is None:
                op_col = m.get("op_col")
            elif m.get("op_col") is not None and op_col != m["op_col"]:
                raise ValueError(f"op_col {op_col!r} != table op_col {m['op_col']!r}")

        t0 = time.time()
        # --- schema evolution (driver-side, metadata only)
        batch_schema = T.StructType(
            [f for f in batch_df.schema.fields if f.name != "__bucket"]
        )
        old_schema = T.StructType.fromJson(m["schema"]) if m and m.get("schema") else None
        new_schema = merge_schemas(old_schema, batch_schema) if old_schema else batch_schema
        # REFUSE type drift on merge-key columns: __bucket = hash(keys), so
        # widening a key (long -> double) re-hashes existing rows into
        # different buckets than the manifest has them filed under — rows
        # would silently vanish or duplicate. Keys must keep their creation
        # type; cast upstream if a source starts sending a wider type.
        if old_schema is not None:
            old_types = {f.name: f.dataType for f in old_schema.fields}
            new_types = {f.name: f.dataType for f in new_schema.fields}
            for k in keys:
                if k in old_types and old_types[k] != new_types.get(k, old_types[k]):
                    raise ValueError(
                        f"merge-key type drift on '{k}': "
                        f"{old_types[k].simpleString()} -> {new_types[k].simpleString()}; "
                        "widening a key column would re-bucket existing rows (refused)"
                    )

        def align(df: DataFrame) -> DataFrame:
            """``df`` in ``new_schema``'s column order and types. Only the
            drifted columns (cast or null-filled) are built one by one; the
            reorder is one SQL expression, and a frame already in the
            target schema is returned as is."""
            have = {f.name: f.dataType for f in df.schema.fields}
            want = [(f.name, f.dataType) for f in new_schema.fields]
            if list(have.items()) == want:
                return df
            fix = {
                name: (F.col(name) if name in have else F.lit(None)).cast(dt)
                for name, dt in want
                if have.get(name) != dt
            }
            return select_struct(
                df.withColumns(fix) if fix else df, [quote_ident(n) for n, _ in want]
            )

        # the bucket count is the planning snapshot's (a handle opened
        # before a rebucket() still hashes into the new space)
        nb = self._buckets_of(m)
        batch = align(batch_df).withColumn("__bucket", key_hash(keys, nb))
        foot_of = footprint or (lambda: self._footprint(batch, keys))

        if mode in ("mor", "cow_incremental"):
            out, committed = self._append_delta(
                batch, keys, order_by, batch_id, op_col, foot_of,
                new_schema, m, nb, bookmark_updates, extra_manifest, t0, writer_id,
            )
            if committed is not None and mode == "cow_incremental":
                # hierarchical granular COW: the delta commit above is the
                # O(batch) write; now fold the granules due this round —
                # amortized O(table/fold_every) instead of O(table) per
                # batch (DESIGN_hierarchical_bucketing.md) — planned on the
                # manifest just published. A fold that loses its CAS is
                # simply deferred to the next round.
                out["fold"] = self.fold_due(base=committed)
                out["mode"] = "cow_incremental"
            return out

        all_rows = batch
        plan_first = bool(all_files_of(m))
        if plan_first:
            # (bucket, slice)-granular COW (r3 verdict item #5): the commit
            # rewrites only the granules the batch touches, so two COW
            # writers hitting disjoint slices of one bucket both land
            # without recompute. It reads ONLY the consumed files (the
            # touched granules, closed over shared files) instead of whole
            # buckets; untouched granules' files carry forward untouched.
            plans, S = self._cow_granule_plans(m, self._slices_of(foot_of()))
            k_parts = max(1, len(plans) * S)
            files_needed: set = set()
            own_pairs: list = []
            for b, (S_b, touched, cb, cd) in plans.items():
                for f in cb + cd:
                    files_needed.add(f)
                    own_pairs.append((os.path.basename(f), b))
            if files_needed:
                stored = T.StructType(
                    (old_schema or new_schema).fields
                    + [T.StructField("__bucket", T.IntegerType(), True)]
                )
                ex = self._owned_rows(
                    self.spark.read.schema(stored).parquet(*sorted(files_needed)), own_pairs
                ).drop("__bucket")
                # re-derive the bucket after align (same pure function of keys)
                ex_aligned = align(ex).withColumn("__bucket", key_hash(keys, nb))
                all_rows = ex_aligned.unionByName(batch)
        else:
            # into an empty table nothing is consumed: the width comes from
            # the bucket count, and the footprint, resolved after the write,
            # names the claims of a plan that consumes nothing
            S = self._fpb(nb)
            k_parts = nb * S

        # The salt DECOUPLES shuffle width from num_buckets: a batch
        # touching 16 buckets on a 512-core cluster still merges 16*S-wide
        # (S files per bucket, recorded per-commit in the manifest).
        # Skew note: a pathologically hot KEY still lands in one partition;
        # operators/dedup.lww_dedup_salted pre-shrinks such batches first.
        merged = self._lww_partitioned(all_rows, keys, order_by, k_parts, S).drop("__salt")

        # --- write new files for the touched granules only (copy-on-write)
        out_dir = self._epoch_dir((m["version"] + 1) if m else 0)
        by_index = self._write_parts(merged, out_dir)
        if not plan_first:
            plans, _S = self._cow_granule_plans(
                m, self._slices_of(self._after_write(foot_of, out_dir)), S
            )
        our_files, our_meta, our_sizes, our_stats, our_blooms = self._harvest(
            m, by_index, sorted(plans), S, k_parts, keys, order_by,
            allowed={
                b: claims_at([S_b, touched], S)
                for b, (S_b, touched, _cb, _cd) in plans.items()
            },
        )

        def assemble(cur: Optional[dict], bookmark_updates, extra_manifest):
            final_schema = new_schema
            if cur is not m:
                final_schema = self._rebased_schema(
                    cur, writer_id, batch_id, new_schema, keys, nb
                )
                if final_schema is None or final_schema is self._SKIP:
                    return final_schema
                # lost the CAS: our rewritten files embody the OLD state of
                # the granules we consumed — (bucket, slice)-granular
                # conflict detection
                if not self._cow_granular_rebase_ok(m, cur, plans):
                    return None
            # swap ONLY the consumed files; untouched granules' files (and
            # deltas landed since our snapshot in OUR granules — newer
            # batches, LWW-safe as pending deltas) carry forward
            consumed = {str(b): (cb, cd) for b, (_S, _t, cb, cd) in plans.items()}
            files, deltas, slice_meta = self._swap_consumed(cur, consumed, our_files, our_meta)
            return self._batch_manifest(
                cur, batch_id, writer_id, final_schema, keys, order_by, op_col,
                files, deltas, slice_meta, bookmark_updates, extra_manifest,
                our_sizes, our_blooms, our_stats,
            )

        committed = self._commit_batch(m, out_dir, bookmark_updates, extra_manifest, assemble)
        if committed is None:
            return None  # conflicting granules: caller recomputes
        if committed is self._SKIP:
            return {"skipped": True, "batch_id": batch_id}
        return {
            "skipped": False,
            "batch_id": batch_id,
            "version": committed["version"],
            "buckets_touched": len(plans),
            "merge_seconds": time.time() - t0,
        }

    @staticmethod
    def _footprint(batch: DataFrame, keys) -> dict:
        """``{bucket: (slice64 residues, events)}`` of a bucketed batch,
        from one (__bucket, slice64) count aggregate."""
        foot: dict = {}
        s64 = key_hash(keys, SLICE_MOD, "__salt__").alias("__s64")
        for b, s, n in batch.groupBy("__bucket", s64).count().collect():
            residues, events = foot.get(int(b), (set(), 0))
            residues.add(int(s))
            foot[int(b)] = (residues, events + int(n))
        return foot

    @staticmethod
    def _slices_of(foot: dict) -> dict:
        """A footprint's ``{bucket: slice64 residues}`` (granule plans)."""
        return {int(b): {int(s) for s in res} for b, (res, _n) in foot.items()}

    @staticmethod
    def _fanout_of(foot: dict) -> list:
        """A footprint's ``[buckets touched, events]``: the fan-out record
        that sizes the writer's next delta append."""
        return [len(foot), sum(int(n) for _res, n in foot.values())]

    @staticmethod
    def _after_write(foot_of, out_dir: str) -> dict:
        """Resolve a footprint once the write is done; a failing resolver
        (e.g. the pipeline's empty-batch signal) reclaims the
        unreferenced epoch dir, like a failing lazy commit payload."""
        try:
            return foot_of()
        except BaseException:
            shutil.rmtree(out_dir, ignore_errors=True)
            raise

    def _delta_width(self, m: Optional[dict], writer_id: str, foot: Optional[dict] = None):
        """``(S, k_parts)`` of ``writer_id``'s delta append planned on
        ``m``: from ``foot`` when given, else from the writer's recorded
        ``delta_fanout`` (None when it has none). The file count is capped
        at ``DELTA_FILE_ROWS_AUTO`` rows per file."""
        fanout = (
            self._fanout_of(foot) if foot is not None
            else ((m or {}).get("delta_fanout") or {}).get(writer_id)
        )
        if fanout is None:
            return None
        n_buckets, events = fanout
        S = self._fpb(n_buckets)
        return S, max(1, min(n_buckets * S, -(-int(events) // DELTA_FILE_ROWS_AUTO)))

    def delta_plans_one_file(self, m: Optional[dict], writer_id: str) -> bool:
        """Whether ``writer_id``'s next delta append planned on ``m``
        writes one file (a caller can then aggregate its batch in one
        task too)."""
        width = self._delta_width(m, writer_id)
        return width is not None and width[1] == 1

    def _append_delta(
        self, batch, keys, order_by, batch_id, op_col, foot_of,
        new_schema, m, nb, bookmark_updates, extra_manifest, t0,
        writer_id: str = "default",
    ) -> tuple:
        """MOR write: within-batch LWW winners appended as delta files.

        Never reads the base — write cost is O(batch). Returns ``(stats,
        committed manifest)``; the manifest is None when nothing was
        committed (``stats`` None = recompute, or a ledger skip).

        One write job with at most one exchange: a single-file fan-out
        (``k_parts == 1``) runs the LWW aggregate inside the scan task
        (no exchange at all); otherwise the batch is hash-partitioned
        once by (bucket, salt) and the LWW aggregate, grouped by (keys,
        bucket, salt), reuses that partitioning.

        Fan-out: every delta writer sizes by one rule. The write is
        planned from the writer's ``delta_fanout`` record (the buckets
        and events of its previous delta batch — a CDC stream is
        stationary), and each delta commit records the batch's own. The
        file count is capped at ``DELTA_FILE_ROWS_AUTO`` rows per file:
        several (bucket, salt) cells hash into one partition and a delta
        file is SHARED across buckets — the claim format's existing
        collision case ([S, residues] per (bucket, file); the ownership
        semi-join already filters shared files on read). S and the
        fan-out are a perf heuristic only; claims stay exact because the
        SAME S feeds both the salt column and ``_files_and_meta``.

        The footprint is resolved after the write action (for claims
        enumeration), so the caller's lineage aggregate runs concurrently
        with the write — except for a writer with no recorded fan-out,
        whose write is sized from the footprint, resolved first.

        Multi-writer: delta files are independent of the base snapshot, so
        a lost CAS always rebases (append our entries onto the fresh
        manifest) — MOR appends never recompute.
        """
        from tap_rest_api_msdk_spark.operators.dedup import lww_dedup

        width = self._delta_width(m, writer_id)
        foot = None if width else foot_of()
        S, k_parts = width or self._delta_width(m, writer_id, foot)
        out_dir = self._epoch_dir((m["version"] + 1) if m else 0)
        if k_parts == 1:
            winners = lww_dedup(batch.coalesce(1), list(keys) + ["__bucket"], order_by)
        else:
            salt = key_hash(keys, S, "__salt__")
            part = batch.withColumn("__salt", salt).repartition(k_parts, "__bucket", "__salt")
            winners = lww_dedup(part, list(keys) + ["__bucket", "__salt"], order_by).drop(
                "__salt"
            )
        by_index = self._write_parts(winners, out_dir)
        if foot is None:
            foot = self._after_write(foot_of, out_dir)
        fanout = {"delta_fanout": {writer_id: self._fanout_of(foot)}}

        # claims are the footprint's residues: a file shared by several
        # (bucket, salt) cells claims only the cells that wrote rows
        our_deltas, our_meta, our_sizes, our_stats, our_blooms = self._harvest(
            m, by_index, sorted(foot), S, k_parts, keys, order_by,
            allowed={b: claims_at([SLICE_MOD, res], S) for b, (res, _n) in foot.items()},
        )

        def assemble(cur: Optional[dict], bookmark_updates, extra_manifest):
            # delta files are independent of the base: a lost CAS always
            # rebases, unless the batch landed already or must recompute
            final_schema = (
                new_schema if cur is m
                else self._rebased_schema(cur, writer_id, batch_id, new_schema, keys, nb)
            )
            if final_schema is None or final_schema is self._SKIP:
                return final_schema
            deltas = dict(cur.get("deltas", {})) if cur else {}
            slice_meta = dict(cur.get("slice_meta", {})) if cur else {}
            for b_str, flist in our_deltas.items():
                have = deltas.get(b_str, [])
                deltas[b_str] = have + [f for f in flist if f not in have]
                slice_meta[b_str] = {**slice_meta.get(b_str, {}), **our_meta[b_str]}
            return self._batch_manifest(
                cur, batch_id, writer_id, final_schema, keys, order_by, op_col,
                dict(cur["files"]) if cur else {}, deltas, slice_meta,
                bookmark_updates, {**(extra_manifest or {}), **fanout},
                our_sizes, our_blooms, our_stats,
            )

        committed = self._commit_batch(m, out_dir, bookmark_updates, extra_manifest, assemble)
        if committed is None:
            return None, None
        if committed is self._SKIP:
            return {"skipped": True, "batch_id": batch_id}, None
        return {
            "skipped": False,
            "batch_id": batch_id,
            "version": committed["version"],
            "mode": "mor",
            "buckets_touched": len(foot),
            "merge_seconds": time.time() - t0,
        }, committed

    @staticmethod
    def _bucket_files(m: dict, b_str: str) -> list:
        """base + delta files of one bucket, section-ordered."""
        return list(m.get("files", {}).get(b_str, [])) + list(
            m.get("deltas", {}).get(b_str, [])
        )

    def cdc_diff_plan(self, m_from: dict, m_to: dict) -> dict:
        """Delta-walk plan between two snapshots: which (bucket, slice)
        granules CAN differ, and the file subset of each endpoint needed
        to resolve exactly those granules — O(changed granules), not
        O(table).

        A granule untouched between the endpoints has an identical file
        set on both sides (files are immutable; any rewrite that carries
        a granule's rows lands in a NEW file, marking the granule's files
        changed on at least one side), so its resolved rows are
        byte-identical and can never produce a diff row. Touched residues
        per bucket = the union of the changed files' claims at the
        bucket's common granule depth (min depth across both endpoints).

        Returns ``{bucket: (S_b, touched_residues)}`` plus per-endpoint
        (files, ownership pairs) selections and scan accounting.
        """
        plan: dict = {"touched": {}, "from": (set(), []), "to": (set(), [])}
        all_b = set(m_from.get("files", {})) | set(m_from.get("deltas", {})) | set(
            m_to.get("files", {})
        ) | set(m_to.get("deltas", {}))
        total_files = set()
        for b_str in all_b:
            lf, lt = self._bucket_files(m_from, b_str), self._bucket_files(m_to, b_str)
            total_files.update(lf)
            total_files.update(lt)
            if lf == lt:
                continue  # identical file set: no row of b can differ
            meta = {
                **m_to.get("slice_meta", {}).get(b_str, {}),
                **m_from.get("slice_meta", {}).get(b_str, {}),
            }
            S_b, claims = granule_claims(
                {f: meta[os.path.basename(f)] for f in set(lf) | set(lt)}
            )
            touched = set().union(*(claims[f] for f in set(lf) ^ set(lt)))
            plan["touched"][int(b_str)] = (S_b, touched)
            # each endpoint needs every file INTERSECTING a touched
            # residue (a key in a touched granule must resolve over its
            # complete row set on both sides)
            for key, flist in (("from", lf), ("to", lt)):
                files, pairs = plan[key]
                for f in flist:
                    if claims[f] & touched:
                        files.add(f)
                        pairs.append((os.path.basename(f), int(b_str)))
        plan["scanned_files"] = len(plan["from"][0] | plan["to"][0])
        plan["total_files"] = len(total_files)
        return plan

    def _read_resolved_subset(
        self, m: dict, files: set, pairs: list, allowed_slices: list, op_col
    ) -> DataFrame:
        """Resolved LIVE rows of a granule subset under manifest ``m``:
        scan only ``files``, keep rows owned by a selected (file, bucket)
        pair AND inside a touched (bucket, slice64) granule, LWW-resolve,
        drop tombstones."""
        schema = T.StructType.fromJson(m["schema"])
        stored = T.StructType(schema.fields + [T.StructField("__bucket", T.IntegerType(), True)])
        if not files:
            return arrow_frame(self.spark, [], stored).drop("__bucket")
        df = self._owned_rows(self.spark.read.schema(stored).parquet(*sorted(files)), pairs)
        # granule pruning: a selected file may span untouched residues —
        # those rows resolve identically on both sides, so drop them
        # before the LWW sort (tiny broadcast of (bucket, slice64) pairs).
        # ``allowed_slices=None`` = every selected bucket fully touched
        # (the common whole-table-churn case): skip the filter.
        keys = list(m["keys"])
        if allowed_slices is not None:
            sl = arrow_frame(self.spark, allowed_slices, _GRANULES)
            df = df.withColumn("__s64", key_hash(keys, SLICE_MOD, "__salt__"))
            df = df.join(
                F.broadcast(sl),
                (df["__bucket"] == sl["__b"]) & (df["__s64"] == sl["__s64"]),
                "leftsemi",
            ).drop("__s64")
        from tap_rest_api_msdk_spark.operators.dedup import lww_dedup

        df = lww_dedup(df, keys + ["__bucket"], list(m["order_by"])).drop("__bucket")
        if op_col and op_col in df.columns:
            df = df.filter(F.col(op_col).isNull() | (F.col(op_col) != F.lit("delete")))
        return df

    def cdc_diff(
        self, from_version: int, to_version: Optional[int] = None
    ) -> Optional[DataFrame]:
        """Row-level changelog between two snapshots (Iceberg CDC-read
        analog): one row per key whose LIVE state differs, with
        ``change ∈ {insert, update, delete}`` plus ``before``/``after``
        structs of the non-key columns.

        DELTA-WALK execution (r3 verdict item #2): instead of
        materializing both endpoint snapshots, the manifests' file sets
        are diffed driver-side (``cdc_diff_plan``) and only the touched
        (bucket, slice) granules' files are scanned and LWW-resolved —
        cost is bounded by changed data, not table size. Granules with
        identical file sets on both sides cannot differ (files are
        immutable). On split manifests the content-addressed section
        refs prove unchanged BUCKETS identical before any section is
        read, so even the metadata load is O(changed buckets)
        (``buckets_loaded``/``buckets_total`` in the plan — each loaded
        bucket reads its section on both endpoints; ``total_files`` then
        counts only the loaded buckets' files).
        The plan of the last call is kept on
        ``self.last_cdc_diff_plan`` for scan accounting.

        Exact under any mix of cow / mor / cow_incremental commits in
        between. Tombstones count as absent (a key whose latest row
        became a tombstone is a ``delete``; a tombstone later upserted is
        an ``insert``). One full-outer join keyed on the merge keys over
        the touched granules only; unchanged keys drop before anything
        is collected."""
        core_to = (
            self._current_core()
            if to_version is None
            else load_core_at(self.path, to_version)
        )
        if core_to is None:
            return None
        core_from = load_core_at(self.path, from_version)
        keys = list(core_to["keys"])
        op_col = core_to.get("op_col")
        schema = T.StructType.fromJson(core_to["schema"])
        attrs = [f.name for f in schema.fields if f.name not in keys]
        if core_from is None and from_version >= 0:
            raise ValueError(
                f"manifest v{from_version} expired: cdc_diff's before-"
                "endpoint exceeds retained metadata (the whole table would "
                "misreport as inserts); raise expire_manifests("
                "retain_last=...) to cover readers"
            )
        if core_from is None:
            # pre-creation endpoint (from_version < 0): all-inserts is exact
            after_full = self.to_df(manifest=assemble_manifest(self.path, core_to))
            return after_full.select(
                *keys,
                F.lit("insert").alias("change"),
                F.lit(None).cast(
                    T.StructType([f for f in schema.fields if f.name not in keys])
                ).alias("before"),
                F.struct(*attrs).alias("after"),
            )
        # section-ref prefilter: sections are CONTENT-ADDRESSED, so a
        # bucket whose ref is identical on both endpoints has an
        # identical file set and cannot produce a diff row — its section
        # is never even loaded. Metadata cost drops from O(live files)
        # to O(changed buckets' files).
        rf, rt = core_from["sections_ref"], core_to["sections_ref"]
        changed_b = {b for b in set(rf) | set(rt) if rf.get(b) != rt.get(b)}
        m = assemble_manifest_buckets(self.path, core_to, changed_b)
        m_from = assemble_manifest_buckets(self.path, core_from, changed_b)
        plan = self.cdc_diff_plan(m_from, m)
        # bucket-level accounting: each counted bucket loads its section
        # on BOTH endpoints (<= 2 files per bucket)
        plan["buckets_loaded"] = len(changed_b)
        plan["buckets_total"] = len(set(rf) | set(rt))
        self.last_cdc_diff_plan = plan
        # key fields in the KEYS-LIST order (not schema field order): the
        # populated path selects *keys first, so the empty-window frame
        # must match it column-for-column or positional consumers/appends
        # break when merge-key order differs from the schema's field order
        _by_name = {f.name: f for f in schema.fields}
        out_schema = T.StructType(
            [_by_name[k] for k in keys]
            + [
                T.StructField("change", T.StringType(), False),
                T.StructField(
                    "before",
                    T.StructType([f for f in schema.fields if f.name not in keys]),
                    True,
                ),
                T.StructField(
                    "after",
                    T.StructType([f for f in schema.fields if f.name not in keys]),
                    True,
                ),
            ]
        )
        if not plan["touched"]:
            return arrow_frame(self.spark, [], out_schema)
        fully_touched = all(
            len(touched) == S_b for S_b, touched in plan["touched"].values()
        )
        allowed_slices = (
            None
            if fully_touched
            else [
                (b, s)
                for b, (S_b, touched) in plan["touched"].items()
                for s in sorted(claims_at([S_b, touched], SLICE_MOD))
            ]
        )
        missing = sorted(
            f for f in (plan["from"][0] | plan["to"][0]) if not os.path.exists(f)
        )
        if missing:
            raise ValueError(
                "cdc_diff window exceeds retained snapshots "
                f"({len(missing)} files vacuumed, e.g. {missing[0]}); "
                "increase vacuum(retain_last=...) to cover readers"
            )
        before = self._read_resolved_subset(
            m_from, plan["from"][0], plan["from"][1], allowed_slices, op_col
        )
        after = self._read_resolved_subset(
            m, plan["to"][0], plan["to"][1], allowed_slices, op_col
        )

        def packed(df, name):
            # align both endpoints to the CURRENT schema (an older
            # snapshot may predate additive columns): missing attrs are
            # typed nulls so the before/after structs compare cleanly
            body = []
            for f_ in schema.fields:
                if f_.name in keys:
                    continue
                if f_.name in df.columns:
                    body.append(F.col(f_.name).cast(f_.dataType).alias(f_.name))
                else:
                    body.append(F.lit(None).cast(f_.dataType).alias(f_.name))
            return df.select(*keys, F.struct(*body).alias(name))

        b = packed(before, "before")
        a = packed(after, "after")
        joined = b.join(a, keys, "full_outer")
        change = (
            F.when(F.col("before").isNull(), F.lit("insert"))
            .when(F.col("after").isNull(), F.lit("delete"))
            .otherwise(F.lit("update"))
        )
        return (
            joined.withColumn("change", change)
            # unchanged keys (identical attr structs) are not changes
            .filter(
                F.col("before").isNull()
                | F.col("after").isNull()
                | ~F.col("before").eqNullSafe(F.col("after"))
            )
            .select(*keys, "change", "before", "after")
        )

    # ------------------------------------------------------------------
    # hierarchical granular fold (DESIGN_hierarchical_bucketing.md)
    # ------------------------------------------------------------------
    def _bucket_granule_plan(self, m: dict, b_str: str, k: int):
        """Fold plan for one bucket: (S_b, due residues, base files, delta
        files) — or None when nothing is due.

        Granule depth S_b = min claim depth across the bucket's files
        (power-of-two residues nest, so min-depth granules PARTITION the
        bucket's files). Due = the granule's pending delta chain
        reached ``k`` (``fold_every``) files — the Hudi NUM_COMMITS
        compaction trigger, per granule: hot granules fold often, cold
        granules never pay a rewrite, and fold JOBS batch up instead of
        paying fixed job costs every round. Closure (``claim_closure``):
        a file spanning a due and a non-due granule (partition-index
        collisions) drags the other granule in, so folds always consume
        whole files."""
        dfiles = m.get("deltas", {}).get(b_str, [])
        if not dfiles:
            return None
        S_b, claims = self._bucket_claims(m, b_str)
        chain = Counter(r for f in dfiles for r in claims[f])
        due = {r for r, n in chain.items() if n >= k}
        if not due:
            return None
        due = claim_closure(claims, due)
        base_sel = [f for f in m.get("files", {}).get(b_str, []) if claims[f] & due]
        delta_sel = [f for f in dfiles if claims[f] & due]
        return S_b, sorted(due), base_sel, delta_sel

    def fold_due(self, base=_HEAD) -> dict:
        """Fold the delta chains of the granules due this round into fresh
        base files — the staggered, (bucket, slice)-granular half of
        ``mode="cow_incremental"``. A granule is due when its pending
        delta chain reached the handle's ``fold_every`` files. One LWW
        merge job over ONLY the due granules' files (bucket- and
        slice-pruned scan), one shuffle, one atomic commit. Returns fold stats ({"skipped": True} when nothing
        is due or a concurrent commit invalidated the fold). ``base`` is
        the manifest to plan on (e.g. the one a commit just published);
        omitted, HEAD is read."""
        m = self.current_manifest() if base is _HEAD else base
        if m is None or not m.get("deltas"):
            return {"skipped": True}
        k = max(1, self.fold_every)
        t0 = time.time()

        plans = {}
        for b_str in list(m["deltas"]):
            plan = self._bucket_granule_plan(m, b_str, k)
            if plan is not None:
                plans[b_str] = plan
        if not plans:
            return {"skipped": True, "reason": "no granule chain at fold_every yet"}

        # ---- read exactly the due granules' rows (ownership per file+bucket)
        schema = T.StructType.fromJson(m["schema"])
        stored = T.StructType(schema.fields + [T.StructField("__bucket", T.IntegerType(), True)])
        files_needed: set[str] = set()
        pairs: list[tuple[str, int]] = []
        for b_str, (S_b, due, base_sel, delta_sel) in plans.items():
            for f in base_sel + delta_sel:
                files_needed.add(f)
                pairs.append((os.path.basename(f), int(b_str)))
        df = self.spark.read.schema(stored).parquet(*sorted(files_needed))
        # ownership fast path (driver-side, metadata only): if every
        # selected file's manifest-referenced buckets are ALL in this
        # fold's (file, bucket) selection, no foreign rows can leak — the
        # per-row semi-join is unnecessary. Always true when a uniform
        # write pattern folds every bucket at once (the steady-state CDC
        # shape); the join only runs for partial folds of shared files.
        # The reverse map is MAINTAINED in the manifest (file_owners,
        # r3 verdict item #8) so planning touches only the selected files.
        owners = m.get("file_owners", {})
        selected = set(pairs)
        fully_selected = all(
            (fname, b) in selected
            for fname in {p[0] for p in pairs}
            for b in owners.get(fname, ())
        )
        if not fully_selected:
            df = self._owned_rows(df, selected)

        # ---- one single-exchange LWW merge, salted at the fold depth
        keys, order_by = list(m["keys"]), list(m["order_by"])
        S_w = max(max(p[0] for p in plans.values()), self._fpb(len(plans)))
        k_parts = max(1, len(plans) * S_w)
        winners = self._lww_partitioned(df, keys, order_by, k_parts, S_w)

        # ---- era-split on the fold path (r5 verdict item #4): fold output
        # mixes the FULL ordering-range of the folded granules (measured
        # span ratio ~1.0 in both append- and update-heavy shapes —
        # scripts/measure_fold_spans.py), so without this a steady-state
        # cow_incremental table loses all read_since file pruning once
        # chains fold. With era_split>1 the WINNERS take one extra
        # output-sized exchange keyed (bucket, salt, era) — the LWW window
        # itself must stay (bucket, salt): a key's versions span eras, and
        # partitioning the window by era would resolve per-era winners.
        # Without a clustered layout the winners are written as they come
        # out of the window: no extra exchange, no sort.
        laid = self._clustered_layout(winners, m, files_needed, k_parts)
        if laid is None:
            merged, eras = winners.drop("__salt"), None
        else:
            merged, k_parts, eras = laid
        by_index = self._write_parts(merged, self._epoch_dir(m["version"] + 1))
        # claim ONLY the residues this fold actually rewrote (due granules,
        # lifted from depth S_b to the write depth S_w) — see _files_and_meta
        allowed = {
            int(b_str): claims_at([S_b, due], S_w)
            for b_str, (S_b, due, _bs, _ds) in plans.items()
        }
        written = self._harvest(
            m, by_index, [int(b) for b in plans], S_w, k_parts, keys, order_by,
            allowed=allowed, eras=eras,
        )
        consumed = {b_str: (bs, ds) for b_str, (_S, _due, bs, ds) in plans.items()}
        committed = self._commit_rewrite(m, consumed, written, fold=True)
        if committed is None:
            return {"skipped": True, "reason": "commit contention"}
        return {
            "skipped": False,
            "version": committed["version"],
            "folded_buckets": len(plans),
            "fold_seconds": time.time() - t0,
        }

    # ------------------------------------------------------------------
    # maintenance
    # ------------------------------------------------------------------
    def compact(self, tombstone_watermark: Optional[int] = None) -> dict:
        """Rewrite every non-empty bucket into fresh base files:
        ``compact_buckets`` with all buckets selected. Merges small files,
        folds pending deltas into the base and purges delete tombstones
        whose seq <= ``tombstone_watermark`` (safe once the source can no
        longer replay events older than the watermark — the classic
        log-compaction contract).

        Runs as maintenance (bumps version, keeps the batch-id ledger), so
        readers never see a partial compaction. Multi-writer: the
        ``compact_buckets`` rebase rule — a delta a racer appends
        mid-rewrite stays pending (LWW re-applies it at read) and the
        compaction still commits; a commit that changed a bucket's base
        files (a COW merge, a fold) forces a recompute from the fresh
        snapshot (bounded retries; compaction is maintenance, the writers
        win ties).

        A table with the ``key_index`` property gets a key bloom for every
        rewritten file, like any other write. Returns ``compact_buckets``'
        result.
        """
        return self.compact_buckets(
            buckets=_EVERY_BUCKET, tombstone_watermark=tombstone_watermark
        )

    @staticmethod
    def _purge_tombstones(df, m: dict, tombstone_watermark: Optional[int]):
        """Drop delete tombstones with replication key <= the watermark.
        NULL-safe on BOTH operands: a row whose op is null (e.g.
        null-filled by schema alignment) is LIVE and a tombstone with a
        null ordering key has no provable position vs the watermark — a
        bare ``~(a & b)`` evaluates NULL for either and filter() would
        silently drop the row from the rewritten base."""
        op_col = m.get("op_col")
        rk = (m.get("order_by") or [None])[0]
        if not (op_col and tombstone_watermark is not None and rk):
            return df
        purge = (
            F.col(op_col).isNotNull()
            & (F.col(op_col) == "delete")
            & F.col(rk).isNotNull()
            & (F.col(rk) <= F.lit(tombstone_watermark))
        )
        return df.filter(~purge)

    def _cluster_bounds(self, m: dict, basenames, cols=None) -> Optional[dict]:
        """``{col: (lo, hi)}`` for ``cols`` (default: the ``cluster_by``
        columns, when there are >= 2) across the given input files, from
        manifest zone maps ONLY — no data read. None unless ALL columns
        have bounds in ALL files (non-numeric columns have none) and a non-degenerate span: the clustered layout then
        quietly falls back (z-order to the 1-D era split, that to none)
        rather than scanning."""
        if cols is None:
            if not self.cluster_by or len(self.cluster_by) < 2:
                return None
            cols = self.cluster_by
        stats = m.get("file_stats", {})
        out = {}
        for c in cols:
            lo = hi = None
            for bn in basenames:
                st = _stat_bounds(stats.get(bn), c)
                if st is None:
                    return None
                lo = st[0] if lo is None else min(lo, st[0])
                hi = st[1] if hi is None else max(hi, st[1])
            if lo is None or not hi > lo:
                return None
            out[c] = (lo, hi)
        return out

    def _clustered_layout(self, salted: DataFrame, m: dict, input_files, k_parts: int):
        """Range-clustered layout of a rewrite's salted output rows
        (``__bucket``, ``__salt``), shared by folds and bucket rewrites.

        With ``era_split > 1`` the partition key gains an ``__era`` cell,
        so each (bucket, slice) granule writes one file per cell —
        cell-DISJOINT files by construction, keeping zone maps tight after
        a rewrite merges history. The cell is a Morton interleave over
        ``cluster_by`` when every clustered column has bounds in the input
        files (rows sorted by the full Morton key within each file, so
        EVERY clustered column stays prunable), else the LWW ordering
        column's value range (rows sorted by it). Bounds come from the
        manifest zone maps of ``input_files`` only — no data read. Claims
        are untouched: the cell is not a claim coordinate, a granule just
        owns several files ([S, residues] per file, ``_files_and_meta``).

        Returns ``(frame, k_parts, eras)`` — the frame repartitioned and
        sorted, helper columns dropped — or None when no clustered layout
        applies (``era_split`` <= 1, or the input files lack bounds)."""
        n_e = max(1, int(self.era_split or 1))
        if n_e == 1:
            return None
        in_bn = {os.path.basename(f) for f in input_files}
        bounds = self._cluster_bounds(m, in_bn)
        if bounds is not None:
            cell, zsort = zorder_cell_and_key(bounds, n_e)
            salted, sort_col = salted.withColumn("__z", zsort), "__z"
        else:
            sort_col = (m.get("order_by") or [None])[0]
            bounds = self._cluster_bounds(m, in_bn, [sort_col]) if sort_col else None
            if bounds is None:
                return None
            lo, hi = bounds[sort_col]
            cell = F.coalesce(
                F.least(
                    F.lit(n_e - 1),
                    F.greatest(
                        F.lit(0),
                        F.floor((F.col(sort_col) - F.lit(lo)) * n_e / F.lit(hi - lo + 1)),
                    ),
                ).cast("int"),
                F.lit(0),
            )
        k_parts = k_parts * n_e
        frame = (
            salted.withColumn("__era", cell)
            .repartition(k_parts, "__bucket", "__salt", "__era")
            .sortWithinPartitions("__bucket", "__salt", sort_col)
            .drop("__salt", "__era", "__z")
        )
        return frame, k_parts, list(range(n_e))

    def _harvest(self, m: Optional[dict], by_index: dict, affected, S: int, k_parts: int,
                 keys, order_by, allowed=None, eras=None) -> tuple:
        """Manifest entries for one write job planned on ``m``: ``(files,
        slice_meta, sizes, zone stats, key blooms)`` — per-bucket claims
        (``_files_and_meta``), byte sizes, zone maps, and key blooms when
        ``m``'s table has the ``key_index`` property (else None)."""
        files, meta = self._files_and_meta(
            affected, S, k_parts, by_index, allowed=allowed, eras=eras
        )
        blooms = (
            self._compute_file_blooms(list(by_index.values()), list(keys))
            if self._key_index_of(m)
            else None
        )
        return (files, meta, self._sizes_of(by_index),
                self._stats_of(by_index, self._stat_cols(m, order_by)), blooms)

    def _rewrite_job(self, df, affected: Sequence[int], epoch: int, m: dict, input_files):
        """One bucket-space rewrite job: salt, repartition, write a fresh
        epoch dir, index the part files and harvest their manifest
        entries. Shared by bucket compaction and rebucket — they differ
        only in WHICH buckets they rewrite (and in which bucket space).
        ``input_files`` are the files ``df`` was read from: their zone
        maps bound the clustered layout (``_clustered_layout``). Returns
        ``(by_index, _harvest(...))``."""
        S = self._fpb(len(affected))
        k_parts = max(1, len(affected) * S)
        salted = df.withColumn("__salt", key_hash(m["keys"], S, "__salt__"))
        laid = self._clustered_layout(salted, m, input_files, k_parts)
        if laid is not None:
            shaped, k_parts, eras = laid
        else:
            eras = None
            shaped = salted.repartition(k_parts, "__bucket", "__salt")
            rk = (m.get("order_by") or [None])[0]
            if rk:
                # cluster rows by the ordering column WITHIN each output file
                # (file-to-granule mapping is untouched — still (bucket, salt)):
                # parquet row-group min/max become tight on the ordering
                # column, so read_since/read_range's pushed residual filter
                # skips row groups even inside files the whole-file zone map
                # cannot prune, and runs of adjacent values compress better
                shaped = shaped.sortWithinPartitions("__bucket", "__salt", rk)
            shaped = shaped.drop("__salt")
        by_index = self._write_parts(shaped, self._epoch_dir(epoch))
        return by_index, self._harvest(
            m, by_index, affected, S, k_parts, m["keys"], m.get("order_by"), eras=eras
        )

    @staticmethod
    def _swap_consumed(cur: Optional[dict], consumed: dict, new_files: dict,
                       new_meta: dict) -> tuple:
        """``(files, deltas, slice_meta)`` of ``cur`` with each bucket's
        consumed (base files, delta files) replaced by its new base files
        — the file swap of every rewrite commit (COW merge, fold,
        compaction). The bucket's other base files and its other pending
        deltas carry forward; slice metadata is kept only for the files
        the bucket still references."""
        files = dict(cur["files"]) if cur else {}
        deltas = dict(cur.get("deltas", {})) if cur else {}
        slice_meta = dict(cur.get("slice_meta", {})) if cur else {}
        for b_str, (base_sel, delta_sel) in consumed.items():
            keep_base = [f for f in files.get(b_str, []) if f not in set(base_sel)]
            files[b_str] = keep_base + new_files.get(b_str, [])
            left = [f for f in deltas.get(b_str, []) if f not in set(delta_sel)]
            if left:
                deltas[b_str] = left
            else:
                deltas.pop(b_str, None)
            keep = {os.path.basename(f) for f in keep_base + left}
            bmeta = {bn: v for bn, v in slice_meta.get(b_str, {}).items() if bn in keep}
            slice_meta[b_str] = {**bmeta, **new_meta.get(b_str, {})}
        return files, deltas, slice_meta

    def _commit_rewrite(self, m: dict, consumed: dict, written: tuple,
                        fold: bool = False) -> Optional[dict]:
        """CAS-commit a maintenance rewrite — a fold or a bucket
        compaction — of ``consumed`` (bucket -> (base files, delta files),
        read from ``m``) into the ``written`` part files (``_harvest``).

        The output embodies LWW(consumed base ∪ consumed deltas) as of
        ``m``, so on a lost CAS it stays valid iff every rewritten
        bucket's base is unchanged and its consumed deltas are all still
        pending: deltas appended since stay pending (LWW re-applies them
        at read) and commits to other buckets rebase. Base files the
        rewrite did not consume (a fold's non-due granules) carry
        forward. Maintenance: the per-writer ledger is untouched; a fold
        also bumps ``fold_round``. Returns the committed manifest, or
        None when the rewrite is stale."""
        new_files, new_meta, new_sizes, new_stats, new_blooms = written

        def assemble(cur: Optional[dict]) -> Optional[dict]:
            if cur is None:
                return None
            if cur is not m:
                for b_str, (_base_sel, delta_sel) in consumed.items():
                    if cur.get("files", {}).get(b_str, []) != m.get("files", {}).get(b_str, []):
                        return None
                    if not set(delta_sel) <= set(cur.get("deltas", {}).get(b_str, [])):
                        return None
            files, deltas, slice_meta = self._swap_consumed(cur, consumed, new_files, new_meta)
            out = {
                **{k_: v for k_, v in cur.items() if k_ != "version"},
                "files": files,
                "deltas": deltas,
                "slice_meta": slice_meta,
                "committed_at": time.time(),
            }
            if fold:
                out["fold_round"] = int(cur.get("fold_round", 0)) + 1
            return self._with_file_index(
                out, new_sizes, new_blooms=new_blooms, new_stats=new_stats
            )

        return self._try_commit(m, assemble)

    def compact_buckets(
        self,
        buckets: Optional[Sequence[int]] = None,
        small_file_bytes: int = 32 << 20,
        min_input_files: int = 4,
        tombstone_watermark: Optional[int] = None,
    ) -> dict:
        """Incremental small-file compaction (Iceberg binpack analog):
        rewrite ONLY the buckets whose small-file count warrants it,
        never the table (``compact()`` is this with every non-empty bucket
        selected). At 100 TB a full rewrite is not a
        maintenance option — granular COW and folds leave a trail of
        per-commit files, and this reclaims them bucket by bucket with
        cost proportional to the buckets actually fragmented.

        Selection: a bucket is due when >= ``min_input_files`` of its
        live files (base + pending deltas) are each under
        ``small_file_bytes`` (sizes from the manifest's ``file_bytes``;
        files with unknown size never count toward
        the threshold but ARE consumed when their bucket is rewritten).
        ``buckets`` overrides selection entirely.

        Runs as MAINTENANCE like ``fold_due``: per-writer ledger
        untouched (CDC-invisible — the commit walk skips it), claims are
        bucket-level, and a racer's commit to a due bucket forces a
        recompute while commits to other buckets merely rebase. A
        racer's delta appended to a due bucket mid-rewrite stays
        pending (LWW re-applies it at read). ``tombstone_watermark``
        purges delete tombstones with replication key <= the watermark
        from the rewritten buckets (same contract as ``compact``). A table
        with the ``key_index`` property gets a key bloom for every
        rewritten file."""
        for _attempt in range(3):
            out = self._compact_buckets_once(
                buckets, small_file_bytes, min_input_files, tombstone_watermark
            )
            if out is not None:
                return out
        return {"skipped": True, "reason": "commit contention (3 attempts)"}

    def _compact_buckets_once(
        self,
        buckets: Optional[Sequence[int]],
        small_file_bytes: int,
        min_input_files: int,
        tombstone_watermark: Optional[int],
    ) -> Optional[dict]:
        m = self.current_manifest()
        if m is None:
            return {"skipped": True, "reason": "empty table"}
        t0 = time.time()
        sizes = m.get("file_bytes", {})
        wanted = (
            None if buckets is None or buckets is _EVERY_BUCKET
            else {int(b) for b in buckets}
        )
        consumed: dict[str, tuple[list, list]] = {}  # b -> (base, deltas)
        for b_str in sorted(
            set(m.get("files", {})) | set(m.get("deltas", {})), key=int
        ):
            base = list(m.get("files", {}).get(b_str, []))
            dl = list(m.get("deltas", {}).get(b_str, []))
            if not base and not dl:
                continue
            if buckets is not None:  # explicit selection
                if wanted is None or int(b_str) in wanted:
                    consumed[b_str] = (base, dl)
                continue
            n_small = sum(
                1
                for f in base + dl
                if sizes.get(os.path.basename(f), small_file_bytes)
                < small_file_bytes
            )
            if n_small >= max(1, min_input_files):
                consumed[b_str] = (base, dl)
        if not consumed:
            return {"skipped": True, "reason": "no bucket over the small-file threshold"}

        due = sorted(int(b) for b in consumed)
        df = self.read_state(buckets=due, manifest=m)
        df = self._purge_tombstones(df, m, tombstone_watermark)
        inputs = {f for b_, d_ in consumed.values() for f in b_ + d_}
        # full-bucket rewrite: the new files legitimately claim every
        # residue the job computed for them (no partial-granule caveat)
        _by_index, written = self._rewrite_job(df, due, m["version"] + 1, m, inputs)
        committed = self._commit_rewrite(m, consumed, written)
        if committed is None:
            return None
        return {
            "skipped": False,
            "version": committed["version"],
            "compacted_buckets": len(due),
            "files_in": len(inputs),
            # referenced files only: a zero-row partition's file is never
            # claimed by any (bucket, residue) and stays dead on disk
            # until vacuum
            "files_out": len({f for fl in written[0].values() for f in fl}),
            "seconds": time.time() - t0,
        }

    def stats(
        self, small_file_bytes: int = 32 << 20, min_input_files: int = 4
    ) -> Optional[dict]:
        """Driver-side table health report (metadata only — no Spark job,
        no file listing beyond the manifest): layout, fragmentation and
        delta-backlog numbers an operator needs to schedule maintenance.
        ``fragmented_buckets`` counts buckets that ``compact_buckets``
        would select at the SAME ``small_file_bytes``/``min_input_files``
        thresholds, so the report directly answers "is a binpack due?" —
        pass the thresholds your maintenance job actually uses."""
        m = self.current_manifest()
        if m is None:
            return None
        sizes = m.get("file_bytes", {})
        # per-bucket counts are REFERENCE counts (a shared file counts
        # for each bucket referencing it — that's what a rewrite of the
        # bucket pays); the top-level files/bytes/small/delta numbers are
        # UNIQUE files, the physical truth
        per_bucket_files: dict[str, int] = {}
        per_bucket_small: dict[str, int] = {}
        uniq: set[str] = set()
        uniq_delta: set[str] = set()
        max_chain = 0
        for section in ("files", "deltas"):
            for b, fl in m.get(section, {}).items():
                per_bucket_files[b] = per_bucket_files.get(b, 0) + len(fl)
                if section == "deltas":
                    uniq_delta.update(fl)
                    max_chain = max(max_chain, len(fl))
                for f in fl:
                    uniq.add(f)
                    if sizes.get(os.path.basename(f), small_file_bytes) < small_file_bytes:
                        per_bucket_small[b] = per_bucket_small.get(b, 0) + 1
        total_bytes = sum(
            sizes.get(os.path.basename(f), 0) for f in uniq
        )
        counts = sorted(per_bucket_files.values())
        small_uniq = sum(
            1
            for f in uniq
            if sizes.get(os.path.basename(f), small_file_bytes) < small_file_bytes
        )
        return {
            "version": m["version"],
            "num_buckets": self._buckets_of(m),
            "files": len(uniq),
            "bytes": total_bytes,
            "delta_files_pending": len(uniq_delta),
            "max_delta_chain": max_chain,
            "small_files": small_uniq,
            "fragmented_buckets": sum(
                1
                for b, n in per_bucket_small.items()
                if n >= max(1, min_input_files)
            ),
            "max_files_per_bucket": counts[-1] if counts else 0,
            "tags": len(self.tags()),
        }

    def rebucket(self, new_num_buckets: int) -> dict:
        """Online bucket-count evolution (the hash-bucket analog of
        Iceberg partition evolution): rewrite the full resolved state —
        tombstones included — under ``new_num_buckets`` and commit the
        new layout atomically. Grow a table whose buckets outgrew the
        executor memory budget, or shrink an over-partitioned one, with
        readers never seeing a partial layout.

        Runs as MAINTENANCE: the per-writer ledger is untouched, so the
        commit walk (changes_since / the changes stream / net-changes
        windows) skips it — downstream CDC consumers see no phantom
        events, and ``cdc_diff`` across the boundary is exact (every
        bucket's file set changed, so the delta-walk degrades to the
        full-snapshot diff — honest for a full rewrite — and the final
        compare joins globally on keys, not on bucket ids).

        Multi-writer: in-flight commits computed under the OLD count lose
        the CAS and recompute — COW/fold structurally (their consumed
        files vanished), MOR via the explicit bucket-drift rebase guard —
        and the recompute plans on the fresh snapshot, whose count every
        operation reads (``_buckets_of``); no handle caches it.
        Old-version time travel still reads its own manifest's sections,
        so history stays intact. A table with the ``key_index`` property
        gets a key bloom for every rewritten file."""
        nb = int(new_num_buckets)
        if nb < 1:
            raise ValueError(f"new_num_buckets must be >= 1, got {nb}")
        for _attempt in range(3):
            out = self._rebucket_once(nb)
            if out is not None:
                return out
        return {"skipped": True, "reason": "commit contention (3 attempts)"}

    def _rebucket_once(self, nb: int) -> Optional[dict]:
        m = self.current_manifest()
        if m is None:
            raise ValueError("rebucket on an empty table")
        if nb == self._buckets_of(m):
            return {"skipped": True, "reason": f"already at {nb} buckets"}
        t0 = time.time()
        df = self.read_state(manifest=m)  # resolves MOR deltas; keeps tombstones
        df = df.drop("__bucket").withColumn("__bucket", key_hash(m["keys"], nb))
        epoch = m["version"] + 1
        by_index, (files, slice_meta, sizes, stats, blooms) = self._rewrite_job(
            df, range(nb), epoch, m, all_files_of(m)
        )
        manifest = self._with_file_index({
            **m,
            "version": epoch,
            "num_buckets": nb,
            "files": files,
            "deltas": {},
            "slice_meta": slice_meta,
            "committed_at": time.time(),
        }, sizes, new_blooms=blooms, new_stats=stats)
        if not self._publish(manifest):
            return None  # concurrent commit: the rewritten layout is stale
        return {
            "skipped": False,
            "version": epoch,
            "num_buckets": nb,
            "files": len(by_index),
            "rebucket_seconds": time.time() - t0,
        }

    def vacuum(self, retain_last: int = 1, grace_seconds: float = 0.0) -> int:
        """Delete data files not referenced by the last ``retain_last``
        manifests (default 1 = current snapshot only). Returns the number
        of files removed. ``retain_last > 1`` keeps that many historical
        snapshots time-travelable after maintenance — the Iceberg
        expire-snapshots retention contract. Note ``retain_last`` counts
        VERSIONS, and cow_incremental produces up to two versions per
        batch (delta commit + fold commit) — size retention in versions,
        not batches, when incremental readers need a replay window.

        Multi-writer: a concurrent writer may have data files on disk that
        no manifest references YET (written, not committed). Set
        ``grace_seconds`` so vacuum spares any file younger than that —
        the Iceberg orphan-file-removal grace window. The default 0 keeps
        the single-writer behavior (reclaim immediately)."""
        m = self.current_manifest()
        if m is None:
            return 0
        cutoff = time.time() - grace_seconds
        live: set = set()
        newest = m["version"]
        keep = set(range(max(0, newest - max(1, retain_last) + 1), newest + 1))
        keep |= set(self.tags(strict=True).values())  # unreadable tag = abort, not unpin
        for v in sorted(keep):
            snap = self.manifest_at(v)
            if snap is None:
                continue
            live |= {f for flist in snap["files"].values() for f in flist}
            live |= {f for flist in snap.get("deltas", {}).values() for f in flist}
        removed = 0
        data_root = os.path.join(self.path, "data")
        for epoch_dir in sorted(os.listdir(data_root)):
            full = os.path.join(data_root, epoch_dir)
            for fname in os.listdir(full):
                fpath = os.path.join(full, fname)
                if fname.endswith(".parquet") and fpath not in live:
                    if grace_seconds > 0 and os.path.getmtime(fpath) > cutoff:
                        continue  # possibly an in-flight writer's file
                    os.remove(fpath)
                    # drop the committer's checksum sidecar with its file,
                    # or it pins the epoch dir forever (r6: at steady-state
                    # commit rates — 2 versions/batch under cow_incremental
                    # — dead dirs otherwise accumulate unboundedly and
                    # vacuum's own walk degrades every round)
                    crc = os.path.join(full, f".{fname}.crc")
                    if os.path.exists(crc):
                        os.remove(crc)
                    removed += 1
            left = os.listdir(full)
            if all(
                f == "_SUCCESS" or (f.startswith(".") and f.endswith(".crc"))
                for f in left
            ):
                # dead epoch dir: nothing but committer markers / orphaned
                # checksum sidecars (every parquet gone). An IN-FLIGHT
                # write never matches — its _temporary/ dir or fresh
                # parquets fail the residue test, and the grace window
                # additionally spares young dirs.
                if grace_seconds > 0 and os.path.getmtime(full) > cutoff:
                    continue
                shutil.rmtree(full, ignore_errors=True)
        return removed

    def _gc_sections(self, grace_seconds: float = 300.0) -> int:
        """Delete section files referenced by NO remaining version file.
        ``grace_seconds`` spares young sections — a concurrent writer may
        have written sections for a commit whose CAS hasn't landed yet
        (same contract as vacuum's orphan-file grace window)."""
        mdir = os.path.join(self.path, "manifests")
        sdir = os.path.join(mdir, "sections")
        if not os.path.isdir(sdir):
            return 0
        live: set = set()
        for name in os.listdir(mdir):
            if not (name.startswith("v") and name.endswith(".json")):
                continue
            try:
                with open(os.path.join(mdir, name)) as fh:
                    live.update(json.load(fh).get("sections_ref", {}).values())
            except (json.JSONDecodeError, OSError):
                continue
        cutoff = time.time() - grace_seconds
        removed = 0
        for name in os.listdir(sdir):
            rel = f"sections/{name}"
            p = os.path.join(sdir, name)
            if rel in live:
                continue
            # non-.json entries are crashed writers' .tmp files — orphans
            # to reclaim past the same grace window
            try:
                if os.path.getmtime(p) > cutoff:
                    continue  # possibly an in-flight commit's section
                os.remove(p)
                _SECTION_CACHE.pop(p, None)
                removed += 1
            except OSError:
                continue
        return removed

    # ------------------------------------------------------------------
    # named snapshot refs (Iceberg tag analog)
    # ------------------------------------------------------------------
    def _tags_dir(self) -> str:
        return os.path.join(self.path, "tags")

    def tag(self, name: str, version: Optional[int] = None,
            overwrite: bool = False) -> int:
        """Pin a snapshot version under a NAME (Iceberg tag analog): a
        tagged version survives ``expire_manifests`` and its data files
        survive ``vacuum`` regardless of the rolling retention windows —
        the mechanism for 'the dataset release we trained run X on stays
        time-travelable'. Returns the pinned version.

        Concurrency: creation without ``overwrite`` is ATOMIC (exclusive
        create — two racing taggers of one name: one wins, one raises,
        no silent clobber). After the tag file lands, the snapshot is
        RE-verified (manifest + every data file): a maintenance job that
        raced the tag and already removed part of the snapshot makes
        this call remove its tag and raise loudly, instead of leaving a
        dangling pin the user believes safe."""
        self._check_tag_name(name)
        if version is None:
            m = self._current_core()
            if m is None:
                raise ValueError("no committed snapshot to tag")
            version = int(m["version"])
        elif load_core_at(self.path, int(version)) is None:
            raise ValueError(
                f"cannot tag v{version}: manifest missing or expired"
            )
        os.makedirs(self._tags_dir(), exist_ok=True)
        p = os.path.join(self._tags_dir(), f"{name}.json")
        payload = json.dumps({"name": name, "version": int(version),
                              "created_at": time.time()})
        prev_payload = None
        if overwrite:
            try:
                with open(p) as fh:  # kept for rollback on failed verify
                    prev_payload = fh.read()
            except FileNotFoundError:
                pass
            tmp = p + f".tmp.{uuid.uuid4().hex}"
            with open(tmp, "w") as fh:
                fh.write(payload)
            os.replace(tmp, p)
        else:
            try:
                with open(p, "x") as fh:  # exclusive create: no clobber race
                    fh.write(payload)
            except FileExistsError:
                raise ValueError(
                    f"tag {name!r} exists (overwrite=True to move it)"
                )
        # post-publish verification: once the tag file is visible, any
        # FUTURE expire/vacuum honors it — but one that raced us may
        # already have removed pieces. Fail loudly, not danglingly — and
        # an overwrite that fails verification RESTORES the previous pin
        # (deleting it would silently unprotect a still-valid snapshot).
        m_full = load_manifest_at(self.path, int(version))
        missing = (
            ["manifest"]
            if m_full is None
            else sorted(f for f in all_files_of(m_full) if not os.path.exists(f))
        )
        if missing:
            if prev_payload is not None:
                tmp = p + f".tmp.{uuid.uuid4().hex}"
                with open(tmp, "w") as fh:
                    fh.write(prev_payload)
                os.replace(tmp, p)
            else:
                os.remove(p)
            raise ValueError(
                f"tag {name!r} lost a race with maintenance: v{version} is "
                f"no longer fully retained ({missing[0]} gone) — re-tag a "
                "retained version"
            )
        return int(version)

    @staticmethod
    def _check_tag_name(name: str) -> None:
        if not valid_tag_name(name):
            raise ValueError(f"invalid tag name {name!r}")

    def tags(self, strict: bool = False) -> dict:
        """{tag name: pinned version} for every tag on the table.

        ``strict=True`` (used by the DESTRUCTIVE maintenance passes —
        vacuum, expire_manifests) re-raises read errors instead of
        skipping the tag: failing open on a transiently unreadable tag
        file would let maintenance delete the very snapshot it pins."""
        out: dict = {}
        try:
            names = os.listdir(self._tags_dir())
        except FileNotFoundError:
            return out
        for n in sorted(names):
            if not n.endswith(".json") or ".tmp." in n:
                continue
            try:
                with open(os.path.join(self._tags_dir(), n)) as fh:
                    out[n[:-5]] = int(json.load(fh)["version"])
            except (json.JSONDecodeError, OSError, KeyError, ValueError):
                if strict:
                    raise
                continue
        return out

    def drop_tag(self, name: str) -> bool:
        """Remove a tag (its version rejoins the normal retention
        windows). Returns whether the tag existed."""
        self._check_tag_name(name)  # no path traversal out of tags/
        try:
            os.remove(os.path.join(self._tags_dir(), f"{name}.json"))
            return True
        except FileNotFoundError:
            return False

    def resolve_version(self, ref):
        """int version -> itself; numeric string -> that version (the
        data-source options are strings, so both surfaces coerce the
        same way); other str -> the tag's pinned version."""
        if isinstance(ref, str):
            try:
                return int(ref)
            except ValueError:
                pass
            tags = self.tags()
            if ref not in tags:
                raise ValueError(f"unknown tag {ref!r} (have: {sorted(tags)})")
            return tags[ref]
        return ref

    def expire_manifests(self, retain_last: int = 100, grace_seconds: float = 300.0) -> int:
        """Metadata-log compaction (Iceberg expire-snapshots analog for the
        manifest log): delete manifest files older than the last
        ``retain_last`` versions. Bounds manifests/ growth at high commit
        counts — the HEAD hint already makes resolution O(1), but
        maintenance scans (vacuum's retention loop, the listing fallback)
        stay proportional to the files kept. Time travel, ``cdc_diff``
        and ``changes_since`` windows older than the retained log raise
        their existing retained-snapshots errors. Returns the number of
        manifest files removed."""
        m = self.current_manifest()
        if m is None:
            return 0
        cutoff = m["version"] - max(1, retain_last) + 1
        pinned = set(self.tags(strict=True).values())  # tags never expire; unreadable tag = abort
        mdir = os.path.join(self.path, "manifests")
        removed = 0
        for name in os.listdir(mdir):
            if not (name.startswith("v") and name.endswith(".json")):
                continue
            try:
                v = int(name[1:-5])
            except ValueError:
                continue
            if v < cutoff and v not in pinned:
                os.remove(os.path.join(mdir, name))
                removed += 1
        if removed:
            self._gc_sections(grace_seconds)
        return removed

    def register_view(self, name: str, drop_deletes: bool = True) -> str:
        """Expose the table's CURRENT resolved state as a temp view so any
        ``spark.sql`` query runs against it (the engine's catalog hook; on
        a real deployment this is the Iceberg/HMS table registration).
        Re-register after new commits to pick up a fresh snapshot."""
        df = self.to_df(drop_deletes=drop_deletes)
        if df is None:
            raise ValueError(f"table at {self.path} has no committed snapshot")
        df.createOrReplaceTempView(name)
        return name

    # convenience for tests / oracle comparison
    def to_df(
        self,
        drop_deletes: bool = True,
        version: Optional[int] = None,
        min_order: Optional[float] = None,
        max_order: Optional[float] = None,
        col_ranges: Optional[dict] = None,
        manifest: Optional[dict] = None,
    ) -> Optional[DataFrame]:
        """State of the table (MOR deltas resolved, tombstones filtered by
        default; ``version`` time-travels — an int version or a TAG name;
        ``manifest`` pins an already-assembled snapshot, as in
        ``read_state``).

        ``min_order``/``max_order`` restrict the result to rows whose
        current version has LWW ordering value inside the bounds,
        zone-map-pruning the file listing first (``read_since`` /
        ``read_range`` are the documented entry points; see their
        docstrings for the soundness arguments). Upper-bound FILE pruning
        only engages on a no-deltas snapshot — with pending deltas an
        old version of a key could sit inside the bounds while its true
        winner (above them) gets pruned away and resurrect the key, so
        the upper bound then applies as a residual row filter only. The
        ONE manifest load here drives the listing, the dedup decision,
        the residual filters and the tombstone filter — a racing commit
        can't tear them apart."""
        m = manifest
        if m is None:
            version = self.resolve_version(version) if version is not None else None
            m = self.manifest_at(version) if version is not None else self.current_manifest()
        if m is None:
            return None
        if (min_order is not None or max_order is not None) and not m.get("order_by"):
            raise ValueError("order bounds need a table with an order_by column")
        if col_ranges:
            schema_cols = {f["name"] for f in m["schema"]["fields"]}
            missing = sorted(set(col_ranges) - schema_cols)
            if missing:
                raise ValueError(f"col_ranges on unknown column(s) {missing}")
        # non-ordering-column FILE pruning is only sound when every stored
        # row is already its key's winner (no pending deltas): a stale
        # version inside the bounds could otherwise survive LWW while its
        # true winner (outside them, in a pruned file) never reaches the
        # resolve — resurrecting the key. With deltas the col ranges
        # degrade to residual row filters only; results identical.
        df = self.read_state(
            min_order=min_order,
            manifest=m,
            max_order=max_order if not m.get("deltas") else None,
            col_ranges=col_ranges if (col_ranges and not m.get("deltas")) else None,
        )
        df = df.drop("__bucket")
        if min_order is not None:
            df = df.filter(F.col(m["order_by"][0]) >= F.lit(min_order))
        if max_order is not None:
            df = df.filter(F.col(m["order_by"][0]) <= F.lit(max_order))
        for c, (lo, hi) in (col_ranges or {}).items():
            if lo is not None:
                df = df.filter(F.col(c) >= F.lit(lo))
            if hi is not None:
                df = df.filter(F.col(c) <= F.lit(hi))
        op_col = m.get("op_col")
        if drop_deletes and op_col and op_col in df.columns:
            # NULL-safe: a row whose op is null (e.g. null-filled by schema
            # alignment) is a LIVE row, not a tombstone — a plain != would
            # evaluate NULL and silently drop it
            df = df.filter(F.col(op_col).isNull() | (F.col(op_col) != F.lit("delete")))
        return df
