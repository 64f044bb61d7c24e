"""Manifest files: per-data-file stats, written as Parquet.

Implements the "full per-file column metrics" the reference requests from
Iceberg (``write.metadata.metrics.default=full``, IcebergCatalogSync.java:116)
— min/max/row-count/byte-size per data file — which is what powers MERGE INTO
file pruning (SURVEY.md §2.3 J1) and compaction planning.

Stats are harvested from the Parquet footers the executors already wrote
(zero extra data scan — the stats were computed by the columnar writer, i.e.
vectorized, never per-row Python). The footer reads are threaded; for very
large commits the same ``harvest_stats`` runs on the executors over
partitions of the path list (``harvest_stats_distributed``).
"""

from __future__ import annotations

import functools
import math
import os
import uuid
from concurrent.futures import ThreadPoolExecutor
from dataclasses import dataclass, field

import pyarrow as pa
import pyarrow.parquet as pq

from .metadata import metadata_dir

# columns we keep stats for; token arrays are deliberately excluded — stat
# only the clustering dims (SURVEY.md §7.3 "token arrays are big")
STATS_MAX_COLS = 12


CONTENT_DATA = "data"
CONTENT_EQ_DELETES = "eq-deletes"  # Iceberg v2 equality-delete file analogue
# Iceberg v2 position-delete file analogue: rows of (file_path, pos)
# addressing exact rows of existing data files. Applies to data files with
# sequence_number <= the delete file's (a position can only reference a row
# that existed when the delete was written; paths are never reused).
CONTENT_POS_DELETES = "pos-deletes"

# Storage formats for CONTENT_POS_DELETES sidecars (DataFile.delete_format).
# Iceberg v3 models deletion vectors the same way: DVs ARE position deletes,
# same content id, different physical encoding — so every consumer that only
# tests existence / paths / sequence numbers (maintenance policy, clustering
# idempotence, changes guard, validate-no-new-deletes, fast-count fallback,
# compaction sidecar GC) stays correct with no format awareness at all.
DELETE_FORMAT_ROWS = "rows"  # parquet rows of (file_path, pos) — v2 shape
DELETE_FORMAT_DV = "dv"  # one row per data file: (file_path, dv bitmap)

# DataFile.lineage value for rewrite outputs that physically carry the
# _row_id / _last_updated_sequence_number columns (Iceberg v3 writer
# contract: a copied row keeps its lineage, so rewrites materialize it)
LINEAGE_MATERIALIZED = "materialized"


@dataclass
class DataFile:
    path: str  # absolute
    file_size_bytes: int
    record_count: int
    # column name -> (min, max) for scalar columns only
    lower_bounds: dict = field(default_factory=dict)
    upper_bounds: dict = field(default_factory=dict)
    # column name -> null count (Iceberg full-metrics parity). Parquet
    # min/max stats EXCLUDE nulls, so any metadata-only decision that
    # claims "every row of this file matches predicate P" is sound only
    # when the predicate columns' null counts are known zero.
    null_counts: dict = field(default_factory=dict)
    # Iceberg v2 concepts powering merge-on-read (IcebergCatalogSync.java:
    # 112-115 `format-version=2` + `write.upsert.enabled`): an eq-delete
    # file holds deleted KEYS and applies to data files with a strictly
    # smaller data sequence number.
    content: str = CONTENT_DATA
    sequence_number: int = 0
    # hash-bucket id when the table is bucketed (reference J3: Hudi bucket
    # index, HudiCatalogSync.java:151-159); -1 = unbucketed
    bucket: int = -1
    # hidden-partitioning tuple (Iceberg partition-spec parity): transform
    # outputs this file was written under, e.g. {"source": "src1",
    # "n_tok_trunc50": 100}. "{}" = unpartitioned (pre-spec files, or
    # rewrite stragglers the next compaction folds back into partitions).
    partition_json: str = "{}"
    # Iceberg sort_order_id analogue: the space-filling curve this file's
    # rows are sorted by ("zorder"/"hilbert"; "" = unsorted). Compaction and
    # clustering rewrites stamp it; cluster() skips the whole rewrite when
    # every live data file already carries the requested order.
    sort_order: str = ""
    # physical encoding of a CONTENT_POS_DELETES sidecar (Iceberg v3
    # deletion-vector parity): "rows" = (file_path, pos) rows; "dv" = one
    # row per addressed data file carrying a packed position bitmap.
    # Meaningless (and left at default) for data / eq-delete files.
    delete_format: str = DELETE_FORMAT_ROWS
    # Iceberg v3 row lineage: id of this file's first row; row i of the file
    # has _row_id = first_row_id + i. Assigned INSIDE the optimistic commit
    # (atomic against the table's next_row_id counter). None = unassigned
    # (lineage off, pre-lineage file, or lineage == "materialized").
    first_row_id: int | None = None
    # "" = row ids derive from first_row_id + position; "materialized" = the
    # file physically carries _row_id / _last_updated_sequence_number columns
    # (written by rewrites, which must PRESERVE ids — v3 writer contract).
    lineage: str = ""

    def to_row(self) -> dict:
        return {
            "path": self.path,
            "file_size_bytes": self.file_size_bytes,
            "record_count": self.record_count,
            "lower_bounds_json": _bounds_to_json(self.lower_bounds),
            "upper_bounds_json": _bounds_to_json(self.upper_bounds),
            "null_counts_json": _bounds_to_json(self.null_counts),
            "content": self.content,
            "sequence_number": self.sequence_number,
            "bucket": self.bucket,
            "partition_json": self.partition_json,
            "sort_order": self.sort_order,
            "delete_format": self.delete_format,
            "first_row_id": self.first_row_id,
            "lineage": self.lineage,
        }


def _bounds_to_json(b: dict) -> str:
    import json

    return json.dumps(b, default=str, sort_keys=True)


MANIFEST_SCHEMA = pa.schema(
    [
        pa.field("path", pa.string(), nullable=False),
        pa.field("file_size_bytes", pa.int64(), nullable=False),
        pa.field("record_count", pa.int64(), nullable=False),
        pa.field("lower_bounds_json", pa.string(), nullable=False),
        pa.field("upper_bounds_json", pa.string(), nullable=False),
        pa.field("null_counts_json", pa.string(), nullable=False),
        pa.field("content", pa.string(), nullable=False),
        pa.field("sequence_number", pa.int64(), nullable=False),
        pa.field("bucket", pa.int64(), nullable=False),
        pa.field("partition_json", pa.string(), nullable=False),
        pa.field("sort_order", pa.string(), nullable=False),
        pa.field("delete_format", pa.string(), nullable=False),
        pa.field("first_row_id", pa.int64(), nullable=True),
        pa.field("lineage", pa.string(), nullable=True),
    ]
)


def harvest_stats(paths: list[str], stat_columns: list[str] | None = None) -> list[DataFile]:
    """Read Parquet footers and aggregate row-group stats per file."""

    def one(path: str) -> DataFile:
        pf = pq.ParquetFile(path)
        md = pf.metadata
        schema = pf.schema_arrow
        wanted = stat_columns
        if wanted is None:
            wanted = [
                f.name
                for f in schema
                if not pa.types.is_nested(f.type) and not pa.types.is_binary(f.type)
            ][:STATS_MAX_COLS]
        col_idx = {md.schema.column(i).name: i for i in range(md.num_columns)}
        lowers: dict = {}
        uppers: dict = {}
        nulls: dict = {}
        for name in wanted:
            if name not in col_idx:
                continue
            i = col_idx[name]
            mins, maxs = [], []
            ok = True
            ncount = 0
            nulls_known = True
            for rg in range(md.num_row_groups):
                st = md.row_group(rg).column(i).statistics
                if st is None or not st.has_min_max:
                    ok = False
                if st is None or st.null_count is None:
                    nulls_known = False
                else:
                    ncount += st.null_count
                if not ok and not nulls_known:
                    break
                if st is not None and st.has_min_max:
                    mins.append(st.min)
                    maxs.append(st.max)
            if ok and mins:
                lowers[name] = min(mins)
                uppers[name] = max(maxs)
            if nulls_known:
                nulls[name] = ncount
        return DataFile(
            path=path,
            file_size_bytes=os.path.getsize(path),
            record_count=md.num_rows,
            lower_bounds=lowers,
            upper_bounds=uppers,
            null_counts=nulls,
        )

    if len(paths) <= 4:
        return [one(p) for p in paths]
    with ThreadPoolExecutor(max_workers=16) as ex:
        return list(ex.map(one, paths))


# commits touching at least this many files harvest stats on the executors
# instead of the driver (harvest_stats_auto)
DISTRIBUTED_HARVEST_MIN_FILES = 10_000


def map_paths(spark, paths: list[str], fn) -> list:
    """Run ``fn(paths) -> iterable`` over executor partitions of ``paths``
    and collect the concatenated results in path order. ``fn`` must be a
    module-level function, or a ``functools.partial`` of one, so executors
    import and run their own copy of the driver's code.

    √paths partitions of √paths paths each, never more than the cores:
    every extra task can cost a cold Python worker start, which outweighs
    parsing a few files (6 manifests of 1,000 entries on 4 cores, right
    after a one-task job: 4 tasks 1.07-1.31 s, 2 tasks 0.83-0.96 s)."""
    sc = spark.sparkContext
    n = max(1, min(sc.defaultParallelism, math.isqrt(len(paths))))
    return sc.parallelize(paths, n).mapPartitions(lambda it: fn(list(it))).collect()


def _harvest_partition(stat_columns: list[str] | None, paths: list[str]) -> list[DataFile]:
    # pickled by reference, so the executor resolves ``harvest_stats`` in
    # its own import of this module, never a driver-side wrapper of it
    return harvest_stats(paths, stat_columns)


def harvest_stats_distributed(
    spark, paths: list[str], stat_columns: list[str] | None = None
) -> list[DataFile]:
    """``harvest_stats`` mapped over executor partitions of the path list:
    each executor reads the footers of its share of the files, so a
    100k-file commit's footer reads are spread over the cluster instead
    of the driver's thread pool. Output equals ``harvest_stats`` field by
    field (same function, same order)."""
    return map_paths(spark, paths, functools.partial(_harvest_partition, stat_columns))


def harvest_stats_auto(
    paths: list[str],
    stat_columns: list[str] | None = None,
    spark=None,
) -> list[DataFile]:
    """Footer harvest on the driver for normal commits; on the executors
    for huge ones (>= DISTRIBUTED_HARVEST_MIN_FILES files and a session to
    run it)."""
    if spark is not None and len(paths) >= DISTRIBUTED_HARVEST_MIN_FILES:
        return harvest_stats_distributed(spark, paths, stat_columns)
    return harvest_stats(paths, stat_columns)


# footer key for the manifest-list summary (two-level plan pruning)
SUMMARY_KEY = b"icelite.summary"


def _manifest_summary(files: list[DataFile]) -> dict:
    """Aggregate bounds across a manifest's DATA files — the icelite twin of
    Iceberg's manifest-list entry (partition summaries per manifest). Lets
    the planner skip reading a whole manifest when a scan predicate is
    provably disjoint from every file in it: at 10^12-sequence scale plan
    time is driver-bound on manifest parsing, and a footer-only summary
    read is ~100× cheaper than parsing thousands of per-file JSON bounds.

    A column appears in the summary bounds only when EVERY data file has
    stats for it (else the manifest-level bound would be unsound)."""
    data = [f for f in files if f.content == CONTENT_DATA]
    lower: dict = {}
    upper: dict = {}
    if data:
        common = set(data[0].lower_bounds)
        for f in data[1:]:
            common &= set(f.lower_bounds)
        common = {
            c
            for c in common
            if all(c in f.upper_bounds for f in data)
        }
        for c in common:
            try:
                lo = min(f.lower_bounds[c] for f in data)
                hi = max(f.upper_bounds[c] for f in data)
            except TypeError:  # mixed types across files → no sound bound
                continue
            lower[c], upper[c] = lo, hi
    out = {
        "count": len(files),
        "data_count": len(data),
        "bytes": sum(f.file_size_bytes for f in files),
        "records": sum(f.record_count for f in files),
        "contents": sorted({f.content for f in files}),
        "lower": lower,
        "upper": upper,
    }
    # distinct partition tuples (hidden partitioning): lets the planner skip
    # a whole manifest when a predicate's transformed constant matches none
    # of them (Iceberg manifest-list partition summaries). Omitted when the
    # distinct count is large — the per-file tuples still prune.
    parts = sorted({f.partition_json for f in data})
    if parts and len(parts) <= 64:
        out["partitions"] = parts
    return out


def write_manifest(location: str, files: list[DataFile]) -> str:
    """Write a manifest Parquet; returns its name relative to metadata/.

    The footer's key-value metadata carries the manifest-list summary
    (aggregate bounds), readable without parsing the manifest body."""
    import json

    name = f"manifest-{uuid.uuid4().hex}.parquet"
    table = pa.Table.from_pylist([f.to_row() for f in files], schema=MANIFEST_SCHEMA)
    table = table.replace_schema_metadata(
        {SUMMARY_KEY: json.dumps(_manifest_summary(files), default=str)}
    )
    pq.write_table(table, os.path.join(metadata_dir(location), name))
    return name


def read_manifest_summary(location: str, name: str) -> dict | None:
    """Footer-only read of a manifest's aggregate summary. Returns None for
    manifests written before summaries existed (caller must read the body —
    conservative, never wrong)."""
    import json

    key = os.path.join(metadata_dir(location), name)
    if key in _SUMMARY_CACHE:
        return _SUMMARY_CACHE[key]
    meta = pq.read_schema(key).metadata
    raw = (meta or {}).get(SUMMARY_KEY)
    out = None if raw is None else json.loads(raw)
    with _CACHE_LOCK:
        if len(_SUMMARY_CACHE) >= _MANIFEST_CACHE_MAX:
            _SUMMARY_CACHE.pop(next(iter(_SUMMARY_CACHE)))
        _SUMMARY_CACHE[key] = out
    return out


_SUMMARY_CACHE: dict[str, dict | None] = {}


# Manifests are immutable once written (uuid-named, never rewritten in
# place; expire unlinks dead ones), so parsed bodies are safely cacheable.
# Bounded FIFO keeps repeated plan passes (scan → delete_files → pos_reader
# within one query) from re-parsing the same footers and JSON bounds.
_MANIFEST_CACHE: dict[str, list] = {}
_MANIFEST_CACHE_MAX = 256
# compaction submits group rewrites from a thread pool and every group read
# plans through these caches — unsynchronized FIFO eviction would let two
# threads pop the same key (KeyError) and abort the run
import threading as _threading

_CACHE_LOCK = _threading.Lock()


def read_manifest(location: str, name: str) -> list[DataFile]:
    key = os.path.join(metadata_dir(location), name)
    parsed = _MANIFEST_CACHE.get(key)
    if parsed is None:
        parsed = _parse_manifest(key)
        with _CACHE_LOCK:
            if len(_MANIFEST_CACHE) >= _MANIFEST_CACHE_MAX:
                _MANIFEST_CACHE.pop(next(iter(_MANIFEST_CACHE)))
            _MANIFEST_CACHE[key] = parsed
    # fresh DataFile objects per call: callers may tag content/sequence on
    # the returned objects and must never mutate the shared cache
    return [
        DataFile(
            path=f.path,
            file_size_bytes=f.file_size_bytes,
            record_count=f.record_count,
            lower_bounds=dict(f.lower_bounds),
            upper_bounds=dict(f.upper_bounds),
            null_counts=dict(f.null_counts),
            content=f.content,
            sequence_number=f.sequence_number,
            bucket=f.bucket,
            partition_json=f.partition_json,
            sort_order=f.sort_order,
            delete_format=f.delete_format,
            first_row_id=f.first_row_id,
            lineage=f.lineage,
        )
        for f in parsed
    ]


def _parse_manifest(path: str) -> list[DataFile]:
    """Column-wise parse: ``to_pylist`` per COLUMN + zip beats Arrow's
    row-dict materialization ~2x at driver-plan scale (10^6 entries is the
    10^12-sequence regime; tools/plan_scale_bench.py measures this path),
    and the small json.loads memo collapses the heavily-repeated strings
    (partition tuples repeat per manifest, null-count maps across files;
    per-FILE bounds stay unique and miss). Sharing memoized dicts within
    the cached parse is safe: ``read_manifest`` copies every dict before
    handing entries to callers."""
    import json

    # ParquetFile, not read_table: read_table's first call imports the
    # dataset layer (~0.4 s), which every fresh executor worker would pay
    with pq.ParquetFile(path) as pf:
        table = pf.read()
    n = table.num_rows
    names = set(table.column_names)

    def col(name, default):
        if name in names:
            return table.column(name).to_pylist()
        return [default] * n

    memo: dict[str, dict] = {}

    def loads(s: str | None, default: str = "{}") -> dict:
        s = s or default
        if s == "{}":
            return {}
        d = memo.get(s)
        if d is None:
            d = memo[s] = json.loads(s)
        return d

    out = []
    for (
        fpath, size, rc, lb, ub, nc, ct, sq, bk, pj, so, dfm, fr, lg,
    ) in zip(
        table.column("path").to_pylist(),
        table.column("file_size_bytes").to_pylist(),
        table.column("record_count").to_pylist(),
        table.column("lower_bounds_json").to_pylist(),
        table.column("upper_bounds_json").to_pylist(),
        # manifests written before null-metrics existed lack this
        col("null_counts_json", "{}"),
        # manifests written before the MOR feature lack these
        col("content", CONTENT_DATA),
        col("sequence_number", 0),
        col("bucket", -1),
        # manifests written before hidden partitioning lack this
        col("partition_json", "{}"),
        # manifests written before sort-order tracking lack this
        col("sort_order", ""),
        # manifests written before deletion vectors lack this
        col("delete_format", DELETE_FORMAT_ROWS),
        # manifests written before row lineage lack these
        col("first_row_id", None),
        col("lineage", ""),
    ):
        out.append(
            DataFile(
                path=fpath,
                file_size_bytes=size,
                record_count=rc,
                lower_bounds=loads(lb),
                upper_bounds=loads(ub),
                null_counts=loads(nc),
                content=ct if ct is not None else CONTENT_DATA,
                sequence_number=sq if sq is not None else 0,
                bucket=bk if bk is not None else -1,
                partition_json=pj or "{}",
                sort_order=so or "",
                delete_format=dfm or DELETE_FORMAT_ROWS,
                first_row_id=fr,
                lineage=lg or "",
            )
        )
    return out


def read_manifests(location: str, names: list[str]) -> list[DataFile]:
    out: list[DataFile] = []
    for n in names:
        out.extend(read_manifest(location, n))
    return out
