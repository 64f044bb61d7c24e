"""``icelite`` as a Spark Python DataSource (pyspark 4 ``spark.dataSource``):

    from lakehouse_benchmark_ingestion_spark.sources.icelite_source import (
        IceliteDataSource,
    )
    spark.dataSource.register(IceliteDataSource)

    spark.read.format("icelite").option("warehouse", wh)
         .option("table", "sequences").load()             # batch, MOR-correct
    spark.readStream.format("icelite")...load()           # CDC tail
    df.write.format("icelite").mode("append")...save()    # vectorized writer

This is the interoperability surface: a plain-Spark user (no engine imports)
reads and writes icelite tables through the standard API. The reference's
whole product is "CDC source + lakehouse sink behind standard engine APIs"
(BaseCatalogSync.java:63-101 wires Flink's Source/Sink interfaces); this
module is the Spark-native analogue built on the public Python DataSource
API instead of a JVM DSv2.

Design notes (scale):

- **Planning is metadata-only on the driver** and reuses the exact same
  layered pruning as the native ``scan()`` — two-level manifest planning,
  min/max stats, hidden-partition transforms, bloom sidecars — via
  ``IceliteTable.select_data_files``. ``pushFilters`` translates Catalyst's
  pushed predicates into the engine's ``where`` dict, so
  ``.load().filter("doc_id = 7")`` plans O(matching files) partitions. All
  filters are returned to Spark: file skipping is a sound superset, Spark
  keeps exact row semantics.
- **One input partition per data file**; each partition's payload is a
  small plain record (path + the delete files addressing it + the column
  name lineage). Executors read with pyarrow and yield Arrow RecordBatches
  — no per-row Python anywhere.
- **Full MOR semantics in the executor**: position deletes mask exact row
  indices (sidecars are (file_path, pos)-sorted, so the path filter prunes
  row groups), equality deletes apply per the Iceberg v2 sequence rule
  (a delete file hits data files with strictly smaller sequence), under the
  table's recorded merge key, alias-aware across column renames.
  Trade-off vs the native scan: the Arrow kernel has no broadcast, so each
  AFFECTED partition re-reads its applicable delete files (bounded by the
  plan-time sequence + stats-overlap gate; clean files pay nothing). Tables
  with heavy outstanding delete traffic should compact (which materializes
  deletes) before being served to DataSource readers — the same guidance
  Iceberg gives for its own MOR read amplification.
- The **stream reader**'s offsets are snapshot ids — the icelite commit log
  IS the changelog, so a restart resumes exactly (offset checkpointing is
  Spark's). Batches are the files appended between two snapshots
  (append-tail contract, like the reference's forever-running CDC tail).
  Snapshots a running stream still needs must not be expired — same
  retention contract as Iceberg's own streaming read.
- The **writer** is the Arrow path (``DataSourceArrowWriter``): each task
  streams its RecordBatches into one zstd parquet file inside the table's
  data dir; the driver-side ``commit`` harvests footer stats and commits
  one append (or overwrite) snapshot through the same optimistic commit
  loop every engine writer uses — concurrent writers linearize.
"""

from __future__ import annotations

import os
import uuid
from dataclasses import dataclass, field
from typing import TYPE_CHECKING, Iterator

from pyspark.sql.datasource import (
    DataSource,
    DataSourceArrowWriter,
    DataSourceReader,
    DataSourceStreamReader,
    EqualTo,
    Filter,
    GreaterThan,
    GreaterThanOrEqual,
    InputPartition,
    LessThan,
    LessThanOrEqual,
    WriterCommitMessage,
)
from pyspark.sql.types import StructType

if TYPE_CHECKING:  # pragma: no cover
    import pyarrow as pa


# ---------------------------------------------------------------------------
# shared plumbing
# ---------------------------------------------------------------------------


def _load_table(options):
    from ..icelite.catalog import Catalog

    wh = options.get("warehouse")
    name = options.get("table")
    if not wh or not name:
        raise ValueError(
            "icelite reads need .option('warehouse', path) and .option('table', name)"
        )
    return Catalog(wh).load_table(name)


def _resolve_snapshot_option(tbl, options):
    sid = options.get("snapshot_id")
    ref = options.get("ref")
    as_of = options.get("as_of_ms")
    return tbl.resolve_snapshot(
        int(sid) if sid is not None else None,
        ref,
        int(as_of) if as_of is not None else None,
    )


@dataclass
class IceliteFilePartition(InputPartition):
    """Per-file read recipe — everything the executor needs, as plain data."""

    path: str
    # eq-delete files applying to this file (dseq > fseq), each with the
    # physical name lineage of the merge key inside THAT delete file
    eq_deletes: list = field(default_factory=list)  # [(path, [key candidates])]
    # pos-delete files whose (file_path) bounds may address this file:
    # (path, delete_format) — "rows" = v2 (file_path, pos) rows, "dv" =
    # v3 deletion-vector bitmap (one row per data file). Bare-string
    # entries are accepted and treated as "rows".
    pos_deletes: list = field(default_factory=list)  # [(path, format)]
    # plan-time column lineage [(logical name, [physical candidates])]:
    # partitions are rebuilt fresh each (micro)batch, so a rename committed
    # mid-stream updates the candidates here while the kernel (pickled once
    # at stream start) would still hold the stale lineage. None = use the
    # kernel's.
    columns: list | None = None


class _ArrowFileReader:
    """Executor-side pyarrow kernel shared by the batch and stream readers.

    Pickled once per scan; per-file variation lives on the partitions."""

    def __init__(self, schema: StructType, column_aliases: dict, merge_key: str):
        from pyspark.sql.pandas.types import to_arrow_schema

        self.arrow_schema = to_arrow_schema(schema)
        # logical name -> physical candidates, current name first (the
        # same coalesce-across-lineage contract as IceliteTable.read_files)
        self.columns = [
            (f.name, [f.name] + list(column_aliases.get(f.name, [])))
            for f in schema.fields
        ]
        self.merge_key = merge_key

    def read_file(self, part: IceliteFilePartition) -> Iterator["pa.RecordBatch"]:
        import pyarrow as pa
        import pyarrow.compute as pc
        import pyarrow.parquet as pq

        t = pq.read_table(part.path)

        # 1. position deletes FIRST — they address physical row indices
        if part.pos_deletes:
            import numpy as np
            import pyarrow.dataset as ds

            entries = [
                e if isinstance(e, tuple) else (e, "rows")
                for e in part.pos_deletes
            ]
            row_paths = [p for p, fmt in entries if fmt != "dv"]
            dv_paths = [p for p, fmt in entries if fmt == "dv"]
            keep = np.ones(t.num_rows, dtype=bool)
            masked = False
            if row_paths:
                dels = ds.dataset(row_paths).to_table(
                    filter=ds.field("file_path") == part.path,
                    columns=["pos"],
                )
                if dels.num_rows:
                    pos = dels.column("pos").to_numpy()
                    keep[pos[(pos >= 0) & (pos < t.num_rows)]] = False
                    masked = True
            if dv_paths:
                from ..icelite.dv import unpack_positions

                dvs = ds.dataset(dv_paths).to_table(
                    filter=ds.field("file_path") == part.path,
                    columns=["dv"],
                )
                for dv in dvs.column("dv").to_pylist():
                    pos = unpack_positions(bytes(dv) if dv else b"")
                    if pos.size:
                        keep[pos[(pos >= 0) & (pos < t.num_rows)]] = False
                        masked = True
            if masked:
                t = t.filter(pa.array(keep))

        # 2. resolve physical columns to the logical schema (renames ->
        # coalesce across the name lineage; added columns -> nulls). Use the
        # partition's plan-time lineage when present (fresh across mid-
        # stream renames); positions line up because rename replaces a
        # field in place.
        columns = (
            part.columns
            if part.columns is not None and len(part.columns) == len(self.columns)
            else self.columns
        )
        arrays = []
        for (name, candidates), afield in zip(columns, self.arrow_schema):
            present = [c for c in candidates if c in t.column_names]
            if not present:
                arr = pa.chunked_array([pa.nulls(t.num_rows, type=afield.type)])
            elif len(present) == 1:
                arr = t.column(present[0])
            else:
                arr = pc.coalesce(*[t.column(c) for c in present])
            arrays.append(arr)
        out = pa.table(arrays, names=[n for n, _ in self.columns])

        # 3. equality deletes (already sequence-filtered at plan time):
        # a row survives iff its merge key is in NO applicable delete file
        if part.eq_deletes:
            keys = []
            for dpath, cands in part.eq_deletes:
                dt = pq.read_table(dpath)
                present = [c for c in cands if c in dt.column_names]
                if not present:
                    continue
                col = (
                    dt.column(present[0])
                    if len(present) == 1
                    else pc.coalesce(*[dt.column(c) for c in present])
                )
                keys.append(col)
            if keys:
                chunks = [
                    c
                    for k in keys
                    for c in (k.chunks if isinstance(k, pa.ChunkedArray) else [k])
                ]
                deleted = pc.unique(pa.chunked_array(chunks).combine_chunks())
                mask = pc.invert(
                    pc.is_in(out.column(self.merge_key), value_set=deleted)
                )
                # a NULL key can never match a delete key — keep it
                mask = pc.fill_null(mask, True)
                out = out.filter(mask)

        yield from out.cast(self.arrow_schema).to_batches()


def _fresh_columns(tbl) -> list:
    """Plan-time column lineage (current names + aliases), positional with
    the table schema — see IceliteFilePartition.columns."""
    aliases = tbl.meta.column_aliases
    return [
        (f.name, [f.name] + list(aliases.get(f.name, [])))
        for f in tbl.schema.fields
    ]


def _plan_partitions(
    tbl, files, snapshot_id: int | None = None
) -> list[IceliteFilePartition]:
    """Driver-side: attach each file's applicable delete files. ONE
    metadata snapshot must govern files AND deletes — callers pass the
    pinned snapshot_id they planned the file list under (an unpinned mix
    could pair snapshot-X files with snapshot-X+1 deletes and produce a
    result valid at neither)."""
    from ..icelite.mor import _ranges_overlap, pos_delete_addresses

    eq_dels = tbl.delete_files(snapshot_id)
    pos_dels = tbl.pos_delete_files(snapshot_id)
    merge_key = tbl.recorded_merge_key() or "doc_id"
    key_cands = [merge_key] + list(tbl.meta.column_aliases.get(merge_key, []))
    cols = _fresh_columns(tbl)
    parts = []
    for f in files:
        eq = [
            (d.path, key_cands)
            for d in eq_dels
            # Iceberg v2 sequence rule + stats overlap (native-typed)
            if d.sequence_number > f.sequence_number
            and _ranges_overlap(f, d, merge_key)
        ]
        pos = [
            (d.path, d.delete_format)
            for d in pos_dels
            if pos_delete_addresses(d, f.path, f.sequence_number)
        ]
        parts.append(IceliteFilePartition(f.path, eq, pos, cols))
    return parts


def _where_from_filters(filters: list[Filter]) -> dict:
    """Translate Catalyst's pushed filters to the engine ``where`` dict
    (scalar = equality, (lo, hi) = inclusive range). Strict bounds relax to
    inclusive — sound for FILE pruning (superset); Spark re-applies the
    exact predicate row-wise because pushFilters returns every filter."""
    where: dict = {}

    def _narrow(col, lo, hi):
        plo, phi = where.get(col, (None, None)) if isinstance(
            where.get(col), tuple
        ) else (None, None)
        if isinstance(where.get(col), tuple) or col not in where:
            lo = plo if lo is None else (lo if plo is None else max(lo, plo))
            hi = phi if hi is None else (hi if phi is None else min(hi, phi))
            where[col] = (lo, hi)

    for f in filters:
        col = getattr(f, "attribute", None)
        if col is None or len(col) != 1:
            continue
        name = col[0]
        v = getattr(f, "value", None)
        if v is None:
            continue
        try:
            if isinstance(f, EqualTo):
                where[name] = v  # equality wins (also consults bloom)
            elif isinstance(f, (GreaterThan, GreaterThanOrEqual)):
                _narrow(name, v, None)
            elif isinstance(f, (LessThan, LessThanOrEqual)):
                _narrow(name, None, v)
        except TypeError:  # incomparable narrow — skip, stay conservative
            continue
    return where


# ---------------------------------------------------------------------------
# batch reader
# ---------------------------------------------------------------------------


class IceliteBatchReader(DataSourceReader):
    def __init__(self, schema: StructType, options):
        self.options = options
        self.schema = schema
        self.where: dict = {}
        # built on the DRIVER (the reader is pickled to executors after
        # __init__/pushFilters but before partitions() — state set in
        # partitions() is NOT visible to read())
        tbl = _load_table(options)
        if schema is not None and [f.name for f in schema.fields] != [
            f.name for f in tbl.schema.fields
        ]:
            raise ValueError(
                f"user-supplied read schema {[f.name for f in schema.fields]} "
                f"does not match table schema "
                f"{[f.name for f in tbl.schema.fields]}; omit .schema() — "
                f"the icelite source serves the table's own schema"
            )
        self._kernel = _ArrowFileReader(
            tbl.schema,
            tbl.meta.column_aliases,
            tbl.recorded_merge_key() or "doc_id",
        )

    def pushFilters(self, filters):  # noqa: N802 (API name)
        self.where = _where_from_filters(list(filters))
        # every filter still evaluated by Spark: pruning is a superset
        return filters

    def partitions(self):
        tbl = _load_table(self.options)
        sid = _resolve_snapshot_option(tbl, self.options)  # pins the head
        files = tbl.select_data_files(
            where=self.where or None, snapshot_id=sid
        )
        parts = _plan_partitions(tbl, files, snapshot_id=sid)
        # zero surviving files must still yield an empty scan, not a crash
        return parts or [IceliteFilePartition(path="")]

    def read(self, partition: IceliteFilePartition):
        if not partition.path:
            return iter(())
        return self._kernel.read_file(partition)


# ---------------------------------------------------------------------------
# stream reader (CDC tail: offsets ARE snapshot ids)
# ---------------------------------------------------------------------------


class IceliteStreamReader(DataSourceStreamReader):
    def __init__(self, schema: StructType, options):
        self.options = options
        self.schema = schema
        tbl = _load_table(options)
        if schema is not None and [f.name for f in schema.fields] != [
            f.name for f in tbl.schema.fields
        ]:
            raise ValueError(
                "user-supplied stream schema does not match the table "
                "schema; omit .schema() — the icelite source serves the "
                "table's own schema"
            )
        self._kernel = _ArrowFileReader(
            tbl.schema,
            tbl.meta.column_aliases,
            tbl.recorded_merge_key() or "doc_id",
        )
        start = options.get("starting_snapshot_id")
        if start in ("current", "latest"):
            self._start = int(tbl.meta.current_snapshot_id or 0)
        else:
            # default 0 = bootstrap: the first batch carries the whole
            # current table (the reference's snapshot-then-tail contract)
            self._start = int(start) if start is not None else 0
        # admission control (Iceberg's max-files-per-micro-batch analogue,
        # self-implemented — the Python DataSource API has no ReadLimit):
        # cap how many commits one micro-batch may swallow, so a consumer
        # resuming far behind the head catches up in bounded batches
        # instead of materializing 10^4 commits of files in one plan.
        mx = options.get("max_snapshots_per_batch")
        self._max_snaps = int(mx) if mx is not None else None
        if self._max_snaps is not None and self._max_snaps < 1:
            # chain[min(0, n) - 1] would index -1 and admit the whole
            # backlog in one micro-batch — the inversion of a rate limit
            raise ValueError(
                "max_snapshots_per_batch must be >= 1 (omit for unbounded)"
            )
        self._last_off: int | None = None

    def initialOffset(self) -> dict:  # noqa: N802
        return {"snapshot_id": self._start}

    def latestOffset(self) -> dict:  # noqa: N802
        tbl = _load_table(self.options)  # reload = see new commits
        head = int(tbl.meta.current_snapshot_id or 0)
        if self._max_snaps is None:
            return {"snapshot_id": head}
        base = self._last_off if self._last_off is not None else self._start
        if base >= head:
            self._last_off = max(base, head)
            return {"snapshot_id": head if base == 0 else base}
        # oldest-first ids strictly above base on head's parent chain;
        # admit at most max_snaps of them this trigger (snapshot ids are
        # monotonic — new_snapshot_id = max+1)
        snaps = {s.snapshot_id: s for s in tbl.history()}
        chain: list[int] = []
        cur = head
        while cur != base and cur in snaps:
            chain.append(cur)
            parent = snaps[cur].parent_id
            if parent is None:
                break
            cur = parent
        chain.reverse()
        cap = chain[min(self._max_snaps, len(chain)) - 1] if chain else head
        self._last_off = max(cap, base)
        return {"snapshot_id": self._last_off}

    def partitions(self, start: dict, end: dict):
        """Append-tail contract (Iceberg incremental-append-scan semantics):
        walk the snapshot parent chain end→start and emit the files added
        by ``append`` commits ONLY. Maintenance rewrites (compaction,
        clustering, manifest rewrite) between offsets emit NOTHING — a
        naive files(end)−files(start) diff would re-emit the whole table
        after a compaction. Row-rewriting commits (merge/update/delete)
        also emit nothing here: their row-level diff is ``changes()``'s
        job, not an append tail's."""
        a, b = int(start["snapshot_id"]), int(end["snapshot_id"])
        # restart safety for the rate-limited tail: fast-forward the
        # admission tracker to the checkpointed start (the reader object is
        # rebuilt on restart with no memory of prior triggers); a capped
        # latestOffset that landed BEHIND the checkpointed start plans as
        # an empty batch rather than a bogus backwards range
        if self._max_snaps is not None:
            self._last_off = max(self._last_off or a, a)
        if b <= a:
            return [IceliteFilePartition(path="")]
        tbl = _load_table(self.options)
        if a == 0:
            # bootstrap: the whole current table, deletes applied
            files = tbl.select_data_files(snapshot_id=b)
            parts = _plan_partitions(tbl, files, snapshot_id=b)
            return parts or [IceliteFilePartition(path="")]
        snaps = {s.snapshot_id: s for s in tbl.history()}
        retention_err = (
            f"stream offset {a} is not a retained ancestor of "
            f"{b} (expired history or rollback): keep snapshots a "
            f"running stream still needs (expire_snapshots "
            f"keep_last / older_than_ms)"
        )
        if a not in snaps:
            raise RuntimeError(retention_err)
        chain = []
        cur = b
        while cur != a:
            s = snaps.get(cur)
            if s is None or s.parent_id is None:
                raise RuntimeError(retention_err)
            chain.append(s)
            cur = s.parent_id
        # incremental planning cost must be O(new files), not O(chain ×
        # table): an append commit's manifests are parent.manifests + ONE
        # new manifest (_commit_snapshot), so the added files are exactly
        # the entries of the manifests the parent lacks — no per-snapshot
        # full file listing
        from ..icelite import manifest as mf

        added = []
        cols = _fresh_columns(tbl)
        for s in reversed(chain):
            if s.operation != "append":
                continue
            parent = snaps.get(s.parent_id)
            if parent is None:
                raise RuntimeError(retention_err)
            parent_manifests = set(parent.manifests)
            for name in s.manifests:
                if name in parent_manifests:
                    continue
                added.extend(
                    f
                    for f in mf.read_manifest(tbl.location, name)
                    if f.content == mf.CONTENT_DATA
                )
        parts = [
            IceliteFilePartition(f.path, columns=cols) for f in added
        ]
        return parts or [IceliteFilePartition(path="")]

    def read(self, partition: IceliteFilePartition):
        if not partition.path:
            return iter(())
        return self._kernel.read_file(partition)

    def commit(self, end: dict) -> None:
        pass


# ---------------------------------------------------------------------------
# writer (Arrow path — executors stream RecordBatches to parquet)
# ---------------------------------------------------------------------------


@dataclass
class IceliteWriteMessage(WriterCommitMessage):
    paths: list


class IceliteWriter(DataSourceArrowWriter):
    def __init__(self, schema: StructType, options, overwrite: bool):
        self.options = options
        self.overwrite = overwrite
        tbl = _load_table(options)
        if tbl.bucket_spec is not None or tbl.partition_spec is not None:
            raise ValueError(
                "DataSource writes to bucketed/partitioned icelite tables "
                "are not supported — their layout invariants are enforced "
                "by IceliteTable.append(); use the engine API"
            )
        got = [(f.name, f.dataType) for f in schema.fields]
        want = [(f.name, f.dataType) for f in tbl.schema.fields]
        if got != want:
            # names AND types: a name-only check would let a type-mismatched
            # write land, poisoning every later schema-pinned read
            raise ValueError(
                f"dataframe schema {[(n, t.simpleString()) for n, t in got]} "
                f"does not match table schema "
                f"{[(n, t.simpleString()) for n, t in want]}"
            )
        # one commit dir per write job: abort() can sweep it atomically
        self.commit_dir = os.path.join(tbl.location, "data", f"dsv2-{uuid.uuid4().hex}")

    def write(self, iterator):
        import pyarrow.parquet as pq

        os.makedirs(self.commit_dir, exist_ok=True)
        path = os.path.join(self.commit_dir, f"part-{uuid.uuid4().hex}.parquet")
        writer = None
        n = 0
        for batch in iterator:
            if writer is None:
                writer = pq.ParquetWriter(path, batch.schema, compression="zstd")
            writer.write_batch(batch)
            n += batch.num_rows
        if writer is None:  # empty task → no file, no manifest entry
            return IceliteWriteMessage(paths=[])
        writer.close()
        return IceliteWriteMessage(paths=[path])

    def commit(self, messages) -> None:
        from ..icelite import manifest as mf

        tbl = _load_table(self.options)
        paths = sorted(p for m in messages if m is not None for p in m.paths)
        # footer harvest on the driver for normal commits; a huge write
        # (>=10k files) auto-dispatches to the distributed _metadata job
        # when commit() runs where a session is active
        from pyspark.sql import SparkSession

        stats = mf.harvest_stats_auto(
            paths, spark=SparkSession.getActiveSession()
        )
        if self.overwrite:
            # truncate-and-replace INSIDE the optimistic commit loop
            # (overwrite_all): a pre-computed removed set would let a
            # concurrent append leak files past the overwrite, and keeping
            # delete manifests would let stale eq-deletes hit the new rows
            tbl.overwrite_all(stats)
            return
        seq = tbl.next_sequence_number()
        for s in stats:
            s.sequence_number = seq
        if not stats:  # all-empty write: still a valid (empty) append
            return
        name = mf.write_manifest(tbl.location, stats)
        tbl._commit_snapshot("append", add_manifests=[name])

    def abort(self, messages) -> None:
        import shutil

        shutil.rmtree(self.commit_dir, ignore_errors=True)


# ---------------------------------------------------------------------------
# the DataSource
# ---------------------------------------------------------------------------


class IceliteDataSource(DataSource):
    """``spark.dataSource.register(IceliteDataSource)`` then
    ``spark.read.format("icelite")`` / ``readStream`` / ``write``."""

    @classmethod
    def name(cls) -> str:
        return "icelite"

    def schema(self):
        return _load_table(self.options).schema

    def reader(self, schema: StructType) -> IceliteBatchReader:
        return IceliteBatchReader(schema, self.options)

    def streamReader(self, schema: StructType) -> IceliteStreamReader:  # noqa: N802
        return IceliteStreamReader(schema, self.options)

    def writer(self, schema: StructType, overwrite: bool) -> IceliteWriter:
        return IceliteWriter(schema, self.options, overwrite)
