"""IceliteTable: create / append / snapshot-pinned scan / replace-files.

The engine-side equivalent of the reference's sink tables: where the
reference wires ``FlinkSink.forRowData(...).append()`` and lets Iceberg
commit a snapshot per 60 s checkpoint (IcebergCatalogSync.java:73-74,
MainRunner.java:86), we write immutable Parquet under ``data/<commit-uuid>/``
and commit a snapshot whose manifest list pins the exact file set — which is
what makes snapshot isolation trivially checkable (readers on old snapshot
ids resolve to the old file list, north_rule).
"""

from __future__ import annotations

import functools
import glob
import json
import os
import shutil
import uuid

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import LongType, StringType, StructField, StructType

from . import manifest as mf
from . import metadata as md

# physical row-address columns appended by read_files(with_positions=True) —
# the coordinates position-delete files speak (Iceberg v2 pos-delete parity)
POS_PATH_COL = "__icelite_fpath"
POS_IDX_COL = "__icelite_fpos"
# pos-delete sides beneath this total size ride a broadcast anti-join
POS_DELETE_BROADCAST_BYTES = 256 * 1024 * 1024

# Iceberg v3 row lineage: table property gate + the two virtual columns a
# lineage scan exposes (spec names). Enabled per table ("true"); every data
# commit then assigns row ids inside the optimistic commit loop.
ROW_LINEAGE_PROP = "row-lineage.enabled"
LINEAGE_ROW_ID_COL = "_row_id"
LINEAGE_SEQ_COL = "_last_updated_sequence_number"


def predicate_column(where: dict) -> Column:
    """The exact row-level Column for a ``where`` dict (AND of conditions)."""
    pred = F.lit(True)
    for col, cond in where.items():
        if isinstance(cond, tuple):
            lo, hi = cond
            if lo is not None:
                pred = pred & (F.col(col) >= lo)
            if hi is not None:
                pred = pred & (F.col(col) <= hi)
        else:
            pred = pred & (F.col(col) == cond)
    return pred


def _row_address_cols() -> list[Column]:
    """A row's physical address (POS_PATH_COL, POS_IDX_COL) from Spark's
    ``_metadata`` struct. ``_metadata.file_path`` is URI-form (file:/...);
    manifests store plain absolute paths, so it is normalized for the
    anti-join keys to align."""
    return [
        F.regexp_replace(
            F.col("_metadata.file_path"), "^file:(//)?", ""
        ).alias(POS_PATH_COL),
        F.col("_metadata.row_index").alias(POS_IDX_COL),
    ]


def _file_fully_matches(f: mf.DataFile, where: dict) -> bool:
    """True iff stats PROVE every row of the file satisfies the predicate:
    for each condition the file's [min,max] lies inside the predicate
    interval and the column's null count is known to be zero."""
    for col, cond in where.items():
        lo = f.lower_bounds.get(col)
        hi = f.upper_bounds.get(col)
        if lo is None or hi is None:
            return False
        if f.null_counts.get(col) != 0:  # unknown (None) or > 0 → unsound
            return False
        plo, phi = cond if isinstance(cond, tuple) else (cond, cond)
        try:
            if plo is not None and lo < plo:
                return False
            if phi is not None and hi > phi:
                return False
            if plo is None and phi is None:
                continue
        except TypeError:
            return False
    return True


class IceliteTable:
    def __init__(self, location: str, _pinned: md.TableMetadata | None = None):
        self.location = os.path.abspath(location)
        self._pinned = _pinned

    # ---- lifecycle -------------------------------------------------------
    @staticmethod
    def create(location: str, schema: StructType, properties: dict | None = None) -> "IceliteTable":
        location = os.path.abspath(location)
        if os.path.exists(md.metadata_dir(location)):
            raise FileExistsError(f"table already exists at {location}")
        os.makedirs(os.path.join(location, "data"), exist_ok=True)
        os.makedirs(os.path.join(location, "lineage"), exist_ok=True)
        meta = md.TableMetadata(
            table_uuid=uuid.uuid4().hex,
            location=location,
            schema_json=schema.jsonValue(),
            current_snapshot_id=None,
            snapshots=[],
            properties=properties or {},
            last_updated_ms=md.now_ms(),
        )
        md.write_initial_metadata(meta)
        return IceliteTable(location)

    @staticmethod
    def load(location: str) -> "IceliteTable":
        location = os.path.abspath(location)
        md.current_version(location)  # raises if absent
        return IceliteTable(location)

    @staticmethod
    def drop(location: str) -> None:
        shutil.rmtree(location, ignore_errors=True)

    # ---- metadata accessors ----------------------------------------------
    @property
    def meta(self) -> md.TableMetadata:
        if self._pinned is not None:
            return self._pinned
        return md.read_metadata(self.location)

    def pinned(self) -> "IceliteTable":
        """A read-only view that answers every metadata accessor (schema,
        column aliases, merge key, snapshots, file and delete sets) from ONE
        read of the metadata, so a read built on it cannot pair one
        version's files with another's schema or delete set. Read paths
        only: commits re-read the live head inside ``md.commit``."""
        if self._pinned is not None:
            return self
        return IceliteTable(self.location, self.meta)

    @property
    def schema(self) -> StructType:
        return StructType.fromJson(self.meta.schema_json)

    def current_snapshot(self) -> md.Snapshot | None:
        return self.meta.snapshot()

    def history(self) -> list[md.Snapshot]:
        return sorted(self.meta.snapshots, key=lambda s: s.snapshot_id)

    def set_properties(self, props: dict) -> None:
        """Metadata-only atomic property update (Iceberg's ALTER TABLE SET
        TBLPROPERTIES)."""

        def mutate(meta: md.TableMetadata) -> md.TableMetadata:
            meta.properties.update({k: str(v) for k, v in props.items()})
            return meta

        md.commit(self.location, mutate)

    def rollback(self, snapshot_id: int) -> None:
        """Point the main head back at an earlier retained snapshot
        (Iceberg's rollback-to-snapshot). Metadata-only and atomic; later
        snapshots stay in history until expire_snapshots reaps them, so a
        rollback is itself reversible by rolling 'back' forward."""

        def mutate(meta: md.TableMetadata) -> md.TableMetadata:
            meta.snapshot(snapshot_id)  # raises if unknown/expired
            meta.current_snapshot_id = snapshot_id
            return meta

        md.commit(self.location, mutate)

    def metadata_df(self, spark, kind: str = "files"):
        """Queryable metadata tables (Iceberg's ``table.files`` /
        ``table.snapshots`` / ``table.refs``): the table's own metadata as a
        DataFrame, so operational queries (small-file counts, snapshot
        cadence, bytes per bucket) run through the same engine as data
        queries. Built driver-side from manifests — metadata is O(files),
        not O(rows)."""
        if kind == "files":
            rows = [
                {
                    "path": f.path,
                    "content": f.content,
                    "record_count": f.record_count,
                    "file_size_bytes": f.file_size_bytes,
                    "sequence_number": f.sequence_number,
                    "bucket": f.bucket,
                    "partition_json": f.partition_json,
                    "sort_order": f.sort_order,
                    "first_row_id": f.first_row_id,
                    "lineage": f.lineage,
                }
                for f in self.all_files()
            ]
            schema = (
                "path string, content string, record_count long, "
                "file_size_bytes long, sequence_number long, bucket long, "
                "partition_json string, sort_order string, "
                "first_row_id long, lineage string"
            )
        elif kind == "snapshots":
            rows = [
                {
                    "snapshot_id": s.snapshot_id,
                    "parent_id": s.parent_id,
                    "operation": s.operation,
                    "timestamp_ms": s.timestamp_ms,
                    "n_manifests": len(s.manifests),
                    # commit provenance (which op produced it, which run)
                    "summary_op": s.summary.get("op"),
                    "run_id": s.summary.get("run-id"),
                }
                for s in self.history()
            ]
            schema = (
                "snapshot_id long, parent_id long, operation string, "
                "timestamp_ms long, n_manifests long, summary_op string, "
                "run_id string"
            )
        elif kind == "refs":
            rows = [
                {"name": n, "type": r["type"], "snapshot_id": int(r["snapshot_id"])}
                for n, r in self.refs().items()
            ]
            schema = "name string, type string, snapshot_id long"
        elif kind == "partitions":
            agg: dict[str, dict] = {}
            for f in self.data_files():
                a = agg.setdefault(
                    f.partition_json,
                    {"partition_json": f.partition_json, "n_files": 0,
                     "record_count": 0, "file_size_bytes": 0},
                )
                a["n_files"] += 1
                a["record_count"] += f.record_count
                a["file_size_bytes"] += f.file_size_bytes
            rows = sorted(agg.values(), key=lambda r: r["partition_json"])
            schema = (
                "partition_json string, n_files long, record_count long, "
                "file_size_bytes long"
            )
        elif kind == "history":
            # Iceberg's `history` table: every retained snapshot, flagged
            # with whether it is an ancestor of the current head (rollbacks
            # and abandoned branch heads show is_current_ancestor=false)
            ancestors: set[int] = set()
            cur = self.meta.snapshot()
            while cur is not None:
                ancestors.add(cur.snapshot_id)
                if cur.parent_id is None:
                    break
                try:
                    cur = self.meta.snapshot(cur.parent_id)
                except KeyError:
                    break  # parent expired — ancestry beyond it is gone
            rows = [
                {
                    "made_current_at_ms": s.timestamp_ms,
                    "snapshot_id": s.snapshot_id,
                    "parent_id": s.parent_id,
                    "operation": s.operation,
                    "is_current_ancestor": s.snapshot_id in ancestors,
                }
                for s in self.history()
            ]
            schema = (
                "made_current_at_ms long, snapshot_id long, parent_id long, "
                "operation string, is_current_ancestor boolean"
            )
        elif kind == "manifests":
            # per-manifest accretion view (Iceberg's `manifests` table):
            # footer-only reads — entry counts and aggregate bounds come
            # from the parquet footer summary, no body parse
            snap = self.meta.snapshot()
            rows = []
            for name in (snap.manifests if snap else []):
                summary = mf.read_manifest_summary(self.location, name) or {}
                if {"count", "data_count", "bytes", "records"} <= set(summary):
                    n_entries = summary["count"]
                    n_data = summary["data_count"]
                    records = summary["records"]
                    size = summary["bytes"]
                else:
                    # manifest written before the footer summary carried
                    # aggregate counts — body parse is the conservative path
                    entries = mf.read_manifest(self.location, name)
                    n_entries = len(entries)
                    n_data = sum(
                        1 for f in entries if f.content == mf.CONTENT_DATA
                    )
                    records = sum(f.record_count for f in entries)
                    size = sum(f.file_size_bytes for f in entries)
                rows.append(
                    {
                        "manifest": name,
                        "n_entries": n_entries,
                        "n_data_files": n_data,
                        "n_delete_files": n_entries - n_data,
                        "record_count": records,
                        "file_size_bytes": size,
                        "summary_json": json.dumps(summary, sort_keys=True),
                    }
                )
            schema = (
                "manifest string, n_entries long, n_data_files long, "
                "n_delete_files long, record_count long, "
                "file_size_bytes long, summary_json string"
            )
        else:
            raise ValueError(f"unknown metadata table {kind!r}")
        return spark.createDataFrame(rows, schema)

    def all_files(self, snapshot_id: int | None = None) -> list[mf.DataFile]:
        """Every manifest entry — data files AND eq-delete files."""
        snap = self.meta.snapshot(snapshot_id)
        if snap is None:
            return []
        return mf.read_manifests(self.location, snap.manifests)

    def data_files(self, snapshot_id: int | None = None) -> list[mf.DataFile]:
        return [f for f in self.all_files(snapshot_id) if f.content == mf.CONTENT_DATA]

    def _partition_predicate(self, where: dict):
        """Hidden-partition pruning predicate: push each predicate constant
        through the table's partition transforms driver-side (identity /
        truncate / bucket — the bucket path rides the exact XXH64 twin in
        functions/hashing.py) and compare against recorded per-file tuples.

        This is the read-path half of hidden partitioning that min/max
        stats CANNOT provide: a bucket-partitioned point lookup has file
        key-ranges spanning the whole domain, but only 1/N of files can
        hold the key's bucket. Returns ``keep(partition_json) -> bool`` or
        None when the spec/predicates give no leverage. Files without
        tuples ("{}": pre-spec writes, COW merge stragglers) are always
        kept — pruning is sound, never lossy."""
        import json as _json

        from . import partition as ps

        fields = self.partition_spec
        if not fields or not where:
            return None
        schema = self.schema
        eq_cons: list[tuple[str, object]] = []
        rng_cons: list[tuple[str, object, object, int]] = []
        for col, cond in where.items():
            for f in fields:
                if f.col != col:
                    continue
                if not isinstance(cond, tuple):
                    exp = ps.transform_value(f, cond, schema)
                    if exp is not ps.NOT_COMPUTABLE:
                        eq_cons.append((f.name, exp))
                elif f.transform == "identity":
                    # recorded tuple value v covers exactly [v, v]
                    rng_cons.append((f.name, cond[0], cond[1], 0))
                elif f.transform == "truncate" and isinstance(
                    schema[f.col].dataType, ps._INTEGRAL
                ):
                    # recorded tuple value t covers [t, t + W - 1]
                    rng_cons.append((f.name, cond[0], cond[1], f.param - 1))
        if not eq_cons and not rng_cons:
            return None

        def keep(pjson: str) -> bool:
            if not pjson or pjson == "{}":
                return True
            try:
                d = _json.loads(pjson)
            except ValueError:
                return True
            for name, exp in eq_cons:
                v = d.get(name)
                if v is None or isinstance(v, str) != isinstance(exp, str):
                    continue
                if v != exp:
                    return False
            for name, plo, phi, span in rng_cons:
                v = d.get(name)
                if v is None:
                    continue
                try:
                    if phi is not None and v > phi:
                        return False
                    if plo is not None and (v + span if span else v) < plo:
                        return False
                except TypeError:
                    continue
            return True

        return keep

    @staticmethod
    def _summary_prunable(summary: dict, where: dict, ppred=None) -> bool:
        """True iff the manifest-list summary PROVES no data file in the
        manifest can match ``where`` (some condition's interval is disjoint
        from the manifest-level [min,max]). Missing bounds or incomparable
        types keep the manifest — same conservative contract as the
        per-file filter."""
        lower = summary.get("lower") or {}
        upper = summary.get("upper") or {}
        for col, cond in where.items():
            lo, hi = lower.get(col), upper.get(col)
            if lo is None or hi is None:
                continue
            plo, phi = cond if isinstance(cond, tuple) else (cond, cond)
            try:
                if (plo is not None and hi < plo) or (phi is not None and lo > phi):
                    return True
            except TypeError:
                continue
        # partition summaries: prune the manifest when every recorded tuple
        # fails the transformed predicate ("{}" entries keep via ppred)
        parts = summary.get("partitions")
        if ppred is not None and parts:
            if not any(ppred(pj) for pj in parts):
                return True
        return False

    def plan_data_files(
        self, where: dict, snapshot_id: int | None = None
    ) -> tuple[list[mf.DataFile], dict]:
        """Two-level scan planning (Iceberg manifest-list analogue): consult
        each manifest's footer summary first and read the BODY of only the
        manifests the predicate cannot rule out. At 10^12-sequence scale
        plan time is driver-bound on manifest parsing; a footer-only skip
        keeps it O(matching manifests). Returns (data files, plan stats)."""
        snap = self.meta.snapshot(snapshot_id)
        if snap is None:
            return [], {"manifests_total": 0, "manifests_read": 0}
        names = self._manifests_to_read(snap, where)
        files = [
            f
            for name in names
            for f in mf.read_manifest(self.location, name)
            if f.content == mf.CONTENT_DATA
        ]
        return files, {
            "manifests_total": len(snap.manifests),
            "manifests_read": len(names),
        }

    def _manifests_to_read(self, snap: md.Snapshot, where: dict | None) -> list[str]:
        """The snapshot's manifests whose footer summary cannot rule out
        ``where`` — the bodies both planners must parse. Manifests written
        before summaries existed are always read."""
        if not where:
            return list(snap.manifests)
        ppred = self._partition_predicate(where)
        names = []
        for name in snap.manifests:
            summary = mf.read_manifest_summary(self.location, name)
            if summary is None or not self._summary_prunable(summary, where, ppred):
                names.append(name)
        return names

    def delete_files(self, snapshot_id: int | None = None) -> list[mf.DataFile]:
        return [f for f in self.all_files(snapshot_id) if f.content == mf.CONTENT_EQ_DELETES]

    def pos_delete_files(self, snapshot_id: int | None = None) -> list[mf.DataFile]:
        """Iceberg v2 position-delete files: rows of (file_path, pos)."""
        return [
            f for f in self.all_files(snapshot_id) if f.content == mf.CONTENT_POS_DELETES
        ]

    # ---- named refs: tags (immutable) and branches (movable heads) -------
    # The icelite analogue of Iceberg v2 refs. Tags pin a snapshot for time
    # travel; branches receive writes without publishing them to readers of
    # ``main`` until fast_forward — the write-audit-publish (WAP) pattern.
    def refs(self) -> dict:
        return dict(self.meta.refs)

    def _set_ref(self, name: str, snapshot_id: int | None, ref_type: str) -> None:
        def mutate(meta: md.TableMetadata) -> md.TableMetadata:
            sid = snapshot_id if snapshot_id is not None else meta.current_snapshot_id
            if sid is None:
                raise ValueError("cannot create a ref on an empty table")
            meta.snapshot(sid)  # raises if unknown/expired
            existing = meta.refs.get(name)
            if existing is not None and existing["type"] == "tag":
                raise ValueError(f"tag {name!r} already exists (tags are immutable)")
            meta.refs[name] = {"snapshot_id": sid, "type": ref_type}
            return meta

        md.commit(self.location, mutate)

    def create_tag(self, name: str, snapshot_id: int | None = None) -> None:
        self._set_ref(name, snapshot_id, "tag")

    def create_branch(self, name: str, snapshot_id: int | None = None) -> None:
        self._set_ref(name, snapshot_id, "branch")

    def drop_ref(self, name: str) -> None:
        def mutate(meta: md.TableMetadata) -> md.TableMetadata:
            if name not in meta.refs:
                raise KeyError(f"no ref {name!r}")
            del meta.refs[name]
            return meta

        md.commit(self.location, mutate)

    def resolve_ref(self, name: str) -> int:
        ref = self.meta.refs.get(name)
        if ref is None:
            raise KeyError(f"no ref {name!r}")
        return int(ref["snapshot_id"])

    def fast_forward(self, branch: str) -> None:
        """Publish a branch: point the main head at the branch head. The
        audit half of write-audit-publish — writes staged on the branch
        become visible to plain readers in one atomic metadata swap."""

        def mutate(meta: md.TableMetadata) -> md.TableMetadata:
            ref = meta.refs.get(branch)
            if ref is None or ref["type"] != "branch":
                raise KeyError(f"no branch {branch!r}")
            head = meta.snapshot(int(ref["snapshot_id"]))
            # fast-forward only: main must be an ancestor of the branch head
            # (walk stops at expired parents — ancestry beyond them is gone)
            seen = set()
            cur = head
            while cur is not None:
                seen.add(cur.snapshot_id)
                if cur.parent_id is None:
                    break
                try:
                    cur = meta.snapshot(cur.parent_id)
                except KeyError:
                    break
            if meta.current_snapshot_id is not None and meta.current_snapshot_id not in seen:
                raise ValueError(
                    f"branch {branch!r} does not descend from the current main "
                    f"head; refusing non-fast-forward publish"
                )
            meta.current_snapshot_id = head.snapshot_id
            return meta

        md.commit(self.location, mutate)

    def cherry_pick(self, snapshot_id: int) -> md.Snapshot:
        """Publish one staged APPEND snapshot onto the CURRENT main head
        even when main has advanced past the staging point — Iceberg's
        ``cherrypick_snapshot`` (``fast_forward`` covers only the
        main-unchanged case, and refuses otherwise).

        Semantics (all inside the optimistic commit mutate, so a concurrent
        main writer just triggers a clean retry against the new head):

        - the source snapshot must be an ``append`` (its delta over its
          parent is data manifests only — replace/merge deltas are not
          order-independent and are refused, as in Iceberg);
        - the added files get a FRESH data sequence number, max+1 over the
          main head: deletes committed on main after staging must NOT
          suppress the cherry-picked rows (v2 strict-< rule — at publish
          time this is new data);
        - idempotence is by file PATH: if any staged file is already live
          on main (prior cherry-pick or fast-forward), refuse;
        - row-lineage ids assigned at staging time are preserved (the
          counter already advanced; ids are never reassigned)."""

        def mutate(meta: md.TableMetadata) -> md.TableMetadata:
            src = meta.snapshot(snapshot_id)  # KeyError if expired/unknown
            if src.operation != "append":
                raise ValueError(
                    f"cherry-pick supports append snapshots only; "
                    f"{snapshot_id} is {src.operation!r}"
                )
            # publish-once guard (Iceberg's duplicate-WAP-commit check): the
            # path-based duplicate test below goes blind once compaction
            # rewrites the published files into new paths, so a re-applied
            # cherry-pick would silently duplicate rows. The publishing
            # snapshot records its source id; refuse while that record is
            # in retained history (same bounded guarantee as Iceberg).
            already = [
                s.snapshot_id
                for s in meta.snapshots
                if s.summary.get("cherry-picked-from") == str(snapshot_id)
            ]
            if already:
                raise ValueError(
                    f"snapshot {snapshot_id} was already cherry-picked "
                    f"(published as {already[0]})"
                )
            parent_manifests: set[str] = set()
            if src.parent_id is not None:
                try:
                    parent_manifests = set(meta.snapshot(src.parent_id).manifests)
                except KeyError:
                    pass  # parent expired: treat every manifest as added
            added = [m for m in src.manifests if m not in parent_manifests]
            if not added:
                raise ValueError(f"snapshot {snapshot_id} added no manifests")
            head = meta.snapshot()
            head_manifests = list(head.manifests) if head else []
            head_files = mf.read_manifests(self.location, head_manifests)
            live_paths = {
                f.path for f in head_files if f.content == mf.CONTENT_DATA
            }
            new_seq = 1 + max(
                (f.sequence_number for f in head_files), default=0
            )
            new_names: list[str] = []
            for name in added:
                files = mf.read_manifest(self.location, name)
                if any(f.content != mf.CONTENT_DATA for f in files):
                    raise ValueError(
                        "cherry-pick source carries delete files; only "
                        "pure data appends are order-independent"
                    )
                dup = [f.path for f in files if f.path in live_paths]
                if dup:
                    raise ValueError(
                        f"{len(dup)} staged file(s) already live on main "
                        f"(already published?): {dup[:3]}"
                    )
                for f in files:
                    f.sequence_number = new_seq
                new_names.append(mf.write_manifest(self.location, files))
            sid = md.new_snapshot_id(meta)
            snap = md.Snapshot(
                snapshot_id=sid,
                parent_id=meta.current_snapshot_id,
                timestamp_ms=md.now_ms(),
                operation="append",
                manifests=head_manifests + new_names,
                summary={
                    "cherry-picked-from": str(snapshot_id),
                    "added-manifests": str(len(new_names)),
                },
            )
            meta.snapshots.append(snap)
            meta.current_snapshot_id = sid
            meta.last_updated_ms = snap.timestamp_ms
            return meta

        return md.commit(self.location, mutate).snapshot()

    def snapshot_as_of(self, timestamp_ms: int) -> md.Snapshot:
        """Time travel by wall clock: the latest main-lineage snapshot with
        timestamp_ms <= the requested time (Iceberg's as-of-timestamp)."""
        meta = self.meta
        cur = meta.snapshot()
        best = None
        while cur is not None:
            if cur.timestamp_ms <= timestamp_ms:
                best = cur
                break  # parents are older; first hit walking back is latest
            if cur.parent_id is None:
                break
            try:
                cur = meta.snapshot(cur.parent_id)
            except KeyError:  # parent expired — history ends here
                break
        if best is None:
            raise ValueError(f"no snapshot at or before {timestamp_ms}")
        return best

    def next_sequence_number(self, snapshot_id: int | None = None) -> int:
        """Data sequence number for the NEXT commit (single-writer; mirrors
        Iceberg's commit-assigned sequence, simplified to max+1 over the
        current — or given — snapshot's files)."""
        return 1 + max(
            (f.sequence_number for f in self.all_files(snapshot_id)), default=0
        )

    # ---- schema evolution (metadata-only commits) ------------------------
    def add_column(self, name: str, dtype: str) -> None:
        """Add a nullable column; files written earlier read as null."""
        from pyspark.sql.types import StructField, _parse_datatype_string

        new_field = StructField(name, _parse_datatype_string(dtype), True)

        def mutate(meta: md.TableMetadata) -> md.TableMetadata:
            s = StructType.fromJson(meta.schema_json)
            if name in s.fieldNames():
                raise ValueError(f"column {name!r} already exists")
            meta.schema_json = StructType(list(s.fields) + [new_field]).jsonValue()
            return meta

        md.commit(self.location, mutate)

    def drop_column(self, name: str) -> None:
        """Drop a column (metadata-only; file bytes are untouched and simply
        no longer projected — Iceberg drop-column semantics)."""

        def mutate(meta: md.TableMetadata) -> md.TableMetadata:
            s = StructType.fromJson(meta.schema_json)
            if name not in s.fieldNames():
                raise ValueError(f"no column {name!r}")
            meta.schema_json = StructType(
                [f for f in s.fields if f.name != name]
            ).jsonValue()
            meta.column_aliases.pop(name, None)
            return meta

        md.commit(self.location, mutate)

    def rename_column(self, old: str, new: str) -> None:
        """Rename a column; the old physical name is kept as an alias so
        files from before the rename keep answering (read_files coalesces).
        If the column is the recorded merge key, the property follows the
        rename — outstanding eq-delete files keep applying because the
        delete reader is alias-aware too (scan → _read_delete_keys)."""

        def mutate(meta: md.TableMetadata) -> md.TableMetadata:
            s = StructType.fromJson(meta.schema_json)
            if old not in s.fieldNames():
                raise ValueError(f"no column {old!r}")
            if new in s.fieldNames():
                raise ValueError(f"column {new!r} already exists")
            meta.schema_json = StructType(
                [
                    StructField(new, f.dataType, f.nullable) if f.name == old else f
                    for f in s.fields
                ]
            ).jsonValue()
            meta.column_aliases[new] = [old] + meta.column_aliases.pop(old, [])
            if meta.properties.get("merge-key") == old:
                meta.properties["merge-key"] = new
            return meta

        md.commit(self.location, mutate)

    def read_files(
        self, spark: SparkSession, paths: list[str], with_positions: bool = False
    ):
        """Read data files under the CURRENT schema, alias-aware: files from
        before a rename carry the old physical column name — the read schema
        is widened with the prior names and each renamed column resolves via
        coalesce across its name lineage. Every scan and every rewrite path
        (compaction, clustering, merge) reads through here, so maintenance
        never loses renamed data.

        ``with_positions=True`` appends the row's physical address as two
        extra columns (POS_PATH_COL = manifest-form file path, POS_IDX_COL =
        row index within the file) from Spark's ``_metadata`` struct — the
        coordinates position-delete files speak (icelite v2 parity)."""
        if not paths:
            # emptyRDD → ZERO partitions: a fully-pruned scan (stats/bloom
            # proved no file can match) must cost no tasks at all, not a
            # default-parallelism-wide no-op job
            out_schema = self.schema
            if with_positions:
                out_schema = StructType(
                    list(out_schema.fields)
                    + [
                        StructField(POS_PATH_COL, StringType(), False),
                        StructField(POS_IDX_COL, LongType(), False),
                    ]
                )
            return spark.createDataFrame(spark.sparkContext.emptyRDD(), out_schema)
        return self._aliased_read(
            spark, paths, extra_cols=_row_address_cols() if with_positions else []
        )

    def _aliased_read(
        self,
        spark: SparkSession,
        paths: list[str],
        extra_fields: list[StructField] = (),
        extra_cols: list = (),
    ) -> DataFrame:
        """The alias-aware Parquet read behind ``read_files`` and
        ``lineage_read``: the read schema is the current one widened with
        every renamed column's prior names (plus ``extra_fields``), and each
        renamed column resolves via coalesce across its name lineage. The
        result holds the table columns followed by ``extra_cols``. Schema
        and aliases come from one metadata read."""
        meta = self.meta
        schema = StructType.fromJson(meta.schema_json)
        aliases = meta.column_aliases
        live = {n: olds for n, olds in aliases.items() if n in schema.fieldNames()}
        by_name = {f.name: f for f in schema.fields}
        old_fields = [
            StructField(o, by_name[n].dataType, True)
            for n, olds in live.items()
            for o in olds
        ]
        wide = StructType(list(schema.fields) + old_fields + list(extra_fields))
        df = spark.read.schema(wide).parquet(*paths)
        if not (live or extra_fields or extra_cols):
            return df
        for n, olds in live.items():
            df = df.withColumn(n, F.coalesce(F.col(n), *[F.col(o) for o in olds]))
        return df.select(*schema.fieldNames(), *extra_cols)

    def _pos_delete_addr_df(self, spark: SparkSession, pos_dels: list[mf.DataFile]):
        """Expanded ``(file_path, pos)`` addresses of the given pos-delete
        sidecars (v2 row files + v3 deletion vectors; the ONE shared
        expansion in icelite/dv.py), broadcast when the expanded size fits
        — the address set both ``pos_reader`` and lineage reads anti-join
        against."""
        from . import dv as _dv

        dels = _dv.sidecar_addresses(spark, pos_dels).distinct()
        # DV record_count = positions, so expanded size is known
        est_bytes = sum(
            d.file_size_bytes
            for d in pos_dels
            if d.delete_format != mf.DELETE_FORMAT_DV
        ) + sum(
            d.record_count * _dv.EXPANDED_BYTES_PER_POSITION
            for d in pos_dels
            if d.delete_format == mf.DELETE_FORMAT_DV
        )
        if est_bytes <= POS_DELETE_BROADCAST_BYTES:
            dels = F.broadcast(dels)
        return dels

    def pos_reader(self, spark: SparkSession, snapshot_id: int | None = None):
        """Reader factory applying outstanding POSITION deletes (v2
        pos-delete files) for the given snapshot: ``reader(paths) ->
        DataFrame`` under the table schema. Files no delete can address
        (path outside every delete file's file_path bounds, or newer than
        every delete) read on the plain path — zero join cost; only
        addressed files pay a broadcast anti-join on (file_path, pos).

        ``rewrite_reader`` wraps this; read through it — a rewrite that
        reads raw files would bake position-deleted rows back into its
        outputs."""
        pos_dels = self.pos_delete_files(snapshot_id)
        if not pos_dels:
            return lambda paths: self.read_files(spark, paths)
        seq_by_path = {
            f.path: f.sequence_number for f in self.data_files(snapshot_id)
        }
        schema_cols = [f.name for f in self.schema.fields]

        def _addressable(path: str) -> bool:
            from .mor import pos_delete_addresses

            fseq = seq_by_path.get(path)
            return any(pos_delete_addresses(d, path, fseq) for d in pos_dels)

        def reader(paths: list[str]):
            from functools import reduce

            from pyspark.sql import DataFrame as _DF

            hit = [p for p in paths if _addressable(p)]
            clean = [p for p in paths if p not in set(hit)]
            parts = []
            if clean:
                parts.append(self.read_files(spark, clean))
            if hit:
                data = self.read_files(spark, hit, with_positions=True)
                dels = self._pos_delete_addr_df(spark, pos_dels)
                survivors = data.join(
                    dels,
                    (F.col(POS_PATH_COL) == F.col("file_path"))
                    & (F.col(POS_IDX_COL) == F.col("pos")),
                    "left_anti",
                ).select(*schema_cols)
                parts.append(survivors)
            if not parts:
                return self.read_files(spark, [])
            return reduce(_DF.unionByName, parts)

        return reader

    def rewrite_reader(
        self,
        spark: SparkSession,
        snapshot_id: int | None = None,
        delete_files: list[mf.DataFile] | None = None,
        merge_key: str | None = None,
    ):
        """The ONE delete-applied reader, serving every read that must see
        only live rows — ``scan``, row DML, MERGE, compaction, clustering:
        ``reader(files: list[DataFile]) -> DataFrame`` applying outstanding
        position deletes AND equality deletes (v2 sequence rule, recorded
        merge key, alias-aware) for the given snapshot. A drifted copy of
        the delete-application logic would silently resurrect deleted rows,
        so there is none. Schema, aliases, merge key and delete sets all
        come from one metadata read (``pinned``) taken at construction, so
        concurrent commits (a rename, partial-progress intermediate
        snapshots) cannot shift any of them mid-run.

        ``merge_key`` names the key outstanding eq-deletes apply under; it
        defaults to the recorded key (else ``doc_id``) and must match the
        recorded key when one exists."""
        view = self.pinned()
        if snapshot_id is None:
            snapshot_id = view.meta.current_snapshot_id
        dels = (
            delete_files
            if delete_files is not None
            else view.delete_files(snapshot_id)
        )
        pos = view.pos_reader(spark, snapshot_id)
        if not dels:
            return lambda files: pos([f.path for f in files])
        from . import mor

        recorded = view.recorded_merge_key()
        if merge_key is None:
            merge_key = recorded or "doc_id"
        elif recorded is not None and merge_key != recorded:
            raise ValueError(
                f"scan merge_key={merge_key!r} does not match the key the "
                f"outstanding eq-delete files were written under "
                f"({recorded!r}); reading them under the wrong column "
                f"would silently resurrect deleted rows"
            )
        schema = view.schema
        delete_reader = view._read_delete_keys(spark, merge_key)

        def read(files: list[mf.DataFile]) -> DataFrame:
            return mor.mor_scan(
                spark, schema, files, dels, key=merge_key,
                reader=pos, delete_reader=delete_reader,
            )

        return read

    def write_mode(self, op: str, default: str = "cow") -> str:
        """Resolve the Iceberg write-mode table property for a row-level
        operation (``write.delete.mode`` / ``write.update.mode`` /
        ``write.merge.mode``): Iceberg names map to engine strategies —
        ``copy-on-write`` → ``cow``; ``merge-on-read`` → position deletes
        for DELETE (Iceberg-Spark's MOR delete shape) and ``mor`` for
        UPDATE/MERGE. Engine-native strategy names (``cow``/``mor``/
        ``mor-pos``/``dv``) pass through, so a table can pin e.g. deletion
        vectors as its default. Callers that pass an explicit strategy
        bypass this entirely."""
        val = self.meta.properties.get(f"write.{op}.mode")
        if val is None:
            return default
        v = str(val).strip().lower()
        if v == "copy-on-write":
            return "cow"
        if v == "merge-on-read":
            return "mor-pos" if op == "delete" else "mor"
        return v

    def recorded_merge_key(self) -> str | None:
        """The equality-delete key persisted at merge-on-read commit time
        (property ``merge-key``). Scans MUST apply outstanding eq-deletes
        under this key — a caller-supplied different key would read the
        delete parquet under the wrong column name, get all-null keys, and
        silently resurrect deleted rows."""
        v = self.meta.properties.get("merge-key")
        return str(v) if v is not None else None

    def _read_delete_keys(self, spark: SparkSession, key: str):
        """Alias-aware eq-delete reader factory: delete files written before
        a rename of the merge key carry the old physical column name; read
        them with the widened schema and coalesce across the name lineage
        (same contract as read_files)."""
        key_field = self.schema[key]
        olds = self.meta.column_aliases.get(key, [])

        def read(paths: list[str]) -> DataFrame:
            if not olds:
                return spark.read.schema(
                    StructType([StructField(key, key_field.dataType, True)])
                ).parquet(*paths)
            wide = StructType(
                [StructField(key, key_field.dataType, True)]
                + [StructField(o, key_field.dataType, True) for o in olds]
            )
            df = spark.read.schema(wide).parquet(*paths)
            return df.select(
                F.coalesce(F.col(key), *[F.col(o) for o in olds]).alias(key)
            )

        return read

    @property
    def bucket_spec(self) -> tuple[str, int] | None:
        """(key, n_buckets) when the table is hash-bucketed — the engine's
        version of the reference's Hudi bucket index (INDEX_TYPE=BUCKET,
        8 buckets on the PK, HudiCatalogSync.java:151-159)."""
        props = self.meta.properties
        if "bucket-key" in props and "bucket-n" in props:
            return str(props["bucket-key"]), int(props["bucket-n"])
        return None

    @property
    def partition_spec(self):
        """Hidden-partitioning spec (icelite/partition.py), or None."""
        from . import partition as ps

        return ps.parse_spec(self.meta.properties)

    def set_partition_spec(self, fields: list | None) -> None:
        """Set / evolve / drop the partition spec (metadata-only commit).
        Evolution is Iceberg-style: only FUTURE writes use the new spec;
        existing files keep their recorded partition tuples and continue to
        compact among themselves."""
        from . import partition as ps

        if fields is not None and self.bucket_spec is not None:
            raise ValueError(
                "table is hash-bucketed (bucket-key property); bucket layout "
                "and a partition spec are mutually exclusive"
            )
        value = None if fields is None else ps.spec_to_json(
            [
                f if isinstance(f, ps.PartitionField) else ps.PartitionField(**f)
                for f in fields
            ]
        )
        # validate round-trip before committing
        if value is not None:
            ps.parse_spec({ps.PROP_KEY: value})

        def mutate(meta: md.TableMetadata) -> md.TableMetadata:
            if value is None:
                meta.properties.pop(ps.PROP_KEY, None)
            else:
                meta.properties[ps.PROP_KEY] = value
            return meta

        md.commit(self.location, mutate)

    # ---- write path ------------------------------------------------------
    def _write_data(
        self,
        df: DataFrame,
        max_records_per_file: int | None = None,
        num_files: int | None = None,
        sort_within: list[str] | None = None,
    ) -> list[str]:
        """Write df as immutable Parquet under data/<uuid>/; return file paths."""
        commit_dir = os.path.join(self.location, "data", uuid.uuid4().hex)
        out = df
        if num_files is not None:
            out = out.repartition(num_files)
        if sort_within:
            out = out.sortWithinPartitions(*sort_within)
        writer = out.write.mode("error")
        if max_records_per_file is not None:
            writer = writer.option("maxRecordsPerFile", str(max_records_per_file))
        writer.parquet(commit_dir)
        return sorted(glob.glob(os.path.join(commit_dir, "part-*.parquet")))

    def append(
        self,
        df: DataFrame,
        max_records_per_file: int | None = None,
        num_files: int | None = None,
        stat_columns: list[str] | None = None,
        timestamp_ms: int | None = None,
        branch: str | None = None,
        set_properties: dict | None = None,
    ) -> md.Snapshot:
        """Write df and commit an append snapshot.

        ``set_properties`` are applied atomically WITH the snapshot commit —
        the transactional-sink primitive streaming ingest uses to make
        micro-batch appends exactly-once under foreachBatch replay (the
        batch watermark and the data land or neither does).

        ``branch="audit"`` stages the append on a named branch instead of
        the main head: readers of ``scan()`` do not see it until
        ``fast_forward(branch)`` publishes (write-audit-publish).

        New files go into a NEW manifest; the parent snapshot's manifests are
        reused untouched — repeated appends therefore accumulate small
        manifests, exactly the condition rewrite_manifests exists to fix
        (mirrors the reference's one-small-file-per-checkpoint cadence,
        MainRunner.java:86).
        """
        spec = self.bucket_spec
        pspec = self.partition_spec
        if spec is not None and pspec is not None:
            raise ValueError("bucket layout and partition spec are exclusive")
        if pspec is not None:
            from . import partition as ps

            pdir = os.path.join(self.location, "data", uuid.uuid4().hex)
            paths = ps.write_partitioned(
                df, pspec, pdir, max_records_per_file=max_records_per_file
            )
            stats = mf.harvest_stats_auto(paths, stat_columns, spark=df.sparkSession)
            for s in stats:
                s.partition_json = ps.partition_json_from_path(
                    s.path, pspec, self.schema
                )
        elif spec is not None:
            key, n = spec
            from ..functions.hashing import bucket_expr

            commit_dir = os.path.join(self.location, "data", uuid.uuid4().hex)
            out = df.withColumn("_b", bucket_expr(key, n)).repartition(n, "_b")
            writer = out.write.mode("error").partitionBy("_b")
            if max_records_per_file is not None:
                writer = writer.option("maxRecordsPerFile", str(max_records_per_file))
            writer.parquet(commit_dir)
            paths = sorted(glob.glob(os.path.join(commit_dir, "_b=*", "part-*.parquet")))
            bucket_of = {
                p: int(p.split("_b=")[1].split(os.sep)[0]) for p in paths
            }
            stats = mf.harvest_stats_auto(paths, stat_columns, spark=df.sparkSession)
            for s in stats:
                s.bucket = bucket_of[s.path]
        else:
            paths = self._write_data(df, max_records_per_file, num_files)
            stats = mf.harvest_stats_auto(paths, stat_columns, spark=df.sparkSession)
        base_sid = self.resolve_ref(branch) if branch is not None else None
        seq = self.next_sequence_number(base_sid)
        for s in stats:
            s.sequence_number = seq
        manifest_name = mf.write_manifest(self.location, stats)
        return self._commit_snapshot(
            "append", add_manifests=[manifest_name], timestamp_ms=timestamp_ms,
            branch=branch, set_properties=set_properties,
        )

    # ---- row lineage (Iceberg v3) ---------------------------------------
    def row_lineage_enabled(self, meta: md.TableMetadata | None = None) -> bool:
        props = (meta if meta is not None else self.meta).properties
        return str(props.get(ROW_LINEAGE_PROP, "")).lower() == "true"

    def _assign_row_ids(
        self, meta: md.TableMetadata, manifest_names: list[str]
    ) -> tuple[list[str], int | None]:
        """Row-lineage assignment, run INSIDE a commit mutate: every fresh
        data file in the given manifests gets ``first_row_id`` from the
        table's ``next_row_id`` counter (row i of the file is row id
        first_row_id + i — Iceberg v3 inheritance, flattened to the
        manifest entry so readers never walk snapshot history). Cost is
        O(added files) per commit: only manifests that needed assignment
        are rewritten; a retried attempt re-assigns against the fresh
        counter (the losing attempt's manifest becomes a dead metadata
        file). Rewrite outputs marked ``lineage=materialized`` carry their
        ids physically and consume nothing. Equality-delete files are
        refused — an eq-delete cannot say WHICH row ids die, so lineage
        tables must delete by position/DV (the v3 direction)."""
        base = meta.next_row_id
        out_names: list[str] = []
        assigned_any = False
        for name in manifest_names:
            files = mf.read_manifest(self.location, name)
            if any(f.content == mf.CONTENT_EQ_DELETES for f in files):
                raise ValueError(
                    "row-lineage table cannot commit equality-delete files; "
                    "use position/dv delete strategies (write.delete.mode)"
                )
            need = [
                f
                for f in files
                if f.content == mf.CONTENT_DATA
                and f.lineage != mf.LINEAGE_MATERIALIZED
                and f.first_row_id is None
            ]
            if not need:
                out_names.append(name)
                continue
            for f in need:
                f.first_row_id = meta.next_row_id
                meta.next_row_id += f.record_count
            out_names.append(mf.write_manifest(self.location, files))
            assigned_any = True
        return out_names, (base if assigned_any else None)

    def replace_files(
        self,
        removed_paths: set[str],
        added: list[mf.DataFile],
        operation: str = "replace",
        summary: dict | None = None,
        timestamp_ms: int | None = None,
        set_properties: dict | None = None,
        validate_no_new_deletes_since: int | None = None,
        branch: str | None = None,
    ) -> md.Snapshot:
        """Commit a snapshot that atomically swaps removed files for added.

        ``branch="audit"`` stages the swap on a named branch (parent = the
        BRANCH head, only the branch ref moves) — the write half of
        write-audit-publish for rewrites and MERGE, published later by
        ``fast_forward``; Iceberg's ``spark.wap.branch`` for DML.

        The icelite analogue of Iceberg's RewriteFiles/overwrite commit —
        the primitive under compaction, clustering, and MERGE INTO COW.
        Manifests that reference no removed file are reused as-is (no
        rewrite amplification); touched manifests are rewritten minus the
        removed entries; added files land in one new manifest.

        ``validate_no_new_deletes_since``: Iceberg's RewriteFiles
        validate-no-new-deletes check. Pass the snapshot id the rewrite was
        PLANNED against: if any eq-/pos-delete file not live at that
        snapshot is live at commit time, the commit aborts with
        ``ValidationFailed`` — the concurrent delete was not applied during
        the group reads and its sequence number would not gate the
        rewritten outputs (strict ``<`` rule), so committing would
        resurrect the deleted rows. The check runs INSIDE the optimistic
        loop, so a delete landing between retries is still caught.
        """
        added_manifest = mf.write_manifest(self.location, added) if added else None
        baseline_deletes: set[str] | None = None
        if validate_no_new_deletes_since is not None:
            baseline_deletes = (
                {f.path for f in self.delete_files(validate_no_new_deletes_since)}
                | {f.path for f in self.pos_delete_files(validate_no_new_deletes_since)}
                if validate_no_new_deletes_since != -1
                else set()
            )

        def mutate(meta: md.TableMetadata) -> md.TableMetadata:
            if branch is not None:
                ref = meta.refs.get(branch)
                if ref is None or ref["type"] != "branch":
                    raise KeyError(f"no branch {branch!r}")
                parent_sid = int(ref["snapshot_id"])
                parent = meta.snapshot(parent_sid)
            else:
                parent_sid = meta.current_snapshot_id
                parent = meta.snapshot()
            new_manifests: list[str] = []
            seen_removed = 0
            live_deletes: set[str] = set()
            for name in (parent.manifests if parent else []):
                files = mf.read_manifest(self.location, name)
                if baseline_deletes is not None:
                    live_deletes.update(
                        f.path for f in files if f.content != mf.CONTENT_DATA
                    )
                hit = [f for f in files if f.path in removed_paths]
                if not hit:
                    new_manifests.append(name)
                    continue
                seen_removed += len(hit)
                kept = [f for f in files if f.path not in removed_paths]
                if kept:
                    new_manifests.append(mf.write_manifest(self.location, kept))
            if baseline_deletes is not None:
                conflicting = live_deletes - baseline_deletes - removed_paths
                if conflicting:
                    raise md.ValidationFailed(
                        f"{operation}: {len(conflicting)} delete file(s) committed "
                        f"since planning snapshot {validate_no_new_deletes_since}; "
                        "replan the rewrite from the current snapshot"
                    )
            if seen_removed != len(removed_paths):
                raise md.CommitConflict(
                    f"replace_files: {len(removed_paths) - seen_removed} of "
                    f"{len(removed_paths)} files to remove are not in the "
                    + (f"branch {branch!r} head" if branch else "current snapshot")
                )
            first_row_id = None
            if added_manifest:
                if self.row_lineage_enabled(meta):
                    names, first_row_id = self._assign_row_ids(
                        meta, [added_manifest]
                    )
                    new_manifests.extend(names)
                else:
                    new_manifests.append(added_manifest)
            sid = md.new_snapshot_id(meta)
            snap = md.Snapshot(
                snapshot_id=sid,
                parent_id=parent_sid,
                timestamp_ms=timestamp_ms or md.now_ms(),
                operation=operation,
                manifests=new_manifests,
                summary={
                    "removed-files": str(len(removed_paths)),
                    "added-files": str(len(added)),
                    **(summary or {}),
                },
                first_row_id=first_row_id,
            )
            meta.snapshots.append(snap)
            if branch is not None:
                meta.refs[branch] = {"snapshot_id": sid, "type": "branch"}
            else:
                meta.current_snapshot_id = sid
            meta.last_updated_ms = snap.timestamp_ms
            if set_properties:
                meta.properties.update(set_properties)
            return meta

        new_meta = md.commit(self.location, mutate)
        if branch is not None:
            return new_meta.snapshot(int(new_meta.refs[branch]["snapshot_id"]))
        return new_meta.snapshot()

    def overwrite_all(
        self,
        added: list[mf.DataFile],
        operation: str = "overwrite",
        timestamp_ms: int | None = None,
    ) -> md.Snapshot:
        """Truncate-and-replace: the new snapshot references ONLY ``added``.

        Unlike ``replace_files`` (whose removed set a caller computes BEFORE
        the commit), the drop-everything decision here executes INSIDE the
        optimistic commit loop, so a concurrent append cannot leak files
        into the "overwritten" table, and every outstanding eq-/pos-delete
        entry is dropped with the manifests it lives in — stale deletes can
        never apply to the fresh rows (which restart at sequence 0 with no
        live deletes to hit them)."""
        added_manifest = mf.write_manifest(self.location, added) if added else None

        def mutate(meta: md.TableMetadata) -> md.TableMetadata:
            names = [added_manifest] if added_manifest else []
            first_row_id = None
            if names and self.row_lineage_enabled(meta):
                names, first_row_id = self._assign_row_ids(meta, names)
            sid = md.new_snapshot_id(meta)
            snap = md.Snapshot(
                snapshot_id=sid,
                parent_id=meta.current_snapshot_id,
                timestamp_ms=timestamp_ms or md.now_ms(),
                operation=operation,
                manifests=names,
                summary={"added-files": str(len(added)), "truncate": "true"},
                first_row_id=first_row_id,
            )
            meta.snapshots.append(snap)
            meta.current_snapshot_id = sid
            meta.last_updated_ms = snap.timestamp_ms
            return meta

        return md.commit(self.location, mutate).snapshot()

    def _commit_snapshot(
        self,
        operation: str,
        add_manifests: list[str],
        timestamp_ms: int | None = None,
        branch: str | None = None,
        set_properties: dict | None = None,
    ) -> md.Snapshot:
        def mutate(meta: md.TableMetadata) -> md.TableMetadata:
            if set_properties:
                # atomic with the snapshot: the transactional-sink hook
                # (streaming exactly-once batch watermarks ride here)
                meta.properties.update(
                    {k: str(v) for k, v in set_properties.items()}
                )
            if branch is not None:
                ref = meta.refs.get(branch)
                if ref is None or ref["type"] != "branch":
                    raise KeyError(f"no branch {branch!r}")
                parent_sid = int(ref["snapshot_id"])
                parent = meta.snapshot(parent_sid)
            else:
                parent_sid = meta.current_snapshot_id
                parent = meta.snapshot()
            add_names = list(add_manifests)
            first_row_id = None
            if add_names and self.row_lineage_enabled(meta):
                add_names, first_row_id = self._assign_row_ids(meta, add_names)
            sid = md.new_snapshot_id(meta)
            snap = md.Snapshot(
                snapshot_id=sid,
                parent_id=parent_sid,
                timestamp_ms=timestamp_ms or md.now_ms(),
                operation=operation,
                manifests=(parent.manifests if parent else []) + add_names,
                summary={},
                first_row_id=first_row_id,
            )
            meta.snapshots.append(snap)
            if branch is not None:
                meta.refs[branch] = {"snapshot_id": sid, "type": "branch"}
            else:
                meta.current_snapshot_id = sid
            meta.last_updated_ms = snap.timestamp_ms
            return meta

        new_meta = md.commit(self.location, mutate)
        if branch is not None:
            return new_meta.snapshot(int(new_meta.refs[branch]["snapshot_id"]))
        return new_meta.snapshot()

    # ---- read path -------------------------------------------------------
    @staticmethod
    def _where_file_filter(where: dict):
        """File-skipping predicate from simple column conditions: scalar =
        equality, 2-tuple = inclusive range. A file survives iff every
        condition's interval overlaps the file's [min,max] stats; files
        lacking stats for a column are conservatively kept. Incomparable
        types (stat vs predicate) also keep the file."""

        def keep(f) -> bool:
            for col, cond in where.items():
                lo = f.lower_bounds.get(col)
                hi = f.upper_bounds.get(col)
                if lo is None or hi is None:
                    continue
                plo, phi = cond if isinstance(cond, tuple) else (cond, cond)
                try:
                    if (plo is not None and hi < plo) or (phi is not None and lo > phi):
                        return False
                except TypeError:
                    continue
            return True

        return keep

    def resolve_snapshot(
        self,
        snapshot_id: int | None = None,
        ref: str | None = None,
        as_of_timestamp_ms: int | None = None,
    ) -> int | None:
        """Resolve the mutually-exclusive time-travel selectors to a concrete
        snapshot id. No selector pins the current head (None only for an
        empty table). On a ``pinned`` view, which every read path builds
        on, that head and the schema, column aliases and merge key all come
        from the same metadata read, so a commit landing mid-plan changes
        none of them."""
        if sum(x is not None for x in (snapshot_id, ref, as_of_timestamp_ms)) > 1:
            raise ValueError("snapshot_id, ref, and as_of_timestamp_ms are exclusive")
        if ref is not None:
            return self.resolve_ref(ref)
        if as_of_timestamp_ms is not None:
            return self.snapshot_as_of(as_of_timestamp_ms).snapshot_id
        return snapshot_id if snapshot_id is not None else self.meta.current_snapshot_id

    def select_data_files(
        self,
        where: dict | None = None,
        snapshot_id: int | None = None,
        file_filter=None,
    ) -> list[mf.DataFile]:
        """The complete plan-time file selection every reader shares —
        scan(), and the ``icelite`` Python DataSource (sources/
        icelite_source.py), so ``spark.read.format("icelite")`` prunes
        exactly like the native scan. Layers, metadata-only throughout:
        two-level manifest planning, per-file min/max stats, hidden-partition
        transforms, and bloom sidecars for equality predicates."""
        # two-level planning: when a predicate is given, manifest-list
        # summaries (footer-only reads) skip whole manifests before any
        # body parse; the per-file filter below then prunes within the rest
        files = (
            self.plan_data_files(where, snapshot_id)[0]
            if where
            else self.data_files(snapshot_id)
        )
        return self._post_plan_filters(files, where, snapshot_id, file_filter)

    def _post_plan_filters(
        self,
        files: list[mf.DataFile],
        where: dict | None,
        snapshot_id: int | None,
        file_filter=None,
    ) -> list[mf.DataFile]:
        """The exact per-file filter chain shared by the driver-side and
        the distributed planner: caller filter → min/max stats →
        hidden-partition transforms → bloom sidecars. Both planners feed
        conservatively-pruned candidate sets through this, so their
        outputs are identical by construction."""
        if file_filter is not None:
            files = [f for f in files if file_filter(f)]
        if where:
            keep = self._where_file_filter(where)
            files = [f for f in files if keep(f)]
            # hidden-partition pruning: predicate constants pushed through
            # the partition transforms vs recorded per-file tuples — the
            # only plan-time skip possible for bucket[N] point lookups
            ppred = self._partition_predicate(where)
            if ppred is not None:
                files = [f for f in files if ppred(f.partition_json)]
            # equality predicates additionally consult any bloom sidecar
            # built for this snapshot (operators/bloom_index.py): min/max
            # stats cannot prune point lookups once file ranges overlap,
            # a bloom bitmap can — and a missing index is a silent no-op
            from ..operators.bloom_index import bloom_file_filter

            for col, cond in where.items():
                if isinstance(cond, tuple):
                    continue
                # candidates= → the probe lazily reads ONLY the sidecar
                # rows of files that survived stats/partition pruning
                bf = bloom_file_filter(
                    self, col, cond, snapshot_id=snapshot_id, candidates=files
                )
                if bf is not None:
                    files = [f for f in files if bf(f)]
        return files

    def select_data_files_distributed(
        self,
        spark: SparkSession,
        where: dict | None = None,
        snapshot_id: int | None = None,
        file_filter=None,
    ) -> list[mf.DataFile]:
        """Scan planning with the manifest-body parse pushed to EXECUTORS —
        the scale path past ~10^7 files, where even one driver-side pass
        over the manifests (a measured ~23 s per 10^6 entries,
        tools/plan_scale_bench.py) turns into minutes (Iceberg's
        equivalent: distributed planning in the Spark action).

        The driver picks the manifest bodies worth reading from their
        footer summaries (``_manifests_to_read``, shared with
        ``plan_data_files``); executors run the driver's own parse
        (``mf._parse_manifest``) and per-file stats filter
        (``_where_file_filter``) over them, so only data-file survivors
        come back; the driver then applies the shared
        ``_post_plan_filters`` chain. Every step is the driver planner's
        own code, so the result equals ``select_data_files`` by
        construction."""
        snap = self.meta.snapshot(snapshot_id)
        if snap is None:
            return []
        mdir = md.metadata_dir(self.location)
        bodies = [os.path.join(mdir, n) for n in self._manifests_to_read(snap, where)]
        if not bodies:
            return []
        files = mf.map_paths(
            spark, bodies, functools.partial(_parse_and_prune, where or {})
        )
        return self._post_plan_filters(files, where, snapshot_id, file_filter)

    def count_rows(
        self,
        spark: SparkSession,
        where: dict | None = None,
        snapshot_id: int | None = None,
        ref: str | None = None,
    ) -> dict:
        """COUNT(*) with the aggregate pushed into table metadata (Iceberg's
        count-pushdown analogue): files whose stats PROVE every row matches
        the predicate (bounds inside the interval, zero nulls in predicate
        columns) contribute their manifest ``record_count`` without being
        read; provably-disjoint files are skipped by the shared pruning
        stack (manifests → stats → partition transforms → bloom); only the
        indeterminate remainder pays a scan — and that scan is count-only
        (predicate columns, no token arrays).

        Returns ``{"count", "mode", "files_metadata", "files_scanned"}``
        where mode is ``metadata`` (zero rows read), ``metadata+scan``, or
        ``scan`` (outstanding eq-/pos-deletes make record counts overstate;
        the delete-applied scan is the only sound answer).

        At 10^12 rows a partition- or range-aligned count is answered from
        the manifest alone — no tasks launched."""
        view = self.pinned()
        sid = view.resolve_snapshot(snapshot_id, ref, None)
        if view.delete_files(sid) or view.pos_delete_files(sid):
            n = view.scan(spark, snapshot_id=sid, where=where).count()
            return {"count": n, "mode": "scan",
                    "files_metadata": 0, "files_scanned": -1}
        if not where:
            files = view.data_files(sid)
            return {
                "count": sum(f.record_count for f in files),
                "mode": "metadata",
                "files_metadata": len(files), "files_scanned": 0,
            }
        candidates = view.select_data_files(where, sid)
        full = [f for f in candidates if _file_fully_matches(f, where)]
        full_paths = {f.path for f in full}
        partial = [f for f in candidates if f.path not in full_paths]
        n = sum(f.record_count for f in full)
        if partial:
            n += (
                view.read_files(spark, [f.path for f in partial])
                .filter(predicate_column(where))
                .count()
            )
        return {
            "count": n,
            "mode": "metadata" if not partial
            else ("metadata+scan" if full else "scan"),
            "files_metadata": len(full),
            "files_scanned": len(partial),
        }

    def agg_minmax(
        self,
        spark: SparkSession,
        column: str,
        where: dict | None = None,
        snapshot_id: int | None = None,
        ref: str | None = None,
    ) -> dict:
        """MIN/MAX(column) with the aggregate pushed into table metadata
        (the other half of Iceberg's aggregate pushdown, next to
        ``count_rows``): a file contributes its manifest ``lower_bounds``/
        ``upper_bounds`` entry — unread — when the predicate provably
        matches EVERY row of the file (otherwise its extreme row might be
        one the predicate drops) and the bounds for ``column`` exist.
        Bounds exclude nulls (manifest.py), matching MIN/MAX null
        semantics, so a provably all-null file (null_count == record_count)
        soundly contributes nothing. Files with partial predicate overlap
        or missing stats pay a two-column scan; outstanding eq-/pos-deletes
        force the sound delete-applied scan (a delete may remove the
        extreme row).

        Returns ``{"min", "max", "mode", "files_metadata",
        "files_scanned"}`` — mode ``metadata`` means zero rows read, the
        partition- or range-aligned case that answers from the manifest
        alone at 10^12 rows."""
        view = self.pinned()
        sid = view.resolve_snapshot(snapshot_id, ref, None)
        if view.delete_files(sid) or view.pos_delete_files(sid):
            row = (
                view.scan(spark, snapshot_id=sid, where=where)
                .agg(F.min(column), F.max(column))
                .first()
            )
            return {"min": row[0], "max": row[1], "mode": "scan",
                    "files_metadata": 0, "files_scanned": -1}
        candidates = view.select_data_files(where, sid)
        full_match = [
            f for f in candidates if not where or _file_fully_matches(f, where)
        ]
        full_paths = {f.path for f in full_match}
        to_scan = [f for f in candidates if f.path not in full_paths]
        mins: list = []
        maxs: list = []
        n_meta = 0
        for f in full_match:
            lo = f.lower_bounds.get(column)
            hi = f.upper_bounds.get(column)
            if lo is not None and hi is not None:
                mins.append(lo)
                maxs.append(hi)
                n_meta += 1
            elif f.null_counts.get(column) == f.record_count:
                n_meta += 1  # all-null: MIN/MAX ignore it, still metadata-only
            else:
                to_scan.append(f)  # bounds unknown: must read
        if to_scan:
            df = view.read_files(spark, [f.path for f in to_scan])
            if where:
                df = df.filter(predicate_column(where))
            row = df.agg(F.min(column), F.max(column)).first()
            if row[0] is not None:
                mins.append(row[0])
                maxs.append(row[1])
        return {
            "min": min(mins) if mins else None,
            "max": max(maxs) if maxs else None,
            "mode": "metadata" if not to_scan
            else ("metadata+scan" if n_meta else "scan"),
            "files_metadata": n_meta,
            "files_scanned": len(to_scan),
        }

    def scan(
        self,
        spark: SparkSession,
        snapshot_id: int | None = None,
        columns: list[str] | None = None,
        file_filter=None,
        merge_key: str | None = None,
        where: dict | None = None,
        ref: str | None = None,
        as_of_timestamp_ms: int | None = None,
    ) -> DataFrame:
        """Snapshot-pinned scan: resolve snapshot → manifests → exact file list.

        ``file_filter(DataFile) -> bool`` enables stats-based file pruning
        (the metadata-level partition pruning of SURVEY.md §4.1) before Spark
        ever opens a file; Catalyst's own predicate pushdown + column pruning
        then applies inside each file. Outstanding eq- and pos-deletes are
        applied by ``rewrite_reader`` — the read-side half of the v2 upsert
        contract (icelite/mor.py). The whole build answers from one
        metadata read (``pinned``).
        """
        view = self.pinned()
        snapshot_id = view.resolve_snapshot(snapshot_id, ref, as_of_timestamp_ms)
        files = view.select_data_files(
            where=where, snapshot_id=snapshot_id, file_filter=file_filter
        )
        df = view.rewrite_reader(spark, snapshot_id, merge_key=merge_key)(files)
        if where:
            # exact semantics: the file skip is a superset; Catalyst pushes
            # the row filter into the Parquet reader as well
            df = df.filter(predicate_column(where))
        if columns:
            df = df.select(*columns)
        return df

    # ---- row-lineage read path (Iceberg v3) ------------------------------
    def lineage_read(
        self,
        spark: SparkSession,
        files: list[mf.DataFile],
        snapshot_id: int | None = None,
    ) -> DataFrame:
        """Read the given data files with the two v3 lineage columns:
        ``_row_id`` (stable per-row identity) and
        ``_last_updated_sequence_number``. Fresh files derive both from the
        manifest entry (first_row_id + position, file sequence number — a
        metadata-only broadcast map, no per-row state); rewrite outputs
        marked ``lineage=materialized`` carry them physically and win via
        coalesce. Pre-lineage files yield NULLs (the spec's "unassigned").
        Position deletes / DVs are applied (address anti-join); outstanding
        EQUALITY deletes are refused — lineage tables delete by position
        (enforced at commit time by ``_assign_row_ids``), so live
        eq-deletes only occur when lineage was enabled mid-life on a MOR
        table: compact first."""
        view = self.pinned()
        sid = (
            snapshot_id
            if snapshot_id is not None
            else view.meta.current_snapshot_id
        )
        if view.delete_files(sid):
            raise ValueError(
                "row-lineage scan with outstanding equality deletes is not "
                "supported (they predate row-lineage.enabled — lineage "
                "tables refuse new ones): compact, or run "
                "convert-eq-deletes to re-express them as position deletes"
            )
        schema = view.schema
        cols = [f.name for f in schema.fields]
        lineage_fields = [
            StructField(LINEAGE_ROW_ID_COL, LongType(), True),
            StructField(LINEAGE_SEQ_COL, LongType(), True),
        ]
        if not files:
            return spark.createDataFrame(
                spark.sparkContext.emptyRDD(),
                StructType(list(schema.fields) + lineage_fields),
            )
        # the alias-aware read plus the physical lineage columns that
        # materialized rewrites carry, and the row address
        df = view._aliased_read(
            spark,
            [f.path for f in files],
            extra_fields=lineage_fields,
            extra_cols=[LINEAGE_ROW_ID_COL, LINEAGE_SEQ_COL, *_row_address_cols()],
        )
        amap = spark.createDataFrame(
            [(f.path, f.first_row_id, f.sequence_number) for f in files],
            "_l_path string, _l_frid long, _l_fseq long",
        )
        # one row per FILE: broadcast while that stays driver-friendly
        # (~100 B/path × 200k ≈ 20 MB); above it let AQE pick the join —
        # at 10^7-file scale a forced broadcast would ship a GB-class map
        if len(files) <= 200_000:
            amap = F.broadcast(amap)
        df = (
            df.join(
                amap,
                F.col(POS_PATH_COL) == F.col("_l_path"),
                "left",
            )
            .withColumn(
                LINEAGE_ROW_ID_COL,
                F.coalesce(
                    F.col(LINEAGE_ROW_ID_COL),
                    F.col("_l_frid") + F.col(POS_IDX_COL),
                ),
            )
            .withColumn(
                LINEAGE_SEQ_COL,
                # unassigned rows (pre-lineage files) stay NULL on both
                F.when(
                    F.col(LINEAGE_ROW_ID_COL).isNotNull(),
                    F.coalesce(F.col(LINEAGE_SEQ_COL), F.col("_l_fseq")),
                ),
            )
        )
        pos_dels = view.pos_delete_files(sid)
        if pos_dels:
            dels = view._pos_delete_addr_df(spark, pos_dels)
            df = df.join(
                dels,
                (F.col(POS_PATH_COL) == F.col("file_path"))
                & (F.col(POS_IDX_COL) == F.col("pos")),
                "left_anti",
            )
        return df.select(*cols, LINEAGE_ROW_ID_COL, LINEAGE_SEQ_COL)

    def scan_lineage(
        self,
        spark: SparkSession,
        snapshot_id: int | None = None,
        where: dict | None = None,
        ref: str | None = None,
        as_of_timestamp_ms: int | None = None,
    ) -> DataFrame:
        """Snapshot-pinned scan exposing ``_row_id`` and
        ``_last_updated_sequence_number`` next to the data columns — the
        v3 lineage surface. File pruning is the shared stack
        (``select_data_files``); the row filter is ``scan``'s."""
        view = self.pinned()
        sid = view.resolve_snapshot(snapshot_id, ref, as_of_timestamp_ms)
        files = view.select_data_files(where=where, snapshot_id=sid)
        df = view.lineage_read(spark, files, snapshot_id=sid)
        return df.filter(predicate_column(where)) if where else df


def _parse_and_prune(where: dict, paths: list[str]):
    """Executor half of ``select_data_files_distributed``: the driver's
    manifest parse and per-file stats filter over a share of the bodies."""
    keep = IceliteTable._where_file_filter(where)
    for path in paths:
        for f in mf._parse_manifest(path):
            if f.content == mf.CONTENT_DATA and keep(f):
                yield f
