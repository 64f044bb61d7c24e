"""Row-level DELETE WHERE / UPDATE WHERE over icelite tables.

The reference delegates row-level changes to the formats' v2 delete
machinery (``format-version=2`` + upsert-as-eq-delete, IcebergCatalogSync.
java:112-115); MERGE INTO covers keyed upserts (operators/merge_into.py).
This module adds the *predicate*-driven row operations an Iceberg user has
(DELETE FROM t WHERE ..., UPDATE t SET ... WHERE ...), Spark-first:

- **Stats pruning first.** The predicate is evaluated against per-file
  min/max manifest stats; only files whose range overlaps the predicate are
  touched. At 10^12 sequences a delete of one source/day touches a sliver
  of the table, not the table.
- **Metadata-only deletes.** A file whose stats prove EVERY row matches the
  predicate (bounds fully inside the predicate interval AND zero nulls in
  the predicate columns — parquet min/max exclude nulls, so null counts are
  required for soundness) is dropped from the manifest without being read.
  This is Iceberg's "partition-level delete" fast path generalized to file
  stats: a retention sweep that aligns with file boundaries moves no data.
- **COW rewrite** for partially-matching files: read → keep non-matching
  rows (delete) or apply SET expressions to matching rows (update) → write
  → one atomic replace-files snapshot.
- **MOR delete** (``strategy="mor"``): instead of rewriting, scan ONLY the
  key column of candidate files (column-pruned, predicate-pushed scan),
  write the matching keys as an equality-delete file. Write cost is
  O(matching keys), readers apply the delete via icelite/mor.py, the next
  compaction materializes it — same deferred contract as MOR MERGE.

Predicates use the same shape as ``IceliteTable.scan(where=...)``: a dict of
``col -> scalar`` (equality) or ``col -> (lo, hi)`` (inclusive range, None =
unbounded). Conditions AND together. This keeps the file-skipping logic
shared with the scan path (table._where_file_filter).
"""

from __future__ import annotations

import glob
import os
import uuid

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..icelite import manifest as mf
from ..icelite.table import IceliteTable, _file_fully_matches, predicate_column
from ..plans.lineage import LineageLog, LineageRow


def delete_where(
    spark: SparkSession,
    table: IceliteTable,
    where: dict,
    strategy: str | None = None,
    target_file_size: int = 128 * 1024 * 1024,
    key: str = "doc_id",
    run_id: str | None = None,
    timestamp_ms: int | None = None,
    verify_key_safety: bool = True,
    _retry_on_delete_conflict: bool = True,
) -> dict:
    """DELETE FROM table WHERE <where>. Returns commit metrics.

    ``strategy=None`` consults the Iceberg ``write.delete.mode`` table
    property (copy-on-write → cow, merge-on-read → mor-pos; engine names
    pass through), defaulting to cow."""
    if strategy is None:
        strategy = table.write_mode("delete")
    run_id = run_id or uuid.uuid4().hex[:12]
    snap = table.current_snapshot()
    files = table.data_files(snap.snapshot_id) if snap else []
    keep = table._where_file_filter(where)
    candidates = [f for f in files if keep(f)]

    if strategy == "mor":
        return _delete_where_mor(
            spark, table, where, candidates, key, run_id, timestamp_ms,
            verify_key_safety=verify_key_safety,
        )
    if strategy == "mor-pos":
        return _delete_where_pos(
            spark, table, where, candidates, run_id, timestamp_ms
        )
    if strategy == "dv":
        return _delete_where_dv(
            spark, table, where, candidates, run_id, timestamp_ms
        )
    if strategy != "cow":
        raise ValueError(f"unknown delete strategy {strategy!r}")

    # split candidates: provable full matches drop via metadata only
    full = [f for f in candidates if _file_fully_matches(f, where)]
    full_paths = {f.path for f in full}
    partial = [f for f in candidates if f.path not in full_paths]

    added: list[mf.DataFile] = []
    out_paths: list[str] = []
    rows_out = 0
    lineage_on = table.row_lineage_enabled()
    if partial:
        if lineage_on:
            # v3 row lineage: surviving rows keep their _row_id /
            # _last_updated_sequence_number through the rewrite
            # (materialized columns; lineage tables carry no eq-deletes)
            data = table.lineage_read(spark, partial)
        else:
            # outstanding eq-deletes must not resurrect through the rewrite
            from ..icelite.mor import mor_scan

            mor_key = table.recorded_merge_key() or key
            data = mor_scan(
                spark, table.schema, partial, table.delete_files(), key=mor_key,
                reader=table.pos_reader(spark),
                delete_reader=table._read_delete_keys(spark, mor_key),
            )
        # SQL DELETE removes only rows where the predicate is TRUE; rows
        # where it evaluates to NULL (null in a predicate column) must be
        # KEPT. ~NULL is NULL, which filter() drops — coalesce to FALSE
        # first so null-predicate rows survive the rewrite (matching the
        # mor / mor-pos strategies, which select matches positively).
        kept_rows = data.filter(
            ~F.coalesce(predicate_column(where), F.lit(False))
        )
        bytes_in = sum(f.file_size_bytes for f in partial)
        n_out = max(1, -(-bytes_in // target_file_size))
        out_dir = os.path.join(table.location, "data", f"del-{run_id}")
        kept_rows.repartitionByRange(n_out, key).write.mode("overwrite").parquet(out_dir)
        out_paths = sorted(glob.glob(os.path.join(out_dir, "part-*.parquet")))
        added = mf.harvest_stats(out_paths)
        seq = table.next_sequence_number()
        for s in added:
            s.sequence_number = seq
            if lineage_on:
                s.lineage = mf.LINEAGE_MATERIALIZED
        rows_out = sum(f.record_count for f in added)

    removed = full_paths | {f.path for f in partial}
    if not removed:
        return {"files_matched": 0, "files_dropped_metadata_only": 0, "rows_out": 0}
    # validate-no-new-deletes (same race class as compaction): a concurrent
    # MOR delete committing mid-rewrite was not applied by the reads above
    # and its sequence number would not gate the rewritten outputs (strict
    # < rule) — swapping would resurrect its rows. Abort and replan once
    # from the post-delete head.
    from ..icelite import metadata as _md

    try:
        new_snap = table.replace_files(
            removed,
            added,
            operation="delete",
            summary={
                "op": "delete-where",
                "metadata-only-drops": str(len(full)),
                "run-id": run_id,
            },
            timestamp_ms=timestamp_ms,
            validate_no_new_deletes_since=snap.snapshot_id if snap else -1,
        )
    except _md.ValidationFailed:
        if not _retry_on_delete_conflict:
            raise
        return delete_where(
            spark, table, where, strategy="cow",
            target_file_size=target_file_size, key=key,
            timestamp_ms=timestamp_ms, verify_key_safety=verify_key_safety,
            _retry_on_delete_conflict=False,
        )
    LineageLog(table.location).write(
        LineageRow(
            run_id=run_id, op="delete", partition_id=0,
            files_in=len(removed), files_out=len(out_paths), rows=rows_out,
            bytes_in=sum(f.file_size_bytes for f in candidates),
            bytes_out=sum(f.file_size_bytes for f in added),
            snapshot_id=new_snap.snapshot_id, status="done",
            output_paths=out_paths,
        )
    )
    return {
        "files_matched": len(candidates),
        "files_dropped_metadata_only": len(full),
        "files_rewritten": len(partial),
        "files_out": len(out_paths),
        "rows_out": rows_out,
        "snapshot_id": new_snap.snapshot_id,
        "run_id": run_id,
    }


def _delete_where_mor(
    spark: SparkSession,
    table: IceliteTable,
    where: dict,
    candidates: list[mf.DataFile],
    key: str,
    run_id: str,
    timestamp_ms: int | None,
    verify_key_safety: bool = True,
) -> dict:
    """Merge-on-read predicate delete: write the matching KEYS as an
    eq-delete file. Reads only the key+predicate columns of candidate files
    (Catalyst prunes the rest, including the token arrays).

    An eq-delete removes EVERY older row carrying a matched key, so on a
    table where ``key`` is not unique a predicate delete would collaterally
    remove live rows the predicate never selected. ``verify_key_safety``
    (default on) runs one column-pruned scan over the live files and
    refuses to commit if any non-matching row shares a matched key,
    steering the caller to ``strategy='mor-pos'`` (exact row surgery) or
    ``'cow'``. Disable only when the key is known unique (e.g. enforced by
    the ingest path), which skips the extra scan."""
    if table.row_lineage_enabled():
        raise ValueError(
            "strategy='mor' (equality-delete) is unavailable on row-lineage "
            "tables — an eq-delete cannot say which row ids die; use "
            "'mor-pos', 'dv', or 'cow'"
        )
    recorded = table.recorded_merge_key()
    if recorded is not None and recorded != key and table.delete_files():
        raise ValueError(
            f"mor delete with key={key!r} but outstanding eq-delete files use "
            f"{recorded!r}; compact first"
        )
    if not candidates:
        return {"files_matched": 0, "delete_files_out": 0, "deleted_keys": 0}
    cols = sorted({key, *where.keys()})
    # delete-APPLIED read (eq + pos): an already-invisible row matching the
    # predicate must not contribute its key — an eq-delete on that key
    # would take out live same-key rows the predicate never selected; and
    # an already-eq-deleted row must not trip the collateral check below
    # (it cannot be "collaterally deleted" — it is dead)
    cand_paths = {f.path for f in candidates}
    data = table.scan(
        spark, file_filter=lambda f: f.path in cand_paths, columns=cols
    )
    pred = predicate_column(where)
    keys = data.filter(pred).select(key)
    if verify_key_safety:
        # collateral check across the WHOLE live table (a same-key row may
        # live in a file the stats filter skipped): any live row where the
        # predicate is false-or-null whose key is in the matched set would
        # be wrongly erased by the eq-delete. Key-column-pruned scan +
        # left-semi join — no data rewrite, one extra pass.
        live = table.scan(spark, columns=cols)
        collateral = (
            live.filter(~F.coalesce(pred, F.lit(False)))
            .join(keys, on=key, how="left_semi")
            .limit(1)
            .count()
        )
        if collateral:
            raise ValueError(
                f"mor delete on non-unique key {key!r}: a live row NOT matching "
                "the predicate shares a matched key and would be collaterally "
                "deleted; use strategy='mor-pos' (position delete) or 'cow', "
                "or pass verify_key_safety=False if the key is known unique"
            )
    del_dir = os.path.join(table.location, "data", f"delw-{run_id}-deletes")
    keys.repartitionByRange(1, key).write.mode("overwrite").parquet(del_dir)
    del_paths = sorted(glob.glob(os.path.join(del_dir, "part-*.parquet")))
    dels = mf.harvest_stats(del_paths, stat_columns=[key])
    seq = table.next_sequence_number()
    n_keys = sum(f.record_count for f in dels)
    for s in dels:
        s.content = mf.CONTENT_EQ_DELETES
        s.sequence_number = seq
    new_snap = table.replace_files(
        set(), dels, operation="delete-mor",
        summary={"op": "delete-where-mor", "keys": str(n_keys), "run-id": run_id},
        timestamp_ms=timestamp_ms,
        set_properties={"merge-key": key},
    )
    LineageLog(table.location).write(
        LineageRow(
            run_id=run_id, op="delete-mor", partition_id=0,
            files_in=len(candidates), files_out=len(del_paths), rows=n_keys,
            bytes_in=0, bytes_out=sum(f.file_size_bytes for f in dels),
            snapshot_id=new_snap.snapshot_id, status="done",
            output_paths=del_paths,
        )
    )
    return {
        "files_matched": len(candidates),
        "delete_files_out": len(del_paths),
        "deleted_keys": n_keys,
        "snapshot_id": new_snap.snapshot_id,
        "run_id": run_id,
    }


def _delete_where_pos(
    spark: SparkSession,
    table: IceliteTable,
    where: dict,
    candidates: list[mf.DataFile],
    run_id: str,
    timestamp_ms: int | None,
) -> dict:
    """Merge-on-read POSITION delete (Iceberg v2 pos-delete parity): scan
    only the predicate columns + the row address (``_metadata`` file path /
    row index) of candidate files, write the matching addresses as a
    (file_path, pos) delete file sorted by address — no key column needed,
    no data file rewritten. Readers apply it via the pos-aware reader
    (IceliteTable.pos_reader); the next compaction materializes and GCs it.

    vs eq-delete: a position delete is exact row surgery — it never depends
    on a merge key, coexists with any key choice, and the read-side
    anti-join is on (path, pos), which per-file pruning narrows to only the
    addressed files. The write cost is O(matching rows), same as eq."""
    from ..icelite.table import POS_IDX_COL, POS_PATH_COL

    if not candidates:
        return {"files_matched": 0, "delete_files_out": 0, "deleted_positions": 0}
    data = table.read_files(
        spark, [f.path for f in candidates], with_positions=True
    )
    addrs = (
        data.filter(predicate_column(where))
        .select(
            F.col(POS_PATH_COL).alias("file_path"),
            F.col(POS_IDX_COL).alias("pos"),
        )
    )
    del_dir = os.path.join(table.location, "data", f"delp-{run_id}-posdeletes")
    # Iceberg requires pos-delete rows ordered by (file_path, pos); one
    # range partition per delete commit keeps the sidecar a single sorted
    # file whose file_path bounds drive read-side file pruning
    addrs.repartitionByRange(1, "file_path", "pos").sortWithinPartitions(
        "file_path", "pos"
    ).write.mode("overwrite").parquet(del_dir)
    del_paths = sorted(glob.glob(os.path.join(del_dir, "part-*.parquet")))
    dels = mf.harvest_stats(del_paths, stat_columns=["file_path", "pos"])
    seq = table.next_sequence_number()
    n_pos = sum(f.record_count for f in dels)
    for s in dels:
        s.content = mf.CONTENT_POS_DELETES
        s.sequence_number = seq
    new_snap = table.replace_files(
        set(), dels, operation="delete-pos",
        summary={"op": "delete-where-pos", "positions": str(n_pos), "run-id": run_id},
        timestamp_ms=timestamp_ms,
    )
    LineageLog(table.location).write(
        LineageRow(
            run_id=run_id, op="delete-pos", partition_id=0,
            files_in=len(candidates), files_out=len(del_paths), rows=n_pos,
            bytes_in=0, bytes_out=sum(f.file_size_bytes for f in dels),
            snapshot_id=new_snap.snapshot_id, status="done",
            output_paths=del_paths,
        )
    )
    return {
        "files_matched": len(candidates),
        "delete_files_out": len(del_paths),
        "deleted_positions": n_pos,
        "snapshot_id": new_snap.snapshot_id,
        "run_id": run_id,
    }


def _delete_where_dv(
    spark: SparkSession,
    table: IceliteTable,
    where: dict,
    candidates: list[mf.DataFile],
    run_id: str,
    timestamp_ms: int | None,
) -> dict:
    """Merge-on-read DELETE as a DELETION VECTOR (Iceberg v3 parity): the
    matching row addresses are packed into ONE bitmap per addressed data
    file (executor-side grouped-map pack, icelite/dv.py) and committed as a
    single CONTENT_POS_DELETES sidecar with delete_format="dv". Semantics
    are identical to strategy="mor-pos" — exact row surgery, no merge key,
    no data file rewritten — but the sidecar is O(touched files) rows
    instead of O(deleted positions): deleting 1% of a 10^12-row table is a
    few KB of bitmap per touched file, not 10^10 shuffled address rows.
    Readers expand bitmaps lazily (only for files a scan actually touches);
    the next compaction materializes and GCs the sidecar like any
    position delete."""
    from ..icelite import dv as _dv
    from ..icelite.table import POS_IDX_COL, POS_PATH_COL

    if not candidates:
        return {"files_matched": 0, "delete_files_out": 0, "deleted_positions": 0}
    data = table.read_files(
        spark, [f.path for f in candidates], with_positions=True
    )
    addrs = data.filter(predicate_column(where)).select(
        F.col(POS_PATH_COL).alias("file_path"),
        F.col(POS_IDX_COL).alias("pos"),
    )
    del_dir = os.path.join(table.location, "data", f"dv-{run_id}-posdeletes")
    # one row per data file, file_path-sorted in a single sidecar so its
    # file_path bounds drive read-side pruning exactly like v2 sidecars
    (
        _dv.pack_addresses(addrs)
        .repartitionByRange(1, "file_path")
        .sortWithinPartitions("file_path")
        .write.mode("overwrite")
        .parquet(del_dir)
    )
    del_paths = sorted(glob.glob(os.path.join(del_dir, "part-*.parquet")))
    dels = mf.harvest_stats(del_paths, stat_columns=["file_path"])
    dels = [d for d in dels if d.record_count > 0]
    if not dels:
        return {"files_matched": len(candidates), "delete_files_out": 0,
                "deleted_positions": 0}
    seq = table.next_sequence_number()
    n_pos = 0
    for s in dels:
        import pyarrow.parquet as _pq

        # record_count of a delete file = number of DELETE RECORDS
        # (positions), not sidecar rows — one tiny column read per commit
        card = _pq.read_table(s.path, columns=["cardinality"])
        s.record_count = int(
            sum(card.column("cardinality").to_pylist())
        )
        n_pos += s.record_count
        s.content = mf.CONTENT_POS_DELETES
        s.delete_format = mf.DELETE_FORMAT_DV
        s.sequence_number = seq
    new_snap = table.replace_files(
        set(), dels, operation="delete-pos",
        summary={"op": "delete-where-dv", "positions": str(n_pos),
                 "run-id": run_id},
        timestamp_ms=timestamp_ms,
    )
    LineageLog(table.location).write(
        LineageRow(
            run_id=run_id, op="delete-dv", partition_id=0,
            files_in=len(candidates), files_out=len(del_paths), rows=n_pos,
            bytes_in=0, bytes_out=sum(f.file_size_bytes for f in dels),
            snapshot_id=new_snap.snapshot_id, status="done",
            output_paths=del_paths,
        )
    )
    return {
        "files_matched": len(candidates),
        "delete_files_out": len(del_paths),
        "deleted_positions": n_pos,
        "snapshot_id": new_snap.snapshot_id,
        "run_id": run_id,
    }


def update_where(
    spark: SparkSession,
    table: IceliteTable,
    where: dict,
    assignments: dict[str, str],
    target_file_size: int = 128 * 1024 * 1024,
    key: str = "doc_id",
    strategy: str | None = None,
    run_id: str | None = None,
    timestamp_ms: int | None = None,
    _retry_on_delete_conflict: bool = True,
) -> dict:
    """UPDATE table SET <assignments> WHERE <where>. ``assignments`` maps
    column name -> Spark SQL expression string (evaluated against the
    pre-update row, standard UPDATE semantics: all SET expressions see the
    OLD values).

    ``strategy="cow"``: stats-pruned copy-on-write rewrite of every
    candidate file. ``strategy="mor"``: Iceberg v2 merge-on-read UPDATE —
    the old row images are POSITION-deleted ((file_path, pos) sidecar, no
    merge key involved, exact row surgery) and the updated copies appended
    as new data files, all in ONE atomic commit; write cost is O(matching
    rows), no candidate file rewritten. Readers apply the pos-delete via
    the pos-aware scan; the next compaction materializes it.

    ``strategy=None`` consults the Iceberg ``write.update.mode`` table
    property (copy-on-write → cow, merge-on-read → mor), defaulting to
    cow."""
    if strategy is None:
        strategy = table.write_mode("update")
    run_id = run_id or uuid.uuid4().hex[:12]
    schema = table.schema
    for c in assignments:
        if c not in schema.fieldNames():
            raise ValueError(f"no column {c!r}")
    snap = table.current_snapshot()
    files = table.data_files(snap.snapshot_id) if snap else []
    keep = table._where_file_filter(where)
    candidates = [f for f in files if keep(f)]
    if not candidates:
        return {"files_matched": 0, "files_out": 0, "rows_out": 0}
    if strategy == "mor":
        return _update_where_mor(
            spark, table, where, assignments, candidates,
            target_file_size, key, run_id, timestamp_ms,
        )
    if strategy != "cow":
        raise ValueError(f"unknown update strategy {strategy!r}")

    lineage_on = table.row_lineage_enabled()
    seq = table.next_sequence_number()
    pred = predicate_column(where)
    if lineage_on:
        from ..icelite.table import LINEAGE_ROW_ID_COL, LINEAGE_SEQ_COL

        # v3 row lineage through UPDATE: every row keeps its _row_id; rows
        # the predicate selects get _last_updated_sequence_number bumped to
        # this commit's sequence, untouched rows keep theirs (materialized)
        data = table.lineage_read(spark, candidates)
        extra = [
            F.col(LINEAGE_ROW_ID_COL),
            F.when(F.coalesce(pred, F.lit(False)), F.lit(seq))
            .otherwise(F.col(LINEAGE_SEQ_COL))
            .alias(LINEAGE_SEQ_COL),
        ]
    else:
        from ..icelite.mor import mor_scan

        mor_key = table.recorded_merge_key() or key
        data = mor_scan(
            spark, schema, candidates, table.delete_files(), key=mor_key,
            reader=table.pos_reader(spark),
            delete_reader=table._read_delete_keys(spark, mor_key),
        )
        extra = []
    # all SET expressions evaluate against the OLD row: select, don't chain
    projected = data.select(
        *[
            F.when(pred, F.expr(assignments[f.name]).cast(f.dataType))
            .otherwise(F.col(f.name))
            .alias(f.name)
            if f.name in assignments
            else F.col(f.name)
            for f in schema.fields
        ],
        *extra,
    )
    bytes_in = sum(f.file_size_bytes for f in candidates)
    n_out = max(1, -(-bytes_in // target_file_size))
    out_dir = os.path.join(table.location, "data", f"upd-{run_id}")
    projected.repartitionByRange(n_out, key).write.mode("overwrite").parquet(out_dir)
    out_paths = sorted(glob.glob(os.path.join(out_dir, "part-*.parquet")))
    added = mf.harvest_stats(out_paths)
    for s in added:
        s.sequence_number = seq
        if lineage_on:
            s.lineage = mf.LINEAGE_MATERIALIZED
    rows_out = sum(f.record_count for f in added)
    # validate-no-new-deletes: same concurrent-MOR-delete resurrect race
    # as the COW delete path above
    from ..icelite import metadata as _md

    try:
        new_snap = table.replace_files(
            {f.path for f in candidates},
            added,
            operation="update",
            summary={"op": "update-where", "run-id": run_id},
            timestamp_ms=timestamp_ms,
            validate_no_new_deletes_since=snap.snapshot_id if snap else -1,
        )
    except _md.ValidationFailed:
        if not _retry_on_delete_conflict:
            raise
        return update_where(
            spark, table, where, assignments,
            target_file_size=target_file_size, key=key, strategy="cow",
            timestamp_ms=timestamp_ms, _retry_on_delete_conflict=False,
        )
    LineageLog(table.location).write(
        LineageRow(
            run_id=run_id, op="update", partition_id=0,
            files_in=len(candidates), files_out=len(out_paths), rows=rows_out,
            bytes_in=bytes_in,
            bytes_out=sum(f.file_size_bytes for f in added),
            snapshot_id=new_snap.snapshot_id, status="done",
            output_paths=out_paths,
        )
    )
    return {
        "files_matched": len(candidates),
        "files_out": len(out_paths),
        "rows_out": rows_out,
        "snapshot_id": new_snap.snapshot_id,
        "run_id": run_id,
    }


def _update_where_mor(
    spark: SparkSession,
    table: IceliteTable,
    where: dict,
    assignments: dict[str, str],
    candidates: list[mf.DataFile],
    target_file_size: int,
    key: str,
    run_id: str,
    timestamp_ms: int | None,
) -> dict:
    """Merge-on-read UPDATE (Iceberg v2 MOR-update parity): position-delete
    the old images + append the updated copies, one atomic commit.

    Two column-pruned passes over the candidate files, no rewrite:

    1. **Updated copies** — the VISIBLE matching rows (outstanding pos- and
       eq-deletes applied through the same mor_scan every read uses; an
       already-deleted row must not resurrect as an updated copy) with the
       SET expressions applied against the OLD values, appended as new data
       files at the commit's sequence number.
    2. **Position sidecar** — the (file_path, pos) addresses of ALL
       candidate rows matching the predicate, raw-read (``read_files
       with_positions=True``). This is a sound SUPERSET of pass 1's rows:
       an address whose row was already invisible (eq- or pos-deleted) is a
       no-op — the row stays invisible — so the raw read is safe and avoids
       threading per-row visibility through the position scan. Duplicate
       addresses dedupe in the read-side anti-join.

    The sidecar's sequence number gates every candidate file (all older);
    it can never address the freshly-appended copies because addresses are
    (path, pos) of OLD files and paths are never reused."""
    from ..icelite.mor import mor_scan
    from ..icelite.table import POS_IDX_COL, POS_PATH_COL

    schema = table.schema
    pred = predicate_column(where)
    lineage_on = table.row_lineage_enabled()
    new_seq = table.next_sequence_number()

    # pass 1: visible matching rows, SET applied against OLD values
    if lineage_on:
        from ..icelite.table import LINEAGE_ROW_ID_COL, LINEAGE_SEQ_COL

        # v3 row lineage: the updated copy KEEPS the old image's _row_id
        # and records this commit's sequence as its last update
        # (materialized — appended copies must not consume fresh ids)
        visible = table.lineage_read(spark, candidates)
        extra = [
            F.col(LINEAGE_ROW_ID_COL),
            F.lit(new_seq).cast("long").alias(LINEAGE_SEQ_COL),
        ]
    else:
        mor_key = table.recorded_merge_key() or key
        visible = mor_scan(
            spark, schema, candidates, table.delete_files(), key=mor_key,
            reader=table.pos_reader(spark),
            delete_reader=table._read_delete_keys(spark, mor_key),
        )
        extra = []
    updated = visible.filter(pred).select(
        *[
            F.expr(assignments[f.name]).cast(f.dataType).alias(f.name)
            if f.name in assignments
            else F.col(f.name)
            for f in schema.fields
        ],
        *extra,
    )
    out_dir = os.path.join(table.location, "data", f"updm-{run_id}")
    updated.repartitionByRange(1, key).write.mode("overwrite").parquet(out_dir)
    out_paths = sorted(glob.glob(os.path.join(out_dir, "part-*.parquet")))
    added = [a for a in mf.harvest_stats(out_paths) if a.record_count > 0]
    rows_out = sum(f.record_count for f in added)

    # pass 2: position addresses of every matching candidate row (raw read —
    # superset of pass 1, see docstring), (file_path, pos)-sorted sidecar
    addrs = (
        table.read_files(spark, [f.path for f in candidates], with_positions=True)
        .filter(pred)
        .select(
            F.col(POS_PATH_COL).alias("file_path"),
            F.col(POS_IDX_COL).alias("pos"),
        )
    )
    del_dir = os.path.join(table.location, "data", f"updm-{run_id}-posdeletes")
    addrs.repartitionByRange(1, "file_path", "pos").sortWithinPartitions(
        "file_path", "pos"
    ).write.mode("overwrite").parquet(del_dir)
    del_paths = sorted(glob.glob(os.path.join(del_dir, "part-*.parquet")))
    dels = [
        d
        for d in mf.harvest_stats(del_paths, stat_columns=["file_path", "pos"])
        if d.record_count > 0
    ]
    n_pos = sum(f.record_count for f in dels)

    seq = new_seq
    for s in added:
        s.sequence_number = seq
        if lineage_on:
            s.lineage = mf.LINEAGE_MATERIALIZED
    for s in dels:
        s.content = mf.CONTENT_POS_DELETES
        s.sequence_number = seq

    new_snap = table.replace_files(
        set(), added + dels, operation="update-mor",
        summary={
            "op": "update-where-mor",
            "positions": str(n_pos),
            "rows-appended": str(rows_out),
            "run-id": run_id,
        },
        timestamp_ms=timestamp_ms,
    )
    LineageLog(table.location).write(
        LineageRow(
            run_id=run_id, op="update-mor", partition_id=0,
            files_in=len(candidates), files_out=len(out_paths) + len(del_paths),
            rows=rows_out, bytes_in=0,
            bytes_out=sum(f.file_size_bytes for f in added + dels),
            snapshot_id=new_snap.snapshot_id, status="done",
            output_paths=out_paths + del_paths,
        )
    )
    return {
        "files_matched": len(candidates),
        "files_out": len(out_paths),
        "delete_files_out": len(del_paths),
        "rows_out": rows_out,
        "deleted_positions": n_pos,
        "snapshot_id": new_snap.snapshot_id,
        "run_id": run_id,
    }
