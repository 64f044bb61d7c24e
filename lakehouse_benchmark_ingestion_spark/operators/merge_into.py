"""MERGE INTO (primary-key upsert) as a stats-pruned copy-on-write rewrite.

The reference's upsert is a format flag: ``write.upsert.enabled=true`` turns
every INSERT into an eq-delete+insert on the PK (IcebergCatalogSync.java:
112-114; Arctic same, ArcticCatalogSync.java:129-131); Hudi locates the file
group per key with an 8-bucket hash index (HudiCatalogSync.java:151-159).
Our engine implements the semantics Spark-first (SURVEY.md §2.3 J1):

1. **Last-writer-wins dedup** of the update batch on ``_seq``
   (``row_number`` window — one shuffle of the small batch).
2. **File pruning**: per-file doc_id min/max from the manifest joined
   (broadcast, range-overlap theta join) against update keys → only files
   that could contain an updated key are rewritten. At 10^12 sequences this
   is the difference between rewriting GBs and rewriting the table.
3. **COW rewrite**: ``matched_data LEFT ANTI JOIN winners`` (unchanged rows)
   ``UNION ALL winners`` (updated + brand-new keys) → new files → one atomic
   replace-files snapshot. The winners side is broadcast when small.

Inserts need no existence check beyond the matched files: a key contained in
ANY data file necessarily overlaps that file's min/max range, so keys
missing from the matched set are guaranteed new.
"""

from __future__ import annotations

import glob
import os
import uuid

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..icelite import manifest as mf
from ..icelite.table import IceliteTable
from ..plans.lineage import LineageLog, LineageRow

# update batches up to this many rows ride broadcast joins (executor-side)
BROADCAST_THRESHOLD_ROWS = 2_000_000
# the driver-side bisect pruning path collects DISTINCT update keys to the
# driver — bounded far lower than the broadcast threshold (2M Python string
# keys is multi-GB of driver heap); bigger batches use the distributed
# range-overlap join below, which never moves the keys
DRIVER_PRUNE_THRESHOLD_ROWS = 100_000


def merge_into(
    spark: SparkSession,
    table: IceliteTable,
    updates: DataFrame,
    key: str = "doc_id",
    seq_col: str = "_seq",
    run_id: str | None = None,
    target_file_size: int = 128 * 1024 * 1024,
    timestamp_ms: int | None = None,
    strategy: str | None = None,
    branch: str | None = None,
) -> dict:
    """``strategy="cow"``: stats-pruned copy-on-write rewrite (default).
    ``strategy="mor"``: merge-on-read — write the update batch as new data
    files plus an equality-delete file of the batch keys; NO existing file
    is rewritten and readers apply the deletes at scan time (icelite/mor.py)
    — exactly the write-side behavior the reference configures with
    ``format-version=2`` + ``write.upsert.enabled`` (IcebergCatalogSync.java:
    112-115): every upsert row becomes eq-delete + insert. COW pays at write
    (rewrite matched files), MOR pays at read (anti-join) until compaction
    materializes the deletes.

    ``strategy=None`` consults the Iceberg ``write.merge.mode`` table
    property (copy-on-write → cow, merge-on-read → mor), defaulting to
    cow.

    ``branch="audit"`` runs the whole merge against the BRANCH head and
    commits only the branch ref (write-audit-publish for upserts —
    Iceberg's ``spark.wap.branch`` applied to MERGE): main readers see
    nothing until ``fast_forward(branch)`` publishes."""
    if strategy is None:
        strategy = table.write_mode("merge")
    lineage_on = table.row_lineage_enabled()
    if lineage_on and strategy != "cow":
        # MOR merge writes eq-deletes, which cannot address row ids and
        # are refused at commit on lineage tables. COW carries: survivors
        # and updated rows keep their _row_id (v3 writer contract, see
        # _merge_cow_lineage), inserts get fresh ids inside the commit.
        raise ValueError(
            f"merge strategy {strategy!r} is not supported on row-lineage "
            "tables (eq-deletes cannot carry row ids): use strategy='cow'"
        )
    run_id = run_id or uuid.uuid4().hex[:12]
    if branch is not None:
        snap = table.meta.snapshot(table.resolve_ref(branch))
    else:
        snap = table.current_snapshot()
    files = table.data_files(snap.snapshot_id) if snap else []
    base_sid = snap.snapshot_id if snap else None

    # 1. last-writer-wins within the batch
    w = Window.partitionBy(key).orderBy(F.col(seq_col).desc())
    winners = (
        updates.withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") == 1)
        .drop("_rn", seq_col)
    )
    winners = winners.cache()
    n_updates = winners.count()

    if strategy == "mor":
        return _merge_mor(
            spark, table, winners, n_updates, key, run_id, target_file_size,
            timestamp_ms, branch=branch,
        )
    if strategy != "cow":
        raise ValueError(f"unknown merge strategy {strategy!r}")

    spec = table.bucket_spec
    if (
        branch is None  # bucketed fast path not wired for branch commits
        and not lineage_on  # bucketed rewrite does not carry row ids
        and spec is not None
        and spec[0] == key
        and not table.delete_files()
        # files with bucket == -1 (written before bucket properties existed,
        # or with lost tags) are invisible to the per-bucket anti-join — an
        # upsert of a key living there would duplicate. Fall through to the
        # generic COW path, which rewrites by key-range overlap instead.
        and all(f.bucket != -1 for f in files)
    ):
        return _merge_bucketed(
            spark, table, winners, n_updates, spec, run_id, target_file_size,
            timestamp_ms, files,
            base_snapshot_id=snap.snapshot_id if snap else -1,
        )
    # broadcast only where winners participates in a join (anti/overlap);
    # the union side uses the plain plan.
    winners_j = F.broadcast(winners) if n_updates <= BROADCAST_THRESHOLD_ROWS else winners

    # 2. stats-based file pruning: range-overlap of update keys against
    # per-file min/max (manifest stats). Two paths:
    #   - small update set (the common upsert shape): collect the sorted
    #     distinct keys once and binary-search each file's [min,max] on the
    #     driver — O(files · log keys), no extra Spark job;
    #   - huge update set: distributed range-overlap join with the tiny
    #     file-stats side broadcast (keys never move).
    matched_paths: list[str] = []
    prunable = [f for f in files if key in f.lower_bounds and key in f.upper_bounds]
    prunable_paths = {f.path for f in prunable}
    unprunable = [f for f in files if f.path not in prunable_paths]
    if prunable and n_updates <= DRIVER_PRUNE_THRESHOLD_ROWS:
        import bisect

        keys_sorted = sorted(r[0] for r in winners.select(key).distinct().collect())
        for f in prunable:
            lo, hi = f.lower_bounds[key], f.upper_bounds[key]
            # NATIVE comparison (stats round-trip JSON with native types);
            # incomparable stat/key types → conservatively rewrite the file
            try:
                i = bisect.bisect_left(keys_sorted, lo)
                if i < len(keys_sorted) and keys_sorted[i] <= hi:
                    matched_paths.append(f.path)
            except TypeError:
                matched_paths.append(f.path)
    elif prunable:
        key_dt = table.schema[key].dataType.simpleString()
        try:
            stats_df = spark.createDataFrame(
                [(f.path, f.lower_bounds[key], f.upper_bounds[key]) for f in prunable],
                schema=f"path string, kmin {key_dt}, kmax {key_dt}",
            )
        except Exception:  # stats not coercible to the key type → no pruning
            stats_df = None
            matched_paths.extend(f.path for f in prunable)
        if stats_df is not None:
            hit = (
                winners_j.select(F.col(key).alias("_k"))
                .join(
                    F.broadcast(stats_df),
                    (F.col("_k") >= F.col("kmin")) & (F.col("_k") <= F.col("kmax")),
                )
                .select("path")
                .distinct()
            )
            matched_paths = [r.path for r in hit.collect()]
    matched_paths.extend(f.path for f in unprunable)  # no stats → must rewrite

    # 3. copy-on-write rewrite of matched files only
    schema = table.schema
    seq = table.next_sequence_number()
    file_by_path = {f.path: f for f in files}
    matched_bytes = sum(file_by_path[p].file_size_bytes for p in matched_paths)
    n_out = max(1, -(-matched_bytes // target_file_size))
    if lineage_on:
        out_paths, added, rows_out = _merge_cow_lineage(
            spark, table, winners, winners_j, matched_paths, file_by_path,
            base_sid, key, seq, n_out, target_file_size, run_id,
            matched_bytes,
        )
    else:
        if matched_paths:
            # apply any outstanding eq-delete files (a prior merge-on-read
            # commit) while reading — rewritten rows must not resurrect. The
            # deletes apply under the key RECORDED when they were written,
            # which may differ from this merge's key.
            from ..icelite.mor import mor_scan

            mor_key = table.recorded_merge_key() or key
            matched_data = mor_scan(
                spark, schema, [file_by_path[p] for p in matched_paths],
                table.delete_files(base_sid), key=mor_key,
                reader=table.pos_reader(spark, base_sid),
                delete_reader=table._read_delete_keys(spark, mor_key),
            )
            unchanged = matched_data.join(winners_j.select(key), key, "left_anti")
            new_data = unchanged.unionByName(winners.select(*[f.name for f in schema.fields]))
        else:
            new_data = winners.select(*[f.name for f in schema.fields])

        # range-partition the rewrite on the key: keeps every task busy (a
        # coalesce here would collapse the join's parallelism into n_out
        # tasks) AND gives the new files disjoint key ranges → future
        # merges prune well.
        out_dir = os.path.join(table.location, "data", f"mg-{run_id}")
        new_data.repartitionByRange(n_out, key).write.mode("overwrite").parquet(out_dir)
        out_paths = sorted(glob.glob(os.path.join(out_dir, "part-*.parquet")))
        added = mf.harvest_stats(out_paths)
        for s in added:
            s.sequence_number = seq
        rows_out = sum(f.record_count for f in added)

    # validate-no-new-deletes (same race as compaction): a MOR delete
    # committed after this merge pinned its snapshot was neither applied in
    # the matched-file read above nor sequence-gates the outputs — abort
    # rather than resurrect (caller retries the merge from the new head)
    new_snap = table.replace_files(
        set(matched_paths),
        added,
        operation="merge",
        summary={"op": "merge", "updates": str(n_updates), "run-id": run_id},
        timestamp_ms=timestamp_ms,
        validate_no_new_deletes_since=snap.snapshot_id if snap else -1,
        branch=branch,
    )
    LineageLog(table.location).write(
        LineageRow(
            run_id=run_id,
            op="merge",
            partition_id=0,
            files_in=len(matched_paths),
            files_out=len(out_paths),
            rows=rows_out,
            bytes_in=matched_bytes,
            bytes_out=sum(f.file_size_bytes for f in added),
            snapshot_id=new_snap.snapshot_id,
            status="done",
            output_paths=out_paths,
        )
    )
    winners.unpersist()
    return {
        "updates": n_updates,
        "files_matched": len(matched_paths),
        "files_total": len(files),
        "files_out": len(out_paths),
        "rows_out": rows_out,
        "snapshot_id": new_snap.snapshot_id,
        "run_id": run_id,
    }


def _merge_cow_lineage(
    spark: SparkSession,
    table: IceliteTable,
    winners: DataFrame,
    winners_j: DataFrame,
    matched_paths: list[str],
    file_by_path: dict,
    base_sid: int | None,
    key: str,
    seq: int,
    n_out: int,
    target_file_size: int,
    run_id: str,
    matched_bytes: int,
) -> tuple[list[str], list, int]:
    """COW merge on a row-lineage table — Iceberg v3 carry-over semantics:

      - UNCHANGED rows in rewritten files keep their (_row_id,
        _last_updated_sequence_number) verbatim;
      - UPDATED rows (key on both sides) keep the OLD image's ``_row_id``
        and get ``_last_updated_sequence_number`` bumped to this commit's
        sequence — so the key-free lineage changelog pairs them as one
        update, never delete+insert;
      - INSERTED rows (key only in the batch) are written WITHOUT lineage
        columns and receive fresh ids from the table counter inside the
        atomic commit (``replace_files`` → ``_assign_row_ids``), exactly
        like an append.

    Rewritten files therefore materialize the lineage columns
    (``lineage="materialized"``) while insert files stay plain — mixing
    both in one commit is safe because id assignment skips materialized
    entries. The read applies position deletes / DVs under the planning
    snapshot (``lineage_read``), so a DV-deleted key re-upserted by the
    batch correctly becomes an insert with a FRESH id.

    A key held by several base rows (the table has no uniqueness
    constraint) yields ONE updated row, like the plain COW path: it keeps
    the smallest of those rows' ``_row_id``s and the other ids retire."""
    from ..icelite.table import LINEAGE_ROW_ID_COL, LINEAGE_SEQ_COL

    schema = table.schema
    cols = [f.name for f in schema.fields]
    matched_data = table.lineage_read(
        spark, [file_by_path[p] for p in matched_paths], snapshot_id=base_sid
    )
    rid_map = matched_data.groupBy(key).agg(
        F.min(LINEAGE_ROW_ID_COL).alias(LINEAGE_ROW_ID_COL)
    )
    unchanged = matched_data.join(winners_j.select(key), key, "left_anti")
    updated = winners.join(rid_map, key, "inner").select(
        *cols,
        F.col(LINEAGE_ROW_ID_COL),
        F.lit(seq).cast("long").alias(LINEAGE_SEQ_COL),
    )
    inserts = winners.join(rid_map.select(key), key, "left_anti").select(*cols)

    out_paths: list[str] = []
    added: list[mf.DataFile] = []
    if matched_paths:
        rw_dir = os.path.join(table.location, "data", f"mg-{run_id}")
        rewritten = unchanged.select(
            *cols, LINEAGE_ROW_ID_COL, LINEAGE_SEQ_COL
        ).unionByName(updated)
        rewritten.repartitionByRange(n_out, key).write.mode(
            "overwrite"
        ).parquet(rw_dir)
        rw_paths = sorted(glob.glob(os.path.join(rw_dir, "part-*.parquet")))
        rw_stats = mf.harvest_stats(rw_paths)
        for s in rw_stats:
            s.sequence_number = seq
            s.lineage = mf.LINEAGE_MATERIALIZED
        out_paths.extend(rw_paths)
        added.extend(rw_stats)

    # inserts sized from the matched files' observed bytes/row (falls back
    # to one file when the table was empty)
    rows_matched = sum(file_by_path[p].record_count for p in matched_paths)
    row_bytes = (matched_bytes / rows_matched) if rows_matched else 256.0
    ins_dir = os.path.join(table.location, "data", f"mg-{run_id}-ins")
    # upper bound: every winner could be an insert
    n_winners = winners.count()
    n_ins = max(1, -(-int(n_winners * row_bytes) // target_file_size))
    inserts.repartitionByRange(n_ins, key).write.mode("overwrite").parquet(
        ins_dir
    )
    ins_paths = sorted(glob.glob(os.path.join(ins_dir, "part-*.parquet")))
    ins_stats = [s for s in mf.harvest_stats(ins_paths) if s.record_count]
    for s in ins_stats:
        s.sequence_number = seq
    out_paths.extend(s.path for s in ins_stats)
    added.extend(ins_stats)
    rows_out = sum(f.record_count for f in added)
    return out_paths, added, rows_out


def _merge_bucketed(
    spark: SparkSession,
    table: IceliteTable,
    winners: DataFrame,
    n_updates: int,
    spec: tuple[str, int],
    run_id: str,
    target_file_size: int,
    timestamp_ms: int | None,
    files: list[mf.DataFile],
    base_snapshot_id: int = -1,
) -> dict:
    """Hash-bucket co-located COW merge (the reference's Hudi bucket index,
    HudiCatalogSync.java:151-159): every key lives in exactly one bucket, so
    the upsert touches ONLY the buckets its keys hash into, each bucket is an
    independent concurrent job (no global shuffle of table data — only the
    small update batch moves), and each bucket's update slice rides a
    broadcast anti-join. Per-bucket lineage rows make the run resumable with
    the same run_id (finished buckets are skipped, like compaction groups).
    """
    from concurrent.futures import ThreadPoolExecutor

    from ..functions.hashing import bucket_expr

    key, n_buckets = spec
    schema = table.schema
    cols = [f.name for f in schema.fields]
    seq = table.next_sequence_number()

    winners_b = winners.withColumn("_b", bucket_expr(key, n_buckets))
    touched = sorted(
        r["_b"] for r in winners_b.select("_b").distinct().collect()
    )
    by_bucket: dict[int, list[mf.DataFile]] = {}
    for f in files:
        by_bucket.setdefault(f.bucket, []).append(f)

    log = LineageLog(table.location)
    done = log.done_tasks(run_id, "merge-bucket")

    removed: set[str] = set()
    added: list[mf.DataFile] = []
    resumed = 0

    def run_one(b: int) -> tuple[int, list[str]]:
        files_b = by_bucket.get(b, [])
        upd_b = winners_b.filter(F.col("_b") == b).select(*cols)
        if files_b:
            # pos-aware read: the per-bucket rewrite must not resurrect
            # position-deleted rows (eq-deletes are excluded by the
            # bucketed fast path's guard; pos-deletes are reader-applied)
            data = table.pos_reader(spark)([f.path for f in files_b])
            unchanged = data.join(F.broadcast(upd_b.select(key)), key, "left_anti")
            new_data = unchanged.unionByName(upd_b)
        else:
            new_data = upd_b
        bytes_b = sum(f.file_size_bytes for f in files_b)
        n_out = max(1, -(-bytes_b // target_file_size))
        out_dir = os.path.join(table.location, "data", f"mgb-{run_id}-b{b:05d}")
        new_data.repartitionByRange(n_out, key).write.mode("overwrite").parquet(out_dir)
        out_paths = sorted(glob.glob(os.path.join(out_dir, "part-*.parquet")))
        log.write(
            LineageRow(
                run_id=run_id,
                op="merge-bucket",
                partition_id=b,
                files_in=len(files_b),
                files_out=len(out_paths),
                rows=sum(f.record_count for f in files_b),
                bytes_in=bytes_b,
                bytes_out=sum(os.path.getsize(p) for p in out_paths),
                snapshot_id=table.current_snapshot().snapshot_id if table.current_snapshot() else -1,
                status="done",
                output_paths=out_paths,
            )
        )
        return b, out_paths

    todo = []
    for b in touched:
        if b in done:
            row = done[b]
            removed.update(f.path for f in by_bucket.get(b, []))
            added_paths_b = row.output_paths or []
            st = mf.harvest_stats(added_paths_b)
            for s in st:
                s.bucket = b
            added.extend(st)
            resumed += 1
        else:
            todo.append(b)

    if todo:
        with ThreadPoolExecutor(max_workers=min(8, len(todo))) as pool:
            for b, out_paths in pool.map(run_one, todo):
                removed.update(f.path for f in by_bucket.get(b, []))
                st = mf.harvest_stats(out_paths)
                for s in st:
                    s.bucket = b
                added.extend(st)

    for s in added:
        s.sequence_number = seq

    new_snap = table.replace_files(
        removed,
        added,
        operation="merge",
        summary={
            "op": "merge-bucketed",
            "updates": str(n_updates),
            "buckets": str(len(touched)),
            "run-id": run_id,
        },
        timestamp_ms=timestamp_ms,
        # bucketed merge requires no outstanding deletes at entry (guard in
        # merge_into); abort if one landed mid-rewrite (same resurrect race)
        validate_no_new_deletes_since=base_snapshot_id,
    )
    winners.unpersist()
    return {
        "updates": n_updates,
        "buckets_touched": len(touched),
        "buckets_total": n_buckets,
        "buckets_resumed": resumed,
        "files_matched": len(removed),
        "files_total": len(files),
        "files_out": len(added),
        "rows_out": sum(f.record_count for f in added),
        "snapshot_id": new_snap.snapshot_id,
        "run_id": run_id,
    }


def _merge_mor(
    spark: SparkSession,
    table: IceliteTable,
    winners: DataFrame,
    n_updates: int,
    key: str,
    run_id: str,
    target_file_size: int,
    timestamp_ms: int | None,
    branch: str | None = None,
) -> dict:
    """Write-side of merge-on-read: batch → new data files + eq-delete file.

    Work is O(batch size) regardless of table size — at 10^12 sequences this
    is the only upsert shape whose cost does not grow with the table. The
    deferred cost lands on readers (mor_scan anti-join) and is retired by
    the next compaction/clustering pass, which materializes the deletes.
    """
    schema = table.schema
    seq = table.next_sequence_number()

    # estimate output sizing from current table stats (bytes/row)
    data_files = table.data_files()
    if data_files and sum(f.record_count for f in data_files) > 0:
        row_bytes = sum(f.file_size_bytes for f in data_files) / sum(
            f.record_count for f in data_files
        )
    else:
        row_bytes = 512.0
    n_out = max(1, -(-int(n_updates * row_bytes) // target_file_size))

    out_dir = os.path.join(table.location, "data", f"mgm-{run_id}")
    cols = [f.name for f in schema.fields]
    winners.select(*cols).repartitionByRange(n_out, key).write.mode(
        "overwrite"
    ).parquet(out_dir)
    out_paths = sorted(glob.glob(os.path.join(out_dir, "part-*.parquet")))

    del_dir = os.path.join(table.location, "data", f"mgm-{run_id}-deletes")
    winners.select(key).repartitionByRange(
        max(1, n_updates // 5_000_000 + 1), key
    ).write.mode("overwrite").parquet(del_dir)
    del_paths = sorted(glob.glob(os.path.join(del_dir, "part-*.parquet")))

    added = mf.harvest_stats(out_paths)
    dels = mf.harvest_stats(del_paths, stat_columns=[key])
    for s in added:
        s.sequence_number = seq
    for s in dels:
        s.content = mf.CONTENT_EQ_DELETES
        s.sequence_number = seq

    # persist the eq-delete key on the table: scans/compactions MUST apply
    # these delete files under this exact column (a later scan defaulting to
    # a different key would read all-null keys and resurrect deleted rows)
    recorded = table.recorded_merge_key()
    if recorded is not None and recorded != key and table.delete_files():
        raise ValueError(
            f"merge-on-read with key={key!r} but outstanding eq-delete files "
            f"were written under {recorded!r}; compact first to materialize them"
        )
    new_snap = table.replace_files(
        set(),
        added + dels,
        operation="merge-mor",
        summary={"op": "merge-mor", "updates": str(n_updates), "run-id": run_id},
        timestamp_ms=timestamp_ms,
        set_properties={"merge-key": key},
        branch=branch,
    )
    LineageLog(table.location).write(
        LineageRow(
            run_id=run_id,
            op="merge-mor",
            partition_id=0,
            files_in=0,
            files_out=len(out_paths) + len(del_paths),
            rows=sum(f.record_count for f in added),
            bytes_in=0,
            bytes_out=sum(f.file_size_bytes for f in added + dels),
            snapshot_id=new_snap.snapshot_id,
            status="done",
            output_paths=out_paths + del_paths,
        )
    )
    winners.unpersist()
    return {
        "updates": n_updates,
        "files_matched": 0,
        "files_out": len(out_paths),
        "delete_files_out": len(del_paths),
        "rows_out": sum(f.record_count for f in added),
        "snapshot_id": new_snap.snapshot_id,
        "run_id": run_id,
    }
