"""Position-delete rewrite: merge many small pos-delete files into one.

The icelite analogue of Iceberg's ``rewrite_position_delete_files``
maintenance action. Every ``delete-where --strategy mor-pos`` commit adds
one (file_path, pos) sidecar; a steady trickle of row-level deletes leaves
the read path anti-joining against N small delete files and the planner
evaluating N sets of file_path bounds. This action:

  1. unions every live pos-delete file,
  2. drops DANGLING addresses — rows naming data files that no longer
     exist in the current snapshot (their file was since rewritten by a
     COW delete/update or compaction, which applied the positions into
     its outputs and removed the path),
  3. writes one (file_path, pos)-sorted replacement file and atomically
     swaps it for the originals (pure metadata + one small sidecar write;
     data files untouched, scans bit-identical).

Sequence-number safety: pos-delete addresses name exact (path, pos)
coordinates and icelite paths are never reused, so widening the merged
file's sequence number to the max of its inputs cannot make a delete apply
to a row it didn't before — every addressed file existed when its original
delete committed (fseq <= original dseq <= merged dseq).

At 100 TB the union/sort is a distributed Spark job over the delete
sidecars only (O(deleted rows), not O(table)); the dangling filter is a
broadcast semi-join against the live-path list (file counts are manifest
metadata, millions at most — far under the data itself).
"""

from __future__ import annotations

import glob
import os
import uuid

from pyspark.sql import SparkSession
from pyspark.sql import functions as F

from ..icelite import dv as _dv
from ..icelite import manifest as mf
from ..icelite.table import IceliteTable
from ..plans.lineage import LineageLog, LineageRow


def rewrite_position_deletes(
    spark: SparkSession,
    table: IceliteTable,
    min_delete_files: int = 2,
    run_id: str | None = None,
    timestamp_ms: int | None = None,
) -> dict:
    run_id = run_id or uuid.uuid4().hex[:12]
    pos_dels = table.pos_delete_files()
    if len(pos_dels) < min_delete_files:
        return {"delete_files_in": len(pos_dels), "delete_files_out": 0}

    live_paths = [f.path for f in table.data_files()]
    addrs = _dv.sidecar_addresses(spark, pos_dels)
    live = spark.createDataFrame([(p,) for p in live_paths], "file_path string")
    merged = (
        addrs.join(F.broadcast(live), "file_path", "left_semi")
        .distinct()
        .repartitionByRange(1, "file_path", "pos")
        .sortWithinPartitions("file_path", "pos")
    )
    out_dir = os.path.join(table.location, "data", f"posrw-{run_id}-posdeletes")
    merged.write.mode("overwrite").parquet(out_dir)
    out_paths = sorted(glob.glob(os.path.join(out_dir, "part-*.parquet")))
    added = mf.harvest_stats(out_paths, stat_columns=["file_path", "pos"])
    added = [a for a in added if a.record_count > 0]
    seq = max(d.sequence_number for d in pos_dels)
    for a in added:
        a.content = mf.CONTENT_POS_DELETES
        a.sequence_number = seq

    n_in_rows = sum(d.record_count for d in pos_dels)
    n_out_rows = sum(a.record_count for a in added)
    snap = table.replace_files(
        {d.path for d in pos_dels},
        added,
        operation="replace",
        summary={
            "op": "rewrite-pos-deletes",
            "delete-files-in": str(len(pos_dels)),
            "delete-files-out": str(len(added)),
            "dangling-dropped": str(n_in_rows - n_out_rows),
            "run-id": run_id,
        },
        timestamp_ms=timestamp_ms,
    )
    LineageLog(table.location).write(
        LineageRow(
            run_id=run_id, op="rewrite-pos-deletes", partition_id=0,
            files_in=len(pos_dels), files_out=len(added), rows=n_out_rows,
            bytes_in=sum(d.file_size_bytes for d in pos_dels),
            bytes_out=sum(a.file_size_bytes for a in added),
            snapshot_id=snap.snapshot_id, status="done",
            output_paths=out_paths,
        )
    )
    return {
        "delete_files_in": len(pos_dels),
        "delete_files_out": len(added),
        "positions_in": n_in_rows,
        "positions_out": n_out_rows,
        "snapshot_id": snap.snapshot_id,
        "run_id": run_id,
    }


def convert_eq_deletes_to_pos(
    spark: SparkSession,
    table: IceliteTable,
    run_id: str | None = None,
    timestamp_ms: int | None = None,
) -> dict:
    """Convert every live EQUALITY-delete file into one sorted POSITION-
    delete sidecar (the delete-file evolution direction Iceberg v3 takes):
    resolve exactly the rows each eq-delete suppresses at the current
    snapshot — the v2 sequence rule, delete hits strictly-older files
    only — and re-express them as (file_path, pos) addresses.

    Why a maintenance action: streaming MERGE/DELETE accumulates one
    eq-delete sidecar per micro-batch; every scan then pays a key anti-join
    over every data file any delete's key range overlaps. Position form is
    strictly cheaper to read (file-pruned by path bounds, no key join, no
    per-sequence bookkeeping) and further merges via
    ``rewrite_position_deletes``. Soundness: an eq-delete's effect on the
    EXISTING files is frozen (future files always carry higher sequence
    numbers, which eq-deletes never gate), so materializing the suppressed
    set as exact addresses changes no scan, now or later.

    Scale shape: only data files some delete can actually hit (older than
    the newest delete AND key-range-overlapping) are read, key column +
    row address only; the join is keys-vs-rows with the (typically small)
    delete side broadcast-able. O(affected rows), never O(table)."""
    from functools import reduce

    from pyspark.sql import DataFrame

    from ..icelite.mor import _ranges_overlap

    run_id = run_id or uuid.uuid4().hex[:12]
    eq_dels = table.delete_files()
    if not eq_dels:
        return {"eq_delete_files_in": 0, "pos_delete_files_out": 0}
    key = table.recorded_merge_key() or "doc_id"
    snap = table.current_snapshot()
    data = table.data_files(snap.snapshot_id)
    max_dseq = max(d.sequence_number for d in eq_dels)
    affected = [
        f
        for f in data
        if f.sequence_number < max_dseq
        and any(
            d.sequence_number > f.sequence_number and _ranges_overlap(f, d, key)
            for d in eq_dels
        )
    ]

    added: list[mf.DataFile] = []
    n_pos = 0
    if affected:
        # delete keys with their sequence numbers (per-seq file groups)
        dk_reader = table._read_delete_keys(spark, key)
        by_dseq: dict[int, list[str]] = {}
        for d in eq_dels:
            by_dseq.setdefault(d.sequence_number, []).append(d.path)
        keys = reduce(
            DataFrame.unionByName,
            [
                dk_reader(paths).withColumn("_dseq", F.lit(seq).cast("long"))
                for seq, paths in sorted(by_dseq.items())
            ],
        ).groupBy(key).agg(F.max("_dseq").alias("_dseq"))

        # affected rows: key + address + file sequence (per-seq read groups)
        by_fseq: dict[int, list[str]] = {}
        for f in affected:
            by_fseq.setdefault(f.sequence_number, []).append(f.path)
        from ..icelite.table import POS_IDX_COL, POS_PATH_COL

        rows = reduce(
            DataFrame.unionByName,
            [
                table.read_files(spark, paths, with_positions=True)
                .select(
                    F.col(key),
                    F.col(POS_PATH_COL).alias("file_path"),
                    F.col(POS_IDX_COL).alias("pos"),
                    F.lit(seq).cast("long").alias("_fseq"),
                )
                for seq, paths in sorted(by_fseq.items())
            ],
        )
        suppressed = (
            rows.join(keys, on=key, how="inner")
            .filter(F.col("_dseq") > F.col("_fseq"))
            .select("file_path", "pos")
        )
        out_dir = os.path.join(
            table.location, "data", f"eq2pos-{run_id}-posdeletes"
        )
        suppressed.repartitionByRange(1, "file_path", "pos").sortWithinPartitions(
            "file_path", "pos"
        ).write.mode("overwrite").parquet(out_dir)
        out_paths = sorted(glob.glob(os.path.join(out_dir, "part-*.parquet")))
        added = [
            a
            for a in mf.harvest_stats(out_paths, stat_columns=["file_path", "pos"])
            if a.record_count > 0
        ]
        seq = table.next_sequence_number()
        for a in added:
            a.content = mf.CONTENT_POS_DELETES
            a.sequence_number = seq
        n_pos = sum(a.record_count for a in added)

    new_snap = table.replace_files(
        {d.path for d in eq_dels},
        added,
        operation="replace",
        summary={
            "op": "convert-eq-deletes-to-pos",
            "eq-files-in": str(len(eq_dels)),
            "pos-files-out": str(len(added)),
            "positions": str(n_pos),
            "run-id": run_id,
        },
        timestamp_ms=timestamp_ms,
        validate_no_new_deletes_since=snap.snapshot_id,
    )
    LineageLog(table.location).write(
        LineageRow(
            run_id=run_id, op="eq-to-pos", partition_id=0,
            files_in=len(eq_dels), files_out=len(added), rows=n_pos,
            bytes_in=sum(d.file_size_bytes for d in eq_dels),
            bytes_out=sum(a.file_size_bytes for a in added),
            snapshot_id=new_snap.snapshot_id, status="done",
            output_paths=[a.path for a in added],
        )
    )
    return {
        "eq_delete_files_in": len(eq_dels),
        "pos_delete_files_out": len(added),
        "positions": n_pos,
        "snapshot_id": new_snap.snapshot_id,
        "run_id": run_id,
    }


def convert_pos_deletes_to_dv(
    spark: SparkSession,
    table: IceliteTable,
    min_delete_files: int = 1,
    run_id: str | None = None,
    timestamp_ms: int | None = None,
) -> dict:
    """Rewrite every live position-delete sidecar — v2 row files and
    existing deletion vectors alike — into ONE v3 deletion-vector sidecar:
    one bitmap row per still-live addressed data file (Iceberg v3's
    "position delete files must be rewritten as DVs" table-upgrade step).

    Same swap semantics as rewrite_position_deletes (dangling addresses
    dropped via a broadcast semi-join against live paths; merged sequence
    number = max of inputs, sound because paths are never reused), but the
    output is O(touched files) rows instead of O(deleted positions): the
    steady-state read cost of a heavily-deleted table becomes one bitmap
    fetch per scanned file. The pack runs executor-side (grouped-map
    pandas UDF); the driver never sees a position."""
    run_id = run_id or uuid.uuid4().hex[:12]
    pos_dels = table.pos_delete_files()
    already_one_dv = (
        len(pos_dels) == 1
        and pos_dels[0].delete_format == mf.DELETE_FORMAT_DV
    )
    if len(pos_dels) < min_delete_files or already_one_dv:
        return {"delete_files_in": len(pos_dels), "delete_files_out": 0}

    live = spark.createDataFrame(
        [(f.path,) for f in table.data_files()], "file_path string"
    )
    merged = _dv.sidecar_addresses(spark, pos_dels).join(
        F.broadcast(live), "file_path", "left_semi"
    )
    out_dir = os.path.join(table.location, "data", f"dvrw-{run_id}-posdeletes")
    (
        _dv.pack_addresses(merged)
        .repartitionByRange(1, "file_path")
        .sortWithinPartitions("file_path")
        .write.mode("overwrite")
        .parquet(out_dir)
    )
    out_paths = sorted(glob.glob(os.path.join(out_dir, "part-*.parquet")))
    added = mf.harvest_stats(out_paths, stat_columns=["file_path"])
    added = [a for a in added if a.record_count > 0]
    seq = max(d.sequence_number for d in pos_dels)
    n_out_rows = 0
    for a in added:
        import pyarrow.parquet as _pq

        card = _pq.read_table(a.path, columns=["cardinality"])
        a.record_count = int(sum(card.column("cardinality").to_pylist()))
        n_out_rows += a.record_count
        a.content = mf.CONTENT_POS_DELETES
        a.delete_format = mf.DELETE_FORMAT_DV
        a.sequence_number = seq

    n_in_rows = sum(d.record_count for d in pos_dels)
    snap = table.replace_files(
        {d.path for d in pos_dels},
        added,
        operation="replace",
        summary={
            "op": "convert-pos-to-dv",
            "delete-files-in": str(len(pos_dels)),
            "delete-files-out": str(len(added)),
            "dangling-dropped": str(max(0, n_in_rows - n_out_rows)),
            "run-id": run_id,
        },
        timestamp_ms=timestamp_ms,
    )
    LineageLog(table.location).write(
        LineageRow(
            run_id=run_id, op="convert-pos-to-dv", partition_id=0,
            files_in=len(pos_dels), files_out=len(added), rows=n_out_rows,
            bytes_in=sum(d.file_size_bytes for d in pos_dels),
            bytes_out=sum(a.file_size_bytes for a in added),
            snapshot_id=snap.snapshot_id, status="done",
            output_paths=out_paths,
        )
    )
    return {
        "delete_files_in": len(pos_dels),
        "delete_files_out": len(added),
        "positions_in": n_in_rows,
        "positions_out": n_out_rows,
        "snapshot_id": snap.snapshot_id,
        "run_id": run_id,
    }
