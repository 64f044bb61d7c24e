"""Merge-on-read scan: apply equality-delete files to data files.

Iceberg v2 semantics (the reference turns this on via ``format-version=2`` +
``write.upsert.enabled``, IcebergCatalogSync.java:112-115): an eq-delete file
holds deleted keys and applies to every data file whose data sequence number
is STRICTLY SMALLER than the delete file's. A row therefore survives iff no
delete with a larger sequence number matches its key.

Scale shape: data files that no delete can touch (newer than every delete,
or key-range disjoint from every delete's bounds) are read on the plain
path — zero join cost; only the affected files pay the anti-join, and the
delete side (update keys, typically ≪ table) is broadcast.
"""

from __future__ import annotations

from functools import reduce

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import StructType

from . import manifest as mf

_FSEQ = "__icelite_fseq"
_DSEQ = "__icelite_dseq"
_DKEY = "__icelite_dkey"

# delete sides beneath this total size ride a broadcast join
BROADCAST_DELETE_BYTES = 256 * 1024 * 1024


def _ranges_overlap(a: mf.DataFile, b: mf.DataFile, key: str) -> bool:
    alo, ahi = a.lower_bounds.get(key), a.upper_bounds.get(key)
    blo, bhi = b.lower_bounds.get(key), b.upper_bounds.get(key)
    if None in (alo, ahi, blo, bhi):
        return True  # missing stats → must assume overlap
    # compare bounds NATIVELY: a lexicographic fallback on numeric keys would
    # classify e.g. data [9,15] vs deletes [10,12] as disjoint ('9' > '12')
    # and silently resurrect deleted rows. Incomparable types (mixed-type
    # stats) → conservatively assume overlap, mirroring _where_file_filter.
    try:
        return alo <= bhi and blo <= ahi
    except TypeError:
        return True


def pos_delete_addresses(d: mf.DataFile, path: str, fseq: int | None) -> bool:
    """Can position-delete file ``d`` address rows of data file ``path``
    (data sequence ``fseq``)? The ONE implementation of the v2 rule shared
    by the native reader (table.pos_reader) and the ``icelite`` DataSource —
    a drifted copy of this predicate silently resurrects deleted rows.

    ``fseq is None`` = path unknown to the snapshot (mid-rewrite temp read):
    pos-delete rows can only name committed paths and paths are never
    reused, so unaddressable."""
    if fseq is None:
        return False
    if d.sequence_number < fseq:
        return False
    lo = d.lower_bounds.get("file_path")
    hi = d.upper_bounds.get("file_path")
    return lo is None or hi is None or (lo <= path <= hi)


def mor_scan(
    spark: SparkSession,
    schema: StructType,
    data_files: list[mf.DataFile],
    delete_files: list[mf.DataFile],
    key: str,
    reader,
    delete_reader,
) -> DataFrame:
    """Read ``data_files`` with ``delete_files`` applied (eq-delete join).

    ``reader(paths) -> DataFrame`` is the physical read (the table's
    alias-aware, position-delete-applied reader). ``delete_reader(paths) ->
    DataFrame`` is the eq-delete key read (alias-aware when the merge key
    was renamed after the delete files were written); it must yield a
    single column named ``key``."""
    cols = [f.name for f in schema.fields]
    if not data_files:
        return spark.createDataFrame([], schema).select(*cols)
    if not delete_files:
        return reader([f.path for f in data_files]).select(*cols)

    max_dseq = max(d.sequence_number for d in delete_files)
    clean = [
        f
        for f in data_files
        if f.sequence_number >= max_dseq
        or not any(
            d.sequence_number > f.sequence_number and _ranges_overlap(f, d, key)
            for d in delete_files
        )
    ]
    clean_paths = {f.path for f in clean}
    affected = [f for f in data_files if f.path not in clean_paths]

    parts: list[DataFrame] = []
    if clean:
        parts.append(reader([f.path for f in clean]).select(*cols))
    if affected:
        # per-sequence read so each row knows its file's sequence number
        by_seq: dict[int, list[str]] = {}
        for f in affected:
            by_seq.setdefault(f.sequence_number, []).append(f.path)
        data = reduce(
            DataFrame.unionByName,
            [
                reader(paths).select(*cols, F.lit(seq).cast("long").alias(_FSEQ))
                for seq, paths in sorted(by_seq.items())
            ],
        )
        del_by_seq: dict[int, list[str]] = {}
        for d in delete_files:
            del_by_seq.setdefault(d.sequence_number, []).append(d.path)
        dels = reduce(
            DataFrame.unionByName,
            [
                delete_reader(paths).select(
                    F.col(key).alias(_DKEY), F.lit(seq).cast("long").alias(_DSEQ)
                )
                for seq, paths in sorted(del_by_seq.items())
            ],
        )
        if sum(d.file_size_bytes for d in delete_files) <= BROADCAST_DELETE_BYTES:
            dels = F.broadcast(dels)
        # the v2 rule as one conditional anti-join: a row dies iff some
        # delete with a LARGER sequence matches its key (no per-key max
        # shuffle in front of the broadcast)
        survivors = data.join(
            dels,
            (F.col(key) == F.col(_DKEY)) & (F.col(_DSEQ) > F.col(_FSEQ)),
            "left_anti",
        ).select(*cols)
        parts.append(survivors)
    return reduce(DataFrame.unionByName, parts)
