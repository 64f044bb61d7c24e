"""Streaming CDC apply: a Debezium-style changelog feed → icelite MOR commits.

The reference tails a MySQL binlog into a Flink changelog stream
(``SyncDbFunction.java:88-97`` builds ``RowDataDebeziumDeserializeSchema``
per table, emitting insert/update/delete row kinds) and lets the Iceberg
sink apply each checkpoint's rows as an upsert-with-deletes commit
(``IcebergCatalogSync.java:113`` — ``write.upsert.enabled``). This module is
the Spark-first analogue: each micro-batch carries typed rows plus an op
column (``I``/``U``/``D``, the surviving projection of Debezium's
c/u/d envelope) and a monotone per-key sequence, and is applied as ONE
merge-on-read commit:

  * every affected key → one equality-delete entry (kills the prior image,
    whether the final op is an update or a delete);
  * keys whose final op is not ``D`` → their newest image re-appended at the
    same icelite sequence number (eq-deletes gate strictly-older sequences,
    so the new image survives its own commit's delete).

Work per batch is O(batch), never O(table): no read of existing data files,
no shuffle wider than the batch. Cross-batch ordering falls out of the table
sequence number — a later batch's eq-delete kills any earlier batch's image,
which is exactly Iceberg's sequence-number rule for streaming upserts.
"""

from __future__ import annotations

import glob
import os

from pyspark.sql import DataFrame, Observation, SparkSession, Window
from pyspark.sql import functions as F

from ..icelite import manifest as mf
from ..icelite.table import IceliteTable

OP_INSERT = "I"
OP_UPDATE = "U"
OP_DELETE = "D"


def cdc_apply_batch(
    spark: SparkSession,
    table: IceliteTable,
    batch_df: DataFrame,
    key: str = "doc_id",
    op_col: str = "_op",
    seq_col: str = "_seq",
    set_properties: dict | None = None,
    run_id: str = "cdc",
    trust_inserts: bool = False,
) -> dict:
    """Apply one changelog micro-batch as a single merge-on-read commit.

    Intra-batch, the newest row per key wins (``seq_col`` desc, then op
    precedence ``U > I > D`` purely as a deterministic tiebreak — feeds
    should make ``seq_col`` unique per key). Returns commit stats.

    ``trust_inserts``: with a Debezium-faithful producer an ``I`` (create)
    event guarantees the key does not currently exist (the source DB
    enforced its PK), so pure-insert winners need NO equality-delete entry —
    skipping them keeps eq-delete files proportional to updates+deletes
    instead of the whole batch, and every MOR read until the next compaction
    pays its anti-join only against keys that can actually delete something.
    Off by default: the safe mode tolerates producers that replay inserts
    for existing keys (treating every ``I`` as an upsert, Iceberg's
    ``write.upsert.enabled`` semantics).

    Output sizing: the apply runs two Spark actions, the two writes, and
    no count. The delete keys are written first; the same job observes how
    many winners are upserts (``DataFrame.observe``, no extra job), and the
    new images are then range-partitioned on ``key`` into one file per 100k
    upserts, at most 32. Both counts in the result come from the written
    files' footers. A batch with no upserts skips the image write; a batch
    with no delete keys leaves no file on disk and commits none.
    """
    if table.row_lineage_enabled():
        raise ValueError(
            "cdc apply writes equality-delete files, which row-lineage "
            "tables refuse; disable row-lineage.enabled or ingest "
            "append-only"
        )
    cols = [f.name for f in table.schema.fields]

    w = Window.partitionBy(key).orderBy(
        F.col(seq_col).desc(), F.col(op_col).desc()
    )
    winners = (
        batch_df.withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") == 1)
        .drop("_rn")
    )
    upserts = winners.filter(F.col(op_col) != OP_DELETE).select(*cols)

    seq = table.next_sequence_number()

    # one eq-delete covering every key whose prior image must die (update
    # old-images + deletes; pure inserts too unless the producer's create
    # events are trusted to be genuinely new keys). Its write also counts
    # the upserts, which sizes the image write below.
    obs = Observation()
    winners = winners.observe(
        obs, F.count(F.when(F.col(op_col) != OP_DELETE, 1)).alias("upserts")
    )
    del_keys = (
        winners.filter(F.col(op_col) != OP_INSERT) if trust_inserts else winners
    )
    del_dir = os.path.join(table.location, "data", f"cdc-{run_id}-deletes")
    del_keys.select(key).write.mode("overwrite").parquet(del_dir)
    dels = _harvest_nonempty(del_dir, stat_columns=[key])
    n_keys = sum(f.record_count for f in dels)

    # new images: ranged by key so batch-local clustering survives to files
    out_dir = os.path.join(table.location, "data", f"cdc-{run_id}")
    n_upserts = obs.get["upserts"]
    added: list[mf.DataFile] = []
    if n_upserts:
        n_out = min(32, n_upserts // 100_000 + 1)
        upserts.repartitionByRange(n_out, key).write.mode("overwrite").parquet(
            out_dir
        )
        out_paths = sorted(glob.glob(os.path.join(out_dir, "part-*.parquet")))
        added = mf.harvest_stats(out_paths)
    n_rows = sum(f.record_count for f in added)

    for s in added:
        s.sequence_number = seq
    for s in dels:
        s.content = mf.CONTENT_EQ_DELETES
        s.sequence_number = seq

    recorded = table.recorded_merge_key()
    if recorded is not None and recorded != key and table.delete_files():
        raise ValueError(
            f"cdc apply with key={key!r} but outstanding eq-delete files "
            f"were written under {recorded!r}; compact first"
        )
    props = {"merge-key": key}
    if set_properties:
        props.update(set_properties)
    snap = table.replace_files(
        set(),
        added + dels,
        operation="cdc-apply",
        summary={
            "op": "cdc-apply",
            "upserts": str(n_rows),
            "keys": str(n_keys),
            "run-id": run_id,
        },
        set_properties=props,
    )
    return {
        "snapshot_id": snap.snapshot_id,
        "upserts": n_rows,
        "delete_keys": n_keys,
    }


def _harvest_nonempty(out_dir: str, stat_columns: list[str] | None = None) -> list[mf.DataFile]:
    """Stats of the part files Spark wrote to ``out_dir``, minus the
    zero-row file it writes for an empty input: that one is deleted and
    never committed."""
    paths = sorted(glob.glob(os.path.join(out_dir, "part-*.parquet")))
    kept = []
    for f in mf.harvest_stats(paths, stat_columns=stat_columns):
        if f.record_count:
            kept.append(f)
        else:
            os.remove(f.path)
    return kept


def stream_cdc_apply(
    spark: SparkSession,
    table: IceliteTable,
    source_dir: str,
    checkpoint_dir: str,
    key: str = "doc_id",
    op_col: str = "_op",
    seq_col: str = "_seq",
    max_files_per_trigger: int = 1,
    trust_inserts: bool = False,
) -> int:
    """Tail parquet changelog drops from ``source_dir`` into the table.

    One icelite MOR commit per micro-batch (the reference's
    checkpoint==commit cadence, ``BaseCatalogSync.java:100``). Exactly-once
    under foreachBatch replay via the same per-stream batch watermark the
    append path uses: the last applied batch id is committed atomically with
    the snapshot, and a redelivered batch id is skipped. Drains the backlog
    (availableNow) and returns the number of batches applied.
    """
    import hashlib

    from pyspark.sql.types import LongType, StringType, StructField, StructType

    base = table.schema
    schema = StructType(
        list(base.fields)
        + [StructField(op_col, StringType(), False), StructField(seq_col, LongType(), False)]
    )
    stream = (
        spark.readStream.option("maxFilesPerTrigger", str(max_files_per_trigger))
        .schema(schema)
        .parquet(source_dir)
    )

    stream_prop = (
        "stream."
        + hashlib.md5(os.path.abspath(checkpoint_dir).encode()).hexdigest()[:12]
        + ".last-batch"
    )
    batches = {"n": 0}

    def sink(batch_df: DataFrame, batch_id: int) -> None:
        if batch_df.isEmpty():
            return
        last = table.meta.properties.get(stream_prop)
        if last is not None and batch_id <= int(last):
            return
        cdc_apply_batch(
            spark,
            table,
            batch_df,
            key=key,
            op_col=op_col,
            seq_col=seq_col,
            set_properties={stream_prop: str(batch_id)},
            run_id=f"b{batch_id}",
            trust_inserts=trust_inserts,
        )
        batches["n"] += 1

    q = (
        stream.writeStream.foreachBatch(sink)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    return batches["n"]
