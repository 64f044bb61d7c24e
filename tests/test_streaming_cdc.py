"""Streaming CDC apply (Debezium-style I/U/D changelog → MOR commits).

The reference's core loop is binlog changelog → per-checkpoint
upsert-with-deletes commit (SyncDbFunction.java:88-97 deserializes
insert/update/delete row kinds; IcebergCatalogSync.java:113 applies them
with write.upsert.enabled). These tests drive the Spark-first analogue:
ordered changelog micro-batches applied as one icelite MOR commit each.
"""

from __future__ import annotations

from pyspark.sql import Window
from pyspark.sql import functions as F

from lakehouse_benchmark_ingestion_spark.icelite import Catalog
from lakehouse_benchmark_ingestion_spark.sources.tokens import (
    cdc_feed_stages,
    tokens_df,
)
from lakehouse_benchmark_ingestion_spark.streaming.cdc import (
    cdc_apply_batch,
    stream_cdc_apply,
)
from tests.conftest import SF_SMOKE, record_actions

COLS = ["doc_id", "tokens", "n_tok", "source"]


def _expected_final(spark):
    """Declarative batch twin: last op per key over the whole feed, then
    delete/upsert against the base table."""
    base = tokens_df(spark, SF_SMOKE)
    s = cdc_feed_stages(spark, SF_SMOKE)
    feed = s[0].unionByName(s[1]).unionByName(s[2])
    w = Window.partitionBy("doc_id").orderBy(F.col("_seq").desc())
    winners = (
        feed.withColumn("rn", F.row_number().over(w)).filter("rn = 1").drop("rn")
    )
    untouched = base.join(winners.select("doc_id"), "doc_id", "left_anti")
    ups = winners.filter(F.col("_op") != "D").select(*COLS)
    return untouched.select(*COLS).unionByName(ups)


def _write_drops(stages, drops_dir: str) -> None:
    for i, st in enumerate(stages):
        st.coalesce(1).write.parquet(f"{drops_dir}/drop-{i:04d}")


def test_stream_cdc_apply_final_state(spark, warehouse, tmp_path):
    base = tokens_df(spark, SF_SMOKE)
    tbl = Catalog(warehouse).create_table("cdc", base.schema)
    tbl.append(base, num_files=4)
    _write_drops(cdc_feed_stages(spark, SF_SMOKE), str(tmp_path / "drops"))

    n = stream_cdc_apply(
        spark, tbl, str(tmp_path / "drops" / "drop-*"), str(tmp_path / "ckpt")
    )
    assert n == 3
    # one MOR commit per micro-batch
    ops = [s.summary.get("op") for s in tbl.history()]
    assert ops.count("cdc-apply") == 3

    got = tbl.scan(spark).select(*COLS)
    exp = _expected_final(spark)
    assert got.count() == exp.count()
    assert got.exceptAll(exp).count() == 0
    assert exp.exceptAll(got).count() == 0
    # deletes actually removed rows: every %5 key that is not %10 is gone
    gone = got.filter(
        (F.col("doc_id").cast("long") % 5 == 0)
        & (F.col("doc_id").cast("long") % 10 != 0)
        & (F.col("doc_id").cast("long") < 2000000)
    )
    assert gone.count() == 0


def test_stream_cdc_rerun_is_noop(spark, warehouse, tmp_path):
    base = tokens_df(spark, SF_SMOKE)
    tbl = Catalog(warehouse).create_table("cdc2", base.schema)
    tbl.append(base)
    _write_drops(cdc_feed_stages(spark, SF_SMOKE), str(tmp_path / "drops"))
    src, ckpt = str(tmp_path / "drops" / "drop-*"), str(tmp_path / "ckpt")

    stream_cdc_apply(spark, tbl, src, ckpt)
    before = len(tbl.history())
    n2 = stream_cdc_apply(spark, tbl, src, ckpt)  # same checkpoint: drained
    assert n2 == 0
    assert len(tbl.history()) == before


def test_cdc_replay_batch_is_state_idempotent(spark, warehouse, tmp_path):
    """Redelivering the same changelog batch (crash between table commit and
    streaming checkpoint) must not change the table's logical state: the
    replay's eq-delete kills the first delivery's images and re-appends
    identical ones."""
    base = tokens_df(spark, SF_SMOKE)
    tbl = Catalog(warehouse).create_table("cdc3", base.schema)
    tbl.append(base)
    stage1 = cdc_feed_stages(spark, SF_SMOKE)[0]

    cdc_apply_batch(spark, tbl, stage1, run_id="a")
    first = tbl.scan(spark).select(*COLS)
    n_first = first.count()
    cdc_apply_batch(spark, tbl, stage1, run_id="b")  # replay
    again = tbl.scan(spark).select(*COLS)
    assert again.count() == n_first
    assert again.exceptAll(first).count() == 0


def test_cdc_then_compaction_materializes_deletes(spark, warehouse, tmp_path):
    from lakehouse_benchmark_ingestion_spark.operators.compaction import compact

    base = tokens_df(spark, SF_SMOKE)
    tbl = Catalog(warehouse).create_table("cdc4", base.schema)
    tbl.append(base, num_files=6)
    _write_drops(cdc_feed_stages(spark, SF_SMOKE), str(tmp_path / "drops"))
    stream_cdc_apply(
        spark, tbl, str(tmp_path / "drops" / "drop-*"), str(tmp_path / "ckpt")
    )
    exp = _expected_final(spark)

    compact(spark, tbl)
    assert not tbl.delete_files()  # eq-deletes materialized away
    got = tbl.scan(spark).select(*COLS)
    assert got.count() == exp.count()
    assert got.exceptAll(exp).count() == 0


def test_cdc_trust_inserts_same_state_fewer_delete_keys(spark, warehouse, tmp_path):
    """Debezium-faithful mode: create events carry no eq-delete entry, so
    delete files hold only update+delete keys — same final state, smaller
    MOR read debt."""
    base = tokens_df(spark, SF_SMOKE)
    docs = spark.read.parquet(f"{SF_SMOKE}/documents.parquet")
    tbl = Catalog(warehouse).create_table("cdc5", base.schema)
    tbl.append(base)
    _write_drops(cdc_feed_stages(spark, SF_SMOKE), str(tmp_path / "drops"))

    stream_cdc_apply(
        spark,
        tbl,
        str(tmp_path / "drops" / "drop-*"),
        str(tmp_path / "ckpt"),
        trust_inserts=True,
    )
    got = tbl.scan(spark).select(*COLS)
    exp = _expected_final(spark)
    assert got.count() == exp.count()
    assert got.exceptAll(exp).count() == 0

    # delete entries = stage-1 updates (%3) + stage-2 deletes (%5) ONLY;
    # the %7 creates and %10 re-inserts contribute none
    n3 = docs.filter(F.col("doc_id") % 3 == 0).count()
    n5 = docs.filter(F.col("doc_id") % 5 == 0).count()
    del_rows = sum(f.record_count for f in tbl.delete_files())
    assert del_rows == n3 + n5


def _cdc_batch(df, op: str):
    return df.withColumn("_op", F.lit(op)).withColumn("_seq", F.lit(1).cast("long"))


def test_cdc_apply_runs_no_count_or_emptiness_action(spark, warehouse, monkeypatch):
    """A checkpoint-sized batch pays for its two writes only: the upsert
    and delete-key counts come from the written files' footers."""
    base = tokens_df(spark, SF_SMOKE)
    tbl = Catalog(warehouse).create_table("cdc6", base.schema)
    tbl.append(base, num_files=2)
    ups = base.filter(F.col("doc_id").cast("long") % 25 == 0)
    dels = ups.filter(F.col("doc_id").cast("long") % 50 == 0)
    batch = _cdc_batch(ups, "U").unionByName(
        _cdc_batch(dels, "D").withColumn("_seq", F.lit(2).cast("long"))
    )
    n_keys, n_dels = ups.count(), dels.count()
    assert 0 < n_dels < n_keys

    calls = record_actions(spark, monkeypatch)
    res = cdc_apply_batch(spark, tbl, batch, run_id="guard")
    monkeypatch.undo()
    assert calls == []
    assert res == {**res, "upserts": n_keys - n_dels, "delete_keys": n_keys}
    # a checkpoint-sized batch is one new data file and one delete file
    cdc_files = [f for f in tbl.all_files() if "/cdc-guard" in f.path]
    assert len(cdc_files) == 2


def _zero_row_parquet_files(location: str) -> list[str]:
    import glob

    import pyarrow.parquet as pq

    paths = glob.glob(f"{location}/data/**/*.parquet", recursive=True)
    return [p for p in paths if pq.ParquetFile(p).metadata.num_rows == 0]


def test_cdc_empty_outputs_commit_and_leave_no_file(spark, warehouse):
    """An all-delete batch commits no data file and an all-insert batch
    under ``trust_inserts`` commits no delete file; the zero-row Parquet
    file Spark writes for an empty output is neither committed nor left
    on disk."""
    from lakehouse_benchmark_ingestion_spark.operators.validate import validate_table

    base = tokens_df(spark, SF_SMOKE)
    tbl = Catalog(warehouse).create_table("cdc7", base.schema)
    tbl.append(base, num_files=2)
    n_base = base.count()

    gone = base.filter(F.col("doc_id").cast("long") % 50 == 0)
    n_gone = gone.count()
    res = cdc_apply_batch(spark, tbl, _cdc_batch(gone, "D"), run_id="dels")
    assert res == {**res, "upserts": 0, "delete_keys": n_gone}
    added = [f.path for f in tbl.all_files() if "/cdc-dels" in f.path]
    assert len(added) == 1 and added[0] in {f.path for f in tbl.delete_files()}

    new = base.limit(5).withColumn("doc_id", F.concat(F.lit("zz-"), F.col("doc_id")))
    res = cdc_apply_batch(
        spark, tbl, _cdc_batch(new, "I"), run_id="ins", trust_inserts=True
    )
    assert res == {**res, "upserts": 5, "delete_keys": 0}
    added = [f.path for f in tbl.all_files() if "/cdc-ins" in f.path]
    assert len(added) == 1 and added[0] in {f.path for f in tbl.data_files()}

    assert _zero_row_parquet_files(tbl.location) == []
    assert tbl.scan(spark).count() == n_base - n_gone + 5
    report = validate_table(spark, tbl, deep=True)
    assert report["ok"], report["issues"]


def test_cdc_large_batch_keeps_one_image_file_per_100k_upserts(spark, warehouse):
    """A multi-MB batch lands in one new-image file per 100k upserts: the
    upsert count observed by the delete write sizes the range shuffle, so
    adaptive execution does not split it into megabyte-sized files."""
    batch = spark.range(120_000).select(
        F.format_string("k%07d", F.col("id")).alias("doc_id"),
        F.sha2(F.col("id").cast("string"), 256).alias("payload"),
        F.when(F.col("id") % 50 == 0, "D").otherwise("U").alias("_op"),
        F.lit(1).cast("long").alias("_seq"),
    )
    tbl = Catalog(warehouse).create_table(
        "cdc8", batch.drop("_op", "_seq").schema
    )
    res = cdc_apply_batch(spark, tbl, batch, run_id="big")
    assert res == {**res, "upserts": 117_600, "delete_keys": 120_000}
    images = [f for f in tbl.data_files() if "/cdc-big/" in f.path]
    assert len(images) == 2
    assert sum(f.record_count for f in images) == 117_600
