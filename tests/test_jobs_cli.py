"""spark-submit CLI surface (jobs/cli.py) — in-process invocation."""

from __future__ import annotations

import json

import pytest

from lakehouse_benchmark_ingestion_spark.jobs.cli import main
from tests.conftest import SF_SMOKE


def run(capsys, *argv) -> dict:
    assert main(list(argv)) == 0
    out = capsys.readouterr().out.strip().splitlines()[-1]
    return json.loads(out)


def test_cli_lifecycle(spark, warehouse, capsys, tmp_path):
    r = run(capsys, "create-table", "--warehouse", warehouse, "--from-documents", SF_SMOKE)
    assert r["command"] == "create-table"

    r = run(capsys, "ingest", "--warehouse", warehouse, "--from-documents", SF_SMOKE, "--appends", "3")
    assert r["snapshot_2"] == 3

    r = run(capsys, "compact", "--warehouse", warehouse, "--target-mb", "1")
    assert r["files_in"] == 3 and r["files_out"] >= 1

    r = run(capsys, "cluster", "--warehouse", warehouse, "--target-mb", "1")
    assert r["files_out"] >= 1

    r = run(capsys, "rewrite-manifests", "--warehouse", warehouse)
    r = run(capsys, "expire", "--warehouse", warehouse, "--keep-last", "1")
    assert r["expired"] >= 1

    # merge from a parquet updates file
    from lakehouse_benchmark_ingestion_spark.sources.tokens import updates_df

    upath = str(tmp_path / "updates")
    updates_df(spark, SF_SMOKE).write.parquet(upath)
    r = run(capsys, "merge", "--warehouse", warehouse, "--updates-parquet", upath)
    assert r["updates"] > 0

    r = run(capsys, "scan", "--warehouse", warehouse, "--limit", "2")
    assert r["rows"] == 572 and len(r["sample"]) == 2

    r = run(capsys, "history", "--warehouse", warehouse)
    ops = [s["op"] for s in r["snapshots"]]
    assert "merge" in ops


def test_cli_full_suite(spark, warehouse, capsys):
    run(capsys, "create-table", "--warehouse", warehouse, "--from-documents", SF_SMOKE)
    run(capsys, "ingest", "--warehouse", warehouse, "--from-documents", SF_SMOKE)
    r = run(capsys, "full", "--warehouse", warehouse, "--target-mb", "1")
    assert "compact" in r and "expire_snapshots" in r


def test_cli_rejects_unknown_command(warehouse):
    with pytest.raises(SystemExit):
        main(["frobnicate", "--warehouse", warehouse])


def test_cli_dml_and_refs(spark, warehouse, capsys):
    run(capsys, "create-table", "--warehouse", warehouse, "--from-documents", SF_SMOKE)
    run(capsys, "ingest", "--warehouse", warehouse, "--from-documents", SF_SMOKE, "--appends", "2")
    base = run(capsys, "scan", "--warehouse", warehouse, "--limit", "1")["rows"]

    r = run(capsys, "create-tag", "--warehouse", warehouse, "--name", "before-dml")
    assert r["refs"]["before-dml"]["type"] == "tag"

    r = run(capsys, "delete-where", "--warehouse", warehouse, "--where", '{"n_tok": [0, 30]}')
    assert r["files_matched"] >= 1
    after_del = run(capsys, "scan", "--warehouse", warehouse, "--limit", "1")["rows"]
    assert after_del < base

    r = run(
        capsys, "update-where", "--warehouse", warehouse,
        "--where", '{"n_tok": [100, null]}',
        "--set", '{"source": "concat(source, \'_x\')"}',
    )
    assert r["rows_out"] > 0

    # tag still answers the pre-DML table
    r = run(capsys, "scan", "--warehouse", warehouse, "--ref", "before-dml", "--limit", "1")
    assert r["rows"] == base

    r = run(capsys, "refs", "--warehouse", warehouse)
    assert "before-dml" in r["refs"]
    run(capsys, "drop-ref", "--warehouse", warehouse, "--name", "before-dml")
    r = run(capsys, "refs", "--warehouse", warehouse)
    assert r["refs"] == {}


def test_cli_branch_publish(spark, warehouse, capsys):
    run(capsys, "create-table", "--warehouse", warehouse, "--from-documents", SF_SMOKE)
    run(capsys, "ingest", "--warehouse", warehouse, "--from-documents", SF_SMOKE, "--appends", "1")
    r = run(capsys, "create-branch", "--warehouse", warehouse, "--name", "audit")
    assert r["refs"]["audit"]["type"] == "branch"
    r = run(capsys, "fast-forward", "--warehouse", warehouse, "--name", "audit")
    assert "audit" in r["refs"]


def test_cli_rollback_and_metadata(spark, warehouse, capsys):
    run(capsys, "create-table", "--warehouse", warehouse, "--from-documents", SF_SMOKE)
    run(capsys, "ingest", "--warehouse", warehouse, "--from-documents", SF_SMOKE, "--appends", "2")
    h = run(capsys, "history", "--warehouse", warehouse)["snapshots"]
    first = h[0]["id"]
    r = run(capsys, "rollback", "--warehouse", warehouse, "--snapshot-id", str(first))
    assert r["current_snapshot"] == first
    r = run(capsys, "metadata", "--warehouse", warehouse, "--kind", "snapshots")
    assert len(r["rows"]) == len(h)


def test_cli_materialized_view(spark, warehouse, capsys):
    run(capsys, "create-table", "--warehouse", warehouse, "--from-documents", SF_SMOKE)
    run(capsys, "ingest", "--warehouse", warehouse, "--from-documents", SF_SMOKE, "--appends", "1")
    r = run(
        capsys, "create-view", "--warehouse", warehouse, "--name", "mv_src",
        "--column", "source", "--val-column", "n_tok",
    )
    assert r["groups"] > 0
    r = run(capsys, "refresh-view", "--warehouse", warehouse, "--name", "mv_src")
    assert r["refreshed"] is False  # already current
    run(capsys, "ingest", "--warehouse", warehouse, "--from-documents", SF_SMOKE, "--appends", "1")
    r = run(capsys, "refresh-view", "--warehouse", warehouse, "--name", "mv_src")
    assert r["refreshed"] is True


def test_cli_replication(spark, warehouse, capsys):
    run(capsys, "create-table", "--warehouse", warehouse, "--from-documents", SF_SMOKE)
    run(capsys, "ingest", "--warehouse", warehouse, "--from-documents", SF_SMOKE, "--appends", "1")
    r = run(capsys, "create-replica", "--warehouse", warehouse, "--name", "seq_rep")
    base_rows = r["rows"]
    assert base_rows > 0
    run(capsys, "ingest", "--warehouse", warehouse, "--from-documents", SF_SMOKE, "--appends", "1")
    r = run(capsys, "sync-replica", "--warehouse", warehouse, "--name", "seq_rep")
    assert r["synced"] is True and r["inserts"] > 0
    r = run(capsys, "scan", "--warehouse", warehouse, "--table", "seq_rep", "--limit", "1")
    assert r["rows"] > base_rows


def test_cli_rewrite_pos_deletes(spark, warehouse, capsys):
    run(capsys, "create-table", "--warehouse", warehouse, "--from-documents", SF_SMOKE)
    run(capsys, "ingest", "--warehouse", warehouse, "--from-documents", SF_SMOKE, "--appends", "2")
    base = run(capsys, "scan", "--warehouse", warehouse, "--limit", "1")["rows"]
    for where in ['{"n_tok": [40, 60]}', '{"n_tok": [61, 80]}']:
        r = run(
            capsys, "delete-where", "--warehouse", warehouse,
            "--where", where, "--strategy", "mor-pos",
        )
        assert r["delete_files_out"] == 1
    r = run(capsys, "rewrite-pos-deletes", "--warehouse", warehouse)
    assert r["delete_files_in"] == 2 and r["delete_files_out"] == 1
    after = run(capsys, "scan", "--warehouse", warehouse, "--limit", "1")["rows"]
    assert after < base


def test_cli_partition_spec(spark, warehouse, capsys):
    run(capsys, "create-table", "--warehouse", warehouse, "--from-documents", SF_SMOKE,
        "--spec", '[{"col": "source", "transform": "identity"}]')
    run(capsys, "ingest", "--warehouse", warehouse, "--from-documents", SF_SMOKE, "--appends", "2")
    r = run(capsys, "metadata", "--warehouse", warehouse, "--kind", "partitions")
    assert len(r["rows"]) > 1
    r = run(capsys, "compact", "--warehouse", warehouse, "--target-mb", "1")
    assert r["files_out"] >= 1
    r = run(capsys, "set-partition-spec", "--warehouse", warehouse)
    assert r["partition_spec"] is None


def test_cli_migrate_spec(spark, warehouse, capsys):
    """unpartitioned era -> spec set -> migrate-spec heals every file; a
    second run is an idempotent no-op (zero groups)."""
    import json as _json

    from lakehouse_benchmark_ingestion_spark.icelite import Catalog

    run(capsys, "create-table", "--warehouse", warehouse, "--from-documents", SF_SMOKE)
    run(capsys, "ingest", "--warehouse", warehouse, "--from-documents", SF_SMOKE, "--appends", "2")
    run(capsys, "set-partition-spec", "--warehouse", warehouse,
        "--spec", '[{"col": "source", "transform": "identity"}]')
    r = run(capsys, "migrate-spec", "--warehouse", warehouse, "--target-mb", "1")
    assert r["files_in"] >= 2 and r["files_out"] >= 1
    tbl = Catalog(warehouse).load_table("sequences")
    assert all(
        set(_json.loads(f.partition_json)) == {"source"}
        for f in tbl.data_files()
    )
    r = run(capsys, "migrate-spec", "--warehouse", warehouse, "--target-mb", "1")
    assert r["groups"] == 0


def test_cli_sql(spark, warehouse, capsys):
    """Ad-hoc SQL over the warehouse: every table is a temp view, and the
    view reads through scan() (here: after a compaction, so the view serves
    the post-maintenance files)."""
    run(capsys, "create-table", "--warehouse", warehouse, "--from-documents", SF_SMOKE)
    run(capsys, "ingest", "--warehouse", warehouse, "--from-documents", SF_SMOKE, "--appends", "2")
    run(capsys, "compact", "--warehouse", warehouse, "--target-mb", "1")
    r = run(
        capsys, "sql", "--warehouse", warehouse,
        "-e", "SELECT source, count(*) AS n FROM sequences GROUP BY source ORDER BY source",
    )
    assert r["rows"] > 0
    assert r["columns"] == ["source", "n"]
    assert sum(row["n"] for row in r["sample"]) > 0


def test_cli_vacuum(spark, warehouse, capsys):
    """vacuum = expire -> rewrite-pos-deletes -> remove-orphans in the one
    safe order: expired snapshots' files become orphans before the sweep."""
    run(capsys, "create-table", "--warehouse", warehouse, "--from-documents", SF_SMOKE)
    run(capsys, "ingest", "--warehouse", warehouse, "--from-documents", SF_SMOKE, "--appends", "3")
    run(capsys, "compact", "--warehouse", warehouse, "--target-mb", "1")
    r = run(
        capsys, "vacuum", "--warehouse", warehouse,
        "--keep-last", "1", "--older-than-ms", "0",
    )
    assert r["expire"]["expired"] >= 1
    assert "remove_orphans" in r and "rewrite_pos_deletes" in r
    # the table still answers after GC
    r = run(capsys, "scan", "--warehouse", warehouse, "--limit", "1")
    assert r["rows"] > 0


def test_cli_cdc_apply_and_distributed_orphans(spark, warehouse, capsys, tmp_path):
    from lakehouse_benchmark_ingestion_spark.icelite import Catalog
    from lakehouse_benchmark_ingestion_spark.sources.tokens import cdc_feed_stages

    run(capsys, "create-table", "--warehouse", warehouse,
        "--from-documents", SF_SMOKE)
    run(capsys, "ingest", "--warehouse", warehouse,
        "--from-documents", SF_SMOKE, "--appends", "1")

    for i, st in enumerate(cdc_feed_stages(spark, SF_SMOKE)):
        st.coalesce(1).write.parquet(str(tmp_path / "drops" / f"drop-{i:04d}"))
    r = run(capsys, "cdc-apply", "--warehouse", warehouse,
            "--source", str(tmp_path / "drops" / "drop-*"),
            "--checkpoint", str(tmp_path / "ckpt"), "--trust-inserts")
    assert r["batches"] == 3

    tbl = Catalog(warehouse).load_table("sequences")
    # stage-2 deletes landed: plain %5 keys (not re-inserted) are gone
    from pyspark.sql import functions as F

    gone = tbl.scan(spark).filter(
        (F.col("doc_id").cast("long") % 5 == 0)
        & (F.col("doc_id").cast("long") % 10 != 0)
        & (F.col("doc_id").cast("long") < 2000000)
    )
    assert gone.count() == 0

    # distributed orphan sweep through the CLI
    orphan_dir = f"{tbl.location}/data/aborted"
    tbl.scan(spark).limit(10).write.parquet(orphan_dir)
    r = run(capsys, "remove-orphans", "--warehouse", warehouse,
            "--older-than-ms", "0", "--distributed")
    assert r["deleted"] >= 1


def test_cli_dv_delete_and_convert(spark, warehouse, capsys):
    run(capsys, "create-table", "--warehouse", warehouse, "--from-documents", SF_SMOKE)
    run(capsys, "ingest", "--warehouse", warehouse, "--from-documents", SF_SMOKE, "--appends", "2")
    base = run(capsys, "scan", "--warehouse", warehouse, "--limit", "1")["rows"]
    r = run(
        capsys, "delete-where", "--warehouse", warehouse,
        "--where", '{"n_tok": [40, 60]}', "--strategy", "dv",
    )
    assert r["delete_files_out"] == 1 and r["deleted_positions"] > 0
    r = run(
        capsys, "delete-where", "--warehouse", warehouse,
        "--where", '{"n_tok": [61, 80]}', "--strategy", "mor-pos",
    )
    assert r["delete_files_out"] == 1
    r = run(capsys, "convert-pos-to-dv", "--warehouse", warehouse)
    assert r["delete_files_in"] == 2 and r["delete_files_out"] == 1
    assert r["positions_out"] == r["positions_in"]
    after = run(capsys, "scan", "--warehouse", warehouse, "--limit", "1")["rows"]
    assert after < base


def test_cli_row_lineage_and_changelog_tail(spark, warehouse, capsys, tmp_path):
    r = run(
        capsys, "create-table", "--warehouse", warehouse,
        "--from-documents", SF_SMOKE, "--row-lineage",
    )
    assert r["command"] == "create-table"
    run(capsys, "ingest", "--warehouse", warehouse,
        "--from-documents", SF_SMOKE, "--appends", "2")

    r = run(capsys, "lineage-scan", "--warehouse", warehouse, "--limit", "3")
    assert r["rows"] == 500
    assert all("_row_id" in s for s in r["sample"])
    ids = {s["_row_id"] for s in r["sample"]}
    assert len(ids) == 3 and all(i is not None for i in ids)

    # changelog-tail: bootstrap → all inserts, acked; second call empty
    state = str(tmp_path / "cl-state")
    r = run(capsys, "changelog-tail", "--warehouse", warehouse,
            "--state-dir", state)
    assert r["counts"] == {"insert": 500} and r["acked"]
    r = run(capsys, "changelog-tail", "--warehouse", warehouse,
            "--state-dir", state)
    assert r["counts"] == {}

    # dv delete then compact: lineage survives the CLI maintenance path
    r = run(capsys, "delete-where", "--warehouse", warehouse,
            "--where", json.dumps({"n_tok": [None, 30]}),
            "--strategy", "dv")
    r = run(capsys, "compact", "--warehouse", warehouse, "--target-mb", "64")
    r = run(capsys, "lineage-scan", "--warehouse", warehouse, "--limit", "1")
    assert r["rows"] < 500

    # the delete shows up in the tail as deletes
    r = run(capsys, "changelog-tail", "--warehouse", warehouse,
            "--state-dir", state, "--no-ack")
    assert r["counts"].get("delete", 0) > 0 and not r["acked"]


def test_cli_sql_metadata_views(spark, warehouse, capsys):
    """Iceberg-style metadata views in the SQL door (the `t$files` idiom,
    spelled t__files — Spark temp-view names reject `$`)."""
    run(capsys, "create-table", "--warehouse", warehouse,
        "--from-documents", SF_SMOKE, "--row-lineage")
    run(capsys, "ingest", "--warehouse", warehouse,
        "--from-documents", SF_SMOKE, "--appends", "2")

    r = run(capsys, "sql", "--warehouse", warehouse, "-e",
            "SELECT count(*) AS n_files FROM sequences__files "
            "WHERE content = 'data'")
    assert r["sample"][0]["n_files"] >= 2

    r = run(capsys, "sql", "--warehouse", warehouse, "-e",
            "SELECT count(*) AS n FROM sequences__snapshots")
    assert r["sample"][0]["n"] >= 2

    r = run(capsys, "sql", "--warehouse", warehouse, "-e",
            "SELECT max(_row_id) AS mx, count(*) AS n "
            "FROM sequences__lineage")
    row = r["sample"][0]
    assert row["n"] == 500 and row["mx"] == 499


def test_cli_analyze_health_report(spark, warehouse, capsys):
    run(capsys, "create-table", "--warehouse", warehouse,
        "--from-documents", SF_SMOKE, "--row-lineage")
    run(capsys, "ingest", "--warehouse", warehouse,
        "--from-documents", SF_SMOKE, "--appends", "3")
    run(capsys, "delete-where", "--warehouse", warehouse,
        "--where", json.dumps({"n_tok": [None, 20]}), "--strategy", "dv")

    r = run(capsys, "analyze", "--warehouse", warehouse)
    assert r["files"] == 3 and r["snapshots"] >= 4
    assert r["dv_sidecars"] == 1 and r["deleted_positions"] > 0
    assert r["eq_delete_files"] == 0
    assert r["lineage_coverage"] == 1.0
    assert r["small_file_ratio"] == 1.0  # tiny fixture files
    assert r["rows"] == 500

    run(capsys, "compact", "--warehouse", warehouse, "--target-mb", "64")
    r = run(capsys, "analyze", "--warehouse", warehouse)
    assert r["deleted_positions"] == 0, "compaction materialized the DV"
    assert r["unsorted_files"] == 0 and r["sort_orders"] == ["zorder"]


def test_cli_ndv_stats(spark, warehouse, capsys):
    run(capsys, "create-table", "--warehouse", warehouse, "--from-documents", SF_SMOKE)
    run(capsys, "ingest", "--warehouse", warehouse, "--from-documents", SF_SMOKE, "--appends", "2")

    r = run(capsys, "build-ndv", "--warehouse", warehouse, "--columns", "doc_id,source")
    assert r["files_scanned"] >= 2 and "doc_id" in r["estimates"]

    # analyze reports the registration fresh, then stale after a new commit
    r = run(capsys, "analyze", "--warehouse", warehouse)
    assert r["ndv_stats"] == "fresh"
    run(capsys, "ingest", "--warehouse", warehouse, "--from-documents", SF_SMOKE, "--appends", "1")
    r = run(capsys, "analyze", "--warehouse", warehouse)
    assert r["ndv_stats"] == "stale"

    r = run(capsys, "refresh-ndv", "--warehouse", warehouse)
    assert r["files_scanned"] >= 1 and r["files_carried"] >= 2

    r = run(capsys, "ndv", "--warehouse", warehouse)
    assert r["source"] == "stats-file" and r["ndv"]["source"] >= 1


def test_cli_ingest_stream_online_compaction(spark, warehouse, capsys, tmp_path):
    """ingest-stream drains a drop feed with the inline num_or_time
    compaction trigger — the reference's whole job as one CLI command."""
    from lakehouse_benchmark_ingestion_spark.sources.tokens import tokens_df
    from lakehouse_benchmark_ingestion_spark.streaming.incremental import (
        drop_parquet_batches,
    )

    run(capsys, "create-table", "--warehouse", warehouse, "--from-documents", SF_SMOKE)
    df = tokens_df(spark, SF_SMOKE)
    drop_parquet_batches(df, str(tmp_path / "drops"), n_batches=4)
    r = run(
        capsys, "ingest-stream", "--warehouse", warehouse,
        "--source", str(tmp_path / "drops" / "drop-*"),
        "--checkpoint", str(tmp_path / "ckpt"),
        "--online-compact-commits", "2", "--min-small-files", "2",
        "--online-compact-seconds", "10000",
    )
    assert r["batches"] == 4
    assert r["operations"].count("replace") == 2
    s = run(capsys, "scan", "--warehouse", warehouse)
    assert s["rows"] == 500


def test_cli_count_and_minmax_pushdown(spark, warehouse, capsys):
    run(capsys, "create-table", "--warehouse", warehouse,
        "--from-documents", SF_SMOKE)
    run(capsys, "ingest", "--warehouse", warehouse,
        "--from-documents", SF_SMOKE, "--appends", "2")
    r = run(capsys, "count", "--warehouse", warehouse)
    assert r["mode"] == "metadata" and r["count"] == 500
    r = run(capsys, "minmax", "--warehouse", warehouse, "--column", "n_tok")
    assert r["mode"] == "metadata" and r["files_scanned"] == 0
    assert 0 < r["min"] <= r["max"]


def test_cli_where_on_read_commands(spark, warehouse, capsys):
    """One ``--where`` range through scan, count, minmax and lineage-scan:
    all four read the same rows."""
    from pyspark.sql import functions as F

    from lakehouse_benchmark_ingestion_spark.sources.tokens import tokens_df

    run(capsys, "create-table", "--warehouse", warehouse,
        "--from-documents", SF_SMOKE, "--row-lineage")
    run(capsys, "ingest", "--warehouse", warehouse,
        "--from-documents", SF_SMOKE, "--appends", "2")
    where = json.dumps({"n_tok": [20, 60]})
    expected = tokens_df(spark, SF_SMOKE).filter(F.col("n_tok").between(20, 60)).count()
    assert 0 < expected < 500
    s = run(capsys, "scan", "--warehouse", warehouse, "--where", where)
    c = run(capsys, "count", "--warehouse", warehouse, "--where", where)
    assert s["rows"] == c["count"] == expected
    m = run(capsys, "minmax", "--warehouse", warehouse, "--column", "n_tok",
            "--where", where)
    assert 20 <= m["min"] <= m["max"] <= 60
    ls = run(capsys, "lineage-scan", "--warehouse", warehouse, "--where", where)
    assert ls["rows"] == expected


def test_cli_text_index_register_and_sync(spark, warehouse, capsys):
    from lakehouse_benchmark_ingestion_spark.icelite import Catalog

    rows = [(i, "s", f"clidoc-{i:04d}-alpha") for i in range(8)]
    df = spark.createDataFrame(rows, "doc_id long, source string, text string")
    base = Catalog(warehouse).create_table("docs", df.schema)
    base.append(df)

    r = run(capsys, "register-text-index", "--warehouse", warehouse,
            "--table", "docs", "--name", "docs_grams", "--gram-n", "8")
    assert r["postings"] > 0

    base.append(spark.createDataFrame(
        [(99, "s", "clidoc-0099-added")],
        "doc_id long, source string, text string"))
    r = run(capsys, "sync-indexes", "--warehouse", warehouse, "--table", "docs")
    assert r["indexes"] == 1 and r["synced"] == 1


def test_cli_ann_index_register_and_sync(spark, warehouse, capsys):
    from lakehouse_benchmark_ingestion_spark.icelite import Catalog
    from lakehouse_benchmark_ingestion_spark.operators.similarity import FLAT_DIM

    rows = []
    for i in range(16):
        v = [0.01 * ((i + j) % 3) for j in range(FLAT_DIM)]
        v[i % 4] += 1.0
        rows.append((i, v))
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    base = Catalog(warehouse).create_table("vectors", df.schema)
    base.append(df)

    # no --key: the command's own default must be vec_id (the usage text's
    # promise) — the CDC commands' doc_id default must not leak in here
    r = run(capsys, "register-ann-index", "--warehouse", warehouse,
            "--table", "vectors", "--name", "vec_ivf", "--cells", "4",
            "--centroid-mode", "id-sample")
    assert r["vectors"] == 16

    base.append(spark.createDataFrame(
        [(99, [1.0] + [0.0] * (FLAT_DIM - 1))],
        "vec_id long, embedding array<double>"))
    r = run(capsys, "sync-indexes", "--warehouse", warehouse,
            "--table", "vectors")
    assert r["indexes"] == 1 and r["synced"] == 1


def test_cli_search_text(spark, warehouse, capsys):
    from lakehouse_benchmark_ingestion_spark.icelite import Catalog

    rows = [(i, "s", f"needle-{i:04d} haystack words") for i in range(10)]
    df = spark.createDataFrame(rows, "doc_id long, source string, text string")
    base = Catalog(warehouse).create_table("docs", df.schema)
    base.append(df)
    run(capsys, "register-text-index", "--warehouse", warehouse,
        "--table", "docs", "--name", "docs_grams", "--gram-n", "8")

    # exactly one 8-gram, unique to doc 7 (any-gram semantics would match
    # every doc on the shared "needle-0" prefix)
    r = run(capsys, "search-text", "--warehouse", warehouse,
            "--name", "docs_grams", "--text", "dle-0007")
    assert {h["doc_id"] for h in r["hits"]} == {7}
    assert r["n_probe_grams"] >= 1 and r["files_total"] >= 1

    r = run(capsys, "search-text", "--warehouse", warehouse,
            "--name", "docs_grams", "--text", "ZZZZ@@@absent##string")
    assert r["hits"] == []
