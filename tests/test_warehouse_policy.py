"""Whole-warehouse maintenance driver, compaction trigger policy, continuous
streaming, distributed stats harvest — the round-2 operational additions
(reference parity: BaseCatalogSync.accept's per-table fan-out, Hudi's
num_or_time online-compaction trigger, the forever-running CDC tail)."""

from __future__ import annotations

import json

from pyspark.sql import functions as F

from lakehouse_benchmark_ingestion_spark.jobs.cli import main
from tests.conftest import SF_SMOKE


def run(capsys, *argv) -> dict:
    assert main(list(argv)) == 0
    out = capsys.readouterr().out.strip().splitlines()[-1]
    return json.loads(out)


def _warehouse_3_tables(spark, warehouse):
    from lakehouse_benchmark_ingestion_spark.icelite import Catalog
    from lakehouse_benchmark_ingestion_spark.sources.tokens import tokens_df

    cat = Catalog(warehouse)
    df = tokens_df(spark, SF_SMOKE)
    for name in ("alpha", "beta", "gamma"):
        t = cat.create_table(name, df.schema)
        for i in range(3):
            t.append(
                df.filter(df.doc_id.cast("long") % 3 == i),
                max_records_per_file=64,
                timestamp_ms=1_000_000 + i,
            )
    return cat


def test_full_all_maintains_every_table(spark, warehouse, capsys):
    cat = _warehouse_3_tables(spark, warehouse)
    r = run(capsys, "full", "--warehouse", warehouse, "--all", "--target-mb", "4")
    assert r["maintained"] == 3 and r["skipped"] == 0
    assert set(r["tables"]) == {"alpha", "beta", "gamma"}
    for name in ("alpha", "beta", "gamma"):
        tbl = cat.load_table(name)
        assert len(tbl.data_files()) < 9  # small files compacted away
        # expire (keep_last=2) pruned older history; what's left is the
        # maintenance tail itself
        ops = [s.operation for s in tbl.history()]
        assert ops and all(op in ("replace", "rewrite-manifests") for op in ops)


def test_policy_num_or_time_trigger(spark, warehouse):
    from lakehouse_benchmark_ingestion_spark.icelite import Catalog
    from lakehouse_benchmark_ingestion_spark.plans.maintenance import (
        CompactionPolicy,
        run_full_maintenance,
        should_compact,
    )
    from lakehouse_benchmark_ingestion_spark.sources.tokens import tokens_df

    cat = Catalog(warehouse)
    df = tokens_df(spark, SF_SMOKE)
    tbl = cat.create_table("t", df.schema)
    policy = CompactionPolicy(
        min_small_files=4, max_commits=3, max_seconds=3600
    )
    now = 10_000_000

    # 2 small-file appends: commit trigger not met (2 < 3) → the cheap
    # snapshot-log short-circuit answers WITHOUT listing files
    for i in range(2):
        tbl.append(df.filter(df.doc_id.cast("long") % 5 == i),
                   num_files=1, timestamp_ms=now)
    d = should_compact(tbl, policy, as_of_ms=now)
    assert not d["compact"] and "not due" in d["reason"]
    assert d["n_small_files"] is None  # manifest never listed

    # trigger met (3 >= 3) but work gate not met (3 small files < 4):
    # the file listing runs and blocks the compaction
    tbl.append(df.filter(df.doc_id.cast("long") % 5 == 2),
               num_files=1, timestamp_ms=now)
    d = should_compact(tbl, policy, as_of_ms=now)
    assert not d["compact"] and "no work" in d["reason"]
    assert d["n_small_files"] == 3

    # 5 appends total: work gate met, commit trigger met (5 >= 3)
    for i in range(3, 5):
        tbl.append(df.filter(df.doc_id.cast("long") % 5 == i),
                   num_files=1, timestamp_ms=now)
    d = should_compact(tbl, policy, as_of_ms=now)
    assert d["compact"] and d["commits_since_maintenance"] == 5

    # after maintenance: clock reset → below both triggers again
    run_full_maintenance(spark, tbl, target_file_size=64 * 1024 * 1024)
    d = should_compact(tbl, policy, as_of_ms=tbl.history()[-1].timestamp_ms)
    assert not d["compact"] and d["commits_since_maintenance"] == 0

    # TIME leg in isolation: commit threshold unreachable, work gate met by
    # 4 more small appends — due only once max_seconds elapse
    time_policy = CompactionPolicy(min_small_files=4, max_commits=99, max_seconds=3600)
    for i in range(4):
        tbl.append(df.filter(df.doc_id.cast("long") % 5 == i), num_files=1)
    last_ms = tbl.history()[-1].timestamp_ms
    assert not should_compact(tbl, time_policy, as_of_ms=last_ms)["compact"]
    assert should_compact(tbl, time_policy, as_of_ms=last_ms + 4000 * 1000)["compact"]


def test_cli_if_needed_skips_then_runs(spark, warehouse, capsys, tmp_path):
    _warehouse_3_tables(spark, warehouse)
    cfg = tmp_path / "maint.json"
    # gamma gets a stricter policy (work gate 2 files), others never trigger
    cfg.write_text(json.dumps({
        "defaults": {"min_small_files": 99, "max_commits": 1, "target_mb": 4},
        "tables": {"gamma": {"min_small_files": 2}},
    }))
    r = run(capsys, "full", "--warehouse", warehouse, "--all", "--if-needed",
            "--config", str(cfg))
    assert r["maintained"] == 1 and r["skipped"] == 2
    assert "metrics" in r["tables"]["gamma"]
    assert not r["tables"]["alpha"]["decision"]["compact"]

    r = run(capsys, "status", "--warehouse", warehouse)
    assert set(r["tables"]) == {"alpha", "beta", "gamma"}
    assert r["tables"]["gamma"]["last_operation"] in ("rewrite-manifests", "replace")
    assert r["tables"]["alpha"]["n_files"] == 9


def test_per_table_concurrency_quota(spark, warehouse):
    """A table property caps maintenance parallelism regardless of the
    invoking job's ask (Arctic optimizer-quota analogue)."""
    from lakehouse_benchmark_ingestion_spark.icelite import Catalog, metadata as md
    from lakehouse_benchmark_ingestion_spark.plans.maintenance import (
        run_full_maintenance,
    )
    from lakehouse_benchmark_ingestion_spark.sources.tokens import tokens_df

    cat = Catalog(warehouse)
    df = tokens_df(spark, SF_SMOKE)
    tbl = cat.create_table("quota", df.schema)
    for i in range(3):
        tbl.append(df.filter(df.doc_id.cast("long") % 3 == i), max_records_per_file=64)

    def set_quota(meta):
        meta.properties["maintenance.max-concurrent-groups"] = "1"
        return meta

    md.commit(tbl.location, set_quota)
    m = run_full_maintenance(spark, tbl, target_file_size=4 * 1024 * 1024,
                             max_concurrent_groups=8)
    assert m["compact"]["files_in"] > 0  # ran, serially, correct result
    assert tbl.scan(spark).count() == df.count()


def test_continuous_trigger_streaming(spark, warehouse, tmp_path):
    """The non-availableNow tail: processing-time trigger, stop after K
    committed batches — table content equals the batch source."""
    from lakehouse_benchmark_ingestion_spark.icelite import Catalog
    from lakehouse_benchmark_ingestion_spark.sources.tokens import tokens_df
    from lakehouse_benchmark_ingestion_spark.streaming.incremental import (
        drop_parquet_batches,
        stream_ingest_files,
    )

    df = tokens_df(spark, SF_SMOKE)
    tbl = Catalog(warehouse).create_table("cont", df.schema)
    drops = str(tmp_path / "drops")
    drop_parquet_batches(df, drops, n_batches=2)
    n = stream_ingest_files(
        spark, tbl, f"{drops}/drop-*", str(tmp_path / "ckpt"),
        mode="append", available_now=False, stop_after_batches=2,
        max_files_per_trigger=1, timeout_seconds=90,
    )
    assert n >= 1  # maxFilesPerTrigger may still coalesce drops
    assert tbl.scan(spark).count() == df.count()
    assert [s.operation for s in tbl.history()].count("append") == n


def test_distributed_harvest_matches_footer(spark, tmp_path):
    from lakehouse_benchmark_ingestion_spark.icelite import manifest as mf
    from lakehouse_benchmark_ingestion_spark.sources.tokens import tokens_df

    out = str(tmp_path / "files")
    tokens_df(spark, SF_SMOKE).repartition(6, "doc_id").write.parquet(out)
    import glob

    paths = sorted(glob.glob(f"{out}/part-*.parquet"))
    assert len(paths) == 6

    from dataclasses import asdict

    footer = mf.harvest_stats(paths)
    dist = mf.harvest_stats_distributed(spark, paths)
    assert [asdict(f) for f in dist] == [asdict(f) for f in footer]
    assert all(f.null_counts for f in footer)
    cols = ["n_tok", "doc_id"]
    footer_cols = mf.harvest_stats(paths, stat_columns=cols)
    dist_cols = mf.harvest_stats_distributed(spark, paths, stat_columns=cols)
    assert [asdict(f) for f in dist_cols] == [asdict(f) for f in footer_cols]
    assert all(set(f.lower_bounds) == set(cols) for f in footer_cols)

    # auto-dispatch: below the threshold → footer path (identity result)
    auto = mf.harvest_stats_auto(paths, spark=spark)
    assert [f.path for f in auto] == [f.path for f in footer]


def test_full_maintenance_honors_delete_file_threshold_property(spark, warehouse):
    """compaction.delete-file-threshold as a TABLE property: the suite's
    compact pass rewrites debt-addressed files of any size, so the pos
    sidecars are materialized away by run_full_maintenance alone."""
    from pyspark.sql import functions as F

    from lakehouse_benchmark_ingestion_spark.icelite import Catalog
    from lakehouse_benchmark_ingestion_spark.operators.row_dml import delete_where
    from lakehouse_benchmark_ingestion_spark.plans.maintenance import (
        run_full_maintenance,
        table_health,
    )
    from lakehouse_benchmark_ingestion_spark.sources.tokens import tokens_df
    from tests.conftest import SF_SMOKE

    df = tokens_df(spark, SF_SMOKE)
    tbl = Catalog(warehouse).create_table("debtprop", df.schema)
    tbl.append(df, num_files=2)
    delete_where(spark, tbl, {"n_tok": (40, 60)}, strategy="mor-pos")
    delete_where(spark, tbl, {"n_tok": (61, 90)}, strategy="mor-pos")
    assert table_health(tbl)["max_delete_debt"] >= 1

    expected = df.filter(
        ~((F.col("n_tok") >= 40) & (F.col("n_tok") <= 90))
    ).count()
    tbl.set_properties({"compaction.delete-file-threshold": "1"})
    # 1-byte target: no file ever counts as size-small, so only the debt
    # rule can select the inputs
    run_full_maintenance(spark, tbl, target_file_size=1, expire_keep_last=1)
    assert not tbl.pos_delete_files()
    assert table_health(tbl)["max_delete_debt"] == 0
    assert tbl.scan(spark).count() == expected
