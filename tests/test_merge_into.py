"""MERGE INTO correctness: vs a pandas reference implementation of
last-writer-wins on doc_id (SURVEY.md §5.6), plus pruning behavior."""

from __future__ import annotations

import pandas as pd
import pytest
from pyspark.sql import functions as F

from lakehouse_benchmark_ingestion_spark.operators.compaction import compact
from lakehouse_benchmark_ingestion_spark.operators.merge_into import merge_into
from lakehouse_benchmark_ingestion_spark.sources.tokens import tokens_df, updates_df
from tests.conftest import SF_SMOKE, record_actions


def _pandas_merge(base: pd.DataFrame, upd: pd.DataFrame) -> pd.DataFrame:
    """Reference last-writer-wins upsert."""
    winners = (
        upd.sort_values(["doc_id", "_seq"])
        .groupby("doc_id", as_index=False)
        .last()
        .drop(columns=["_seq"])
    )
    keep = base[~base.doc_id.isin(set(winners.doc_id))]
    out = pd.concat([keep, winners[base.columns]], ignore_index=True)
    return out.sort_values("doc_id").reset_index(drop=True)


@pytest.fixture()
def merged_table(spark, sequences_table):
    tbl = sequences_table
    compact(spark, tbl, target_file_size=48 * 1024)  # several files → pruning meaningful
    return tbl


def test_merge_matches_pandas_reference(spark, merged_table):
    tbl = merged_table
    upd = updates_df(spark, SF_SMOKE)
    base_pd = tbl.scan(spark).toPandas()
    upd_pd = upd.toPandas()

    res = merge_into(spark, tbl, upd)
    got = tbl.scan(spark).toPandas().sort_values("doc_id").reset_index(drop=True)
    want = _pandas_merge(base_pd, upd_pd)

    assert len(got) == len(want)
    assert list(got.doc_id) == list(want.doc_id)
    assert list(got.n_tok) == list(want.n_tok)
    assert list(got.source) == list(want.source)
    for g, w in zip(got.tokens, want.tokens):
        assert list(g) == list(w)
    assert res["rows_out"] > 0


def test_merge_last_writer_wins_within_batch(spark, merged_table):
    """doc_id % 9 == 0 keys appear twice; _seq=2 (seed doc_id+1) must win."""
    from lakehouse_benchmark_ingestion_spark.sources.tokens import UPD_A, UPD_B, UPD_C, VOCAB

    tbl = merged_table
    merge_into(spark, tbl, updates_df(spark, SF_SMOKE))
    row = tbl.scan(spark).filter(F.col("doc_id") == "9").collect()[0]
    seed = 9 + 1  # the winner's seed
    expect = [(seed * UPD_A + i * UPD_B + UPD_C) % VOCAB for i in range(row.n_tok)]
    assert list(row.tokens) == expect


def test_merge_prunes_files(spark, sequences_table):
    """An update touching one narrow key range must not rewrite every file."""
    tbl = sequences_table
    compact(spark, tbl, target_file_size=48 * 1024)
    n_files = len(tbl.data_files())
    assert n_files >= 4
    one = (
        tokens_df(spark, SF_SMOKE)
        .filter(F.col("doc_id") == "100")
        .withColumn("_seq", F.lit(1).cast("long"))
    )
    res = merge_into(spark, tbl, one)
    assert res["files_matched"] < n_files
    assert res["files_total"] == n_files


def test_merge_insert_only(spark, merged_table):
    tbl = merged_table
    before = tbl.scan(spark).count()
    newrows = (
        tokens_df(spark, SF_SMOKE)
        .limit(3)
        .withColumn("doc_id", F.concat(F.lit("zz-"), F.col("doc_id")))
        .withColumn("_seq", F.lit(1).cast("long"))
    )
    res = merge_into(spark, tbl, newrows)
    assert tbl.scan(spark).count() == before + 3
    assert res["updates"] == 3


def test_merge_is_snapshot_isolated(spark, merged_table):
    tbl = merged_table
    pre = tbl.current_snapshot().snapshot_id
    pre_count = tbl.scan(spark).count()
    merge_into(spark, tbl, updates_df(spark, SF_SMOKE))
    assert tbl.scan(spark, snapshot_id=pre).count() == pre_count


def test_cow_merge_runs_no_count_under_the_prune_bound(spark, merged_table, monkeypatch):
    """Below DRIVER_PRUNE_THRESHOLD_ROWS one bounded key collect is both
    the batch size and the prune keys: the COW merge runs no count."""
    tbl = merged_table
    upd = updates_df(spark, SF_SMOKE)
    n_keys = upd.select("doc_id").distinct().count()
    calls = record_actions(spark, monkeypatch)
    res = merge_into(spark, tbl, upd, strategy="cow")
    monkeypatch.undo()
    assert calls == []
    assert res["updates"] == n_keys


def test_failed_cow_merge_frees_its_cached_batch(spark, merged_table, monkeypatch):
    """A commit that raises must not leave the deduplicated batch cached
    for the rest of the session."""
    from lakehouse_benchmark_ingestion_spark.icelite import metadata as md
    from lakehouse_benchmark_ingestion_spark.icelite.table import IceliteTable

    tbl = merged_table
    spark.catalog.clearCache()
    cache = spark._jsparkSession.sharedState().cacheManager()

    def refuse(self, *args, **kwargs):
        assert not cache.isEmpty(), "the batch is cached while the merge runs"
        raise md.ValidationFailed("refused")

    monkeypatch.setattr(IceliteTable, "replace_files", refuse)
    with pytest.raises(md.ValidationFailed):
        merge_into(spark, tbl, updates_df(spark, SF_SMOKE), strategy="cow")
    monkeypatch.undo()
    assert cache.isEmpty()
