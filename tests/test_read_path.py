"""The read path: a scan over manifest-listed files starts no Spark
file-discovery job, and a scan with no time-travel selector reads exactly
one snapshot even when a commit lands while it plans."""

from __future__ import annotations

from tests.conftest import SF_SMOKE

DISCOVERY_KEY = "spark.sql.sources.parallelPartitionDiscovery.threshold"


def _jobs_while_building_scan(spark, tbl, group: str) -> list[int]:
    """Job ids Spark started while building (not running) ``tbl.scan``."""
    sc = spark.sparkContext
    sc.setJobGroup(group, "build a scan, run no action")
    try:
        tbl.scan(spark)
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    return list(sc.statusTracker().getJobIdsForGroup(group))


def _forty_file_table(spark, warehouse):
    from lakehouse_benchmark_ingestion_spark.icelite import Catalog

    df = spark.range(400).selectExpr("id", "cast(id AS string) AS v")
    tbl = Catalog(warehouse).create_table("forty", df.schema)
    tbl.append(df, num_files=40)
    assert len(tbl.data_files()) == 40
    return tbl


def test_scan_build_starts_no_file_discovery_job(spark, warehouse):
    """Over 32 paths Spark lists the files in a job with one task per path
    unless the session raises the discovery threshold; the manifests
    already list every file, so building a scan must start no job."""
    tbl = _forty_file_table(spark, warehouse)
    assert _jobs_while_building_scan(spark, tbl, "read-path-default") == []


def test_extra_conf_overrides_discovery_threshold(spark, warehouse):
    """A deployment can still restore Spark's listing job via extra_conf,
    and at 32 the 40-path scan build then runs it."""
    from lakehouse_benchmark_ingestion_spark.session import get_spark

    pinned = spark.conf.get(DISCOVERY_KEY)
    assert pinned == str(2**31 - 1)
    tbl = _forty_file_table(spark, warehouse)
    try:
        s = get_spark("tests", shuffle_partitions=8, extra_conf={DISCOVERY_KEY: "32"})
        assert s.conf.get(DISCOVERY_KEY) == "32"
        assert len(_jobs_while_building_scan(s, tbl, "read-path-override")) == 1
    finally:
        spark.conf.set(DISCOVERY_KEY, pinned)


def test_unpinned_scan_reads_one_snapshot_under_concurrent_commit(
    spark, sequences_table, monkeypatch
):
    """A compaction that commits while ``scan()`` plans (after the data
    files are chosen, before the delete files are) must not pair the
    pre-op data files with the post-op (empty) delete set: that would
    resurrect every row version the equality deletes removed."""
    from lakehouse_benchmark_ingestion_spark.icelite.table import IceliteTable
    from lakehouse_benchmark_ingestion_spark.operators.compaction import compact
    from lakehouse_benchmark_ingestion_spark.operators.merge_into import merge_into
    from lakehouse_benchmark_ingestion_spark.sources.tokens import updates_df

    tbl = sequences_table
    merge_into(spark, tbl, updates_df(spark, SF_SMOKE), strategy="mor")
    assert tbl.delete_files()
    expected = tbl.scan(spark).count()

    real = IceliteTable.select_data_files
    fired = []

    def select_then_compact(self, *args, **kwargs):
        files = real(self, *args, **kwargs)
        if not fired:
            fired.append(True)
            compact(spark, tbl, target_file_size=4 * 1024 * 1024)
        return files

    monkeypatch.setattr(IceliteTable, "select_data_files", select_then_compact)
    n = tbl.scan(spark).count()
    monkeypatch.undo()
    assert fired and not tbl.delete_files(), "the compaction committed mid-scan"
    assert n == expected == tbl.scan(spark).count()


def test_scan_keeps_its_schema_when_a_rename_commits_mid_build(
    spark, sequences_table, monkeypatch
):
    """A rename that commits while ``scan()`` builds (here: from inside
    ``pos_reader``, with eq-deletes outstanding) must not pair the pinned
    files and deletes with the renamed schema: the scan answers with the
    columns and rows of the metadata it started from."""
    from lakehouse_benchmark_ingestion_spark.icelite.table import IceliteTable
    from lakehouse_benchmark_ingestion_spark.operators.merge_into import merge_into
    from lakehouse_benchmark_ingestion_spark.sources.tokens import updates_df

    tbl = sequences_table
    merge_into(spark, tbl, updates_df(spark, SF_SMOKE), strategy="mor")
    assert tbl.delete_files()
    columns = tbl.schema.fieldNames()
    expected = tbl.scan(spark).count()

    real = IceliteTable.pos_reader
    fired = []

    def rename_then_read(self, *args, **kwargs):
        if not fired:
            fired.append(True)
            tbl.rename_column("n_tok", "n_tok2")
        return real(self, *args, **kwargs)

    monkeypatch.setattr(IceliteTable, "pos_reader", rename_then_read)
    df = tbl.scan(spark)
    monkeypatch.undo()
    assert fired and "n_tok2" in tbl.schema.fieldNames()
    assert df.columns == columns
    assert df.count() == expected


def test_scan_build_reads_the_metadata_once(spark, sequences_table, monkeypatch):
    """Schema, aliases, merge key, snapshot and file/delete sets of one
    ``scan()`` build all come from a single metadata read — with and
    without outstanding eq- and pos-deletes."""
    from lakehouse_benchmark_ingestion_spark.icelite import metadata as md
    from lakehouse_benchmark_ingestion_spark.operators.merge_into import merge_into
    from lakehouse_benchmark_ingestion_spark.operators.row_dml import delete_where
    from lakehouse_benchmark_ingestion_spark.sources.tokens import updates_df

    tbl = sequences_table
    real = md.read_metadata
    reads = []

    def counted(*args, **kwargs):
        reads.append(args)
        return real(*args, **kwargs)

    def reads_per_build() -> int:
        reads.clear()
        monkeypatch.setattr(md, "read_metadata", counted)
        tbl.scan(spark, where={"n_tok": (10, 20)}, columns=["doc_id"])
        monkeypatch.undo()
        return len(reads)

    assert reads_per_build() == 1
    merge_into(spark, tbl, updates_df(spark, SF_SMOKE), strategy="mor")
    delete_where(spark, tbl, {"n_tok": (10, 12)}, strategy="mor-pos")
    assert tbl.delete_files() and tbl.pos_delete_files()
    assert reads_per_build() == 1


def test_cow_update_keeps_its_schema_when_a_rename_commits_mid_plan(
    spark, sequences_table, monkeypatch
):
    """A rename that commits while a COW ``update_where`` builds its
    delete-applied read must not pair the SET projection with the renamed
    reader columns: the update plans on one metadata read, commits, and
    every row keeps its ``source`` value under the new name."""
    from pyspark.sql import functions as F

    from lakehouse_benchmark_ingestion_spark.icelite.table import IceliteTable
    from lakehouse_benchmark_ingestion_spark.operators.row_dml import update_where

    tbl = sequences_table
    before = {
        r.doc_id: (r.n_tok, r.source)
        for r in tbl.scan(spark).select("doc_id", "n_tok", "source").collect()
    }
    where = {"n_tok": (10, 20)}
    hit = {d for d, (n, _) in before.items() if 10 <= n <= 20}
    assert hit

    real = IceliteTable.rewrite_reader
    fired = []

    def rename_then_read(self, *args, **kwargs):
        if not fired:
            fired.append(True)
            tbl.rename_column("source", "source2")
        return real(self, *args, **kwargs)

    monkeypatch.setattr(IceliteTable, "rewrite_reader", rename_then_read)
    res = update_where(spark, tbl, where, {"n_tok": "n_tok + 1"}, strategy="cow")
    monkeypatch.undo()
    assert fired and res["files_matched"] > 0
    assert tbl.current_snapshot().snapshot_id == res["snapshot_id"]

    after = {
        r.doc_id: (r.n_tok, r.source2)
        for r in tbl.scan(spark).select("doc_id", "n_tok", F.col("source2")).collect()
    }
    assert after == {
        d: (n + 1 if d in hit else n, src) for d, (n, src) in before.items()
    }
