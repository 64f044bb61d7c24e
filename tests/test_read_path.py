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
