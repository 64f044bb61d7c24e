from __future__ import annotations

import os
import shutil

import pytest

os.environ.setdefault("SPARK_GRAFT_CPUS", "8")

SF_SMOKE = "/root/testdata/sf0.001"
SF_ORACLE = "/root/testdata/sf0.01"


@pytest.fixture(scope="session")
def spark():
    from lakehouse_benchmark_ingestion_spark.session import get_spark

    s = get_spark("tests", shuffle_partitions=8)
    s.sparkContext.setLogLevel("ERROR")
    yield s


@pytest.fixture()
def warehouse(tmp_path):
    wh = str(tmp_path / "wh")
    yield wh
    shutil.rmtree(wh, ignore_errors=True)


@pytest.fixture()
def sequences_table(spark, warehouse):
    """Tokens table committed as many small files across several snapshots
    (the reference's 60 s-checkpoint small-file pathology, MainRunner.java:86)."""
    from lakehouse_benchmark_ingestion_spark.icelite import Catalog
    from lakehouse_benchmark_ingestion_spark.sources.tokens import tokens_df

    df = tokens_df(spark, SF_SMOKE)
    cat = Catalog(warehouse)
    tbl = cat.create_table("sequences", df.schema)
    for i in range(5):
        part = df.filter(df.doc_id.cast("long") % 5 == i)
        tbl.append(part, max_records_per_file=32, timestamp_ms=1_000_000 + i * 60_000)
    return tbl


def record_actions(spark, monkeypatch, names=("count", "isEmpty")) -> list[str]:
    """Record every call of the named DataFrame actions (on the session's
    concrete DataFrame class, which overrides the abstract one)."""
    cls = type(spark.range(0))
    calls: list[str] = []
    for name in names:
        real = getattr(cls, name)
        monkeypatch.setattr(
            cls, name,
            lambda self, *a, _real=real, _n=name, **k: calls.append(_n) or _real(self, *a, **k),
        )
    return calls
