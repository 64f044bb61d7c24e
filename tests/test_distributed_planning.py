"""Distributed scan planning (table.select_data_files_distributed):
executor-side manifest parsing must select EXACTLY the same file set as
the driver-side planner for every predicate shape — range, equality,
partition-transformed, bloom-backed point lookups, stats-less files —
because stage 3 re-judges survivors with the identical filter chain and
stages 1-2 are conservative."""

from __future__ import annotations

from pyspark.sql import functions as F

from lakehouse_benchmark_ingestion_spark.icelite import Catalog
from lakehouse_benchmark_ingestion_spark.sources.tokens import tokens_df
from tests.conftest import SF_SMOKE


def _paths(files):
    return sorted(f.path for f in files)


def _parity(spark, tbl, where, expect_pruning=True):
    want = tbl.select_data_files(where)
    got = tbl.select_data_files_distributed(spark, where)
    assert _paths(got) == _paths(want), (where, len(got), len(want))
    if expect_pruning:
        assert len(want) < len(tbl.data_files()), (
            f"test predicate {where} prunes nothing - not exercising "
            "the distributed pruning stage"
        )
    return want


def test_distributed_parity_range_and_point(spark, warehouse):
    df = tokens_df(spark, SF_SMOKE)
    tbl = Catalog(warehouse).create_table("dp", df.schema)
    # disjoint n_tok ranges per file so stats pruning has teeth
    for i in range(4):
        tbl.append(
            df.filter(F.col("doc_id").cast("long") % 4 == i)
            .repartitionByRange(2, "n_tok")
            .sortWithinPartitions("n_tok"),
        )
    _parity(spark, tbl, {"n_tok": (100, None)})
    _parity(spark, tbl, {"n_tok": (None, 20)})
    _parity(spark, tbl, {"n_tok": (30, 40)})
    # string point lookup: modulo-split files overlap on doc_id, so no
    # stats pruning here — bloom-backed pruning is the next test
    _parity(spark, tbl, {"doc_id": "7"}, expect_pruning=False)
    _parity(spark, tbl, {"n_tok": (1, None)}, expect_pruning=False)
    assert _paths(tbl.select_data_files_distributed(spark)) == _paths(
        tbl.select_data_files()
    )


def test_distributed_parity_partition_and_bloom(spark, warehouse):
    from lakehouse_benchmark_ingestion_spark.operators.bloom_index import (
        build_bloom_index,
    )

    df = tokens_df(spark, SF_SMOKE)
    tbl = Catalog(warehouse).create_table("dpp", df.schema)
    tbl.set_partition_spec([{"col": "source", "transform": "identity"}])
    tbl.append(df, max_records_per_file=64)
    srcs = [r[0] for r in df.select("source").distinct().collect()]
    _parity(spark, tbl, {"source": srcs[0]})
    build_bloom_index(spark, tbl, "doc_id")
    _parity(spark, tbl, {"doc_id": "11"})


def test_distributed_parity_stats_less_files(spark, warehouse):
    """Files without stats for the predicate column are kept by both."""
    df = tokens_df(spark, SF_SMOKE)
    tbl = Catalog(warehouse).create_table("dps", df.schema)
    tbl.append(df.limit(40), stat_columns=["doc_id"])  # no n_tok stats
    tbl.append(
        df.filter(F.col("doc_id").cast("long") >= 40)
        .repartitionByRange(2, "n_tok")
    )
    want = tbl.select_data_files({"n_tok": (100, None)})
    got = tbl.select_data_files_distributed(spark, {"n_tok": (100, None)})
    assert _paths(got) == _paths(want)


def _drop_manifest_columns(tbl, columns):
    """Rewrite every manifest of the current snapshot in place without
    ``columns`` — the shape manifests had before those columns existed.
    The footer summary is kept; the parse caches are cleared."""
    import os

    import pyarrow.parquet as pq

    from lakehouse_benchmark_ingestion_spark.icelite import manifest as mf
    from lakehouse_benchmark_ingestion_spark.icelite import metadata as md

    for name in tbl.current_snapshot().manifests:
        path = os.path.join(md.metadata_dir(tbl.location), name)
        t = pq.read_table(path)
        pq.write_table(t.drop_columns([c for c in columns if c in t.column_names]), path)
    mf._MANIFEST_CACHE.clear()
    mf._SUMMARY_CACHE.clear()


def test_distributed_parity_legacy_manifests(spark, warehouse):
    """Manifests written before MOR/partitioning/sort-order/DVs/lineage
    lack ``content`` through ``lineage``; the driver parse defaults them
    (content = data), so both planners must still return the data files."""
    df = tokens_df(spark, SF_SMOKE)
    tbl = Catalog(warehouse).create_table("legacy", df.schema)
    tbl.append(df.repartitionByRange(4, "n_tok").sortWithinPartitions("n_tok"))
    _drop_manifest_columns(
        tbl,
        ["content", "sequence_number", "bucket", "partition_json",
         "sort_order", "delete_format", "first_row_id", "lineage"],
    )
    n_all = len(tbl.data_files())
    assert n_all >= 4
    hi = max(f.upper_bounds["n_tok"] for f in tbl.data_files())
    lo = min(f.lower_bounds["n_tok"] for f in tbl.data_files())
    want = _parity(spark, tbl, {"n_tok": ((lo + hi) // 2, None)})
    assert want
    assert _paths(tbl.select_data_files_distributed(spark)) == _paths(
        tbl.data_files()
    )


def test_distributed_parity_mismatched_predicate_type(spark, warehouse):
    """An int constant on the string key cannot be compared with the
    string bounds: the driver keeps every file, and so must the
    distributed planner (it must not compare the bounds as numbers)."""
    df = tokens_df(spark, SF_SMOKE)
    tbl = Catalog(warehouse).create_table("mism", df.schema)
    tbl.append(df.repartitionByRange(4, "doc_id").sortWithinPartitions("doc_id"))
    want = _parity(spark, tbl, {"doc_id": 5}, expect_pruning=False)
    assert _paths(want) == _paths(tbl.data_files())
    # and a string constant on the int column
    want = _parity(spark, tbl, {"n_tok": ("40", None)}, expect_pruning=False)
    assert _paths(want) == _paths(tbl.data_files())


def test_distributed_parity_fuzz(spark, warehouse):
    """Seeded differential test: random ``where`` dicts (equality, closed
    and open ranges; int, str and mismatched constants; a column some
    files hold no stats for, and one no file does) select the same files
    in both planners."""
    import random

    df = tokens_df(spark, SF_SMOKE)
    tbl = Catalog(warehouse).create_table("fuzz", df.schema)
    for i in range(3):
        tbl.append(
            df.filter(F.col("doc_id").cast("long") % 4 == i)
            .repartitionByRange(3, "n_tok")
            .sortWithinPartitions("n_tok"),
        )
    # no n_tok / source stats in these files
    tbl.append(
        df.filter(F.col("doc_id").cast("long") % 4 == 3).repartition(2),
        stat_columns=["doc_id"],
    )
    files = tbl.data_files()
    n_tok = sorted({v for f in files for v in (f.lower_bounds.get("n_tok"), f.upper_bounds.get("n_tok")) if v is not None})
    doc_ids = sorted({f.lower_bounds["doc_id"] for f in files})
    sources = sorted(r[0] for r in df.select("source").distinct().collect())

    rng = random.Random(4242)

    def const(col):
        kind = rng.random()
        if col == "n_tok":
            if kind < 0.15:  # mismatched: string / float constant
                return rng.choice([str(rng.choice(n_tok)), rng.choice(n_tok) + 0.5])
            return rng.randint(n_tok[0] - 5, n_tok[-1] + 5)
        if col == "doc_id":
            if kind < 0.2:  # mismatched: int constant on a string column
                return rng.randint(0, 600)
            return rng.choice(doc_ids) if kind < 0.7 else str(rng.randint(0, 600))
        if col == "source":
            return rng.choice(sources)
        return rng.randint(0, 100)  # "tokens" (no stats) / "absent" column

    def cond(col):
        shape = rng.random()
        if shape < 0.35:
            return const(col)
        a, b = const(col), const(col)
        try:
            a, b = min(a, b), max(a, b)
        except TypeError:
            pass
        if shape < 0.7:
            return (a, b)
        return (a, None) if shape < 0.85 else (None, b)

    cols = ["n_tok", "doc_id", "source", "tokens", "absent"]
    pruned = 0
    for _ in range(50):
        where = {c: cond(c) for c in rng.sample(cols, rng.randint(1, 2))}
        want = tbl.select_data_files(where)
        got = tbl.select_data_files_distributed(spark, where)
        assert _paths(got) == _paths(want), where
        pruned += len(want) < len(files)
    assert pruned >= 10, "the fuzz must exercise pruning"
