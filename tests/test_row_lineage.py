"""Row lineage (Iceberg v3 parity): every data row gets a stable ``_row_id``
and a ``_last_updated_sequence_number``, assigned from the table's
``next_row_id`` counter INSIDE the optimistic commit, derived at read time
from the manifest entry (first_row_id + file position), and PRESERVED
through rewrites (compaction / clustering / COW DML materialize the two
columns physically).

Reference motivation: the reference writes Iceberg format-version=2 tables
(IcebergCatalogSync.java:112-116); row lineage is v3's incremental-consumer
surface over the same snapshot model — it lets downstream CDC consumers
track row-level changes without key columns.
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from lakehouse_benchmark_ingestion_spark.icelite import Catalog
from lakehouse_benchmark_ingestion_spark.icelite.table import (
    LINEAGE_ROW_ID_COL,
    LINEAGE_SEQ_COL,
    ROW_LINEAGE_PROP,
)
from lakehouse_benchmark_ingestion_spark.operators.clustering import cluster
from lakehouse_benchmark_ingestion_spark.operators.compaction import compact
from lakehouse_benchmark_ingestion_spark.operators.merge_into import merge_into
from lakehouse_benchmark_ingestion_spark.operators.row_dml import (
    delete_where,
    update_where,
)
from lakehouse_benchmark_ingestion_spark.sources.tokens import tokens_df
from tests.conftest import SF_SMOKE


@pytest.fixture()
def lin_table(spark, warehouse):
    df = tokens_df(spark, SF_SMOKE)
    cat = Catalog(warehouse)
    tbl = cat.create_table(
        "lin", df.schema, properties={ROW_LINEAGE_PROP: "true"}
    )
    tbl.append(df.repartitionByRange(4, "n_tok"))
    return tbl


def _lineage_map(spark, tbl):
    return {
        r["doc_id"]: (r[LINEAGE_ROW_ID_COL], r[LINEAGE_SEQ_COL])
        for r in tbl.scan_lineage(spark).collect()
    }


def test_append_assigns_dense_unique_row_ids(spark, lin_table):
    tbl = lin_table
    n = tokens_df(spark, SF_SMOKE).count()
    rows = tbl.scan_lineage(spark).collect()
    ids = sorted(r[LINEAGE_ROW_ID_COL] for r in rows)
    assert ids == list(range(n)), "first commit assigns ids 0..N-1 densely"
    assert tbl.meta.next_row_id == n
    snap = tbl.current_snapshot()
    assert snap.first_row_id == 0
    # every data file carries its first_row_id in the manifest entry
    files = tbl.data_files()
    assert all(f.first_row_id is not None for f in files)
    starts = sorted(f.first_row_id for f in files)
    assert starts[0] == 0


def test_second_append_continues_counter(spark, lin_table):
    tbl = lin_table
    n = tbl.meta.next_row_id
    extra = tokens_df(spark, SF_SMOKE).limit(10).withColumn(
        "doc_id", F.concat(F.lit("x-"), F.col("doc_id"))
    )
    tbl.append(extra)
    assert tbl.meta.next_row_id == n + 10
    assert tbl.current_snapshot().first_row_id == n
    rows = tbl.scan_lineage(spark).collect()
    ids = sorted(r[LINEAGE_ROW_ID_COL] for r in rows)
    assert ids == list(range(n + 10)), "no gaps, no collisions across commits"


def test_compaction_preserves_row_ids(spark, lin_table):
    tbl = lin_table
    before = _lineage_map(spark, tbl)
    counter = tbl.meta.next_row_id
    res = compact(spark, tbl, target_file_size=1 << 30)
    assert res.get("files_out", 0) >= 1
    after = _lineage_map(spark, tbl)
    assert after == before, "rewrite must preserve _row_id and seq exactly"
    assert tbl.meta.next_row_id == counter, "rewrites consume no fresh ids"
    # outputs are materialized: manifest says so, file carries the columns
    files = tbl.data_files()
    assert all(f.lineage == "materialized" for f in files)
    import pyarrow.parquet as pq

    cols = set(pq.read_schema(files[0].path).names)
    assert {LINEAGE_ROW_ID_COL, LINEAGE_SEQ_COL} <= cols


def test_cluster_then_append_then_compact_roundtrip(spark, lin_table):
    tbl = lin_table
    before = _lineage_map(spark, tbl)
    cluster(spark, tbl, curve="zorder")
    assert _lineage_map(spark, tbl) == before
    n = tbl.meta.next_row_id
    extra = tokens_df(spark, SF_SMOKE).limit(7).withColumn(
        "doc_id", F.concat(F.lit("y-"), F.col("doc_id"))
    )
    tbl.append(extra)
    # mixed state: materialized files + fresh manifest-derived files
    mixed = _lineage_map(spark, tbl)
    assert dict(list(before.items())) == {
        k: v for k, v in mixed.items() if not k.startswith("y-")
    }
    fresh_ids = sorted(v[0] for k, v in mixed.items() if k.startswith("y-"))
    assert fresh_ids == list(range(n, n + 7))
    compact(spark, tbl, target_file_size=1 << 30)
    assert _lineage_map(spark, tbl) == mixed


def test_dv_delete_keeps_survivor_ids(spark, lin_table):
    tbl = lin_table
    before = _lineage_map(spark, tbl)
    res = delete_where(spark, tbl, {"n_tok": (None, 30)}, strategy="dv")
    assert res["deleted_positions"] > 0
    after = _lineage_map(spark, tbl)
    deleted = set(before) - set(after)
    assert deleted, "some doc ids must be gone"
    for k, v in after.items():
        assert before[k] == v, "survivors keep their exact lineage"
    # compaction materializes the DV without disturbing survivor ids
    compact(spark, tbl, target_file_size=1 << 30)
    assert _lineage_map(spark, tbl) == after


def test_cow_delete_and_update_preserve_and_bump(spark, lin_table):
    tbl = lin_table
    before = _lineage_map(spark, tbl)
    delete_where(spark, tbl, {"n_tok": (None, 25)}, strategy="cow")
    after_del = _lineage_map(spark, tbl)
    for k, v in after_del.items():
        assert before[k] == v

    seq_before = {k: v[1] for k, v in after_del.items()}
    update_where(
        spark, tbl, {"n_tok": (100, None)}, {"source": "'bumped'"},
        strategy="cow",
    )
    after_upd = _lineage_map(spark, tbl)
    assert set(after_upd) == set(after_del)
    touched = {
        r["doc_id"]
        for r in tbl.scan(spark).filter(F.col("source") == "bumped").collect()
    }
    assert touched
    for k, (rid, seq) in after_upd.items():
        assert rid == after_del[k][0], "UPDATE keeps _row_id"
        if k in touched:
            assert seq > seq_before[k], "updated rows bump last-updated seq"
        else:
            assert seq == seq_before[k]


def test_mor_update_keeps_row_id_bumps_seq(spark, lin_table):
    tbl = lin_table
    before = _lineage_map(spark, tbl)
    res = update_where(
        spark, tbl, {"n_tok": (110, None)}, {"source": "'morup'"},
        strategy="mor",
    )
    assert res["rows_out"] > 0
    after = _lineage_map(spark, tbl)
    assert set(after) == set(before)
    touched = {
        r["doc_id"]
        for r in tbl.scan(spark).filter(F.col("source") == "morup").collect()
    }
    for k, (rid, seq) in after.items():
        assert rid == before[k][0]
        if k in touched:
            assert seq > before[k][1]
        else:
            assert seq == before[k][1]


def test_eq_delete_ops_refused(spark, lin_table):
    tbl = lin_table
    with pytest.raises(ValueError, match="row-lineage"):
        delete_where(spark, tbl, {"n_tok": (None, 30)}, strategy="mor")
    upd = tokens_df(spark, SF_SMOKE).limit(3).withColumn(
        "_seq", F.lit(1).cast("long")
    )
    # MOR merge writes eq-deletes — still refused; COW carries (see
    # test_merge_cow_carries_row_ids)
    with pytest.raises(ValueError, match="row-lineage"):
        merge_into(spark, tbl, upd, key="doc_id", seq_col="_seq",
                   strategy="mor")


def test_pre_lineage_files_read_null(spark, warehouse):
    """Lineage enabled mid-life: old files yield NULL ids (the spec's
    'unassigned'), new appends get assigned."""
    df = tokens_df(spark, SF_SMOKE)
    tbl = Catalog(warehouse).create_table("late", df.schema)
    tbl.append(df.limit(20))
    tbl.set_properties({ROW_LINEAGE_PROP: "true"})
    tbl.append(
        df.limit(5).withColumn("doc_id", F.concat(F.lit("n-"), F.col("doc_id")))
    )
    rows = tbl.scan_lineage(spark).collect()
    old = [r for r in rows if not r["doc_id"].startswith("n-")]
    new = [r for r in rows if r["doc_id"].startswith("n-")]
    assert all(r[LINEAGE_ROW_ID_COL] is None for r in old)
    assert all(r[LINEAGE_SEQ_COL] is None for r in old)
    assert sorted(r[LINEAGE_ROW_ID_COL] for r in new) == list(range(5))


def test_concurrent_appends_get_disjoint_id_ranges(spark, warehouse):
    """4 threads append through the optimistic commit loop — the counter
    is bumped inside the mutate, so id ranges never overlap."""
    from concurrent.futures import ThreadPoolExecutor

    df = tokens_df(spark, SF_SMOKE).limit(40)
    tbl = Catalog(warehouse).create_table(
        "conc", df.schema, properties={ROW_LINEAGE_PROP: "true"}
    )

    def one(i: int) -> None:
        batch = df.limit(10).withColumn(
            "doc_id", F.concat(F.lit(f"t{i}-"), F.col("doc_id"))
        )
        tbl.append(batch)

    with ThreadPoolExecutor(max_workers=4) as ex:
        list(ex.map(one, range(4)))
    rows = tbl.scan_lineage(spark).collect()
    ids = sorted(r[LINEAGE_ROW_ID_COL] for r in rows)
    assert ids == list(range(40))
    assert tbl.meta.next_row_id == 40


def test_datasource_reads_materialized_lineage_table(spark, lin_table):
    """The icelite Python DataSource projects the logical schema only, so
    rewrite outputs carrying physical _row_id/_last_updated columns read
    identically to the native scan."""
    from lakehouse_benchmark_ingestion_spark.sources.icelite_source import (
        IceliteDataSource,
    )

    tbl = lin_table
    delete_where(spark, tbl, {"n_tok": (None, 30)}, strategy="dv")
    compact(spark, tbl, target_file_size=1 << 30)
    spark.conf.set("spark.sql.python.filterPushdown.enabled", "true")
    spark.dataSource.register(IceliteDataSource)
    import os

    via_ds = (
        spark.read.format("icelite")
        .option("warehouse", os.path.dirname(tbl.location))
        .option("table", os.path.basename(tbl.location))
        .load()
    )
    native = tbl.scan(spark)
    assert via_ds.exceptAll(native).count() == 0
    assert native.exceptAll(via_ds).count() == 0


def test_streaming_append_assigns_lineage(spark, warehouse, tmp_path):
    """Streaming ingest composes with row lineage for free: every
    micro-batch append runs through the same commit hook, so batches get
    disjoint id ranges and the final table reads dense unique ids."""
    from lakehouse_benchmark_ingestion_spark.streaming.incremental import (
        drop_parquet_batches,
        stream_ingest_files,
    )

    df = tokens_df(spark, SF_SMOKE).limit(40)
    tbl = Catalog(warehouse).create_table(
        "slin", df.schema, properties={ROW_LINEAGE_PROP: "true"}
    )
    drop_parquet_batches(df, str(tmp_path / "drops"), n_batches=4)
    n_batches = stream_ingest_files(
        spark, tbl, str(tmp_path / "drops" / "drop-*"),
        str(tmp_path / "ckpt"),
    )
    assert n_batches >= 1
    rows = tbl.scan_lineage(spark).collect()
    ids = sorted(r[LINEAGE_ROW_ID_COL] for r in rows)
    assert ids == list(range(40)), "streaming appends assign dense ids"
    assert tbl.meta.next_row_id == 40
    # per-snapshot first_row_id recorded for every streamed commit
    appends = [s for s in tbl.history() if s.operation == "append"]
    firsts = sorted(
        s.first_row_id for s in appends if s.first_row_id is not None
    )
    assert firsts[0] == 0 and len(firsts) == len(appends)


# ---- property: random op sequences vs a Python lineage model --------------

from hypothesis import HealthCheck, given, settings  # noqa: E402
from hypothesis import strategies as st  # noqa: E402

_OPS = st.lists(
    st.sampled_from(["append", "dv_delete", "compact", "cluster", "update"]),
    min_size=2,
    max_size=5,
)


@settings(
    max_examples=6,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(ops=_OPS, data=st.data())
def test_lineage_model_under_random_op_sequences(spark, tmp_path_factory, ops, data):
    """Model check: after ANY sequence of appends / DV deletes / rewrites /
    MOR updates, scan_lineage must equal a driver-side Python model that
    assigns ids append-order-densely, never reuses them, and bumps seq only
    on update."""
    wh = str(tmp_path_factory.mktemp("lin-prop"))
    schema = "k long, v long"
    tbl = Catalog(wh).create_table(
        "m", spark.createDataFrame([], schema).schema,
        properties={ROW_LINEAGE_PROP: "true"},
    )
    model: dict[int, tuple[int, int]] = {}  # k -> (row_id, last_seq)
    next_id = 0
    next_k = 0

    for op in ops:
        seq = tbl.next_sequence_number()
        if op == "append" or not model:
            n = data.draw(st.integers(min_value=1, max_value=5))
            rows = [(next_k + i, next_k + i) for i in range(n)]
            tbl.append(spark.createDataFrame(rows, schema))
            for k, _ in rows:
                model[k] = (next_id, seq)
                next_id += 1
            next_k += n
        elif op == "dv_delete":
            victim = data.draw(st.sampled_from(sorted(model)))
            delete_where(spark, tbl, {"k": victim}, strategy="dv", key="k")
            del model[victim]
        elif op == "update":
            victim = data.draw(st.sampled_from(sorted(model)))
            update_where(
                spark, tbl, {"k": victim}, {"v": "v + 1000"}, strategy="mor",
                key="k",
            )
            model[victim] = (model[victim][0], seq)
        elif op == "compact":
            compact(spark, tbl, target_file_size=1 << 30)
        elif op == "cluster":
            cluster(spark, tbl, curve="zorder")

    got = {
        r["k"]: (r[LINEAGE_ROW_ID_COL], r[LINEAGE_SEQ_COL])
        for r in tbl.scan_lineage(spark).collect()
    }
    assert got == model
    assert tbl.meta.next_row_id == next_id


# ---- v3 carry-over MERGE INTO (COW on a lineage table) --------------------


def test_merge_cow_carries_row_ids(spark, lin_table):
    """COW MERGE on a lineage table: updated rows keep the old image's
    _row_id with the sequence bumped; untouched rows keep both verbatim;
    inserted rows get fresh dense ids from the counter — the Iceberg v3
    writer carry-over contract for MERGE."""
    tbl = lin_table
    before = _lineage_map(spark, tbl)
    n0 = tbl.meta.next_row_id

    upd_keys = ["3", "7", "11"]
    base = tokens_df(spark, SF_SMOKE)
    updates = (
        base.filter(F.col("doc_id").isin(upd_keys))
        .withColumn("source", F.lit("merged"))
        .unionByName(
            base.limit(2).select(
                F.concat(F.lit("ins-"), F.col("doc_id")).alias("doc_id"),
                "tokens", "n_tok", F.lit("fresh").alias("source"),
            )
        )
        .withColumn("_seq", F.lit(1).cast("long"))
    )
    res = merge_into(spark, tbl, updates, key="doc_id", seq_col="_seq",
                     strategy="cow")
    assert res.get("snapshot_id") or res  # committed

    after = _lineage_map(spark, tbl)
    merge_seq = max(s for _, s in after.values())
    for k in upd_keys:
        assert after[k][0] == before[k][0], "updated row must keep _row_id"
        assert after[k][1] == merge_seq > before[k][1], (
            "updated row must bump _last_updated_sequence_number"
        )
    untouched = [k for k in before if k not in upd_keys]
    for k in untouched:
        assert after[k] == before[k], "unmatched rows carry verbatim"
    ins = sorted(
        rid for k, (rid, _) in after.items() if k.startswith("ins-")
    )
    assert ins == [n0, n0 + 1], "inserts draw fresh dense ids from counter"
    # updated sources really changed
    srcs = {
        r["doc_id"]: r["source"]
        for r in tbl.scan(spark).filter(F.col("doc_id").isin(upd_keys)).collect()
    }
    assert all(srcs[k] == "merged" for k in upd_keys)


def test_merge_cow_lineage_changelog_pairs_updates(spark, lin_table):
    """The key-free lineage changelog across a COW merge must emit one
    update_before/update_after PAIR per updated key (same _row_id) and
    plain inserts for the fresh keys — delete+insert would mean the merge
    reassigned ids."""
    from lakehouse_benchmark_ingestion_spark.operators.changes import (
        snapshot_changelog_lineage,
    )

    tbl = lin_table
    s0 = tbl.current_snapshot().snapshot_id
    base = tokens_df(spark, SF_SMOKE)
    updates = (
        base.filter(F.col("doc_id") == "5")
        .withColumn("source", F.lit("m"))
        .unionByName(
            base.limit(1).select(
                F.lit("brand-new").alias("doc_id"),
                "tokens", "n_tok", F.lit("m").alias("source"),
            )
        )
        .withColumn("_seq", F.lit(1).cast("long"))
    )
    merge_into(spark, tbl, updates, key="doc_id", seq_col="_seq")
    ch = snapshot_changelog_lineage(
        spark, tbl, s0, tbl.current_snapshot().snapshot_id
    )
    by_type = {}
    for r in ch.collect():
        by_type.setdefault(r["change_type"], set()).add(r["doc_id"])
    assert by_type["update_before"] == {"5"}
    assert by_type["update_after"] == {"5"}
    assert by_type["insert"] == {"brand-new"}
    assert "delete" not in by_type
    rids = {
        r["change_type"]: r[LINEAGE_ROW_ID_COL]
        for r in ch.filter(F.col("doc_id") == "5").collect()
    }
    assert rids["update_before"] == rids["update_after"]


def test_merge_cow_dv_deleted_key_reinserts_fresh(spark, lin_table):
    """A key removed by a DV delete and then re-upserted by the batch is an
    INSERT with a fresh id (the old id is dead — resurrection would break
    the changelog's pairing), and the DV must not leak onto the rewritten
    files."""
    tbl = lin_table
    old = _lineage_map(spark, tbl)["7"]
    delete_where(spark, tbl, {"doc_id": "7"}, strategy="dv")
    n0 = tbl.meta.next_row_id
    updates = (
        tokens_df(spark, SF_SMOKE)
        .filter(F.col("doc_id") == "7")
        .withColumn("source", F.lit("back"))
        .withColumn("_seq", F.lit(1).cast("long"))
    )
    merge_into(spark, tbl, updates, key="doc_id", seq_col="_seq")
    after = _lineage_map(spark, tbl)
    assert after["7"][0] == n0 != old[0], "re-upsert must get a FRESH id"
    rows = tbl.scan(spark).filter(F.col("doc_id") == "7").collect()
    assert len(rows) == 1 and rows[0]["source"] == "back"


def test_merge_cow_lineage_duplicate_base_keys_match_plain_cow(spark, warehouse):
    """Base rows [a, a, b], upsert a: the lineage COW merge returns the
    same rows as the plain COW merge ([a, b]); the merged row keeps the
    smaller of the two old ``_row_id``s."""
    df = tokens_df(spark, SF_SMOKE)
    base = df.filter(F.col("doc_id").isin("1", "2")).unionByName(
        df.filter(F.col("doc_id") == "1")
    )
    updates = (
        df.filter(F.col("doc_id") == "1")
        .withColumn("source", F.lit("m"))
        .withColumn("_seq", F.lit(1).cast("long"))
    )
    cat = Catalog(warehouse)
    rows = {}
    for name, props in (("plain", {}), ("lin", {ROW_LINEAGE_PROP: "true"})):
        tbl = cat.create_table(name, df.schema, properties=props)
        tbl.append(base, num_files=1)
        if props:
            old_ids = [
                r[LINEAGE_ROW_ID_COL]
                for r in tbl.scan_lineage(spark).filter(F.col("doc_id") == "1").collect()
            ]
        merge_into(spark, tbl, updates, key="doc_id", seq_col="_seq", strategy="cow")
        rows[name] = sorted(
            (r["doc_id"], r["source"]) for r in tbl.scan(spark).collect()
        )
    assert rows["lin"] == rows["plain"]
    assert [k for k, _ in rows["plain"]] == ["1", "2"]
    assert _lineage_map(spark, tbl)["1"][0] == min(old_ids)


def test_merge_cow_lineage_then_compaction_preserves(spark, lin_table):
    """Materialized merge outputs + assigned insert files survive a
    compaction with ids and sequences intact (the rewrite-preserves
    contract composed with the merge)."""
    tbl = lin_table
    updates = (
        tokens_df(spark, SF_SMOKE)
        .filter(F.col("doc_id").isin(["2", "4"]))
        .withColumn("source", F.lit("m"))
        .withColumn("_seq", F.lit(1).cast("long"))
    )
    merge_into(spark, tbl, updates, key="doc_id", seq_col="_seq")
    before = _lineage_map(spark, tbl)
    compact(spark, tbl, target_file_size=1 << 30)
    assert _lineage_map(spark, tbl) == before
