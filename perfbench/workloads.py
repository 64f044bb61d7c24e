"""The two closed-loop workloads: one client, next call when the last returns.

Each workload is a sequence of *cycles* (its own mix of operations). A run
is: set-up (repeated; the last table is kept), untimed warm-up cycles until
two consecutive cycle walls agree, timed cycles until ``--seconds`` have
passed (checked at cycle boundaries, so every run ends on a whole cycle),
then the untimed correctness checks.

Engine calls go through module attributes (``compaction.compact``,
``tbl.append``) so the tracer's patches are what the workload calls.
"""

from __future__ import annotations

import importlib
import os
import shutil
import sys
import time
import traceback
from concurrent.futures import ThreadPoolExecutor
from dataclasses import dataclass, field

from lakehouse_benchmark_ingestion_spark.icelite.catalog import Catalog
from pyspark.sql import functions as F

from . import inputs
from .inputs import KeySpace


def _module(name: str):
    # the operators package re-exports functions under their modules' names
    # (operators.merge_into is the function), so resolve the modules directly
    return importlib.import_module(f"lakehouse_benchmark_ingestion_spark.{name}")


clustering = _module("operators.clustering")
compaction = _module("operators.compaction")
expire_snapshots = _module("operators.expire_snapshots")
manifest_rewrite = _module("operators.manifest_rewrite")
merge_into = _module("operators.merge_into")
orphan_files = _module("operators.orphan_files")
validate = _module("operators.validate")
tokens_src = _module("sources.tokens")
cdc = _module("streaming.cdc")

TARGET_FILE = 512 * 1024  # rewrite target: more output files than cores at this scale
SUITE_KINDS = ("compact", "cluster", "rewrite_manifests", "expire_snapshots", "orphan_files")
WRITE_KINDS = {"append", "cdc", "merge", *SUITE_KINDS}

# Row-change mix of the CDC and MERGE batches. The reference replicates an
# OLTP-bench CH-benCHmark database (BASELINE.md), whose write traffic is
# TPC-C's. Per transaction type: (share of transactions, rows inserted,
# rows updated, rows deleted, updates of WAREHOUSE / DISTRICT rows). Shares
# are the TPC-C minimum mix (clause 5.2.3; New-Order takes the rest), rows
# follow the transaction profiles (clauses 2.4-2.7) with the average of 10
# order lines per order and 10 districts per Delivery.
TPCC = {
    "new_order": (0.45, 12, 11, 0, 1),  # +ORDERS +NEW_ORDER +10 ORDER_LINE; DISTRICT, 10 STOCK
    "payment": (0.43, 1, 3, 0, 2),  # +HISTORY; WAREHOUSE, DISTRICT, CUSTOMER
    "delivery": (0.04, 0, 120, 10, 0),  # per district: -NEW_ORDER; ORDERS, 10 ORDER_LINE, CUSTOMER
    "order_status": (0.04, 0, 0, 0, 0),
    "stock_level": (0.04, 0, 0, 0, 0),
}
_INS, _UPD, _DEL, _HOT = (sum(t[0] * t[i] for t in TPCC.values()) for i in range(1, 5))
INSERT_SHARE = _INS / (_INS + _UPD + _DEL)  # 0.338
UPDATE_SHARE = _UPD / (_INS + _UPD + _DEL)  # 0.639
DELETE_SHARE = _DEL / (_INS + _UPD + _DEL)  # 0.023
# the few WAREHOUSE / DISTRICT rows are updated many times per commit
# interval, so this share of the updates repeats a key within one batch
HOT_SHARE = _HOT / _UPD  # 0.119


@dataclass
class Op:
    kind: str
    wall: float
    cycle: int
    traced: bool
    ok: bool = True
    cpu: float = 0.0  # CPU seconds of the Spark JVM and this process during the call
    rows: int = 0  # rows handed to the engine (writes) or scanned (reads)
    logical: int = 0  # logical bytes of the rows handed to the engine
    written: dict = field(default_factory=dict)  # category -> bytes created
    reclaimed_files: int = 0
    reclaimed_bytes: int = 0
    result: dict = field(default_factory=dict)


def _category(rel: str) -> str:
    top = rel.split(os.sep, 1)[0]
    if top == "data":
        return "delete" if "-deletes" in rel else "data"
    if top == "metadata" and os.path.basename(rel).startswith("manifest-"):
        return "manifest"
    return "metadata"


def cpu_seconds(jvm_pid: int | None) -> float:
    """CPU time (user + system) of this process plus the Spark JVM. Unlike
    wall time it leaves out time the CPUs were taken by other tenants."""
    total = time.process_time()
    if jvm_pid is not None:
        with open(f"/proc/{jvm_pid}/stat") as f:
            fields = f.read().rsplit(")", 1)[1].split()
        total += (int(fields[11]) + int(fields[12])) / os.sysconf("SC_CLK_TCK")
    return total


def listing(root: str) -> dict[str, int]:
    out: dict[str, int] = {}
    for dirpath, _dirs, names in os.walk(root):
        for n in names:
            p = os.path.join(dirpath, n)
            try:
                out[p] = os.stat(p).st_size
            except FileNotFoundError:
                continue
    return out


class Client:
    """Runs one workload against one table and records every operation."""

    def __init__(self, spark, workdir: str, seed: int, workload: str):
        self.spark = spark
        proc = getattr(spark.sparkContext._gateway, "proc", None)
        self.jvm_pid = proc.pid if proc is not None else None
        self.workdir = workdir
        self.seed = seed
        self.workload = workload
        self.p = PARAMS[workload]
        self.tracer = None  # set while a traced cycle runs
        self.ops: list[Op] = []
        self.cycle_no = -1
        self.recording = False
        self.failed = 0
        self.attempted = 0
        self.mismatches: list[str] = []
        self.img = inputs.Images(seed)
        self.batches_done = 0
        self.gen_s: list[float] = []
        self.build_s: list[float] = []

    # ---- operation recording ---------------------------------------------
    def op(self, kind: str, fn, rows: int = 0, logical: int = 0) -> Op:
        write = kind in WRITE_KINDS
        before = listing(self.tbl.location) if write else None
        sp = self.tracer.open(f"op.{kind}") if self.tracer else None
        cpu0 = cpu_seconds(self.jvm_pid)
        t0 = time.monotonic()
        rec = Op(kind, 0.0, self.cycle_no, self.tracer is not None, rows=rows, logical=logical)
        try:
            r = fn()
            rec.result = r if isinstance(r, dict) else {"value": r}
        except Exception:
            rec.ok = False
            traceback.print_exc(file=sys.stderr)
        rec.wall = time.monotonic() - t0
        rec.cpu = cpu_seconds(self.jvm_pid) - cpu0
        if sp is not None:
            self.tracer.close(sp)
        if write:
            after = listing(self.tbl.location)
            base = len(self.tbl.location) + 1
            for p, size in after.items():
                if before.get(p) != size:
                    c = _category(p[base:])
                    rec.written[c] = rec.written.get(c, 0) + size
            gone = [s for p, s in before.items() if p not in after and p.endswith(".parquet")]
            rec.reclaimed_files, rec.reclaimed_bytes = len(gone), sum(gone)
        self.attempted += 1
        if not rec.ok:
            self.failed += 1
        if self.recording:
            self.ops.append(rec)
        return rec

    def cycle(self, tracer=None) -> float:
        """One cycle of the workload's mix; traced when a tracer is given."""
        self.cycle_no += 1
        if tracer is not None:
            tracer.install()
            self.tracer = tracer
            span = tracer.open("cycle")
        t0 = time.monotonic()
        try:
            CYCLES[self.workload](self)
        finally:
            wall = time.monotonic() - t0
            if tracer is not None:
                tracer.close(span)
                self.tracer = None
                tracer.uninstall()
        return wall

    def op_walls(self) -> dict[str, list[float]]:
        out: dict[str, list[float]] = {}
        for o in self.ops:
            out.setdefault(o.kind, []).append(o.wall)
        return out

    def disk_files(self) -> dict[str, int]:
        return listing(self.tbl.location)

    def mismatch(self, what: str) -> None:
        self.mismatches.append(what)
        self.failed += 1
        print(f"mismatch: {what}", file=sys.stderr)

    # ---- set-up -----------------------------------------------------------
    def setup(self, rep: int) -> None:
        """Input generation and base-table build (timed as set-up)."""
        shutil.rmtree(os.path.join(self.workdir, f"rep-{rep - 1}"), ignore_errors=True)
        root = os.path.join(self.workdir, f"rep-{rep}")
        os.makedirs(root)
        self.ks = KeySpace(self.seed)
        t0 = time.monotonic()
        docs = os.path.join(root, "docs")
        documents = self.img.documents(self.spark, self.p["doc_keys"]).coalesce(1)
        documents.write.parquet(os.path.join(docs, "documents.parquet"))
        self.source = tokens_src.tokens_df(self.spark, docs)
        t1 = time.monotonic()
        self.key_limit = inputs.KEY0 + self.p["doc_keys"]
        self.tbl = Catalog(os.path.join(root, "warehouse")).create_table("t", self.source.schema)
        for _ in range(self.p["base_appends"]):
            self.append_generated(self.p["base_rows"] // self.p["base_appends"], self.p["base_file_rows"])
        t2 = time.monotonic()
        self.gen_s.append(t1 - t0)
        self.build_s.append(t2 - t1)

    # ---- operations -------------------------------------------------------
    def append_generated(self, n: int, file_rows: int) -> Op | None:
        lo, hi = self.ks.take_generated(n)
        if hi > self.key_limit:
            raise RuntimeError(f"documents file holds keys below {self.key_limit}; raise doc_keys")
        df = self.source.filter(F.col("doc_id").between(str(lo), str(hi - 1)))
        logical = sum(self.img.logical(k, 0) for k in range(lo, hi))
        if self.cycle_no < 0:  # set-up: untimed by op(), timed as a whole
            self.tbl.append(df, max_records_per_file=file_rows)
            return None
        return self.op(
            "append", lambda: self.tbl.append(df, max_records_per_file=file_rows), rows=n, logical=logical
        )

    def _upserts(self, n: int, keys: list[int]) -> tuple[list[int], list[int], list[int]]:
        """Split ``n`` upsert rows by the TPC-C update/insert shares: distinct
        updates drawn from ``keys``, repeats of some of them within the batch
        (the hot-row share; the repeat carries a newer ``_seq``), fresh inserts."""
        n_i = round(n * INSERT_SHARE / (INSERT_SHARE + UPDATE_SHARE))
        n_rep = round((n - n_i) * HOT_SHARE)
        upd = self.ks.rng.sample(keys, n - n_i - n_rep)
        return upd, upd[:n_rep], self.ks.fresh(n_i)

    def merge_batch(self) -> None:
        """One COW MERGE of upserts (no deletes): updates of live keys inside
        a window of the table (some repeated, newer _seq wins) plus inserts."""
        p = self.p
        upd, rep, ins = self._upserts(p["merge_rows"], self.ks.window(p["merge_window"]))
        v1, v2 = self.ks.version(), self.ks.version()
        keys = upd + ins + rep
        vers = [v1] * len(upd + ins) + [v2] * len(rep)
        seqs = [1] * len(upd + ins) + [2] * len(rep)
        batch = self.img.frame(self.spark, {"k": keys, "v": vers, "_seq": seqs})
        rec = self.op(
            "merge",
            lambda: merge_into.merge_into(self.spark, self.tbl, batch, target_file_size=TARGET_FILE),
            rows=len(keys),
            logical=sum(self.img.logical(k, v) for k, v in zip(keys, vers)),
        )
        for k, v in zip(keys, vers):
            self.ks.apply(k, v, "U")
        rec.result["changed_rows"] = len(upd) + len(ins)

    def cdc_batch(self) -> None:
        """One Debezium-style micro-batch in the TPC-C row-change mix:
        updates (some repeated, newer _seq wins) and deletes of live keys,
        inserts of fresh keys, applied as one merge-on-read commit."""
        p = self.p
        n = p["cdc_rows"]
        n_d = round(n * DELETE_SHARE)
        dele = self.ks.sample_live(n_d)
        gone = set(dele)
        upd, rep, ins = self._upserts(n - n_d, [k for k in self.ks.live if k not in gone])
        v1, v2 = self.ks.version(), self.ks.version()
        keys = upd + dele + ins + rep
        ops = ["U"] * len(upd) + ["D"] * len(dele) + ["I"] * len(ins) + ["U"] * len(rep)
        vers = [v1] * (len(keys) - len(rep)) + [v2] * len(rep)
        seqs = [1] * (len(keys) - len(rep)) + [2] * len(rep)
        batch = self.img.frame(self.spark, {"k": keys, "v": vers, "_op": ops, "_seq": seqs})
        # cdc_apply_batch overwrites data/cdc-{run_id}: one id per batch
        run_id = f"s{self.seed}-b{self.batches_done}"
        self.batches_done += 1
        self.op(
            "cdc",
            lambda: cdc.cdc_apply_batch(self.spark, self.tbl, batch, run_id=run_id),
            rows=len(keys),
            logical=sum(self.img.logical(k, v) for k, v, op in zip(keys, vers, ops) if op != "D"),
        )
        for k, v, op in zip(keys, vers, ops):
            self.ks.apply(k, v, op)

    def lookup(self, key: int) -> None:
        rec = self.op(
            "point",
            lambda: self.tbl.scan(self.spark, where={"doc_id": str(key)}, columns=["doc_id", "n_tok"]).collect(),
        )
        if not rec.ok:
            return
        got = rec.result["value"]
        rec.rows = len(got)
        want = [(str(key), self.img.n_tok(key, self.ks.ver[key]))] if key in self.ks.ver else []
        if [tuple(r) for r in got] != want:
            self.mismatch(f"lookup {key}: got {[tuple(r) for r in got]}, want {want}")

    def full_scan(self, kind: str = "scan") -> None:
        def run():
            return self.tbl.scan(self.spark).agg(
                F.count(F.lit(1)).alias("n"), F.sum("n_tok"), F.sum(F.size("tokens"))
            ).first()

        rec = self.op(kind, run)
        if rec.ok:
            rec.rows = rec.result["value"]["n"]
            if rec.rows != len(self.ks.live):
                self.mismatch(f"full scan: {rec.rows} rows, want {len(self.ks.live)}")

    def suite(self) -> None:
        """The full maintenance suite; compaction also rewrites every file
        an equality delete still applies to, which clears the delete debt."""
        s, t = self.spark, self.tbl
        calls = {
            "compact": lambda: compaction.compact(
                s, t, target_file_size=TARGET_FILE, max_concurrent_groups=2, delete_file_threshold=1
            ),
            "cluster": lambda: clustering.cluster(s, t, target_file_size=TARGET_FILE),
            "rewrite_manifests": lambda: manifest_rewrite.rewrite_manifests(t),
            "expire_snapshots": lambda: expire_snapshots.expire_snapshots(t, keep_last=1),
            "orphan_files": lambda: orphan_files.remove_orphan_files(t, older_than_ms=0),
        }
        for k in SUITE_KINDS:
            self.op(k, calls[k])

    # ---- correctness gate (untimed) ----------------------------------------
    def verify(self) -> int:
        """Compare the table with the independently computed expected state
        and run the deep integrity check; returns live logical bytes. The
        three Spark jobs are independent, so they run concurrently."""
        self.recording = False
        with ThreadPoolExecutor(3) as pool:
            want = pool.submit(self.ks.expected, self.spark, self.img)
            got = pool.submit(lambda: inputs.table_aggregate(self.tbl.scan(self.spark)))
            rep = pool.submit(validate.validate_table, self.spark, self.tbl, deep=True)
            want, got, rep = want.result(), got.result(), rep.result()
        self.attempted += 2
        if got != want:
            self.mismatch(f"table (rows, sum n_tok, digest) = {got}, expected {want}")
        if not rep["ok"]:
            self.mismatch(f"validate_table(deep=True): {rep['issues'][:3]}")
        return self.ks.live_logical(self.img)


# ---- workload definitions -------------------------------------------------
# A row is ~300 logical bytes (7-char key, 4-char source, ~70 int32 tokens).
# Sizes are per cycle. The reference publishes no change rate, so the rows
# per commit and the commits per maintenance pass are assumptions, sized so
# that a cycle takes a few seconds on 4 cores.
PARAMS = {
    "maintain": dict(
        doc_keys=12_000 + 60 * 400, base_rows=12_000, base_appends=3, base_file_rows=1_000,
        append_rows=400, cdc_rows=400, merge_rows=400, merge_window=0.25,
        scans=1, warm_min=2, warm_max=2,
    ),
    "query": dict(
        doc_keys=24_000, base_rows=24_000, base_appends=4, base_file_rows=500,
        lookups=10, scans=3, warm_min=5, warm_max=8,
    ),
}


def maintain_cycle(c: Client) -> None:
    p = c.p
    # one commit per checkpoint (the reference's sink commits once per
    # 60 s checkpoint) through each write path its sinks use: a plain
    # append (one file), an upsert micro-batch as equality deletes (MOR),
    # a copy-on-write MERGE
    c.append_generated(p["append_rows"], p["append_rows"])
    c.cdc_batch()
    c.merge_batch()
    # a full scan under the delete debt, the suite that clears it, and the
    # post-maintenance scans; no predicate reads in this workload
    c.full_scan("debt_scan")
    c.suite()
    for _ in range(p["scans"]):
        c.full_scan()


def query_cycle(c: Client) -> None:
    lo, hi = inputs.KEY0, c.ks.next_gen
    for _ in range(c.p["lookups"]):
        c.lookup(c.ks.rng.randrange(lo, hi))
    for _ in range(c.p["scans"]):
        c.full_scan()


CYCLES = {"maintain": maintain_cycle, "query": query_cycle}
