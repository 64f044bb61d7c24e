"""Metrics from the recorded operations (end to end) and spans (per layer)."""

from __future__ import annotations

import statistics

from .workloads import SUITE_KINDS, Op

TAIL_PCTS = (99.9, 99.0, 95.0, 90.0, 75.0)


def pct(xs: list[float], p: float) -> float:
    """Nearest-rank percentile."""
    s = sorted(xs)
    i = max(0, min(len(s) - 1, int(-(-p * len(s) // 100)) - 1))
    return s[i]


def tail(xs: list[float]) -> tuple[float, float]:
    """(percentile, value) at the highest percentile with >= 10 samples beyond it."""
    for p in TAIL_PCTS:
        if len(xs) * (1 - p / 100) >= 10:
            return p, pct(xs, p)
    return 50.0, statistics.median(xs)  # fewer than 40 samples: no tail to report


def _div(a: float, b: float) -> float:
    return a / b if b else 0.0


def cycle_walls(ops: list[Op]) -> dict[int, float]:
    """cycle -> summed wall of its engine calls (the benchmark's own
    directory listings between calls are left out)."""
    out: dict[int, float] = {}
    for o in ops:
        out[o.cycle] = out.get(o.cycle, 0.0) + o.wall
    return out


def workload_metrics(ops: list[Op], disk_bytes: int, live_logical: int) -> dict[str, float]:
    """Workload-level numbers over the given (untraced) operations."""
    by: dict[str, list[Op]] = {}
    for o in ops:
        by.setdefault(o.kind, []).append(o)

    def rate(kinds):
        sel = [o for k in kinds for o in by.get(k, []) if o.ok]
        return _div(sum(o.rows for o in sel), sum(o.wall for o in sel))

    scans = [o for o in by.get("scan", []) if o.ok]
    scan_rates = [o.rows / o.wall for o in scans if o.wall > 0]
    scan_cpu_rates = [o.rows / o.cpu for o in scans if o.cpu > 0]
    out: dict[str, float] = {
        "ingest_rows_per_s": rate(("append", "cdc")),
        "merge_rows_per_s": rate(("merge",)),
        # median over the clean full scans of rows / wall of that scan
        "scan_rows_per_s": statistics.median(scan_rates) if scan_rates else 0.0,
        # the same over CPU seconds (Spark JVM + this Python process) of each scan
        "scan_rows_per_cpu_s": statistics.median(scan_cpu_rates) if scan_cpu_rates else 0.0,
        "space_amp": _div(disk_bytes, live_logical),
    }
    # the whole mix: a typical cycle, each kind of call at its median wall
    # times the calls of that kind per cycle (one slow call moves it little)
    n_cycles = len({o.cycle for o in ops})
    out["cycle_s"] = sum(
        statistics.median(o.wall for o in kind_ops) * len(kind_ops) / n_cycles for kind_ops in by.values()
    )
    cycles = sorted({o.cycle for o in ops if o.kind in SUITE_KINDS})
    suite = sum(o.wall for o in ops if o.kind in SUITE_KINDS)
    out["maintain_s"] = _div(suite, len(cycles))
    for name, kind in (("batch", "cdc"), ("point", "point")):
        ms = [o.wall * 1000 for o in by.get(kind, []) if o.ok]
        p, v = tail(ms) if ms else (0.0, 0.0)
        out[f"{name}_p50_ms"] = statistics.median(ms) if ms else 0.0
        out[f"{name}_tail_ms"] = v
        out[f"{name}_tail_pct"] = p
        out[f"{name}_n"] = float(len(ms))
    handed = sum(o.logical for o in ops)
    created = sum(sum(o.written.values()) for o in ops)
    out["write_amp"] = _div(created, handed)
    out["fail_frac"] = _div(sum(not o.ok for o in ops), len(ops))
    return out


# span name prefix -> layer reported in the self-time table
LAYERS = [
    ("metadata.", "metadata"),
    ("manifest.", "manifest"),
    ("table.", "table"),
    ("mor.", "mor"),
    ("compaction", "compaction"),
    ("clustering", "clustering"),
    ("manifest_rewrite", "manifest_rewrite"),
    ("expire_snapshots", "expire_snapshots"),
    ("orphan_files", "orphan_files"),
    ("merge_into", "merge_into"),
    ("cdc", "cdc"),
    ("op.", "other"),  # the benchmark's call minus every engine layer: Spark actions it triggers
]


def layer_of(name: str) -> str | None:
    for prefix, layer in LAYERS:
        if name.startswith(prefix):
            return layer
    return None


def layer_metrics(tracer, ops: list[Op], n_cycles: int, traced_wall: float) -> dict[str, float]:
    """Per-layer numbers from the spans of the traced cycles."""
    spans = [s for s in tracer.spans if s.name != "cycle"]
    kids = tracer.children()
    by_id = {s.sid: s for s in tracer.spans}
    by: dict[str, list] = {}
    for s in spans:
        by.setdefault(s.name, []).append(s)
    selft = tracer.self_times()
    cyc = max(n_cycles, 1)

    def dur(s):
        return s.end - s.start

    def n(name):
        return len(by.get(name, []))

    def total(name):
        return sum(dur(s) for s in by.get(name, []))

    def mean_ms(name):
        return _div(total(name) * 1000, n(name))

    def attr_sum(name, key):
        return sum(s.attrs.get(key, 0) for s in by.get(name, []))

    def op_of(s):
        while s.parent is not None:
            s = by_id[s.parent]
            if s.name.startswith("op."):
                return s
        return None

    m: dict[str, float] = {}
    commits = by.get("metadata.commit", [])
    m["metadata.commit_n"] = len(commits) / cyc
    m["metadata.commit_ms"] = mean_ms("metadata.commit")
    m["metadata.commit_retries"] = float(sum(max(0, s.attrs.get("attempts", 1) - 1) for s in commits))
    m["metadata.commits_per_s"] = _div(len(commits), traced_wall)

    m["manifest.write_n"] = n("manifest.write") / cyc
    m["manifest.write_ms"] = mean_ms("manifest.write")
    m["manifest.read_n"] = (n("manifest.read") + n("manifest.read_summary")) / cyc
    m["manifest.read_ms"] = _div(
        (total("manifest.read") + total("manifest.read_summary")) * 1000,
        n("manifest.read") + n("manifest.read_summary"),
    )
    m["manifest.harvest_ms"] = mean_ms("manifest.harvest")
    m["manifest.harvest_files"] = attr_sum("manifest.harvest", "files") / cyc

    plans = by.get("table.plan", [])
    plan_self = {s.sid: dur(s) - _covered(s, kids) for s in plans}
    seen = [sum(c.attrs.get("entries", 0) for c in kids.get(s.sid, []) if c.name == "manifest.read") for s in plans]
    live = [
        max(
            sum(c.name == "manifest.read_summary" for c in kids.get(s.sid, [])),
            sum(c.name == "manifest.read" for c in kids.get(s.sid, [])),
        )
        for s in plans
    ]
    selected = [s.attrs.get("selected", 0) for s in plans]
    m["table.plan_n"] = len(plans) / cyc
    m["table.plan_ms"] = _div(sum(plan_self.values()) * 1000, len(plans))
    m["table.plan_files_seen"] = _div(sum(seen), len(plans))
    m["table.plan_files_selected"] = _div(sum(selected), len(plans))
    m["table.plan_selectivity"] = _div(sum(selected), sum(seen))
    m["table.manifests_live"] = _div(sum(live), len(plans))
    m["table.plan_share"] = _div(sum(plan_self.values()), traced_wall)

    # reads: the benchmark's point/scan calls, with the planning and the
    # delete files found beneath each
    reads = [s for s in spans if s.name in ("op.point", "op.scan", "op.debt_scan")]
    plan_in: dict[int, float] = {}
    dels_in: dict[int, int] = {}
    for s in plans:
        o = op_of(s)
        if o is not None:
            plan_in[o.sid] = plan_in.get(o.sid, 0.0) + plan_self[s.sid]
    for s in by.get("mor.scan", []):
        o = op_of(s)
        if o is not None:
            dels_in[o.sid] = dels_in.get(o.sid, 0) + s.attrs.get("delete_files", 0)
    m["table.scan_job_ms"] = _div(sum(dur(r) - plan_in.get(r.sid, 0.0) for r in reads) * 1000, len(reads))
    m["table.append_ms"] = mean_ms("table.append")
    debt = [r for r in reads if dels_in.get(r.sid, 0)]
    clean = [r for r in reads if not dels_in.get(r.sid, 0)]
    m["mor.delete_files_live"] = _div(sum(dels_in.get(r.sid, 0) for r in reads), len(reads))
    m["mor.debt_read_ms"] = _div(sum(dur(r) for r in debt) * 1000, len(debt))
    m["mor.clean_read_ms"] = _div(sum(dur(r) for r in clean) * 1000, len(clean))

    def op_sum(kind, f):
        return sum(f(o) for o in ops if o.kind == kind)

    for name, kind in (("compaction", "compact"), ("clustering", "cluster")):
        m[f"{name}.s"] = total(name) / cyc
        m[f"{name}.files_in"] = attr_sum(name, "files_in") / cyc
        m[f"{name}.files_out"] = attr_sum(name, "files_out") / cyc
        m[f"{name}.bytes_rewritten"] = op_sum(kind, lambda o: o.written.get("data", 0)) / cyc
    m["manifest_rewrite.s"] = total("manifest_rewrite") / cyc
    m["manifest_rewrite.manifests_in"] = attr_sum("manifest_rewrite", "manifests_in") / cyc
    m["manifest_rewrite.manifests_out"] = attr_sum("manifest_rewrite", "manifests_out") / cyc
    for name in ("expire_snapshots", "orphan_files"):
        m[f"{name}.s"] = total(name) / cyc
        m[f"{name}.files_reclaimed"] = op_sum(name, lambda o: o.reclaimed_files) / cyc
        m[f"{name}.bytes_reclaimed"] = op_sum(name, lambda o: o.reclaimed_bytes) / cyc

    m["merge_into.s"] = total("merge_into") / cyc
    m["merge_into.bytes_rewritten"] = op_sum("merge", lambda o: o.written.get("data", 0)) / cyc
    m["merge_into.useful_ratio"] = _div(
        op_sum("merge", lambda o: o.result.get("changed_rows", 0)), attr_sum("merge_into", "rows_out")
    )
    m["cdc.apply_ms"] = mean_ms("cdc")
    m["cdc.upserts"] = attr_sum("cdc", "upserts") / cyc
    m["cdc.delete_keys"] = attr_sum("cdc", "delete_keys") / cyc

    for cat in ("data", "delete", "manifest", "metadata"):
        m[f"storage.bytes_written_{cat}"] = sum(o.written.get(cat, 0) for o in ops) / cyc

    shares: dict[str, float] = {}
    for name, t in selft.items():
        layer = layer_of(name)
        if layer is not None:
            shares[layer] = shares.get(layer, 0.0) + t
    for _, layer in LAYERS:
        m[f"self_share.{layer}"] = _div(shares.get(layer, 0.0), traced_wall)
    m["trace.spans"] = len(spans) / cyc
    return m


def _covered(s, kids) -> float:
    from .trace import _union

    return _union([(c.start, c.end) for c in kids.get(s.sid, [])], s.start, s.end)


# the base of every ratio in the layer table
RATIO_BASES = {
    "table.plan_selectivity": "files selected / file entries read from manifests, summed over plans",
    "table.plan_share": "planning self time / traced cycle wall",
    "merge_into.useful_ratio": "rows changed (updated + inserted keys) / rows written by the MERGE",
    "write_amp": "bytes of files created under the table / logical bytes handed to the engine",
    "fail_frac": "failed operations / attempted operations",
    "trace.overhead": "median traced cycle wall / median untraced cycle wall - 1",
    "self_share.*": "layer self time (span minus child spans) / traced cycle wall",
}


def layer_table(wl: str, m: dict[str, float], walls: dict[bool, list[float]]) -> str:
    lines = [
        f"# {wl}: layer numbers over {len(walls[True])} traced cycle(s) ({sum(walls[True]):.2f} s); "
        f"workload numbers (ingest_rows_per_s ... fail_frac) over {len(walls[False])} untraced cycle(s)",
        "# counts and bytes are per traced cycle; *_ms are means per call; *.s are seconds per cycle",
    ]
    lines += [f"# {k} = {v}" for k, v in RATIO_BASES.items()]
    lines += [f"{k:36s} {m[k]:>14.6g}" for k in sorted(m)]
    return "\n".join(lines) + "\n"
