"""Span recorder that wraps the engine's public functions from outside.

The engine is not edited: ``Tracer.install()`` replaces module and class
attributes with recording wrappers and ``uninstall()`` puts the originals
back. Each wrapper records one span (name, start, end, parent, run id and
a few counters taken from the call's arguments or result). Spans stay in
memory; ``write()`` dumps them when the run ends.

A layer's self time is its span's duration minus the part of that interval
covered by its child spans (interval union, so overlapping children from
worker threads are not counted twice).
"""

from __future__ import annotations

import functools
import importlib
import json
import threading
import time
from dataclasses import dataclass, field

PKG = "lakehouse_benchmark_ingestion_spark"


@dataclass
class Span:
    sid: int
    name: str
    start: float
    end: float = 0.0
    parent: int | None = None
    attrs: dict = field(default_factory=dict)


def _len(x) -> int:
    return len(x) if x is not None else 0


# attrs taken from a call: (args, kwargs, result) -> dict. Positional
# indexes follow the engine's signatures (self counts for methods).
def _manifest_read_attrs(a, k, r):
    return {"entries": _len(r)}


def _harvest_attrs(a, k, r):
    paths = a[0] if a and isinstance(a[0], list) else (a[1] if len(a) > 1 else [])
    return {"files": _len(paths)}


def _plan_attrs(a, k, r):
    return {"selected": _len(r)}


def _mor_attrs(a, k, r):
    dels = a[3] if len(a) > 3 else k.get("delete_files")
    return {"delete_files": _len(dels)}


def _dict_result(a, k, r):
    if not isinstance(r, dict):
        return {}
    return {key: v for key, v in r.items() if isinstance(v, (int, float)) and not isinstance(v, bool)}


# (module, attribute or Class.method, span name, attrs fn)
TARGETS = [
    ("icelite.metadata", "commit", "metadata.commit", None),
    ("icelite.manifest", "write_manifest", "manifest.write", None),
    ("icelite.manifest", "read_manifest", "manifest.read", _manifest_read_attrs),
    ("icelite.manifest", "read_manifest_summary", "manifest.read_summary", None),
    ("icelite.manifest", "harvest_stats", "manifest.harvest", _harvest_attrs),
    ("icelite.manifest", "harvest_stats_distributed", "manifest.harvest", _harvest_attrs),
    ("icelite.table", "IceliteTable.select_data_files", "table.plan", _plan_attrs),
    ("icelite.table", "IceliteTable.scan", "table.scan", None),
    ("icelite.table", "IceliteTable.append", "table.append", None),
    ("icelite.mor", "mor_scan", "mor.scan", _mor_attrs),
    ("operators.compaction", "compact", "compaction", _dict_result),
    ("operators.clustering", "cluster", "clustering", _dict_result),
    ("operators.manifest_rewrite", "rewrite_manifests", "manifest_rewrite", _dict_result),
    ("operators.expire_snapshots", "expire_snapshots", "expire_snapshots", _dict_result),
    ("operators.orphan_files", "remove_orphan_files", "orphan_files", _dict_result),
    ("operators.merge_into", "merge_into", "merge_into", _dict_result),
    ("streaming.cdc", "cdc_apply_batch", "cdc", _dict_result),
]

class Tracer:
    def __init__(self, run_id: str):
        self.run_id = run_id
        self.spans: list[Span] = []
        self._local = threading.local()
        self._lock = threading.Lock()
        self._main_stack: list[int] = []
        self._undo: list[tuple[object, str, object]] = []

    # ---- span API ----------------------------------------------------------
    def _stack(self) -> list[int]:
        st = getattr(self._local, "stack", None)
        if st is None:
            st = self._main_stack if threading.current_thread() is threading.main_thread() else []
            self._local.stack = st
        return st

    def open(self, name: str) -> Span:
        st = self._stack()
        # a worker thread with no open span hangs under the main thread's
        # innermost span (compaction runs its groups on a thread pool)
        parent = st[-1] if st else (self._main_stack[-1] if self._main_stack else None)
        with self._lock:
            sp = Span(len(self.spans), name, time.monotonic(), parent=parent)
            self.spans.append(sp)
        st.append(sp.sid)
        return sp

    def close(self, sp: Span) -> None:
        sp.end = time.monotonic()
        st = self._stack()
        if st and st[-1] == sp.sid:
            st.pop()

    def wrap(self, fn, name: str, attrs_fn=None):
        tracer = self

        @functools.wraps(fn)
        def traced(*a, **k):
            sp = tracer.open(name)
            try:
                if name == "metadata.commit":
                    # attempts = calls of the mutate callback (one per try)
                    mutate = a[1] if len(a) > 1 else k.pop("mutate")

                    def counted(meta):
                        sp.attrs["attempts"] = sp.attrs.get("attempts", 0) + 1
                        return mutate(meta)

                    r = fn(a[0], counted, *a[2:], **k)
                else:
                    r = fn(*a, **k)
                if attrs_fn is not None:
                    sp.attrs.update(attrs_fn(a, k, r))
                return r
            except Exception:
                sp.attrs["error"] = 1
                raise
            finally:
                tracer.close(sp)

        return traced

    # ---- patching ------------------------------------------------------------
    def install(self) -> None:
        if self._undo:
            return
        # every caller the workloads reach resolves these through the module
        # or class attribute at call time (``md.commit``, ``mf.read_manifest``)
        for mod_name, attr, name, attrs_fn in TARGETS:
            mod = importlib.import_module(f"{PKG}.{mod_name}")
            owner, a = mod, attr
            if "." in attr:
                cls, a = attr.split(".")
                owner = getattr(mod, cls)
            orig = owner.__dict__[a] if isinstance(owner, type) else getattr(owner, a)
            w = self.wrap(orig, name, attrs_fn)
            self._undo.append((owner, a, orig))
            setattr(owner, a, w)

    def uninstall(self) -> None:
        for owner, a, orig in reversed(self._undo):
            setattr(owner, a, orig)
        self._undo.clear()

    # ---- analysis --------------------------------------------------------------
    def children(self) -> dict[int, list[Span]]:
        kids: dict[int, list[Span]] = {}
        for s in self.spans:
            if s.parent is not None:
                kids.setdefault(s.parent, []).append(s)
        return kids

    def self_times(self) -> dict[str, float]:
        """Seconds of self time per span name."""
        kids = self.children()
        out: dict[str, float] = {}
        for s in self.spans:
            covered = _union([(c.start, c.end) for c in kids.get(s.sid, [])], s.start, s.end)
            out[s.name] = out.get(s.name, 0.0) + max(0.0, (s.end - s.start) - covered)
        return out

    def write(self, path: str) -> None:
        with open(path, "w") as f:
            for s in self.spans:
                f.write(
                    json.dumps(
                        {
                            "run": self.run_id,
                            "id": s.sid,
                            "name": s.name,
                            "start": round(s.start, 6),
                            "end": round(s.end, 6),
                            "parent": s.parent,
                            **({"attrs": s.attrs} if s.attrs else {}),
                        }
                    )
                    + "\n"
                )


def _union(intervals: list[tuple[float, float]], lo: float, hi: float) -> float:
    """Length of the union of ``intervals`` clipped to [lo, hi]."""
    total = 0.0
    cur_s = cur_e = None
    for s, e in sorted((max(s, lo), min(e, hi)) for s, e in intervals):
        if e <= s:
            continue
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total
