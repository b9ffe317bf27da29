"""Spans around calls into the program's layers, recorded from outside.

The traced run patches the program's public functions with wrappers that
open a span per call; spans stay in memory and are written out when the run
ends. Nothing here is imported by the program itself.
"""

from __future__ import annotations

import contextlib
import functools
import json
import os
import sys
import time
from collections import Counter
from dataclasses import asdict, dataclass


@dataclass
class Span:
    name: str
    start: float
    end: float
    parent: int | None  # index of the enclosing span, None for a root
    op: str  # identifier of the operation the span belongs to


class Tracer:
    """Records spans and counts while ``enabled``; otherwise does nothing."""

    def __init__(self) -> None:
        self.enabled = False
        self.op = "setup"
        self.spans: list[Span] = []
        self.counts: Counter[str] = Counter()
        self._stack: list[int] = []

    @contextlib.contextmanager
    def span(self, name: str):
        if not self.enabled:
            yield
            return
        idx = len(self.spans)
        parent = self._stack[-1] if self._stack else None
        self.spans.append(Span(name, time.perf_counter(), 0.0, parent, self.op))
        self._stack.append(idx)
        try:
            yield
        finally:
            self._stack.pop()
            self.spans[idx].end = time.perf_counter()

    def count(self, name: str, n: float = 1) -> None:
        if self.enabled:
            self.counts[name] += n

    def inside(self, name: str) -> bool:
        """Whether a span called ``name`` is open."""
        return any(self.spans[i].name == name for i in self._stack)

    def wrap(self, name: str, fn):
        @functools.wraps(fn)
        def traced(*args, **kwargs):
            with self.span(name):
                return fn(*args, **kwargs)

        return traced

    def dump(self, path: str) -> None:
        with open(path, "w") as f:
            json.dump({"spans": [asdict(s) for s in self.spans]}, f)


def self_times(spans: list[Span]) -> list[float]:
    """Each span's duration minus the part of its interval that its child
    spans cover (overlapping children are counted once)."""
    children: dict[int, list[tuple[float, float]]] = {}
    for s in spans:
        if s.parent is not None:
            children.setdefault(s.parent, []).append((s.start, s.end))
    out = []
    for i, s in enumerate(spans):
        covered = 0.0
        cur_lo = cur_hi = None
        for lo, hi in sorted(children.get(i, [])):
            lo, hi = max(lo, s.start), min(hi, s.end)
            if hi <= lo:
                continue
            if cur_hi is None or lo > cur_hi:
                if cur_hi is not None:
                    covered += cur_hi - cur_lo
                cur_lo, cur_hi = lo, hi
            else:
                cur_hi = max(cur_hi, hi)
        if cur_hi is not None:
            covered += cur_hi - cur_lo
        out.append((s.end - s.start) - covered)
    return out


def snapshot_file_stats(snapshot_dir: str) -> dict[str, float]:
    """Right after a commit: which partitions of the new snapshot were
    staged (files with one link) and which hard-linked from the base."""
    rewritten = linked = files_linked = 0
    staged_bytes = 0
    for dirpath, _, names in os.walk(snapshot_dir):
        files = [os.path.join(dirpath, n) for n in names if n.endswith(".parquet")]
        if not files:
            continue
        stats = [os.stat(p) for p in files]
        n_linked = sum(1 for st in stats if st.st_nlink > 1)
        files_linked += n_linked
        staged_bytes += sum(st.st_size for st in stats if st.st_nlink == 1)
        if n_linked == len(stats):
            linked += 1
        else:
            rewritten += 1
    return {
        "txn.partitions_rewritten": rewritten,
        "txn.partitions_linked": linked,
        "txn.files_linked": files_linked,
        "txn.bytes_staged_mb": staged_bytes / 1e6,
    }


@contextlib.contextmanager
def instrumented(tracer: Tracer):
    """Patch the program's layer entry points with traced wrappers for the
    duration of the block, then restore the originals."""
    from profitscout_engine_spark import catalog
    from profitscout_engine_spark.queries import _util
    from profitscout_engine_spark.sources import io, txn

    patches: list[tuple[object, str, object]] = []

    def patch(obj, attr, new):
        patches.append((obj, attr, getattr(obj, attr)))
        setattr(obj, attr, new)

    traced_table = tracer.wrap("catalog.table", catalog.table)
    patch(catalog, "table", traced_table)
    patch(_util, "table", traced_table)  # `t` resolves `table` here

    orig_shared = _util.shared

    def traced_shared(spark, sf_dir, key, builder):
        def traced_builder():
            with tracer.span("shared.build"):
                return builder()

        with tracer.span("shared"):
            return orig_shared(spark, sf_dir, key, traced_builder)

    # Query modules bind `shared` by name at import, so patch each binding.
    patch(_util, "shared", traced_shared)
    for name, mod in list(sys.modules.items()):
        if name.startswith("profitscout_engine_spark.queries.") and (
            getattr(mod, "shared", None) is orig_shared
        ):
            patch(mod, "shared", traced_shared)

    patch(io, "overwrite_day_partition", tracer.wrap("io.overwrite_day_partition", io.overwrite_day_partition))
    patch(txn, "merge_upsert_txn", tracer.wrap("txn.merge", txn.merge_upsert_txn))
    patch(txn, "delete_where_txn", tracer.wrap("txn.delete", txn.delete_where_txn))
    patch(txn, "vacuum", tracer.wrap("txn.vacuum", txn.vacuum))
    # txn resolves these through its module globals, so the patch also
    # catches the calls merge and delete make internally.
    patch(txn, "read_versioned", tracer.wrap("txn.read_versioned", txn.read_versioned))

    def counted_commit(fn, is_full):
        @functools.wraps(fn)
        def commit(*args, **kwargs):
            if is_full and tracer.inside("txn.merge"):
                tracer.count("txn.full_rewrite_fallbacks")
            try:
                version = fn(*args, **kwargs)
            except txn.ConcurrentCommitError:
                tracer.count("txn.conflicts")
                raise
            tracer.count("txn.commits")
            root = args[1] if len(args) > 1 else kwargs["root"]
            for k, v in snapshot_file_stats(txn.snapshot_path(root, version)).items():
                tracer.count(k, v)
            return version

        return commit

    patch(txn, "commit_snapshot", counted_commit(txn.commit_snapshot, True))
    patch(txn, "_commit_partition_delta", counted_commit(txn._commit_partition_delta, False))
    try:
        yield
    finally:
        for obj, attr, orig in reversed(patches):
            setattr(obj, attr, orig)


def query_module(fn) -> str:
    """Short module name of a query function (``similarity`` etc.)."""
    return fn.__module__.rsplit(".", 1)[-1]

