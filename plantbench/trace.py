"""Spans and counters recorded from the benchmark's side of each call.

The program carries no tracing of its own. In a traced run the
benchmark replaces a few public functions and methods of the program
with wrappers that record a span per call — name, start, end, parent,
request id, phase — plus counters measured at the same boundary (rows
and bytes of the parquet files a store write created). Spans are kept
in memory and written out when the run ends.

With the tracer disabled a wrapper is a single attribute test and a
direct call, so the untraced phase of a traced run measures the same
code path as an untraced run.
"""

from __future__ import annotations

import contextlib
import functools
import json
import os
import statistics
import threading
import time
from collections import defaultdict

#: layers, by span-name prefix, whose self time a traced run reports
LAYERS = ("api", "export", "timeseries", "store", "ingest", "pi_client",
          "derived_maint", "derived", "closure", "tree")


class Tracer:
    def __init__(self):
        self.enabled = False
        self.phase = "setup"
        self.spans: list[dict] = []
        self._lock = threading.Lock()
        self._local = threading.local()

    # ------------------------------------------------------------ spans
    def _stack(self) -> list:
        st = getattr(self._local, "stack", None)
        if st is None:
            st = self._local.stack = []
        return st

    def set_request(self, rid) -> None:
        self._local.rid = rid

    @contextlib.contextmanager
    def span(self, name: str):
        """Record one span; yields its dict (callers may add counters)
        or None when tracing is off."""
        if not self.enabled:
            yield None
            return
        stack = self._stack()
        with self._lock:
            sid = len(self.spans)
            sp = {"id": sid, "name": name,
                  "parent": stack[-1]["id"] if stack else None,
                  "rid": getattr(self._local, "rid", None),
                  "phase": self.phase,
                  "thread": threading.get_ident(),
                  "start": time.perf_counter(), "end": None}
            self.spans.append(sp)
        stack.append(sp)
        try:
            yield sp
        finally:
            sp["end"] = time.perf_counter()
            stack.pop()

    # ---------------------------------------------------------- wrapping
    def wrap(self, owner, attr: str, name: str, counter=None) -> None:
        """Replace ``owner.attr`` with a span-recording wrapper.
        ``counter(args, kwargs)`` may return a callable that is invoked
        after the call with the span dict, to attach counters."""
        orig = getattr(owner, attr)
        tracer = self

        @functools.wraps(orig)
        def wrapper(*args, **kwargs):
            if not tracer.enabled:
                return orig(*args, **kwargs)
            after = counter(args, kwargs) if counter else None
            with tracer.span(name) as sp:
                out = orig(*args, **kwargs)
            if after is not None:
                after(sp)
            return out

        setattr(owner, attr, wrapper)

    def install(self, store_root: str) -> None:
        """Wrap the program's public entry points, one span name per
        layer boundary."""
        from industrial_data_pipeline_spark import api
        from industrial_data_pipeline_spark.catalog import store
        from industrial_data_pipeline_spark.operators import timeseries
        from industrial_data_pipeline_spark.sources import ingest, pi_client
        from industrial_data_pipeline_spark.streaming import derived

        def files_created(args, kwargs):
            database = args[1] if len(args) > 1 else kwargs["database"]
            root = os.path.join(store_root, database, "archive")
            before = archive_files(root)

            def after(sp):
                new = archive_files(root) - before
                sp["files"] = len(new)
                sp["rows"] = parquet_rows(new)
                sp["bytes"] = sum(_size(f) for f in new)
            return after

        for meth in ("upsert_archive", "rewrite_archive", "append_archive"):
            self.wrap(store.ParquetStore, meth, f"store.{meth}",
                      files_created)
        self.wrap(store.ParquetStore, "overwrite_dim", "store.overwrite_dim")
        self.wrap(ingest.IncrementalIngestor, "watermark", "ingest.watermark")
        self.wrap(pi_client, "fetch_interpolated", "pi_client.fetch")
        self.wrap(derived.DerivedMaintenance, "process_batch",
                  "derived_maint.process_batch")
        self.wrap(derived, "backfill_derived", "derived.backfill")
        self.wrap(api, "backfill_derived", "derived.backfill")
        self.wrap(api, "export_csv", "export.csv_write")
        self.wrap(api, "hierarchy_paths", "closure.hierarchy_paths")
        self.wrap(api, "load_tree_cache", "tree.load_tree_cache")
        self.wrap(api.Pipeline, "load_tree", "api.load_tree")
        self.wrap(api.Pipeline, "insert_attribute", "api.insert_attribute")
        self.wrap(timeseries, "rollup", "timeseries.rollup")
        self.wrap(timeseries, "rolling_anomaly", "timeseries.rolling_anomaly")

    # ----------------------------------------------------------- output
    def dump(self, path: str) -> None:
        os.makedirs(os.path.dirname(path), exist_ok=True)
        t0 = min((s["start"] for s in self.spans), default=0.0)
        with open(path, "w") as f:
            for s in self.spans:
                row = dict(s)
                row["start"] = round(s["start"] - t0, 6)
                row["end"] = round((s["end"] or s["start"]) - t0, 6)
                f.write(json.dumps(row) + "\n")


def _size(path: str) -> int:
    try:
        return os.path.getsize(path)
    except OSError:
        return 0


def archive_files(root: str) -> set[str]:
    out = set()
    for d, _dirs, files in os.walk(root):
        out.update(os.path.join(d, f) for f in files
                   if f.endswith(".parquet"))
    return out


def parquet_rows(paths) -> int:
    import pyarrow.parquet as pq
    return sum(pq.read_metadata(p).num_rows for p in paths)


def layout(root: str) -> tuple[int, int]:
    """(parquet files in the archive, most files in one partition)."""
    per: dict[str, int] = defaultdict(int)
    for f in archive_files(root):
        per[os.path.dirname(f)] += 1
    return sum(per.values()), max(per.values(), default=0)


def self_times(spans: list[dict]) -> dict[str, float]:
    """Seconds per layer not covered by the span's same-thread
    children (a span's duration minus the part its child spans
    cover), summed over ``spans``."""
    by_parent: dict[int, list[dict]] = defaultdict(list)
    for s in spans:
        if s["parent"] is not None:
            by_parent[s["parent"]].append(s)
    out: dict[str, float] = defaultdict(float)
    for s in spans:
        if s["end"] is None:
            continue
        covered = 0.0
        for c in by_parent.get(s["id"], ()):
            if c["end"] is not None:
                covered += min(c["end"], s["end"]) - max(c["start"], s["start"])
        out[s["name"].split(".")[0]] += max(0.0, s["end"] - s["start"] - covered)
    return dict(out)


def durations(spans: list[dict], name: str) -> list[float]:
    return [s["end"] - s["start"] for s in spans
            if s["name"] == name and s["end"] is not None]


def median(xs, default=0.0) -> float:
    return statistics.median(xs) if xs else default
