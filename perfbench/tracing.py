"""Spans around calls into the program's public functions.

Only the traced run installs these wrappers; `Tracer.uninstall`
restores every patched attribute. Each span records name, start, end,
parent span id and op id, and is kept in memory until the run ends.
Every span also sets a Spark job group of its own, so the Spark jobs a
layer launched directly (not through a child span) are counted against
that layer through the status tracker. The tracer times its own
bookkeeping inside the wrapped calls (``Tracer.overhead_s``).
"""

from __future__ import annotations

import functools
import json
import os
import sys
import time
from contextlib import contextmanager

# Span names, one per layer boundary.
CATALOG = "catalog.load_table"
BUILD = "plans.build"
EXEC = "plans.exec"
WRITE = "sources.write"
PIPELINE = "pipeline"

# The European-CSV export is a run_pipeline phase of its own, apart from
# the stage list its plan key belongs to.
CSV_PHASE = "csv"


def dir_size(path: str) -> tuple[int, int]:
    """(bytes, files) of the data files under ``path``: hidden and
    ``_``-prefixed marker files (``.crc``, ``_SUCCESS``) excluded."""
    total = files = 0
    for root, _dirs, names in os.walk(path):
        for name in names:
            if not name.startswith((".", "_")):
                total += os.path.getsize(os.path.join(root, name))
                files += 1
    return total, files


class Tracer:
    def __init__(self, sc) -> None:
        self.sc = sc
        self.spans: list[dict] = []
        self._stack: list[int] = []
        self.op: int | None = None
        self._patches: list[tuple[object, str, object]] = []
        self._seen_tables: dict[tuple, int] = {}
        self.overhead_s = 0.0

    @property
    def installed(self) -> bool:
        return bool(self._patches)

    # -- spans ---------------------------------------------------------

    def _group(self, sid: int | None) -> None:
        self.sc.setJobGroup(f"perfbench-{sid}", "perfbench span", False)

    @contextmanager
    def bookkeeping(self):
        """Adds the time spent inside to ``overhead_s``."""
        t = time.perf_counter()
        try:
            yield
        finally:
            self.overhead_s += time.perf_counter() - t

    @contextmanager
    def span(self, name: str, **attrs):
        with self.bookkeeping():
            sid = len(self.spans)
            parent = self._stack[-1] if self._stack else None
            rec = {"id": sid, "name": name, "parent": parent, "op": self.op,
                   "start": time.perf_counter(), "end": None, **attrs}
            self.spans.append(rec)
            self._stack.append(sid)
            self._group(sid)
        try:
            yield rec
        finally:
            with self.bookkeeping():
                rec["end"] = time.perf_counter()
                self._stack.pop()
                self._group(parent)

    # -- wrapping ------------------------------------------------------

    def _patch(self, owner, attr: str, wrapper) -> None:
        self._patches.append((owner, attr, getattr(owner, attr)))
        setattr(owner, attr, wrapper)

    def _wrap(self, fn, name: str, out_arg: int | None = None, **attrs):
        @functools.wraps(fn)
        def wrapper(*args, **kwargs):
            with self.span(name, **attrs) as rec:
                result = fn(*args, **kwargs)
            if out_arg is not None and len(args) > out_arg:
                with self.bookkeeping():
                    rec["bytes"], rec["files"] = dir_size(args[out_arg])
            return result

        return wrapper

    def _wrap_load_table(self, fn):
        @functools.wraps(fn)
        def wrapper(spark, sf_dir, name):
            with self.span(CATALOG, table=name) as rec:
                df = fn(spark, sf_dir, name)
            with self.bookkeeping():
                key = (spark.sparkContext.applicationId, sf_dir, name)
                # Memoized loads hand back the very same DataFrame object.
                rec["hit"] = self._seen_tables.get(key) == id(df)
                self._seen_tables[key] = id(df)
            return df

        return wrapper

    def install(self) -> None:
        """Wrap the public callables of every measured layer."""
        from pyspark.sql.readwriter import DataFrameWriter

        from pyprima_spark import catalog, pipeline
        from pyprima_spark.plans import queries
        from pyprima_spark.sources import readers

        load_table = self._wrap_load_table(catalog.load_table)
        # Plan modules bind load_table at import time: patch every binding.
        for mod in list(sys.modules.values()):
            if (getattr(mod, "__name__", "").startswith("pyprima_spark")
                    and getattr(mod, "load_table", None) is catalog.load_table
                    and mod is not catalog):
                self._patch(mod, "load_table", load_table)
        self._patch(catalog, "load_table", load_table)
        for key, fn in list(queries.QUERIES.items()):
            self._patch_item(queries.QUERIES, key, self._wrap(fn, BUILD, key=key))
        self._patch(DataFrameWriter, "parquet",
                    self._wrap(DataFrameWriter.parquet, WRITE, out_arg=1, fmt="parquet"))
        self._patch(readers, "write_european_csv",
                    self._wrap(readers.write_european_csv, WRITE, out_arg=1, fmt="csv"))
        self._patch(pipeline, "run_pipeline",
                    self._wrap(pipeline.run_pipeline, f"{PIPELINE}.run_pipeline"))

    def _patch_item(self, mapping: dict, key, wrapper) -> None:
        self._patches.append((mapping, key, mapping[key]))
        mapping[key] = wrapper

    def uninstall(self) -> None:
        for owner, attr, original in reversed(self._patches):
            if isinstance(owner, dict):
                owner[attr] = original
            else:
                setattr(owner, attr, original)
        self._patches.clear()
        self.sc.setJobGroup("perfbench-none", "perfbench", False)

    # -- Spark job accounting ------------------------------------------

    def collect_jobs(self, first_span: int) -> None:
        """Attach job/stage/task counts to spans ``first_span`` onwards.
        Call at the end of each pass, before the status store evicts
        old jobs."""
        tracker = self.sc.statusTracker()
        for rec in self.spans[first_span:]:
            jobs = stages = tasks = failed = 0
            for jid in tracker.getJobIdsForGroup(f"perfbench-{rec['id']}"):
                info = tracker.getJobInfo(jid)
                if info is None:
                    continue
                jobs += 1
                for stid in info.stageIds:
                    st = tracker.getStageInfo(stid)
                    if st is not None:
                        stages += 1
                        tasks += st.numTasks
                        failed += st.numFailedTasks
            rec.update(jobs=jobs, stages=stages, tasks=tasks, failed_tasks=failed)

    def dump(self, path: str) -> None:
        os.makedirs(os.path.dirname(path), exist_ok=True)
        with open(path, "w") as fh:
            json.dump(self.spans, fh)


def self_times(spans: list[dict]) -> dict[int, float]:
    """Span id -> duration minus the time its child spans cover."""
    own = {s["id"]: s["end"] - s["start"] for s in spans}
    for s in spans:
        if s["parent"] in own:
            own[s["parent"]] -= s["end"] - s["start"]
    return own


def pipeline_phases(spans: list[dict], stages: dict[str, str]) -> dict[str, float]:
    """Seconds per run_pipeline phase. Each top-level child of a
    run_pipeline span belongs to the phase of the plan key built most
    recently; a build followed by the European-CSV write starts the csv
    phase. The time between children counts with the following child."""
    out = {phase: 0.0 for phase in set(stages.values()) | {CSV_PHASE}}
    children: dict[int, list[dict]] = {}
    for s in spans:
        children.setdefault(s["parent"], []).append(s)
    for root in (s for s in spans if s["name"] == f"{PIPELINE}.run_pipeline"):
        phase, t = None, root["start"]
        kids = children.get(root["id"], [])
        for i, kid in enumerate(kids):
            if kid["name"] == BUILD:
                nxt = kids[i + 1] if i + 1 < len(kids) else None
                is_csv = nxt is not None and nxt.get("fmt") == "csv"
                phase = CSV_PHASE if is_csv else stages.get(kid["key"], phase)
            if phase is not None:
                out[phase] += kid["end"] - t
            t = kid["end"]
    return out
