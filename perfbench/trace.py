"""Span recorder for the traced run, built entirely outside the engine.

``Tracer.install()`` wraps the public layer calls of ``ape_dts_spark``
(module functions and class methods, looked up by name at call time) so
each call becomes a span: name, start, end, parent.  Before a span's body
runs the tracer puts the Spark job group ``pb<id>:<name>`` on the thread;
when the span ends it folds the stage metrics of that group's jobs out of
the JVM status store (``SparkContext.statusStore().stageData``) and the
Python-UDF SQL metrics of the executions those jobs belong to.  Folding
happens at every span end, long before ``spark.ui.retainedStages`` (1000)
rolls over.  Spans stay in memory and are written out when the run ends.

Extraction runs inside the delta-write stage, so job groups cannot split
it from the write: its time and bytes come from the ``time to run Python
workers`` / ``data sent to Python workers`` SQL metrics of the ArrowEvalPython
node, plus ``kernel_mb_per_s``, an in-process timing of
``extract_text_series``.
"""

from __future__ import annotations

import contextlib
import importlib
import re
import time

# (module, owner attribute or None for a module function, attribute, span name)
WRAPPED = [
    ("ape_dts_spark.streaming.driver", "CdcEngine", "run", "run"),
    ("ape_dts_spark.streaming.driver", "CdcEngine", "_apply_batch", "batch"),
    ("ape_dts_spark.streaming.driver", "CdcEngine", "committed_hwm", "position"),
    ("ape_dts_spark.streaming.driver", "CdcEngine", "max_lsn", "position"),
    ("ape_dts_spark.streaming.driver", "CdcEngine", "_content_filter", "cidx.filter"),
    ("ape_dts_spark.streaming.driver", "CdcEngine", "_near_dup_filter", "ndidx.filter"),
    ("ape_dts_spark.streaming.driver", None, "merge_into", "merge"),
    ("ape_dts_spark.streaming.driver", None, "maybe_compact", "compact"),
    ("ape_dts_spark.streaming.snapshot", None, "snapshot_load", "snapshot"),
    ("ape_dts_spark.lake.table", "LakeTable", "compact", "compact.fold"),
    ("ape_dts_spark.lake.table", "LakeTable", "append_rows", "bookkeep"),
    ("ape_dts_spark.lake.table", "LakeTable", "expire_snapshots", "bookkeep"),
    ("ape_dts_spark.lake.table", "LakeTable", "add_column", "bookkeep"),
    ("ape_dts_spark.lake.table", "LakeTable", "rename_column", "bookkeep"),
    ("ape_dts_spark.lake.table", "LakeTable", "widen_column", "bookkeep"),
    ("ape_dts_spark.lake.table", "LakeTable", "drop_column", "bookkeep"),
    ("ape_dts_spark.lake.table", "LakeTable", "read", "read"),
    ("ape_dts_spark.operators.incremental_dedup", "ContentIndex", "dedup_batch", "cidx.dedup_batch"),
    ("ape_dts_spark.operators.incremental_dedup", "ContentIndex", "append", "cidx.append"),
    ("ape_dts_spark.operators.incremental_dedup", "ContentIndex", "compact", "cidx.compact"),
    ("ape_dts_spark.operators.neardup_index", "NearDupIndex", "band_rows", "ndidx.band_rows"),
    ("ape_dts_spark.operators.neardup_index", "NearDupIndex", "match_batch", "ndidx.match_batch"),
    ("ape_dts_spark.operators.neardup_index", "NearDupIndex", "append", "ndidx.append"),
    ("ape_dts_spark.operators.neardup_index", "NearDupIndex", "compact", "ndidx.compact"),
]

# the calls an untraced run still times: batch walls need the batch span
BATCH_ONLY = [w for w in WRAPPED if w[3] == "batch"]

_STAGE_FIELDS = {
    "run_ms": "executorRunTime",
    "cpu_ns": "executorCpuTime",
    "input_bytes": "inputBytes",
    "output_bytes": "outputBytes",
    "shuffle_read_bytes": "shuffleReadBytes",
    "shuffle_write_bytes": "shuffleWriteBytes",
    "fetch_wait_ms": "shuffleFetchWaitTime",
    "disk_spill_bytes": "diskBytesSpilled",
    "mem_spill_bytes": "memoryBytesSpilled",
    "failed_tasks": "numFailedTasks",
    "tasks": "numTasks",
}

_SQL_METRICS = {
    "time to run Python workers": "python_ms",
    "data sent to Python workers": "python_bytes_sent",
}

_UNITS = {
    "ms": 1.0, "s": 1e3, "m": 60e3, "min": 60e3, "h": 3600e3,
    "B": 1, "KiB": 1 << 10, "MiB": 1 << 20, "GiB": 1 << 30, "TiB": 1 << 40,
}


def parse_sql_metric(text: str | None) -> float:
    """Total of a formatted SQL metric: ``"total (min, med, max ...)\\n1.2 s (...)"``
    or a bare ``"1.2 s"``; ms for timings, bytes for sizes."""
    if not text:
        return 0.0
    line = text.strip().splitlines()[-1]
    m = re.match(r"\s*([\d.,]+)\s*([A-Za-z]+)", line)
    if not m:
        return 0.0
    return float(m.group(1).replace(",", "")) * _UNITS.get(m.group(2), 1.0)


class Tracer:
    """Records spans for the wrapped calls.  ``fold=False`` keeps only the
    wall clock of each span (the untraced run's batch timer)."""

    def __init__(self, spark, fold: bool, wrapped=WRAPPED):
        self.spark = spark
        self.sc = spark.sparkContext
        self.fold = fold
        self.wrapped = wrapped
        self.spans: list[dict] = []
        self._stack: list[dict] = []
        self._saved: list[tuple] = []
        self._folded_stages: set[tuple] = set()
        self._seen_execs: set[int] = set()

    # -- wrapping --------------------------------------------------------
    def install(self) -> None:
        for mod_name, owner_name, attr, span_name in self.wrapped:
            mod = importlib.import_module(mod_name)
            owner = getattr(mod, owner_name) if owner_name else mod
            orig = owner.__dict__[attr] if owner_name else getattr(mod, attr)
            self._saved.append((owner, attr, orig))
            setattr(owner, attr, self._wrap(orig, span_name))

    def uninstall(self) -> None:
        for owner, attr, orig in reversed(self._saved):
            setattr(owner, attr, orig)
        self._saved.clear()

    def _wrap(self, fn, name):
        tracer = self

        def wrapper(*args, **kwargs):
            with tracer.span(name) as sp:
                out = fn(*args, **kwargs)
                sp["result"] = _summarize(name, out)
                return out

        wrapper.__wrapped__ = fn
        return wrapper

    # -- spans -----------------------------------------------------------
    @contextlib.contextmanager
    def span(self, name: str, **attrs):
        parent = self._stack[-1] if self._stack else None
        sp = {
            "id": len(self.spans),
            "parent": parent["id"] if parent else None,
            "name": name,
            **attrs,
        }
        self.spans.append(sp)
        self._stack.append(sp)
        if self.fold:
            sp["group"] = f"pb{sp['id']}:{name}"
            self.sc.setJobGroup(sp["group"], name)
        sp["t0"] = time.monotonic()
        try:
            yield sp
        finally:
            sp["t1"] = time.monotonic()
            self._stack.pop()
            if self.fold:
                if parent is not None:
                    self.sc.setJobGroup(parent["group"], parent["name"])
                else:
                    self.sc.setLocalProperty("spark.jobGroup.id", None)
                    self.sc.setLocalProperty("spark.job.description", None)
                self._fold(sp)
            # the fold's own cost lands inside the parent span; t_end lets
            # coverage charge it to this span instead of the parent's self time
            sp["t_end"] = time.monotonic()

    # -- status-store fold ---------------------------------------------------
    def _fold(self, sp: dict) -> None:
        jsc = self.sc._jsc.sc()
        jsc.listenerBus().waitUntilEmpty(10_000)
        tracker = self.sc.statusTracker()
        jobs = list(tracker.getJobIdsForGroup(sp["group"]))
        c = {k: 0 for k in _STAGE_FIELDS}
        c.update({v: 0.0 for v in _SQL_METRICS.values()})
        c["jobs"] = len(jobs)
        c["stages"] = 0
        c["task_skew"] = 0.0
        store = jsc.statusStore()
        gw = self.sc._gateway
        quantiles = gw.new_array(gw.jvm.double, 2)
        quantiles[0], quantiles[1] = 0.5, 1.0
        for j in jobs:
            info = tracker.getJobInfo(j)
            for sid in list(info.stageIds) if info else []:
                try:
                    attempts = store.stageData(
                        sid, False, gw.jvm.java.util.ArrayList(), True, quantiles
                    )
                except Exception:  # stage never submitted (skipped)
                    continue
                it = attempts.iterator()
                while it.hasNext():
                    sd = it.next()
                    key = (sd.stageId(), sd.attemptId())
                    if key in self._folded_stages or str(sd.status()) == "SKIPPED":
                        continue
                    self._folded_stages.add(key)
                    c["stages"] += 1
                    for k, f in _STAGE_FIELDS.items():
                        c[k] += getattr(sd, f)()
                    dist = sd.taskMetricsDistributions()
                    if dist.isDefined() and sd.numTasks() > 1:
                        rt = dist.get().executorRunTime()  # quantiles 0.5, 1.0
                        if rt.apply(0) > 0:
                            c["task_skew"] = max(c["task_skew"], rt.apply(1) / rt.apply(0))
        if jobs:
            self._fold_sql(set(jobs), c)
        sp["counters"] = c

    def _fold_sql(self, jobs: set[int], c: dict) -> None:
        sql = self.spark._jsparkSession.sharedState().statusStore()
        it = sql.executionsList().iterator()
        while it.hasNext():
            e = it.next()
            eid = e.executionId()
            if eid in self._seen_execs:
                continue
            ejobs = {int(x) for x in e.jobs().keySet().mkString(",").split(",") if x}
            if not ejobs or not ejobs <= jobs:
                continue
            if e.completionTime().isEmpty():
                continue
            self._seen_execs.add(eid)
            vals = sql.executionMetrics(eid)
            seen_acc = set()
            mi = e.metrics().iterator()
            while mi.hasNext():
                m = mi.next()
                key = _SQL_METRICS.get(m.name())
                acc = m.accumulatorId()
                if key is None or acc in seen_acc:
                    continue
                seen_acc.add(acc)
                v = vals.get(acc)
                if v.isDefined():
                    c[key] += parse_sql_metric(v.get())


def _summarize(name: str, out) -> dict | None:
    """The small part of a call's result the layer metrics need."""
    if name == "merge" and out is not None:
        return {"rows": out.source_rows, "version": out.new_version}
    if name in ("compact", "compact.fold"):
        return out  # fold composition dict / new table version
    if name == "snapshot":
        return {"chunks": out["chunks_loaded_now"]}
    return None


# -- span arithmetic ----------------------------------------------------------
def children(spans: list[dict], sp: dict) -> list[dict]:
    return [s for s in spans if s["parent"] == sp["id"]]


def covered(intervals: list[tuple[float, float]]) -> float:
    """Length of the union of [t0, t_end] intervals."""
    total, end = 0.0, float("-inf")
    for t0, t1 in sorted(intervals):
        if t1 <= end:
            continue
        total += t1 - max(t0, end)
        end = t1
    return total


def subtree(spans: list[dict], sp: dict) -> list[dict]:
    out, todo = [], [sp]
    while todo:
        s = todo.pop()
        out.append(s)
        todo.extend(children(spans, s))
    return out


def kernel_mb_per_s(html: list, batch_rows: int = 2048, min_s: float = 1.0) -> float:
    """In-process throughput of the extraction kernel over the workload's
    html, in Arrow-sized batches, repeated until ``min_s`` has elapsed."""
    import pandas as pd

    from ape_dts_spark.functions.extract_text import extract_text_series

    batches = [pd.Series(html[i:i + batch_rows]) for i in range(0, len(html), batch_rows)]
    n_bytes = sum(len(b) for b in html if b is not None)
    extract_text_series(batches[0])  # first call compiles the RE2 patterns
    done, t0 = 0, time.monotonic()
    while True:
        for b in batches:
            extract_text_series(b)
        done += n_bytes
        wall = time.monotonic() - t0
        if wall >= min_s:
            return done / wall / 1e6
