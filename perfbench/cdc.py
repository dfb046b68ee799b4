"""The CDC workloads: inputs, the closed-loop timed replay, output checks
and the metrics computed from them.

One *rep* is one replay into a fresh table: ``snapshot_load`` of the seed
pages, the first ``WARM_BATCHES`` micro-batches of the change stream
(untimed: they pre-seed the table, on ``ingest_dedup`` they fill the
sidecar indexes, and they compile the merge and index plans), then
``CdcEngine.run()`` over the rest of the stream (timed), then
``SNAPSHOT_LOADS`` more loads of the seed pages into throwaway tables
(their median wall is the snapshot figure).  Each micro-batch starts only
after the previous checkpoint commits, so throughput is reported at the
stated input size.  A run makes ``--seconds`` / ``rep_s`` reps, at least
one: a count fixed by the arguments, not by how fast the host happens to be.
"""

from __future__ import annotations

import os
import shutil
import statistics
import time
from concurrent.futures import ThreadPoolExecutor
from dataclasses import dataclass, replace

from pyspark.sql import functions as F

from ape_dts_spark.functions.extract_text import extract_text_udf
from ape_dts_spark.lake.table import LakeTable
from ape_dts_spark.sources import generator as g
from ape_dts_spark.sources.generator import PAGES_COLS
from ape_dts_spark.streaming import snapshot
from ape_dts_spark.streaming.driver import CdcEngine, EngineConfig

from perfbench import queries, reference
from perfbench.trace import (
    BATCH_ONLY, WRAPPED, Tracer, children, covered, kernel_mb_per_s, subtree,
)


@dataclass(frozen=True)
class Spec:
    n_seed: int  # snapshot pages
    n_events: int  # change events
    width: float  # LSN width of one batch, as a share of n_events
    extract: bool  # text extraction in the engine
    stream: str = "cdc"  # "cdc": replication stream + basic DDL; "recrawl": re-crawl inserts
    indexes: bool = False  # ContentIndex + NearDupIndex on
    bucket_count: int = 16
    snapshot_chunks: int = 4
    # sidecar-index buckets: the engine default (64) leaves a few-thousand
    # key index at a handful of keys per bucket file
    index_buckets: int = 8
    rep_s: float = 15.0  # about the wall of one rep on a 4-CPU host
    # auto-compaction (EngineConfig defaults unless set)
    compact_ratio: float = 0.5
    compact_max_buckets: int = 16


SPECS = {
    # the DDL barriers at 40/60/80% cap 0.4-wide slices into 4 batches
    "backfill_extract": Spec(1500, 4000, 0.4, extract=True, snapshot_chunks=2),
    # 0.2-wide slices, capped by the same barriers: 5 small batches, the
    # last 4 timed.  Every batch folds the two buckets with the most delta,
    # the bounded per-batch compaction maybe_compact is built for; with the
    # default ratio, which batches fold depends on the seed and batch walls
    # turn bimodal
    "live_tail": Spec(
        800, 1200, 0.2, extract=False, snapshot_chunks=2, rep_s=20.0,
        compact_ratio=0.1, compact_max_buckets=2,
    ),
    # the untimed first batch fills both indexes; the timed second one
    # matches against them.  Each index-filtered batch is ~50 Spark jobs, a
    # fixed cost of 7-15 s on a 4-CPU host, so a third batch would add a
    # fifth to every run's wall.
    # Auto-compaction is off: live_tail measures it, and here a fold in
    # some batches and not others would blur the index filters' cost
    "ingest_dedup": Spec(
        600, 900, 0.5, extract=True, stream="recrawl", indexes=True, snapshot_chunks=1,
        bucket_count=8, index_buckets=4, compact_ratio=0.0, rep_s=30.0,
    ),
}


# after the replay, snapshot_load runs this many more times, each into a
# fresh throwaway table, and the median of their walls is the rep's snapshot
# figure.  The load the stream replays into is the first call of a cold JVM
# (it starts the Python workers and compiles the snapshot plans), so its wall
# is kept in the artifact only
SNAPSHOT_LOADS = 3
# untimed batches at the head of each rep
WARM_BATCHES = 1


def scaled(spec: Spec, scale: float) -> Spec:
    return replace(
        spec,
        n_seed=max(50, int(spec.n_seed * scale)),
        n_events=max(100, int(spec.n_events * scale)),
    )


def batch_width(spec: Spec) -> int:
    """LSN width per batch.  The +1 lands every DDL barrier of the
    replication stream (at 1 + {0.4, 0.6, 0.8} x n_events) on a slice end
    when the width is 0.4, so no barrier leaves a one-event batch."""
    return int(spec.n_events * spec.width) + 1


# -- inputs ------------------------------------------------------------------
def recrawl_changes(spark, n_events: int, n_seed: int, seed: int, pool: int = 300):
    """The insert-heavy re-crawl stream of ``scripts/ingest_dedup_probe.py``
    with the seed as a parameter, built from the generator's expressions:
    ~80% inserts of fresh urls whose body is ~30% an exact re-crawl of a
    ``pool``-body set and ~20% a near re-crawl (pool body plus one short
    paragraph), the rest unique; updates and deletes hit the seeded urls."""
    lsn = F.col("lsn")
    h = g._h(lsn, seed, 11)
    r = F.pmod(h, F.lit(10))
    op = F.when(r < 8, F.lit("insert")).when(r < 9, F.lit("update")).otherwise(F.lit("delete"))
    url_id = F.when(op == "insert", F.lit(n_seed) + lsn).otherwise(
        F.pmod(g._h(lsn, seed, 13), F.lit(n_seed))
    ).cast("long")
    cls = F.pmod(g._h(lsn, seed, 17), F.lit(10))
    body = F.when((op == "insert") & (cls < 5), F.pmod(h, F.lit(pool))).otherwise(h)
    near = (op == "insert") & (cls >= 3) & (cls < 5)
    base_html = F.col("_html")
    html = F.when(
        near,
        F.regexp_replace(base_html, "</body>", F.concat(
            F.lit("<p>near variant marker "), F.pmod(lsn, F.lit(7)).cast("string"),
            F.lit(" extra</p></body>"),
        )),
    ).otherwise(base_html)
    live = op != "delete"
    events = spark.range(n_events).select((F.col("id") + 1).alias("lsn"))
    # the body is built once per row; both html branches read it
    events = events.select(lsn, g._html(body).cast("string").alias("_html"))
    return events.select(
        lsn,
        op.alias("op"),
        g._url(url_id, seed).alias("url"),
        F.lit(None).cast("string").alias("before_url"),
        F.timestamp_seconds(F.lit(g.EPOCH) + lsn).alias("warc_ts"),
        F.when(live, html.cast("binary")).alias("html"),
        F.when(live, g._lang(url_id, seed)).alias("lang"),
        F.when(live, F.lit(200)).alias("fetch_status"),
        F.floor(lsn / 50).alias("tx_id"),
        F.lit("node1").alias("origin"),
    )


def _save(df, path: str) -> None:
    df.coalesce(1).write.parquet(path)


# generation runs each expression over a few thousand rows once: compiling
# the generator's large expressions costs more than evaluating them
_INTERPRETED = {
    "spark.sql.codegen.wholeStage": "false",
    "spark.sql.codegen.factoryMode": "NO_CODEGEN",
}


def _write_inputs(spark, out: str, spec: Spec, seed: int) -> None:
    """Seed pages, change events and (replication stream) the basic DDL
    events, from ``ape_dts_spark.sources.generator``."""
    for k, v in _INTERPRETED.items():
        spark.conf.set(k, v)
    try:
        _generate(spark, out, spec, seed)
    finally:
        for k in _INTERPRETED:
            spark.conf.unset(k)


def _generate(spark, out: str, spec: Spec, seed: int) -> None:
    """The two writes run as concurrent jobs: planning the generator's large
    expressions is single-threaded driver work, and on a cold JVM it is most
    of each write's wall."""
    if spec.stream == "recrawl":
        changes = recrawl_changes(spark, spec.n_events, spec.n_seed, seed)
    else:
        changes = g.gen_changes(spark, spec.n_events, spec.n_seed, seed=seed)
    writes = [(g.gen_pages_seed(spark, spec.n_seed, seed=seed), f"{out}/snapshot"),
              (changes, f"{out}/changes")]
    with ThreadPoolExecutor(len(writes)) as pool:
        for f in [pool.submit(_save, df, path) for df, path in writes]:
            f.result()


def _cached(out: str, make) -> str:
    """``out``, made by ``make(out)`` unless a ``_COMPLETE`` marker says an
    earlier run finished it; the marker guards against a crashed run's
    partial output, as ``bench.prepare_input`` does."""
    if not os.path.exists(os.path.join(out, "_COMPLETE")):
        shutil.rmtree(out, ignore_errors=True)
        make(out)
        open(os.path.join(out, "_COMPLETE"), "w").close()
    return out


def prepare_inputs(spark, cache_dir: str, name: str, spec: Spec, seed: int) -> dict:
    """A workload's inputs, generated once per (workload, size, seed).  The
    DDL events depend only on the stream length, so every seed shares them."""
    out = _cached(
        os.path.join(cache_dir, f"{name}-n{spec.n_seed}x{spec.n_events}-s{seed}"),
        lambda out: _write_inputs(spark, out, spec, seed),
    )
    paths = {"snapshot": f"{out}/snapshot", "changes": f"{out}/changes"}
    if spec.stream == "cdc":
        ddl = _cached(
            os.path.join(cache_dir, f"ddl-n{spec.n_events}"),
            lambda out: _save(g.gen_ddl_events(spark, spec.n_events), out),
        )
        paths["ddl"] = ddl
    return paths


# -- one replay ----------------------------------------------------------------
def _seed_frame(spark, path: str, extract: bool):
    """The snapshot; with extraction on its text comes from the engine's
    UDF, else it stays null as the generator leaves it."""
    df = spark.read.parquet(path)
    return df.withColumn("text", extract_text_udf(F.col("html"))) if extract else df


def _engine_cfg(spec: Spec, work: str, paths: dict) -> EngineConfig:
    return EngineConfig(
        job_id="perfbench",
        pages_path=f"{work}/pages",
        changes_path=paths["changes"],
        ddl_path=paths.get("ddl"),
        batch_lsn_width=batch_width(spec),
        extract_text=spec.extract,
        content_index_path=f"{work}/cidx" if spec.indexes else None,
        near_dup_index_path=f"{work}/ndidx" if spec.indexes else None,
        content_index_buckets=spec.index_buckets,
        near_dup_buckets=spec.index_buckets,
        compact_ratio=spec.compact_ratio,
        compact_max_buckets=spec.compact_max_buckets,
    )


def load_snapshot(spark, spec: Spec, work: str, paths: dict) -> dict:
    """Create the pages table under ``work`` and ``snapshot_load`` the seed
    into it; returns the load's wall and row count."""
    t = LakeTable.create(
        f"{work}/pages", PAGES_COLS, bucket_key="url", bucket_count=spec.bucket_count
    )
    seed_df = _seed_frame(spark, paths["snapshot"], spec.extract)
    t0 = time.monotonic()
    res = snapshot.snapshot_load(spark, t, seed_df, n_chunks=spec.snapshot_chunks)
    return {"wall": time.monotonic() - t0, "rows": spec.n_seed, "chunks": res["chunks_loaded_now"]}


class Rep:
    """Outcome of one timed replay."""

    def __init__(self):
        self.snapshot = None  # {"wall", "first_wall", "rows", "chunks"}
        self.run_wall = 0.0
        self.warm_events = 0  # events of the untimed head batches
        self.events = 0  # events of the timed batches
        self.batch_walls: list[float] = []
        self.batch_log: list[dict] = []
        self.error: str | None = None
        self.t0 = self.t1 = 0.0


def run_rep(spark, spec: Spec, work: str, paths: dict, timer: Tracer,
            on_start, on_timed) -> Rep:
    """One rep; ``on_start`` is called as it starts, ``on_timed`` just
    before its timed ``run()``."""
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    rep = Rep()
    try:
        on_start()
        rep.t0 = time.monotonic()
        loads = [load_snapshot(spark, spec, work, paths)]
        eng = CdcEngine(spark, _engine_cfg(spec, work, paths))
        eng.run(max_batches=WARM_BATCHES)
        # the engine's record count is cumulative over its run() calls
        rep.warm_events = int(eng.metrics["record_count"])
        n0 = len(timer.spans)
        on_timed()
        t0 = time.monotonic()
        try:
            summary = eng.run()
        finally:
            rep.run_wall = time.monotonic() - t0
            rep.batch_walls = [
                s["t1"] - s["t0"] for s in timer.spans[n0:] if s["name"] == "batch" and "t1" in s
            ]
            rep.batch_log = list(eng.batch_log)
        rep.events = summary["events"] - rep.warm_events
        for i in range(SNAPSHOT_LOADS):
            loads.append(load_snapshot(spark, spec, f"{work}/load{i}", paths))
            shutil.rmtree(f"{work}/load{i}")
        rep.snapshot = {
            "wall": statistics.median(x["wall"] for x in loads[1:]),
            "first_wall": loads[0]["wall"],
            "rows": spec.n_seed,
            "chunks": sum(x["chunks"] for x in loads),
        }
    except Exception as e:  # a failed batch is counted, not fatal
        rep.error = f"{type(e).__name__}: {e}"
    rep.t1 = time.monotonic()
    return rep


# -- checks ------------------------------------------------------------------
def plant_corruption(spark, table: LakeTable) -> None:
    """Alter one row's ``text`` after the replay (a later-commit delta with
    the same ``last_lsn``), the way a silent write-path bug would."""
    row = table.refresh().read(spark).orderBy("url").limit(1)
    bad = row.withColumn("text", F.concat(F.coalesce("text", F.lit("")), F.lit(" [corrupt]")))
    table.append_delta(bad.withColumn("_op", F.lit("upsert")))


def check_outputs(spark, spec: Spec, work: str, paths: dict,
                  batch_log: list[dict]) -> tuple[list[dict], int]:
    """Independent checks of the final table, each one attempted op, and
    the table's logical bytes (read in the same pass)."""
    seed_pd, changes_pd, ddls = reference.read_inputs(paths)
    table = LakeTable.load(f"{work}/pages")
    actual, logical = reference.table_rows(spark, table)
    checks = []
    if spec.indexes:
        width = batch_width(spec)
        end = int(changes_pd["lsn"].max())
        slices = [(lo, min(lo + width, end)) for lo in range(0, end, width)]
        urls = {r[0] for r in actual}
        inserts = changes_pd[changes_pd["op"] == "insert"]
        dropped = set(inserts["url"]) - urls
        expected_drops = reference.exact_drop_counts(changes_pd, slices, urls)
        got_drops = [b.get("content_dups", 0) for b in batch_log]
        checks.append({
            "name": "exact_drop_count",
            "ok": expected_drops == got_drops,
            "expected": expected_drops,
            "actual": got_drops,
        })
        total_dropped = sum(got_drops) + sum(b.get("near_dups", 0) for b in batch_log)
        changes_pd = changes_pd[~changes_pd["url"].isin(dropped)]
    expected = reference.reference_rows(
        reference.lww_replay(seed_pd, changes_pd, ddls, extract=spec.extract)
    )
    cmp = reference.compare(expected, actual)
    if spec.indexes:
        # every insert missing from the table must be one the filters dropped
        cmp["ok"] = cmp["ok"] and total_dropped == len(dropped)
        cmp["dropped_inserts"] = len(dropped)
    checks.append({"name": "final_table", **cmp})
    return checks, logical


# -- metrics -------------------------------------------------------------------
def median_wall(fn, budget_s: float, min_n: int = 3, max_n: int = 9) -> float:
    """Median wall of repeated ``fn()`` calls: at least ``min_n``, then more
    until ``budget_s`` has been spent or ``max_n`` calls made, so a cheap
    call gets more samples for the same time."""
    walls: list[float] = []
    while len(walls) < min_n or (sum(walls) < budget_s and len(walls) < max_n):
        t0 = time.monotonic()
        fn()
        walls.append(time.monotonic() - t0)
    return statistics.median(walls)


def data_bytes(table: LakeTable) -> int:
    return sum(os.path.getsize(os.path.join(table.path, f["path"])) for f in table.manifest.files)


def tail_percentile(values: list[float]) -> tuple[float, float] | None:
    """(percentile, value): the highest percentile with at least ten
    samples above it, or None when there are fewer than 20 samples."""
    n = len(values)
    if n < 20:
        return None
    k = n - 10  # samples at or below the cut
    pct = 100.0 * k / n
    return pct, sorted(values)[k - 1]


def reset_peak_rss(pids: list[int]) -> None:
    """Reset each process's RSS high-water mark (VmHWM) to its current RSS."""
    for pid in pids:
        with open(f"/proc/{pid}/clear_refs", "w") as fh:
            fh.write("5")


def peak_rss_mb(pids: list[int]) -> float:
    total_kb = 0
    for pid in pids:
        with open(f"/proc/{pid}/status") as fh:
            for line in fh:
                if line.startswith("VmHWM:"):
                    total_kb += int(line.split()[1])
    return total_kb / 1024


def run_workload(spark, spec: Spec, paths: dict, work: str, seconds: float,
                 trace: bool, plant: bool, marks: dict, pids: list[int]) -> dict:
    """Timed reps, checks and metrics for one CDC workload; tables live
    under ``work``.  ``pids`` are the processes whose peak RSS over the
    reps is reported."""
    def mark(name: str, reset_rss: bool = False):
        def f():
            if name not in marks:
                marks[name] = time.monotonic()
                if reset_rss:
                    reset_peak_rss(pids)
        return f

    # untraced: only the batch walls are timed; traced: one rep, every layer
    # wrapped and folded (its e2e figures carry the tracing cost)
    tracer = Tracer(spark, fold=trace, wrapped=WRAPPED if trace else BATCH_ONLY)
    tracer.install()
    reps: list[Rep] = []
    try:
        n_reps = 1 if trace else max(1, round(seconds / spec.rep_s))
        while len(reps) < n_reps and not (reps and reps[-1].error):
            reps.append(run_rep(spark, spec, os.path.join(work, f"rep{len(reps)}"), paths,
                                tracer, mark("rep_start", reset_rss=True),
                                mark("first_timed_call")))
        rss = peak_rss_mb(pids)
        after = {"reps": time.monotonic()}
        final_work = os.path.join(work, f"rep{len(reps) - 1}")
        table = LakeTable.load(f"{final_work}/pages")
        # the first read plans and caches the file listing; the median of
        # the next 3-9 (about 3 s of reads) is the steady MOR read cost
        table.read(spark).count()
        read_s = median_wall(lambda: table.refresh().read(spark).count(), budget_s=3.0)
        if trace:
            for _ in range(3):
                with tracer.span("read_resolved"):
                    LakeTable.load(f"{final_work}/pages").read(spark).count()
        after["read"] = time.monotonic()
    finally:
        tracer.uninstall()
    final = reps[-1]

    attempted = failed = 0
    for r in reps:
        n_batches = len(r.batch_walls) + (WARM_BATCHES if r.warm_events else 0)
        n_batches += 1 if r.error else 0
        attempted += n_batches + (r.snapshot["chunks"] if r.snapshot else 0)
        failed += 1 if r.error else 0
    if plant:
        plant_corruption(spark, LakeTable.load(f"{final_work}/pages"))
    logical = 0
    try:
        checks, logical = check_outputs(spark, spec, final_work, paths, final.batch_log)
    except Exception as e:
        checks = [{"name": "final_table", "ok": False, "error": f"{type(e).__name__}: {e}"}]
    after["checks"] = time.monotonic()
    query = None
    if trace and spec.extract:
        # the query library over the replicated corpus; each leaf is an op
        query = queries.run_pass(spark, tracer, table.refresh(), os.path.join(work, "corpus"))
        checks += query["checks"]
        attempted += len(queries.LEAVES)
        failed += len(query["errors"])
        after["queries"] = time.monotonic()
    attempted += len(checks)
    failed += sum(1 for c in checks if not c["ok"])

    table.refresh()
    timed = [r for r in reps if not r.error] or reps
    walls = [w for r in timed for w in r.batch_walls]
    snaps = [r.snapshot for r in timed if r.snapshot]
    events = sum(r.events for r in timed)
    warm_events = sum(r.warm_events for r in timed)
    run_wall = sum(r.run_wall for r in timed)
    tail = tail_percentile(walls)
    out = {
        "reps": len(reps),
        "errors": [r.error for r in reps if r.error],
        "checks": checks,
        "attempted": attempted,
        "failed": failed,
        "events": events,
        "warm_events": warm_events,
        "batches": len(walls),
        "e2e": {
            "apply_events_per_s": events / run_wall if run_wall else 0.0,
            "batch_commit_s_p50": statistics.median(walls) if walls else 0.0,
            "snapshot_rows_per_s": (
                sum(s["rows"] for s in snaps) / sum(s["wall"] for s in snaps) if snaps else 0.0
            ),
            "read_resolved_s": read_s,
            "space_amp": data_bytes(table) / max(1, logical),
            "peak_rss_mb": rss,
        },
        "batch_commit_s_tail": {"percentile": tail[0], "value": tail[1]} if tail else None,
        "rep_detail": [
            {"wall": r.t1 - r.t0, "run_wall": r.run_wall, "snapshot": r.snapshot,
             "batch_walls": r.batch_walls, "batch_log": r.batch_log}
            for r in reps
        ],
    }
    if trace:
        out["layers"], out["batch_attribution"] = layer_metrics(
            spec, tracer.spans, final, final_work, table, paths, query
        )
        out["spans"] = tracer.spans
        after["layers"] = time.monotonic()
    out["after"] = after
    return out


# -- per-layer metrics from the traced rep ----------------------------------------
def layer_metrics(spec, spans, traced: Rep, work, table, paths, query):
    """Per-layer metrics of the traced rep, and each batch's wall split into
    its named child spans plus the uncovered remainder (driver overhead)."""
    from ape_dts_spark.operators.incremental_dedup import ContentIndex
    from ape_dts_spark.operators.neardup_index import NearDupIndex

    spans = [s for s in spans if s["t0"] >= traced.t0]

    def named(n):
        return [s for s in spans if s["name"] == n]

    def ctr(ss, k):
        return sum(x.get("counters", {}).get(k, 0) for s in ss for x in subtree(spans, s))

    def wall(ss):
        return sum(s["t1"] - s["t0"] for s in ss)

    def own_ctr(k, ss=spans):
        return sum(s.get("counters", {}).get(k, 0) for s in ss)

    cdc_spans = [s for s in spans if not s["name"].startswith("query.")]

    def file_bytes(version: int) -> list[int]:
        d = os.path.join(table.path, "data")
        return [os.path.getsize(os.path.join(d, f)) for f in os.listdir(d)
                if f.startswith(f"v{version}-")]

    batches = named("batch")
    attribution = []
    for b in batches:
        kids = children(spans, b)
        by_name: dict[str, float] = {}
        for k in kids:
            by_name[k["name"]] = by_name.get(k["name"], 0.0) + (k["t_end"] - k["t0"])
        bwall = b["t1"] - b["t0"]
        attribution.append({
            "wall_s": bwall,
            "spans_s": by_name,
            "overhead_s": bwall - covered([(k["t0"], k["t_end"]) for k in kids]),
            "jobs": ctr([b], "jobs"),
        })
    merges = [s for s in named("merge") if s.get("result")]
    merge_sizes = [n for m in merges for n in file_bytes(m["result"]["version"])]
    compacts = named("compact")
    fold_bytes = sum(sum(file_bytes(s["result"])) for s in named("compact.fold") if s.get("result"))
    snaps = named("snapshot")[-1:]  # one warm load
    reads = named("read_resolved")
    cfilters, nfilters = named("cidx.filter"), named("ndidx.filter")
    run_span = named("run")[0]
    exact_dropped = sum(b.get("content_dups", 0) for b in traced.batch_log)
    near_dropped = sum(b.get("near_dups", 0) for b in traced.batch_log)
    seed_pd, changes_pd, _ = reference.read_inputs(paths)
    near_candidates = 0
    if spec.indexes:
        # inserts reaching the near-dup filter: the inserts the exact
        # filter let through (every insert mints a fresh url)
        near_candidates = int((changes_pd["op"] == "insert").sum()) - exact_dropped
    html = [h for h in list(seed_pd["html"]) + list(changes_pd["html"]) if h is not None]
    rows_out = sum(m["result"]["rows"] for m in merges)
    merge_bytes = sum(merge_sizes)
    dedup_spans = merges + cfilters
    cp = LakeTable.load(f"{work}/pages_checkpoints")
    ln = LakeTable.load(f"{work}/pages_lineage")
    m = {
        # rows through the extraction UDF: merged batch rows + snapshot rows
        "extract.rows": rows_out + spec.n_seed if spec.extract else 0,
        "extract.bytes_in": own_ctr("python_bytes_sent", cdc_spans),
        "extract.python_s": own_ctr("python_ms", cdc_spans) / 1e3,
        "extract.kernel_mb_per_s": kernel_mb_per_s(html),
        "driver.batches": len(batches),
        "driver.jobs_per_batch": statistics.mean(a["jobs"] for a in attribution),
        "driver.overhead_s": statistics.median(a["overhead_s"] for a in attribution),
        "driver.position_s": wall([s for s in children(spans, run_span) if s["name"] == "position"]),
        "snapshot.load_s": wall(snaps),
        "snapshot.chunks": sum(s["result"]["chunks"] for s in snaps if s.get("result")),
        "snapshot.bytes_written": ctr(snaps, "output_bytes"),
        "dedup.rows_in": traced.warm_events + traced.events,
        "dedup.rows_out": rows_out,
        "dedup.shuffle_write_bytes": ctr(dedup_spans, "shuffle_write_bytes"),
        "dedup.task_skew": max((x.get("counters", {}).get("task_skew", 0.0)
                                for s in dedup_spans for x in subtree(spans, s)), default=0.0),
        "merge.s": wall(merges),
        "merge.files_written": len(merge_sizes),
        "merge.bytes_written": merge_bytes,
        "merge.cpu_s": ctr(merges, "cpu_ns") / 1e9,
        "merge.spill_bytes": ctr(merges, "disk_spill_bytes") + ctr(merges, "mem_spill_bytes"),
        "compact.runs": sum(1 for s in compacts if s.get("result")),
        "compact.s": wall(compacts),
        "compact.buckets_folded": sum(s["result"]["buckets"] for s in compacts if s.get("result")),
        "compact.bytes_rewritten": fold_bytes,
        "compact.write_amp": fold_bytes / merge_bytes if merge_bytes else 0.0,
        "read.s": statistics.median(s["t1"] - s["t0"] for s in reads),
        "read.files_scanned": len(table.refresh().manifest.files),
        "read.shuffle_bytes": statistics.median(ctr([s], "shuffle_write_bytes") for s in reads),
        "bookkeep.s": wall([s for b in batches for s in children(spans, b) if s["name"] == "bookkeep"]),
        "bookkeep.manifest_files": sum(len(t.manifest.files) for t in (table, cp, ln)),
        "cidx.dedup_s": wall(cfilters),
        "cidx.append_s": wall(named("cidx.append")),
        "cidx.dropped": exact_dropped,
        "cidx.keys": ContentIndex.load(f"{work}/cidx").stats()["total_keys"] if spec.indexes else 0,
        "cidx.bytes_read": ctr(cfilters, "input_bytes"),
        "ndidx.band_rows_s": wall(named("ndidx.band_rows")),
        "ndidx.match_s": wall(nfilters),
        "ndidx.append_s": wall(named("ndidx.append")),
        "ndidx.dropped": near_dropped,
        "ndidx.docs": NearDupIndex.load(f"{work}/ndidx").stats()["total_docs"] if spec.indexes else 0,
        "ndidx.match_bytes_read": ctr(nfilters, "input_bytes"),
        "ndidx.drops_per_candidate": near_dropped / near_candidates if near_candidates else 0.0,
        "spark.executor_run_s": own_ctr("run_ms") / 1e3,
        "spark.cpu_s": own_ctr("cpu_ns") / 1e9,
        "spark.fetch_wait_s": own_ctr("fetch_wait_ms") / 1e3,
        "spark.failed_tasks": own_ctr("failed_tasks"),
        "query.pass_s": query["pass_s"] if query else 0.0,
        "trace.wall_s": traced.t1 - traced.t0,
        "trace.fold_s": sum(s["t_end"] - s["t1"] for s in spans if "t_end" in s),
    }
    for leaf in queries.LEAVES:
        ss = named(f"query.{leaf}")
        m[f"query.{leaf}_s"] = wall(ss)
        m[f"query.{leaf}.shuffle_bytes"] = ctr(ss, "shuffle_write_bytes")
        m[f"query.{leaf}.python_s"] = ctr(ss, "python_ms") / 1e3
    return m, attribution
