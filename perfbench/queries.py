"""The query-library pass of the traced run.

The documents-only leaves of ``bench.BENCH_QUERIES`` (the corpus / dedup /
similarity / n-gram operators) run over the corpus the workload just
replicated: the first ``DOCS`` rows of the final table, in url order, with
their ``text``, written as a ``documents`` table.  The re-crawl corpus is
dense in near duplicates, and the LSH and clustering leaves grow faster
than linearly with it: ~1000 documents took 20-40 s a leaf on a 4-CPU
host.  One pass runs with every leaf in its own span, so its stage metrics
fold like any other layer call.  It is not preceded by a warm-up pass (that
would double the traced run's longest phase), so each leaf's figure
includes compiling its plans; the CDC replay before it has already warmed
the JVM and the Python workers.  The board leaves' results from that pass
are then checked against their DuckDB oracle from
``__spark_entry__.oracle_sql()``; ``corpus_pipeline`` has no oracle and is
only run.

The leaves that read the TPC-H tables, ``events`` or ``embeddings`` need
the committed test data, which is not part of a checkout, so they are not
run here.
"""

from __future__ import annotations

import importlib.util
import os
import time

from pyspark.sql import Window
from pyspark.sql import functions as F

from perfbench.run import QUERY_LEAVES as LEAVES

DOCS = 100


def _leaf_functions() -> dict:
    import __spark_entry__
    import bench

    qs = __spark_entry__.queries()
    return {n: qs.get(n) or bench._BENCH_EXTRAS[n] for n in LEAVES}


def write_documents(spark, table, sf_dir: str) -> int:
    """The first ``DOCS`` live rows with text, in url order, as
    ``{sf_dir}/documents.parquet`` (``doc_id`` numbered in that order);
    returns the document count."""
    df = table.read(spark).where(F.col("text").isNotNull()).orderBy("url").limit(DOCS)
    lang = "language" if "language" in df.columns else "lang"
    docs = df.select(
        F.row_number().over(Window.orderBy("url")).cast("long").alias("doc_id"),
        "text",
        F.col(lang).alias("lang"),
        F.lit("perfbench").alias("source"),
        F.length("text").cast("long").alias("n_chars"),
    )
    docs.coalesce(1).write.parquet(f"{sf_dir}/documents.parquet")
    return spark.read.parquet(f"{sf_dir}/documents.parquet").count()


def _normalize():
    root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    spec = importlib.util.spec_from_file_location(
        "check_parity", os.path.join(root, "scripts", "check_parity.py")
    )
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod.normalize


def oracle_check(sf_dir: str, name: str, got) -> dict:
    """Spark result of one board leaf (a pandas frame) vs its DuckDB oracle,
    compared as sorted normalized rows (the ``scripts/check_parity.py``
    rules)."""
    import duckdb

    import __spark_entry__

    con = duckdb.connect()
    con.execute(f"CREATE VIEW documents AS SELECT * FROM "
                f"read_parquet('{sf_dir}/documents.parquet/*.parquet')")
    want = con.execute(__spark_entry__.oracle_sql()[name]).fetchdf()
    con.close()
    normalize = _normalize()
    ok = sorted(got.columns) == sorted(want.columns) and normalize(got) == normalize(want)
    return {"name": f"query_{name}", "ok": ok, "rows": len(got), "oracle_rows": len(want)}


def run_pass(spark, tracer, table, sf_dir: str) -> dict:
    """Traced pass, then the oracle checks.  Returns the per-leaf walls,
    the checks and the failed leaves."""
    os.makedirs(sf_dir, exist_ok=True)
    n_docs = write_documents(spark, table, sf_dir)
    fns = _leaf_functions()
    errors = {}
    walls, results = {}, {}
    t0 = time.monotonic()
    for name, fn in fns.items():
        try:
            with tracer.span(f"query.{name}") as sp:
                results[name] = fn(spark, sf_dir).toPandas()
        except Exception as e:
            errors[name] = f"{type(e).__name__}: {e}"
            continue
        walls[name] = sp["t1"] - sp["t0"]
    pass_s = time.monotonic() - t0
    checks = []
    for name, got in results.items():
        if name == "corpus_pipeline":
            continue
        try:
            checks.append(oracle_check(sf_dir, name, got))
        except Exception as e:
            checks.append(
                {"name": f"query_{name}", "ok": False, "error": f"{type(e).__name__}: {e}"}
            )
    return {"docs": n_docs, "walls": walls, "pass_s": pass_s, "checks": checks, "errors": errors}
