"""Independent output checks for the CDC workloads.

The reference never goes through Spark or the engine: it reads the
generated parquet inputs with pyarrow and replays them in pandas as a
plain last-write-wins window over seed ∪ changes, with the rules written
down in ``tests/oracle.py``:

* insert and update are whole-row upserts, delete removes the row;
* an update whose ``before_url`` differs from ``url`` is a delete of
  ``before_url`` plus an insert of ``url`` at the same lsn;
* ``add_column`` at lsn L: events at lsn <= L never contribute the column;
* ``rename_column`` renames the stored column, events keep the old name;
* ``widen_column`` leaves values unchanged;
* ``text`` is ``extract_text_series(html)`` with extraction on, else null.

Both sides are reduced to the same row tuples
``(url, last_lsn, warc_ts_us, md5(html), lang, fetch_status, md5(text))``
and compared as sets, so the check is independent of row order.
"""

from __future__ import annotations

import hashlib
import json

import pandas as pd
import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.parquet as pq

from ape_dts_spark.functions.extract_text import extract_text_series

_PAYLOAD = ["warc_ts", "html", "lang", "fetch_status"]


def _md5(v) -> str | None:
    if v is None or (isinstance(v, float) and pd.isna(v)):
        return None
    if isinstance(v, str):
        v = v.encode("utf-8")
    return hashlib.md5(bytes(v)).hexdigest()


def read_inputs(paths: dict) -> tuple[pd.DataFrame, pd.DataFrame, list[dict]]:
    """(seed pages, change events, ddl events) as pandas, timestamps as
    int64 microseconds so both sides compare the same integers."""

    def _read(p: str) -> pd.DataFrame:
        t = pq.read_table(p)
        if "warc_ts" in t.column_names:
            i = t.column_names.index("warc_ts")
            us = pc.cast(t.column(i), pa.timestamp("us", tz=t.column(i).type.tz))
            t = t.set_column(i, "warc_ts", pc.cast(us, pa.int64()))
        return t.to_pandas()

    seed = _read(paths["snapshot"])
    changes = _read(paths["changes"])
    ddls = []
    if paths.get("ddl"):
        ddls = sorted(_read(paths["ddl"]).to_dict("records"), key=lambda d: d["lsn"])
    return seed, changes, ddls


def lww_replay(
    seed: pd.DataFrame, changes: pd.DataFrame, ddls: list[dict], extract: bool
) -> pd.DataFrame:
    """Expected final resolved table: one row per live url with
    ``last_lsn``, payload and extracted ``text``."""
    for d in ddls:
        if d["ddl_type"] not in ("add_column", "rename_column", "widen_column"):
            raise ValueError(f"reference replay does not model {d['ddl_type']!r}")
    ev = changes[["lsn", "op", "url", "before_url", *_PAYLOAD]].copy()
    moved = (ev["op"] == "update") & ev["before_url"].notna() & (ev["before_url"] != ev["url"])
    deletes = ev.loc[moved, ["lsn", "before_url"]].rename(columns={"before_url": "url"})
    deletes["op"] = "delete"
    ev.loc[moved, "op"] = "insert"
    base = seed[["url", "warc_ts", "html", "lang"]].copy()
    base["lsn"] = 0
    base["op"] = "insert"
    base["fetch_status"] = float("nan")
    allev = pd.concat([base, ev.drop(columns=["before_url"]), deletes], ignore_index=True)
    # lsn is unique per event (seed rows share lsn 0 but have distinct urls)
    win = allev.sort_values("lsn").drop_duplicates("url", keep="last")
    live = win[win["op"] != "delete"].copy()

    add = next((d for d in ddls if d["ddl_type"] == "add_column"), None)
    if add is not None:
        live.loc[live["lsn"] <= add["lsn"], "fetch_status"] = None
    else:
        live["fetch_status"] = None
    live["fetch_status"] = live["fetch_status"].astype("object").where(
        live["fetch_status"].notna(), None
    )
    # extraction off: no row carries text (the seed's is null too)
    live["text"] = extract_text_series(live["html"]).to_numpy() if extract else None
    live = live.rename(columns={"lsn": "last_lsn"})
    return live[["url", "last_lsn", "warc_ts", "html", "lang", "fetch_status", "text"]]


def reference_rows(expected: pd.DataFrame) -> set[tuple]:
    return {
        (
            r.url,
            int(r.last_lsn),
            int(r.warc_ts) if r.warc_ts is not None and not pd.isna(r.warc_ts) else None,
            _md5(r.html),
            r.lang,
            int(r.fetch_status) if r.fetch_status is not None else None,
            _md5(r.text),
        )
        for r in expected.itertuples(index=False)
    }


def table_rows(spark, table) -> tuple[set[tuple], int]:
    """The same row tuples from the engine's final resolved table, and its
    logical bytes: string/binary lengths plus 8 per non-null fixed-width
    value, summed over the resolved rows."""
    from pyspark.sql import functions as F

    df = table.refresh().read(spark)
    cols = set(df.columns)
    lang = "language" if "language" in cols else "lang"
    status = F.col("fetch_status").cast("long") if "fetch_status" in cols else F.lit(None)
    size = F.lit(0)
    for f in df.schema.fields:
        c = F.col(f.name)
        if f.dataType.typeName() in ("string", "binary"):
            size = size + F.coalesce(F.octet_length(c), F.lit(0))
        else:
            size = size + F.when(c.isNull(), 0).otherwise(8)
    out = df.select(
        "url",
        F.col("last_lsn").cast("long"),
        F.unix_micros("warc_ts"),
        F.md5("html"),
        F.col(lang),
        status,
        F.md5(F.col("text").cast("binary")),
        size.alias("_bytes"),
    ).collect()
    return {tuple(r)[:-1] for r in out}, sum(r["_bytes"] for r in out)


def fingerprint(rows: set[tuple]) -> str:
    h = hashlib.sha256()
    for r in sorted(rows, key=lambda t: t[0]):
        h.update(json.dumps(r).encode())
    return h.hexdigest()[:16]


def compare(expected: set[tuple], actual: set[tuple]) -> dict:
    exp = {r[0]: r for r in expected}
    act = {r[0]: r for r in actual}
    missing = sorted(set(exp) - set(act))
    extra = sorted(set(act) - set(exp))
    differ = sorted(u for u in set(exp) & set(act) if exp[u] != act[u])
    return {
        "ok": not (missing or extra or differ) and len(act) == len(actual),
        "expected_rows": len(exp),
        "actual_rows": len(actual),
        "missing": len(missing),
        "extra": len(extra),
        "differ": len(differ),
        "first_bad": (missing or extra or differ or [None])[0],
        "expected_fp": fingerprint(expected),
        "actual_fp": fingerprint(actual),
    }


def exact_drop_counts(
    changes: pd.DataFrame, slices: list[tuple[int, int]], merged_urls: set[str]
) -> list[int]:
    """Per-slice count of INSERT rows whose extracted text has an md5 equal
    to the text of an insert merged in an earlier slice — the rows the
    engine's exact ContentIndex filter must drop.  Inserts that merged are
    the ones whose url is in the final table: in the ingest stream every
    insert mints a fresh url that no later event touches."""
    seen: set[str] = set()
    out = []
    for lo, hi in slices:
        sl = changes[(changes["lsn"] > lo) & (changes["lsn"] <= hi)]
        win = sl.sort_values("lsn").drop_duplicates("url", keep="last")
        ins = win[win["op"] == "insert"]
        text = extract_text_series(ins["html"])
        digests = [_md5(t) for t in text]
        out.append(sum(1 for d in digests if d in seen))
        seen.update(d for d, u in zip(digests, ins["url"]) if u in merged_urls)
    return out
