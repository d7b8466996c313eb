"""Expected outputs, computed without Spark.

- Catalog outputs: the catalog's own DuckDB SQL over the same generated
  parquet.
- Streaming outputs: the batch twin (DuckDB SQL) over the events the stream
  admits, found by replaying the watermark rule over the backlog batches.
- Control states: a Python model of the fake transport.

Rows are compared as multisets after normalization: columns by name, floats
rounded to 6 places (every float output is integer-cents or rounded by
construction), arrays as tuples.
"""

from __future__ import annotations

import math

import duckdb
import numpy as np
import pandas as pd


def _norm(v):
    if isinstance(v, float):
        return None if math.isnan(v) else round(v, 6)
    if isinstance(v, (list, tuple, np.ndarray)):
        return tuple(_norm(x) for x in v)
    if hasattr(v, "item"):  # numpy scalar
        return _norm(v.item())
    if type(v).__name__ == "Decimal":
        return round(float(v), 6)
    return v


def canon(rows: list[dict]) -> list[tuple]:
    """Order-insensitive, column-order-insensitive normal form."""
    out = [tuple((k, _norm(r[k])) for k in sorted(r)) for r in rows]
    return sorted(out, key=repr)


def same(got: list[dict], want: list[dict]) -> bool:
    return canon(got) == canon(want)


def duck(sql: str, tables: dict[str, object]) -> list[dict]:
    """Run sql with each name bound to a parquet path or a DataFrame."""
    con = duckdb.connect()
    try:
        con.execute("SET TimeZone='UTC'")
        for name, src in tables.items():
            if isinstance(src, str):
                con.execute(
                    f"CREATE VIEW {name} AS SELECT * FROM read_parquet('{src}')"
                )
            else:
                con.register(name, src)
        df = con.execute(sql).fetchdf()
    finally:
        con.close()
    return df.astype(object).where(pd.notna(df), None).to_dict("records")


# --------------------------------------------------------------- watermark
def admitted(batches: list[dict], delay_s: int, window_s: int | None = None
             ) -> pd.DataFrame:
    """Events a watermarked stateful operator keeps, replaying one micro-
    batch per backlog file. The watermark of batch b is the largest event
    time of batches < b minus the delay; a stateful operator filters late
    rows with the previous batch's watermark. Per-key operators drop a row
    whose time is below it; a window aggregate drops a row whose window has
    already ended (window_s set). Event times are distinct even seconds and
    delays odd, so no comparison can tie."""
    keep, wms, max_ts = [], [None], None
    for cols in batches:
        df = pd.DataFrame(cols)
        tsec = df["ts"] // 1_000_000
        late_wm = wms[-2] if len(wms) > 1 else None
        if late_wm is None:
            mask = np.ones(len(df), dtype=bool)
        elif window_s is None:
            mask = (tsec > late_wm).to_numpy()
        else:
            mask = ((tsec // window_s + 1) * window_s > late_wm).to_numpy()
        keep.append(df[mask])
        b_max = int(tsec.max())
        max_ts = b_max if max_ts is None else max(max_ts, b_max)
        wms.append(max_ts - delay_s)
    out = pd.concat(keep, ignore_index=True)
    out = out[out["user_id"] >= 0]
    out["ts"] = pd.to_datetime(out["ts"], unit="us")
    return out.reset_index(drop=True)


def all_events(batches: list[dict]) -> pd.DataFrame:
    return admitted(batches, delay_s=10**12)


# --------------------------------------------------------------- lifecycle
def lifecycle_model(rows: list[dict], failing: set[str]) -> dict:
    """Expected control state after one collect run per source, plus the
    derived outputs each pass checks."""
    final, newly_completed = {}, []
    for r in rows:
        key = (r["source"], r["state"], r["city"])
        if r["status"] in ("", None):
            status = "error" if r["url"] in failing else "completed"
            if status == "completed":
                newly_completed.append(r)
            final[key] = (status, True)
        else:
            final[key] = (r["status"], False)
    return {
        "control": final,
        "curated": [
            {"source": r["source"], "schema_name": r["state"],
             "object_name": f"{r['city']}.html"}
            for r in newly_completed
        ],
        "without_payload": len(rows) - len(newly_completed),
    }


def profile_model(rows: list[dict], cols: list[str]) -> list[dict]:
    """profile_table's (col_name, n_rows, n_nulls, n_distinct) rows. The CSV
    reader reads an empty field as NULL, quoted or not."""
    out = []
    for c in cols:
        vals = [None if r[c] == "" else r[c] for r in rows]
        out.append({
            "col_name": c,
            "n_rows": len(vals),
            "n_nulls": sum(v is None for v in vals),
            "n_distinct": len({v for v in vals if v is not None}),
        })
    return out
