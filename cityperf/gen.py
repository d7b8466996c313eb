"""Seeded input generators for the three workloads.

Every generator takes a numpy Generator seeded from ``--seed`` and writes
plain files (CSV, parquet, JSON) that the package then reads. The same seed
gives byte-identical files; a different seed gives different values with the
same row counts, so the work per pass does not depend on the seed.
"""

from __future__ import annotations

import json
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

# --- city_lifecycle sizes -------------------------------------------------
# The reference's control exports as SURVEY.md section 6 records them, scaled
# down by SCALE to keep a run's cold pass near half a minute: 28,338 rows per
# source; city-data holds 1,031 completed and 5 error rows, usa 340 completed
# and 2 error, the rest pending. greatschools' split is not recorded there,
# so it gets city-data's. Every source keeps at least one error row.
SCALE = 4
N_CITIES = 28_338 // SCALE  # rows per control export (three exports)
DONE_COUNTS = {  # source -> (completed, error); every other row is pending
    source: (round(done / SCALE), max(1, round(err / SCALE)))
    for source, (done, err) in {
        "city-data": (1031, 5), "usa": (340, 2), "greatschools": (1031, 5),
    }.items()
}
# The reference's observed fetch failure share: 7 errors among the 1,378
# rows city-data and usa have finished (SURVEY.md section 6).
FAIL_SHARE = 7 / 1378
NULL_SHARE = 0.125  # assumption: pending rows exported as NULL, not ''
N_CUSTOMERS = 1500  # a8_city_score inputs at the repo's sf0.01 test scale
N_ORDERS = 15000
N_BUCKETS = 8  # bucketed control table layout

# --- event_stream sizes ---------------------------------------------------
N_BATCHES = 5  # backlog files; one file per micro-batch
EVENTS_PER_BATCH = 1000
N_USERS = 300
ZIPF_S = 1.1  # user skew: rank r has weight r ** -ZIPF_S
LAG_RANK_MOD = 8  # users of rank 3, 11, 19, ... upload late
LATE_SHARE = 0.12  # share of each batch's events that belong to them
LAG_BATCHES = 2  # ... by two files (about three hours of event time)
MAX_GAP_S = 5  # consecutive events are 2..2*MAX_GAP_S seconds apart

# --- corpus_search sizes --------------------------------------------------
N_DOCS = 500
N_VECS = 500
DIM = 64
N_CLUSTERS = 8

STATES = [
    "Alabama", "Alaska", "Arizona", "Arkansas", "California", "Colorado",
    "Delaware", "Florida", "Georgia", "Hawaii",
]
STATE_IDS = ["AL", "AK", "AZ", "AR", "CA", "CO", "DE", "FL", "GA", "HI"]
SOURCES = ["city-data", "usa", "greatschools"]
NATIONS = [
    "ALGERIA", "ARGENTINA", "BRAZIL", "CANADA", "EGYPT", "ETHIOPIA",
    "FRANCE", "GERMANY", "INDIA", "INDONESIA", "IRAN", "IRAQ", "JAPAN",
    "JORDAN", "KENYA", "MOROCCO", "MOZAMBIQUE", "PERU", "CHINA", "ROMANIA",
    "SAUDI ARABIA", "VIETNAM", "RUSSIA", "UNITED KINGDOM", "UNITED STATES",
]
VOCAB = (
    "a the key agg row scan slow fast table value part hash merge batch "
    "spark line sort window order data column join small customer query "
    "stream group filter big vector"
).split()
EVENT_TYPES = ["view", "click", "purchase", "error"]
EVENT_P = [0.6, 0.25, 0.1, 0.05]

T0 = 1_704_067_200  # 2024-01-01T00:00:00Z
SENTINEL_OFFSET_S = 3650 * 86400  # far-future row that closes every window


def url_for(source: str, state: str, city: str) -> str:
    """The page each control row points at (greatschools rows get theirs
    when the benchmark keys the export)."""
    host = {
        "city-data": "www.city-data.com/city",
        "usa": "www.usa.com",
        "greatschools": "www.greatschools.org",
    }[source]
    return f"https://{host}/{state}/{city}/"


def _write_parquet(rows: dict, schema: pa.Schema, path: str) -> None:
    pq.write_table(pa.table(rows, schema=schema), path)


# --------------------------------------------------------------- lifecycle
def control_rows(rng: np.random.Generator) -> list[dict]:
    """The three exports' rows as a model: one dict per control row with the
    fields every export shares plus the quirks (status '' vs None, two
    timestamp formats). Exactly the same counts for every seed."""
    rows = []
    for si, source in enumerate(SOURCES):
        n_completed, n_error = DONE_COUNTS[source]
        n_pending = N_CITIES - n_completed - n_error
        n_null = int(n_pending * NULL_SHARE)
        statuses = (
            [""] * (n_pending - n_null)
            + [None] * n_null
            + ["completed"] * n_completed
            + ["error"] * n_error
        )
        statuses = [statuses[i] for i in rng.permutation(N_CITIES)]
        states = rng.integers(0, len(STATES), N_CITIES)
        for i in range(N_CITIES):
            state = STATES[states[i]]
            city = f"C{si}x{i:04d}"
            status = statuses[i]
            done = status in ("completed", "error")
            secs = T0 + int(rng.integers(0, 86400 * 30))
            if not done:
                date = ""
            elif rng.random() < 0.5:
                date = _fmt(secs, "%Y-%m-%d %H:%M:%S")
            else:
                date = _fmt(secs, "%Y-%m-%dT%H-%M-%S")
            rows.append(
                {
                    "source": source,
                    "id": (si * 100_000 + i + 1) if source != "greatschools" else None,
                    "state": state,
                    "state_id": STATE_IDS[states[i]],
                    "city": city,
                    "status": status,
                    "date_completed": date,
                    "url": url_for(source, state, city),
                }
            )
    return rows


def _fmt(secs: int, fmt: str) -> str:
    import datetime

    return datetime.datetime.fromtimestamp(secs, datetime.timezone.utc).strftime(fmt)


def _csv_field(v) -> str:
    """'' is written quoted (reads back as ''), None unquoted (reads back
    as NULL) — the reference exports' two spellings of 'pending'."""
    if v is None:
        return ""
    s = str(v)
    return f'"{s}"' if s == "" or "," in s else s


def write_control_exports(rows: list[dict], out_dir: str) -> dict[str, str]:
    """One CSV per source, each with its own schema (schema drift)."""
    cols = {
        "city-data": ["id", "state", "city", "status", "date_completed", "url"],
        "usa": ["id", "state", "state_id", "city", "status", "date_completed", "url"],
        "greatschools": [
            "city", "state_id", "state_name", "county_name", "lat", "lng",
            "zips", "status", "date_completed",
        ],
    }
    paths = {}
    for source in SOURCES:
        path = os.path.join(out_dir, f"{source}_control.csv")
        with open(path, "w", encoding="utf-8") as f:
            f.write(",".join(cols[source]) + "\n")
            for k, r in enumerate(x for x in rows if x["source"] == source):
                extra = {
                    "state_name": r["state"],
                    "county_name": f"County{k % 7}",
                    "lat": f"{30 + (k % 17) * 0.5:.4f}",
                    "lng": f"{-90 - (k % 13) * 0.5:.4f}",
                    "zips": f"{10000 + k} {10001 + k}",
                }
                vals = [r.get(c, extra.get(c)) for c in cols[source]]
                f.write(",".join(_csv_field(v) for v in vals) + "\n")
        paths[source] = path
    return paths


def failing_urls(rng: np.random.Generator, rows: list[dict]) -> list[str]:
    """Exactly FAIL_SHARE of each source's pending URLs fail."""
    out = []
    for source in SOURCES:
        pending = [
            r["url"] for r in rows
            if r["source"] == source and r["status"] in ("", None)
        ]
        pick = rng.permutation(len(pending))[: int(len(pending) * FAIL_SHARE)]
        out += sorted(pending[i] for i in pick)
    return out


def write_score_tables(rng: np.random.Generator, out_dir: str) -> None:
    """nation / customer / orders in the catalog's testdata schema, input
    to a8_city_score. Every nation has customers and orders."""
    _write_parquet(
        {
            "n_nationkey": list(range(25)),
            "n_name": NATIONS,
            "n_regionkey": [k % 5 for k in range(25)],
        },
        pa.schema([("n_nationkey", pa.int32()), ("n_name", pa.string()),
                   ("n_regionkey", pa.int32())]),
        os.path.join(out_dir, "nation.parquet"),
    )
    nk = rng.permutation(np.arange(N_CUSTOMERS) % 25).astype(np.int32)
    _write_parquet(
        {
            "c_custkey": np.arange(1, N_CUSTOMERS + 1, dtype=np.int64),
            "c_name": [f"Customer#{k:09d}" for k in range(1, N_CUSTOMERS + 1)],
            "c_nationkey": nk,
            "c_acctbal": rng.integers(-99_999, 999_999, N_CUSTOMERS) / 100.0,
            "c_mktsegment": rng.choice(
                ["AUTOMOBILE", "BUILDING", "FURNITURE", "MACHINERY", "HOUSEHOLD"],
                N_CUSTOMERS,
            ).tolist(),
        },
        pa.schema([("c_custkey", pa.int64()), ("c_name", pa.string()),
                   ("c_nationkey", pa.int32()), ("c_acctbal", pa.float64()),
                   ("c_mktsegment", pa.string())]),
        os.path.join(out_dir, "customer.parquet"),
    )
    _write_parquet(
        {
            "o_orderkey": np.arange(1, N_ORDERS + 1, dtype=np.int64),
            "o_custkey": rng.integers(1, N_CUSTOMERS + 1, N_ORDERS),
            "o_orderstatus": rng.choice(["F", "O", "P"], N_ORDERS).tolist(),
            "o_totalprice": rng.integers(100, 50_000_000, N_ORDERS) / 100.0,
            "o_orderdate": (T0 + rng.integers(0, 86400 * 365, N_ORDERS)) * 1_000_000,
            "o_orderpriority": rng.choice(
                ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"],
                N_ORDERS,
            ).tolist(),
        },
        pa.schema([("o_orderkey", pa.int64()), ("o_custkey", pa.int64()),
                   ("o_orderstatus", pa.string()), ("o_totalprice", pa.float64()),
                   ("o_orderdate", pa.timestamp("us", tz="UTC")),
                   ("o_orderpriority", pa.string())]),
        os.path.join(out_dir, "orders.parquet"),
    )


def generate_lifecycle(seed: int, out_dir: str) -> dict:
    rng = np.random.default_rng([seed, 1])
    os.makedirs(out_dir, exist_ok=True)
    rows = control_rows(rng)
    exports = write_control_exports(rows, out_dir)
    fails = failing_urls(rng, rows)
    write_score_tables(rng, out_dir)
    with open(os.path.join(out_dir, "failing_urls.json"), "w") as f:
        json.dump(fails, f)
    return {"rows": rows, "exports": exports, "failing": fails}


# ------------------------------------------------------------------ events
EVENT_SCHEMA = pa.schema([
    ("event_id", pa.int64()), ("ts", pa.timestamp("us", tz="UTC")),
    ("user_id", pa.int64()), ("event_type", pa.string()),
    ("value", pa.float64()), ("props", pa.string()),
])


def event_batches(seed: int) -> list[dict]:
    """The staged backlog as a list of column dicts, one per micro-batch,
    in arrival order. Event time is distinct even seconds (so no watermark
    comparison can tie); users are Zipf-skewed; users of every
    LAG_RANK_MOD-th rank make LATE_SHARE of each batch's events and arrive
    LAG_BATCHES files late as a block (their own order is kept, as a lagging
    collector would deliver it); rows are shuffled inside each file. File
    sizes do not depend on the seed. The last batch ends with a far-future
    sentinel row (user_id -1): the watermark passes every window after it,
    and a final batch without data flushes what the operators still hold."""
    rng = np.random.default_rng([seed, 2])
    n = N_BATCHES * EVENTS_PER_BATCH
    ts = T0 + 2 * np.cumsum(rng.integers(1, MAX_GAP_S + 1, n))
    weights = 1.0 / np.arange(1, N_USERS + 1) ** ZIPF_S
    lagging = np.arange(N_USERS) % LAG_RANK_MOD == 3
    n_late = int(EVENTS_PER_BATCH * LATE_SHARE)
    rank = np.empty(n, dtype=np.int64)
    for b in range(N_BATCHES):  # exactly n_late lagging-user events per batch
        for ranks, idx in (
            (np.flatnonzero(lagging), slice(0, n_late)),
            (np.flatnonzero(~lagging), slice(n_late, EVENTS_PER_BATCH)),
        ):
            w = weights[ranks] / weights[ranks].sum()
            k = idx.stop - idx.start
            rank[b * EVENTS_PER_BATCH + np.arange(idx.start, idx.stop)] = rng.choice(ranks, k, p=w)
        seg = slice(b * EVENTS_PER_BATCH, (b + 1) * EVENTS_PER_BATCH)
        rank[seg] = rank[seg][rng.permutation(EVENTS_PER_BATCH)]
    user_of_rank = rng.permutation(N_USERS).astype(np.int64)
    batch = np.arange(n) // EVENTS_PER_BATCH
    late = lagging[rank]
    batch = np.where(late, np.minimum(batch + LAG_BATCHES, N_BATCHES - 1), batch)
    cols = {
        "event_id": np.arange(n, dtype=np.int64),
        "ts": ts * 1_000_000,
        "user_id": user_of_rank[rank],
        "event_type": np.array(EVENT_TYPES)[
            rng.choice(len(EVENT_TYPES), n, p=EVENT_P)
        ],
        "value": rng.integers(1, 100_000, n) / 100.0,
        "props": np.array([f'{{"k": {k}}}' for k in rng.integers(0, 100, n)]),
    }
    out = []
    for b in range(N_BATCHES):
        idx = np.flatnonzero(batch == b)
        idx = idx[rng.permutation(len(idx))]
        out.append({k: v[idx] for k, v in cols.items()})
    sentinel = {
        "event_id": np.array([-1], dtype=np.int64),
        "ts": np.array([(int(ts.max()) + SENTINEL_OFFSET_S) * 1_000_000]),
        "user_id": np.array([-1], dtype=np.int64),
        "event_type": np.array(["view"]),
        "value": np.array([0.0]),
        "props": np.array(['{"k": 0}']),
    }
    out[-1] = {k: np.concatenate([v, sentinel[k]]) for k, v in out[-1].items()}
    return out


def generate_events(seed: int, out_dir: str) -> dict:
    """Write the backlog one parquet file per batch; modification times
    increase with the batch index so the file source replays them in
    arrival order."""
    import time

    os.makedirs(out_dir, exist_ok=True)
    batches = event_batches(seed)
    base = int(time.time()) - 10 * len(batches)
    for i, cols in enumerate(batches):
        path = os.path.join(out_dir, f"part-{i:05d}.parquet")
        _write_parquet({k: list(v) if k in ("event_type", "props") else v
                        for k, v in cols.items()}, EVENT_SCHEMA, path)
        os.utime(path, (base + 5 * i, base + 5 * i))
    return {"batches": batches, "dir": out_dir}


# ------------------------------------------------------------------ corpus
def generate_corpus(seed: int, out_dir: str) -> None:
    """documents (with exact and near duplicates over a ~31-word vocabulary,
    the shape the catalog's dedup queries are built for) and clustered
    unit-norm embeddings."""
    rng = np.random.default_rng([seed, 3])
    os.makedirs(out_dir, exist_ok=True)
    texts: list[str] = []
    for i in range(N_DOCS):
        r = rng.random()
        if i >= 10 and r < 0.1:  # exact duplicate of an earlier doc
            texts.append(texts[int(rng.integers(0, i))])
        elif i >= 10 and r < 0.2:  # near duplicate: a few tokens replaced
            toks = texts[int(rng.integers(0, i))].split(" ")
            for j in rng.integers(0, len(toks), 2):
                toks[j] = VOCAB[int(rng.integers(0, len(VOCAB)))]
            texts.append(" ".join(toks))
        else:
            n_tok = int(rng.integers(20, 80))
            texts.append(" ".join(
                VOCAB[k] for k in rng.integers(0, len(VOCAB), n_tok)))
    _write_parquet(
        {
            "doc_id": np.arange(N_DOCS, dtype=np.int64),
            "text": texts,
            "lang": rng.choice(["en", "es", "zh", "de"], N_DOCS).tolist(),
            "source": [f"src{i % 5}" for i in range(N_DOCS)],
            "n_chars": np.array([len(t) for t in texts], dtype=np.int64),
        },
        pa.schema([("doc_id", pa.int64()), ("text", pa.string()),
                   ("lang", pa.string()), ("source", pa.string()),
                   ("n_chars", pa.int64())]),
        os.path.join(out_dir, "documents.parquet"),
    )
    centers = rng.normal(size=(N_CLUSTERS, DIM))
    label = rng.integers(0, N_CLUSTERS, N_VECS)
    vecs = centers[label] + 0.8 * rng.normal(size=(N_VECS, DIM))
    vecs = (vecs / np.linalg.norm(vecs, axis=1, keepdims=True)).astype(np.float32)
    _write_parquet(
        {
            "vec_id": np.arange(N_VECS, dtype=np.int64),
            "embedding": list(vecs),
            "label": label.astype(np.int32),
        },
        pa.schema([("vec_id", pa.int64()),
                   ("embedding", pa.list_(pa.float32())),
                   ("label", pa.int32())]),
        os.path.join(out_dir, "embeddings.parquet"),
    )
