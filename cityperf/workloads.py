"""The three workloads. Each one generates its inputs from the seed, runs one
closed-loop pass at a time through the package's public functions, and
checks every output of a pass against its oracle.

Layer names in spans follow the package's modules: sources, etl,
operators.{relational,joins,aggregates,similarity,dedup,text}, streaming.
"""

from __future__ import annotations

import json
import os
import uuid
from functools import reduce

import pyarrow.parquet as pq
from pyspark.sql import functions as F

from cityperf import gen, oracle
from cityperf.trace import node_metrics, slope, timeline

PROMOTE_AT = "2024-06-01 12:00:00"  # processing time stamped on promoted keys


def _rows(df) -> list[dict]:
    return [r.asDict(recursive=True) for r in df.collect()]


def _files(root: str) -> dict[str, tuple]:
    """Data files under root: path -> (inode, size, mtime)."""
    out = {}
    for d, _dirs, names in os.walk(root):
        for n in names:
            if n.startswith((".", "_")):
                continue
            st = os.stat(os.path.join(d, n))
            out[os.path.join(d, n)] = (st.st_ino, st.st_size, st.st_mtime_ns)
    return out


def _written(before: dict, after: dict) -> dict[str, int]:
    """Files created or replaced between two snapshots -> their size."""
    return {p: v[1] for p, v in after.items() if before.get(p) != v}


class FakeTransport:
    """In-process stand-in for etl.transport.HttpTransport: a factory (one
    client per partition) whose client fails exactly on the seeded failing
    URLs and counts calls and failures in Spark accumulators."""

    def __init__(self, failing: list[str], calls, errors):
        self.failing = frozenset(failing)
        self.calls = calls
        self.errors = errors

    def __call__(self):
        def fetch(url: str) -> str | None:
            self.calls.add(1)
            if url in self.failing:
                self.errors.add(1)
                return None
            return f"<html><body>{url}</body></html>"

        return fetch


class Workload:
    name = ""

    def __init__(self, spark, input_dir: str, seed: int):
        self.spark = spark
        self.dir = input_dir

    def batch_samples(self, out, jobs) -> list[float]:
        """Batch durations of a pass: the jobs it launched (batch workloads
        have no micro-batches; a Spark job is their unit of batch work)."""
        return [j["completionTime"] - j["submissionTime"] for j in jobs
                if j.get("completionTime") and j.get("submissionTime")]


# ------------------------------------------------------------ city lifecycle
class CityLifecycle(Workload):
    """The paper's core cycle: keyed control table -> collect -> raw append
    -> status merge -> promote -> score. The only workload that writes."""

    name = "city_lifecycle"
    PROFILE_COLS = ["status", "state", "date_completed"]

    def __init__(self, spark, input_dir, seed):
        super().__init__(spark, input_dir, seed)
        self.inp = gen.generate_lifecycle(seed, input_dir)
        self.input_rows = (len(gen.SOURCES) * gen.N_CITIES + gen.N_CUSTOMERS
                           + gen.N_ORDERS + len(gen.NATIONS))
        sc = spark.sparkContext
        self.calls = sc.accumulator(0)
        self.errors = sc.accumulator(0)
        self.transport = FakeTransport(self.inp["failing"], self.calls, self.errors)

    def prepare_oracle(self):
        from citydata_etl_spark.plans.catalog import load_all

        self.want = oracle.lifecycle_model(self.inp["rows"], set(self.inp["failing"]))
        self.want["profile"] = oracle.profile_model(self.inp["rows"], self.PROFILE_COLS)
        self.want["a8"] = oracle.duck(
            load_all()["a8_city_score"].oracle,
            {t: os.path.join(self.dir, f"{t}.parquet")
             for t in ("customer", "orders", "nation")},
        )

    def _keyed(self):
        """The three exports, schema drift and all, keyed into one relation.
        greatschools rows carry no id or url: the key is a hash of the city,
        the url is the page the collector fetches."""
        from citydata_etl_spark.schemas import CONTROL_TABLES
        from citydata_etl_spark.sources.readers import read_control_csv

        frames = []
        for source, path in self.inp["exports"].items():
            df = read_control_csv(self.spark, path, CONTROL_TABLES[source])
            if source == "greatschools":
                df = (
                    df.withColumn("id", F.xxhash64("city", "state_id"))
                    .withColumn("state", F.col("state_name"))
                    .withColumn("url", F.concat(
                        F.lit("https://www.greatschools.org/"), F.col("state_name"),
                        F.lit("/"), F.col("city"), F.lit("/")))
                )
            frames.append(df.withColumn("source", F.lit(source)))
        return reduce(lambda a, b: a.unionByName(b, allowMissingColumns=True), frames)

    def run_pass(self, tr, pdir: str) -> dict:
        from citydata_etl_spark.etl.collect import collect_run
        from citydata_etl_spark.etl.staging import promote
        from citydata_etl_spark.operators.joins import anti_join
        from citydata_etl_spark.operators.relational import pending_work, profile_table
        from citydata_etl_spark.plans.catalog import load_all
        from citydata_etl_spark.sources.merge import (
            merge_upsert, read_bucketed_control, write_bucketed_control)
        from citydata_etl_spark.sources.readers import read_parquet_table
        from citydata_etl_spark.sources.sinks import write_raw_partitioned

        spark = self.spark
        ctrl, raw, cur = (os.path.join(pdir, d) for d in ("control", "raw", "curated"))
        out: dict = {"writes": [], "merges": [],
                     "fetch_before": (self.calls.value, self.errors.value)}

        def snap(path: str) -> dict:  # files on disk, in traced passes only
            if not tr.enabled:
                return {}
            with tr.own():
                return _files(path)


        with tr.span("sources.read", "read_control_csv"):
            # materialized here, so the CSV scan is read time, not write time
            keyed = self._keyed().persist()
            keyed.count()
        before = snap(pdir)
        with tr.span("sources.write", "write_bucketed_control"):
            write_bucketed_control(keyed, ctrl, "id", gen.N_BUCKETS)
            keyed.unpersist()
        out["writes"].append(_written(before, snap(pdir)))
        with tr.span("operators.relational", "profile_table"):
            out["profile"] = _rows(profile_table(
                read_bucketed_control(spark, ctrl), self.PROFILE_COLS))
        for source in gen.SOURCES:
            before = snap(pdir)
            with tr.span("etl.collect", source):
                control = read_bucketed_control(spark, ctrl).filter(
                    F.col("source") == source)
                payloads, updated = collect_run(control, self.transport, source, source)
                write_raw_partitioned(payloads, raw)
            out["writes"].append(_written(before, snap(pdir)))
            before = snap(ctrl)
            with tr.span("sources.merge", source):
                todo = pending_work(control).select("id")
                changes = updated.join(todo, "id", "left_semi").select(
                    "id", "status", "date_completed")
                merge_upsert(spark, ctrl, changes, "id", gen.N_BUCKETS)
            changed = _written(before, snap(ctrl))
            with tr.own():
                out["merges"].append((source, {p: pq.ParquetFile(p).metadata.num_rows
                                               for p in changed}))
            out["writes"].append(changed)
        before = snap(pdir)
        with tr.span("etl.promote"):
            staged = read_parquet_table(spark, raw).select(
                F.concat_ws("/", "data_source", "state", F.lit("payloads"),
                            F.lit("initial"), F.concat("city", F.lit(".html"))
                            ).alias("key"))
            promote(staged, cur, now=F.lit(PROMOTE_AT).cast("timestamp"))
        out["writes"].append(_written(before, snap(pdir)))
        with tr.span("operators.joins", "anti_join"):
            paid = read_parquet_table(spark, raw).select(
                F.col("data_source").alias("source"), "state", "city")
            out["without_payload"] = anti_join(
                read_bucketed_control(spark, ctrl), paid,
                ["source", "state", "city"]).count()
        with tr.span("operators.aggregates", "a8_city_score"):
            out["a8"] = _rows(load_all()["a8_city_score"].spark_fn(spark, self.dir))
        with tr.span("sources.read", "read_bucketed_control"):
            out["control"] = _rows(read_bucketed_control(spark, ctrl).select(
                "source", "state", "city", "status", "date_completed"))
            out["curated"] = _rows(read_parquet_table(spark, cur).select(
                "source", "schema_name", "object_name"))
        return out

    def check(self, out: dict) -> dict[str, bool]:
        got = {(r["source"], r["state"], r["city"]): r for r in out["control"]}
        control_ok = len(got) == len(out["control"]) == len(self.want["control"])
        for key, (status, moved) in self.want["control"].items():
            r = got.get(key)
            control_ok = control_ok and r is not None and r["status"] == status
            if moved and r is not None:
                control_ok = control_ok and bool(r["date_completed"])
        return {
            "control": control_ok,
            "profile": oracle.same(out["profile"], self.want["profile"]),
            "curated": oracle.same(out["curated"], self.want["curated"]),
            "without_payload": out["without_payload"] == self.want["without_payload"],
            "a8_city_score": oracle.same(out["a8"], self.want["a8"]),
        }

    def tamper(self, out: dict) -> None:
        out["a8"] = out["a8"][1:]

    def layer_figures(self, tracer, out, executions) -> dict:
        rows_rewritten = changed_rows = 0
        buckets = set()
        n_pending = {s: sum(1 for r in self.inp["rows"]
                            if r["source"] == s and r["status"] in ("", None))
                     for s in gen.SOURCES}
        for source, rows in out["merges"]:
            buckets |= {(source, os.path.dirname(p)) for p in rows}
            rows_rewritten += sum(rows.values())
            changed_rows += n_pending[source]
        return {
            "sources.bytes_written": sum(sum(w.values()) for w in out["writes"]),
            "sources.files_written": sum(len(w) for w in out["writes"]),
            "sources.merge.buckets_rewritten": len(buckets),
            "sources.merge.write_amp": rows_rewritten / max(1, changed_rows),
            "etl.fetch_calls": self.calls.value - out["fetch_before"][0],
            "etl.fetch_errors": self.errors.value - out["fetch_before"][1],
        }


# ---------------------------------------------------------------- streaming
T12_DELAY_S = 10801  # admits the lagging collector's uploads
TUMBLE_DELAY_S = 3601  # drops part of them
WINDOW_S = 600
SLOT_S = 300
KMV_K = 64
SENTINEL_CUT = gen.T0 + 365 * 86400

ATTRIBUTION_ROWS_SQL = """
    WITH e AS (
      SELECT user_id, event_type, value, epoch_us(ts) AS tus FROM events),
    w AS (
      SELECT user_id, event_type, value, tus,
             max(CASE WHEN event_type = 'click' THEN tus END) OVER
               (PARTITION BY user_id ORDER BY tus
                RANGE BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS lc,
             max(CASE WHEN event_type = 'view' THEN tus END) OVER
               (PARTITION BY user_id ORDER BY tus
                RANGE BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS lv
      FROM e)
    SELECT user_id,
           CASE WHEN lc IS NOT NULL AND lc >= tus - 3600000000
                     AND (lv IS NULL OR lc >= lv) THEN 'click'
                WHEN lv IS NOT NULL AND lv >= tus - 3600000000 THEN 'view'
                ELSE 'organic' END AS attribution,
           CAST(floor(value * 100 + 0.5) AS BIGINT) AS cents
    FROM w WHERE event_type = 'purchase'
"""

KMV_SQL = f"""
    WITH e AS (
      SELECT DISTINCT CAST(floor(epoch(ts) / {SLOT_S}) * {SLOT_S} AS BIGINT) AS slot,
             (1103515245 * (user_id % 2147483647) + 12345) % 2147483647 AS hv
      FROM events)
    SELECT slot, hv FROM (
      SELECT slot, hv, row_number() OVER (PARTITION BY slot ORDER BY hv) AS rn
      FROM e) WHERE rn <= {KMV_K}
"""

TUMBLE_SQL = f"""
    SELECT CAST(floor(epoch(ts) / {WINDOW_S}) * {WINDOW_S} AS BIGINT) AS window_start,
           event_type, count(*) AS n, sum(value) AS total_value
    FROM events GROUP BY 1, 2
"""


class EventStream(Workload):
    """AvailableNow drains of one staged backlog (out of order inside each
    file, a lagging collector's users late by two files, Zipf-skewed users)
    through the four sharded stateful operators and a native window count,
    one query after another."""

    name = "event_stream"
    QUERIES = ["t10_sessions", "t12_late_sessions", "t18_attribution",
               "t19_slot_kmv", "tumbling_counts"]

    def __init__(self, spark, input_dir, seed):
        super().__init__(spark, input_dir, seed)
        self.inp = gen.generate_events(seed, input_dir)
        self.input_rows = gen.N_BATCHES * gen.EVENTS_PER_BATCH

    def prepare_oracle(self):
        from citydata_etl_spark.plans.catalog import load_all

        sessions_sql = load_all()["t10_stream_dynamic_sessions"].oracle
        b = self.inp["batches"]
        everything = oracle.all_events(b)
        self.want = {
            "t10_sessions": oracle.duck(sessions_sql, {"events": oracle.admitted(b, 0)}),
            "t12_late_sessions": oracle.duck(
                sessions_sql, {"events": oracle.admitted(b, T12_DELAY_S)}),
            "t18_attribution": oracle.duck(ATTRIBUTION_ROWS_SQL, {"events": everything}),
            "t19_slot_kmv": oracle.duck(KMV_SQL, {"events": everything}),
            "tumbling_counts": oracle.duck(TUMBLE_SQL, {
                "events": oracle.admitted(b, TUMBLE_DELAY_S, window_s=WINDOW_S)}),
        }
        self.want_dropped = {
            "t10_sessions": len(everything) - len(oracle.admitted(b, 0)),
            "t12_late_sessions": len(everything) - len(oracle.admitted(b, T12_DELAY_S)),
        }

    def _query(self, name: str, stream):
        """(streaming DataFrame, output mode, SQL that reads its result)."""
        from citydata_etl_spark.streaming.stateful import (
            streaming_dynamic_gap_sessions, streaming_last_touch_attribution,
            streaming_late_sessions, streaming_slot_kmv)
        from citydata_etl_spark.streaming.windows import tumbling_counts
        from citydata_etl_spark.operators.similarity import lcg_pick

        keyed = stream.select("event_id", "ts", "user_id", "event_type")
        if name == "t10_sessions":
            return (streaming_dynamic_gap_sessions(keyed), "append",
                    "SELECT * FROM {t} WHERE user_id >= 0")
        if name == "t12_late_sessions":
            return (streaming_late_sessions(keyed, f"{T12_DELAY_S} seconds"),
                    "append", "SELECT * FROM {t} WHERE user_id >= 0")
        if name == "t18_attribution":
            touches = stream.select(
                F.col("user_id").cast("long").alias("user_id"), "event_type",
                F.unix_micros("ts").alias("tus"),
                F.floor(F.col("value") * 100 + 0.5).cast("long").alias("cents"))
            return (streaming_last_touch_attribution(touches), "append",
                    "SELECT * FROM {t} WHERE user_id >= 0")
        if name == "t19_slot_kmv":
            slots = stream.filter(F.col("user_id") >= 0).select(
                (F.floor(F.unix_timestamp("ts") / SLOT_S) * SLOT_S)
                .cast("bigint").alias("slot"),
                lcg_pick(F.col("user_id")).alias("hv"))
            return (streaming_slot_kmv(slots, k=KMV_K), "update",
                    "SELECT slot, hv FROM (SELECT slot, upd, hv, max(upd) OVER "
                    "(PARTITION BY slot) AS m FROM {t}) WHERE upd = m")
        return (tumbling_counts(stream, "10 minutes", f"{TUMBLE_DELAY_S} seconds"),
                "append", f"SELECT * FROM {{t}} WHERE window_start < {SENTINEL_CUT}")

    def run_pass(self, tr, pdir: str) -> dict:
        from citydata_etl_spark.streaming.windows import read_events_stream

        out = {}
        for name in self.QUERIES:
            table = f"{name}_{uuid.uuid4().hex[:8]}"
            with tr.span("streaming", name) as sp:
                stream = read_events_stream(self.spark, self.dir, max_files_per_trigger=1)
                df, mode, sql = self._query(name, stream)
                q = (df.writeStream.outputMode(mode).format("memory")
                     .queryName(table).trigger(availableNow=True).start())
                tr.bind_stream(q, sp)
                q.awaitTermination()
                rows = _rows(self.spark.sql(sql.format(t=table)))
            out[name] = {"rows": rows, "progress": [_progress(p) for p in q.recentProgress]}
        return out

    def check(self, out: dict) -> dict[str, bool]:
        res = {}
        for name in self.QUERIES:
            ok = oracle.same(out[name]["rows"], self.want[name])
            if name in self.want_dropped:
                dropped = sum(op.get("numRowsDroppedByWatermark", 0)
                              for p in out[name]["progress"]
                              for op in p.get("stateOperators", []))
                ok = ok and dropped == self.want_dropped[name]
            res[name] = ok
        return res

    def tamper(self, out: dict) -> None:
        out["t10_sessions"]["rows"] = out["t10_sessions"]["rows"][1:]

    def batch_samples(self, out, jobs) -> list[float]:
        """triggerExecution of every micro-batch that carried data."""
        return [p["durationMs"]["triggerExecution"]
                for q in out.values() for p in q["progress"]
                if p.get("numInputRows", 0) > 0]

    def layer_figures(self, tracer, out, executions) -> dict:
        dur: dict[str, float] = {}
        commit = dropped = rows_total = mem = mem_slope = 0.0
        for q in out.values():
            prog = q["progress"]
            for p in prog:
                for k, v in p["durationMs"].items():
                    dur[k] = dur.get(k, 0) + v
                for op in p.get("stateOperators", []):
                    commit += op.get("commitTimeMs", 0)
                    dropped += op.get("numRowsDroppedByWatermark", 0)
            mems = [sum(op.get("memoryUsedBytes", 0) for op in p.get("stateOperators", []))
                    for p in prog]
            if prog and prog[-1].get("stateOperators"):
                rows_total += sum(op.get("numRowsTotal", 0) for op in prog[-1]["stateOperators"])
                mem += mems[-1]
                mem_slope += slope(mems)
        return {
            "streaming.addBatch_ms": dur.get("addBatch", 0),
            "streaming.queryPlanning_ms": dur.get("queryPlanning", 0),
            "streaming.getBatch_ms": dur.get("getBatch", 0),
            "streaming.walCommit_ms": dur.get("walCommit", 0),
            "streaming.state.commit_ms": commit,
            "streaming.state.rows_total": rows_total,
            "streaming.state.memory_bytes": mem,
            "streaming.state.memory_bytes_slope": mem_slope,
            "streaming.rows_dropped_by_watermark": dropped,
        }


def _progress(p) -> dict:
    return json.loads(p.json) if hasattr(p, "json") else dict(p)


# ------------------------------------------------------------ corpus search
class CorpusSearch(Workload):
    """Read-only, planning-heavy: dedup, text statistics and several ANN
    top-k variants over one set of embeddings (each variant builds its own
    index today); the recall query also runs the exact brute-force top-k."""

    name = "corpus_search"
    QUERIES = [
        ("operators.dedup", "d4_exact_dedup"),
        ("operators.dedup", "d4_minhash_lsh"),
        ("operators.text", "d4_token_stats"),
        ("operators.similarity", "d4_ann_ivf_rank"),
        ("operators.similarity", "d4_ann_ivf_dist_rank"),
        ("operators.similarity", "d4_ann_pq_rank"),
        ("operators.similarity", "d4_ann_ivf_recall"),
    ]

    def __init__(self, spark, input_dir, seed):
        super().__init__(spark, input_dir, seed)
        gen.generate_corpus(seed, input_dir)
        self.input_rows = gen.N_DOCS + gen.N_VECS

    def prepare_oracle(self):
        from citydata_etl_spark.plans.catalog import load_all

        cat = load_all()
        tables = {t: os.path.join(self.dir, f"{t}.parquet")
                  for t in ("documents", "embeddings")}
        self.want = {q: oracle.duck(cat[q].oracle, tables) for _l, q in self.QUERIES}

    def run_pass(self, tr, pdir: str) -> dict:
        from citydata_etl_spark.plans.catalog import load_all

        cat = load_all()
        out = {}
        for layer, q in self.QUERIES:
            with tr.span(layer, q):
                out[q] = _rows(cat[q].spark_fn(self.spark, self.dir))
        return out

    def check(self, out: dict) -> dict[str, bool]:
        return {q: oracle.same(out[q], self.want[q]) for _l, q in self.QUERIES}

    def tamper(self, out: dict) -> None:
        out["d4_exact_dedup"] = out["d4_exact_dedup"][1:]

    def layer_figures(self, tracer, out, executions) -> dict:
        by_layer: dict[str, list] = {}
        for sp in tracer.spans:
            ids = {j["jobId"] for j in sp.jobs}
            by_layer.setdefault(sp.layer, []).extend(
                e for e in executions if ids & set(e["jobs"]))

        def joins(layer):
            return node_metrics(by_layer.get(layer, []),
                                lambda n: "Join" in n or "Cartesian" in n,
                                "number of output rows")

        candidates = joins("operators.dedup")
        recall = out["d4_ann_ivf_recall"]
        plan = sum(timeline(sp)[0] for sp in tracer.spans
                   if sp.layer == "operators.similarity")
        return {
            "operators.similarity.plan_ms": plan,
            "operators.similarity.candidates_scored": joins("operators.similarity"),
            "operators.similarity.recall_at_5":
                sum(r["n_hit"] for r in recall) / max(1, sum(r["n_exact"] for r in recall)),
            "operators.dedup.candidates": candidates,
            "operators.dedup.verified_ratio":
                len(out["d4_minhash_lsh"]) / candidates if candidates else 0.0,
        }


WORKLOADS = {w.name: w for w in (CityLifecycle, EventStream, CorpusSearch)}
