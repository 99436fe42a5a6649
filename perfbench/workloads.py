"""The benchmark's three workloads, driven from outside the engine.

Each workload builds its inputs from the seed, sets up untimed, runs
timed operations for ``seconds``, then checks the results untimed. It
returns a ``Run``: the operation counts, the samples behind the
end-to-end metrics, the metrics to print under the names the workload
documents, and a function that turns the traced run's span attribution
into per-layer metrics.
"""

from __future__ import annotations

import json
import os
import random
import time
from dataclasses import dataclass, field
from typing import Callable

import numpy as np
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from perfbench.measure import latency_lines, median, percentile, record_latencies
from perfbench.trace import Tracer

# stream_ingest: the reference pipeline (10 rec/s) at 200x, over 4 shards
INGEST_RATE = 2000.0
INGEST_SHARDS = 4
INGEST_BUCKETS = 8
INGEST_WARMUP = 2000
INGEST_BACKLOG = 100_000
INGEST_BATCH_CAP = 50_000
INGEST_DECODE_N = 50_000
PHASES = (
    "triggerExecution", "addBatch", "walCommit", "commitOffsets",
    "queryPlanning", "latestOffset", "getBatch",
)

# cdc_upsert: a 3-key change batch touches at most 3 of 8 buckets, so
# every merge takes the partial-commit path (a minority rewritten)
CDC_ROWS = 20_000
CDC_BUCKETS = 8
CDC_UPDATES, CDC_DELETES, CDC_INSERTS = 1, 1, 1
CDC_WARMUP_CYCLES = 3  # merge time still falls over the first cycles (JIT)
CDC_VALUES = ["tickerSymbol", "tradeType", "price", "quantity"]

# query_mix: one non-stream, non-txn registry key per operator family
# (the kinesis_sim connector read is measured on stream_ingest instead)
QUERY_KEYS = (
    "tpch_q5_shape", "win_sessionize", "agg_funnel", "sample_balanced_class",
    "dedup_ngram_jaccard", "sim_search_pq", "text_tfidf", "trades_envelope_scan",
)

SPARK_COUNTERS = (
    ("jobs", "count"), ("stages", "count"), ("tasks", "count"),
    ("task_run_s", "s"), ("scheduler_delay_s", "s"), ("gc_s", "s"),
    ("shuffle_read_bytes", "bytes"), ("shuffle_write_bytes", "bytes"),
    ("spill_bytes", "bytes"),
)


@dataclass
class Context:
    spark: SparkSession
    seed: int
    seconds: float
    tracer: Tracer
    scratch: str


@dataclass
class Run:
    attempted: int
    failed: int
    t_first_op: float  # wall time the first timed operation started
    t_timed_end: float
    latency_p50_s: float
    samples: int  # behind latency_p50_s
    ops_per_s: float
    report: list[tuple[str, float, str, int]] = field(default_factory=list)
    # span attribution -> per-layer metric values (traced runs)
    layers: Callable[[dict], dict[str, float]] = lambda attr: {}


def hash_rows(df: DataFrame) -> tuple[int, int]:
    """Materialize every output column of ``df`` in one job: an
    order-insensitive XOR of per-row xxhash64 plus the row count (a
    plain sum would overflow under ANSI; the count keeps duplicate rows,
    which cancel in the XOR, visible)."""
    r = df.select(
        F.bit_xor(F.xxhash64(*df.columns)).alias("h"), F.count(F.lit(1)).alias("n")
    ).first()
    return (r["h"] or 0), r["n"]


def _spans(
    attr: dict, tracer: Tracer, name: str, batches: set[int] | None = None
) -> list[dict]:
    """Counters of every span called ``name`` (of one of ``batches``,
    when given), each summed over its subtree."""
    kids: dict[str, list[str]] = {}
    for s in tracer.spans:
        kids.setdefault(s["parent"], []).append(s["id"])
    per = attr["spans"]

    def total(sid: str) -> dict:
        c = dict(per.get(sid, {}))
        for k in kids.get(sid, []):
            for key, v in total(k).items():
                if key != "driver_residual_s":
                    c[key] = c.get(key, 0) + v
        c.setdefault("jobs", 0)
        return c

    out = []
    for s in tracer.spans:
        if s["name"] == name and (batches is None or s.get("batch") in batches):
            c = total(s["id"])
            c["wall_s"] = s["end"] - s["start"]
            c["driver_residual_s"] = per.get(s["id"], {}).get("driver_residual_s", 0.0)
            out.append(c)
    return out


def _med(spans: list[dict], key: str) -> float:
    return median([s.get(key, 0) for s in spans]) if spans else 0.0


def spark_layers(op_spans: list[dict]) -> dict:
    """The generic Spark-execution counters: medians over the timed
    operation spans (a micro-batch, a cdc cycle or a query execution)."""
    out = {f"spark.{k}": _med(op_spans, k) for k, _ in SPARK_COUNTERS}
    out["driver_residual_s"] = _med(op_spans, "driver_residual_s")
    return out


# --------------------------------------------------------------------------
# stream_ingest


def _index(offset) -> int:
    """Record index of a kinesis_sim offset as progress JSON carries it."""
    if offset is None:
        return 0
    if isinstance(offset, str):
        offset = json.loads(offset)
    return offset["index"]


def stream_ingest(ctx: Context) -> Run:
    from kinesis_datastore_app_spark.operators.cdc import commit_bucketed_table
    from kinesis_datastore_app_spark.sources.kinesis_sim import (
        KinesisSimDataSource,
        _decode_envelope,
    )
    from kinesis_datastore_app_spark.streaming.queries import append_sink_batch
    from kinesis_datastore_app_spark.txnlog import data_paths, read_latest
    from perfbench.pacing import PacedKinesisSource, write_schedule

    spark, tr = ctx.spark, ctx.tracer
    paced = int(INGEST_RATE * ctx.seconds)
    lo, hi = INGEST_WARMUP, INGEST_WARMUP + paced
    n = hi + INGEST_BACKLOG
    root = os.path.join(ctx.scratch, "ingest", "table")
    schedule = os.path.join(ctx.scratch, "ingest", "schedule.json")
    os.makedirs(os.path.dirname(schedule))
    write_schedule(schedule, released=lo, t0=None)

    spark.dataSource.register(KinesisSimDataSource)
    spark.dataSource.register(PacedKinesisSource)
    decoded = _decode_envelope(
        spark.readStream.format("kinesis_sim_paced")
        .option("n", n)
        .option("shards", INGEST_SHARDS)
        .option("records_per_batch", INGEST_BATCH_CAP)
        .option("schedule", schedule)
        .load()
    )
    with tr.span("catalog.first_touch"):
        commit_bucketed_table(
            spark,
            root,
            spark.createDataFrame([], decoded.schema).limit(0),
            ["tickerSymbol"],
            INGEST_BUCKETS,
            known_empty=True,
        )

    commits: dict[int, float] = {}
    with tr.span("streaming.query") as stream_span:

        def sink(df: DataFrame, batch_id: int) -> None:
            with tr.span("streaming.batch", parent=stream_span, batch=batch_id):
                with tr.span("txnlog.append", batch=batch_id):
                    append_sink_batch(root, df, batch_id)
                commits[batch_id] = time.time()

        q = (
            decoded.writeStream.foreachBatch(sink)
            .option("checkpointLocation", os.path.join(ctx.scratch, "ingest", "ckpt"))
            .start()
        )

    def committed_end(timeout_s: float, target: int) -> None:
        deadline = time.time() + timeout_s
        while True:
            # progress is posted after the batch's offsets are committed
            p = q.lastProgress
            if p and p.sources and _index(json.loads(p.json)["sources"][0]["endOffset"]) >= target:
                return
            if q.exception() is not None:
                raise RuntimeError(f"stream failed: {q.exception()}")
            if time.time() > deadline:
                raise TimeoutError(f"stream did not reach offset {target}")
            time.sleep(0.01)

    try:
        committed_end(120, lo)  # warm-up: worker start-up and codegen
        t0 = time.time() + 0.05
        write_schedule(schedule, released=lo, t0=t0, rate=INGEST_RATE, paced=paced)
        committed_end(ctx.seconds + 60, hi)
        t_release = time.time()
        write_schedule(schedule, released=n, t0=None)
        committed_end(120, n)
    finally:
        q.stop()
    progress = [json.loads(p.json) for p in q.recentProgress]

    batches, phases = [], []
    for p in progress:
        bid = p["batchId"]
        if bid not in commits or not p["sources"]:
            continue
        src = p["sources"][0]
        start, end = _index(src["startOffset"]), _index(src["endOffset"])
        if end > start:
            batches.append((start, end, commits[bid], bid))
            if lo <= start and end <= hi:
                phases.append(p)
    lat = record_latencies([b[:3] for b in batches], lo, hi, t0, INGEST_RATE)
    drain_end = max(c for s, e, c, _ in batches if e > hi)
    rps = INGEST_BACKLOG / (drain_end - t_release)

    with tr.span("check.exactly_once"):
        v, payload = read_latest(root)
        r = (
            spark.read.parquet(*data_paths(root, payload))
            .agg(
                F.count(F.lit(1)).alias("rows"),
                F.sum("trade_id").alias("ids"),
                F.count_distinct("shard_id", "seq_no").alias("distinct"),
            )
            .first()
        )
    ok = r["rows"] == n and r["distinct"] == n and r["ids"] == n * (n + 1) // 2
    failed = 0 if ok else max(1, abs(n - r["distinct"]) + (r["rows"] - r["distinct"]))

    paced_batches = [b for b in batches if lo <= b[0] and b[1] <= hi]
    report = latency_lines("ingest_latency", lat) + [
        ("ingest_batches", len(paced_batches), "count", len(paced_batches)),
        ("ingest_records_per_s", rps, "rec/s", INGEST_BACKLOG),
    ]

    extra: dict[str, float] = {}
    if tr.enabled:
        # layer probes outside the timed phases: the connector's public
        # batch read, and the decode projection over the same envelopes
        env = (
            spark.read.format("kinesis_sim")
            .option("n", INGEST_DECODE_N)
            .option("shards", INGEST_SHARDS)
            .load()
        )
        with tr.span("sources.kinesis_sim.read") as s:
            hash_rows(env)
        extra["sources.kinesis_sim.read_records_per_s"] = INGEST_DECODE_N / (
            s["end"] - s["start"]
        )
        env_path = os.path.join(ctx.scratch, "ingest", "envelopes")
        with tr.span("setup.envelopes"):
            env.write.parquet(env_path)
        with tr.span("trades.decode") as s:
            hash_rows(_decode_envelope(spark.read.parquet(env_path)))
        extra["trades.decode_records_per_s"] = INGEST_DECODE_N / (
            s["end"] - s["start"]
        )
        files = [
            os.path.join(dp, f)
            for d in data_paths(root, payload)
            for dp, _, fs in os.walk(d)
            for f in fs
            if f.endswith(".parquet")
        ]
        extra["txnlog.bytes_per_record"] = sum(os.path.getsize(f) for f in files) / n
        dirs = payload["buckets"]["dirs"].values()
        extra["txnlog.stems_per_bucket"] = float(
            np.mean([len(e) if isinstance(e, list) else 1 for e in dirs])
        )

    paced_ids = {b[3] for b in paced_batches}

    def layers(attr: dict) -> dict:
        batch_spans = _spans(attr, tr, "streaming.batch", paced_ids)
        append_spans = _spans(attr, tr, "txnlog.append", paced_ids)
        out = {
            f"streaming.batch.{ph}_ms": median([p["durationMs"].get(ph, 0) for p in phases])
            for ph in PHASES
        }
        out["streaming.batches"] = len(phases)
        out["streaming.records_per_batch"] = median([p["numInputRows"] for p in phases])
        out["streaming.jobs_per_batch"] = _med(batch_spans, "jobs")
        out["txnlog.append_s"] = _med(append_spans, "wall_s")
        out["txnlog.append.jobs"] = _med(append_spans, "jobs")
        out.update(extra)
        out.update(spark_layers(batch_spans))
        return out

    return Run(
        attempted=n,
        failed=failed,
        t_first_op=t0,
        t_timed_end=drain_end,
        latency_p50_s=percentile(lat, 50),
        samples=len(lat),
        ops_per_s=rps,
        report=report,
        layers=layers,
    )


# --------------------------------------------------------------------------
# cdc_upsert


def cdc_upsert(ctx: Context) -> Run:
    from kinesis_datastore_app_spark.operators.cdc import (
        commit_bucketed_table,
        merge_into,
        read_table_changes,
        read_table_state,
    )
    from kinesis_datastore_app_spark.trades.generator import TICKERS, trades
    from kinesis_datastore_app_spark.txnlog import read_version

    spark, tr = ctx.spark, ctx.tracer
    rng = random.Random(ctx.seed)
    root = os.path.join(ctx.scratch, "cdc", "table")
    with tr.span("catalog.first_touch"):
        base = trades(spark, CDC_ROWS)
        commit_bucketed_table(spark, root, base, ["id"], CDC_BUCKETS)
        model = {
            int(r.id): (r.tickerSymbol, r.tradeType, float(r.price), int(r.quantity))
            for r in base.toPandas().itertuples()
        }
    schema = (
        "id BIGINT, tickerSymbol STRING, tradeType STRING, price DOUBLE, "
        "quantity BIGINT, _op STRING"
    )
    live = sorted(model)
    next_id = CDC_ROWS + 1
    version = 1

    def trade_row() -> tuple:
        sym, mean = TICKERS[rng.randrange(len(TICKERS))]
        return (
            sym,
            rng.choice(["BUY", "SELL"]),
            round(mean * rng.uniform(0.8, 1.2) * 100) / 100.0,
            rng.randint(1, 10_000),
        )

    def change_batch() -> list[tuple]:
        nonlocal next_id
        picked = rng.sample(live, CDC_UPDATES + CDC_DELETES)
        rows = []
        for k in picked[:CDC_UPDATES]:
            row = trade_row()
            # every update changes the quantity, so each op is one change-feed row
            row = row[:3] + (model[k][3] % 10_000 + 1,)
            rows.append((k, *row, "U"))
        rows += [(k, *model[k], "D") for k in picked[CDC_UPDATES:]]
        for _ in range(CDC_INSERTS):
            rows.append((next_id, *trade_row(), "I"))
            next_id += 1
        return rows

    def apply_model(rows: list[tuple]) -> None:
        for k, *vals, op in rows:
            if op == "D":
                del model[k]
            else:
                model[k] = tuple(vals)
        live[:] = sorted(model)

    def expected_state() -> set[tuple]:
        agg: dict[str, list[int]] = {}
        for k, (sym, _, _, qty) in model.items():
            a = agg.setdefault(sym, [0, 0, 0])
            a[0] += 1
            a[1] += qty
            a[2] = max(a[2], k)
        return {(s, *a) for s, a in agg.items()}

    samples: dict[str, list[float]] = {"merge": [], "changes": [], "state": []}
    attempted = failed = 0

    def cycle(timed: bool) -> None:
        nonlocal version, attempted, failed
        rows = change_batch()
        with tr.span("cdc.cycle" if timed else "setup.cdc.cycle"):
            src = spark.createDataFrame(rows, schema)
            a = time.time()
            with tr.span("cdc.merge"):
                version, _ = merge_into(
                    spark,
                    root,
                    src,
                    ["id"],
                    matched_update={c: f"s.{c}" for c in CDC_VALUES},
                    matched_update_cond="s._op = 'U'",
                    matched_delete_cond="s._op = 'D'",
                )
            b = time.time()
            with tr.span("cdc.changes"):
                _, n_changes = hash_rows(
                    read_table_changes(spark, root, version - 1, version, ["id"], CDC_VALUES)
                )
            c = time.time()
            with tr.span("cdc.state"):
                got = (
                    read_table_state(spark, root, version)
                    .groupBy("tickerSymbol")
                    .agg(F.count(F.lit(1)), F.sum("quantity"), F.max("id"))
                    .collect()
                )
            d = time.time()
        apply_model(rows)
        attempted += 1
        failed += n_changes != len(rows) or {tuple(r) for r in got} != expected_state()
        if timed:
            samples["merge"].append(b - a)
            samples["changes"].append(c - b)
            samples["state"].append(d - c)

    for _ in range(CDC_WARMUP_CYCLES):
        cycle(timed=False)
    first_version = version + 1
    t_first = time.time()
    while time.time() - t_first < ctx.seconds:
        cycle(timed=True)
    t_end = time.time()

    with tr.span("check.final_state"):
        final = read_table_state(spark, root, version).toPandas()
    got = {
        int(r.id): (r.tickerSymbol, r.tradeType, float(r.price), int(r.quantity))
        for r in final.itertuples()
    }
    if got != model:
        failed = attempted
    cycles = len(samples["merge"])

    report = [
        *latency_lines("merge_latency", samples["merge"]),
        *latency_lines("changes_read_latency", samples["changes"]),
        *latency_lines("state_read_latency", samples["state"]),
        ("cdc_cycles_per_s", cycles / (t_end - t_first), "1/s", cycles),
    ]

    def layers(attr: dict) -> dict:
        merges = _spans(attr, tr, "cdc.merge")
        timed = merges[-cycles:]
        ratios, written = [], []
        for v in range(first_version, version + 1):
            before = read_version(root, v - 1)["buckets"]["dirs"]
            after = read_version(root, v)["buckets"]["dirs"]
            new = {b: d for b, d in after.items() if before.get(b) != d}
            ratios.append(len(new) / CDC_BUCKETS)
            written.append(
                sum(
                    os.path.getsize(os.path.join(dp, f))
                    for d in new.values()
                    for dp, _, fs in os.walk(os.path.join(root, d))
                    for f in fs
                    if f.endswith(".parquet")
                )
            )
        changes = _spans(attr, tr, "cdc.changes")[-cycles:]
        out = {
            "cdc.merge.jobs": _med(timed, "jobs"),
            "cdc.merge.buckets_rewritten_ratio": median(ratios),
            "cdc.merge.bytes_written": median(written),
            "cdc.changes.jobs": _med(changes, "jobs"),
            "cdc.changes.files_read": _med(changes, "files_read"),
            "cdc.changes.p50_s": median(samples["changes"]),
            "cdc.state.p50_s": median(samples["state"]),
        }
        out.update(spark_layers(_spans(attr, tr, "cdc.cycle")))
        return out

    return Run(
        attempted=attempted,
        failed=failed,
        t_first_op=t_first,
        t_timed_end=t_end,
        latency_p50_s=median(samples["merge"]),
        samples=cycles,
        ops_per_s=cycles / (t_end - t_first),
        report=report,
        layers=layers,
    )


# --------------------------------------------------------------------------
# query_mix


def query_mix(ctx: Context) -> Run:
    from kinesis_datastore_app_spark import registry
    from perfbench.fixtures import write_corpus
    from tests.oracle_harness import compare, duckdb_run

    spark, tr = ctx.spark, ctx.tracer
    rng = random.Random(ctx.seed)
    with tr.span("setup.corpus"):
        sf = write_corpus(os.path.join(ctx.scratch, "corpus"), ctx.seed)
        qs, oracles = registry.queries(), registry.oracle_sql()
    # cold pass, untimed: artifact builds, Python workers and codegen,
    # and each key's one check against its DuckDB oracle
    wrong, first_touch = set(), {}
    for k in QUERY_KEYS:
        a = time.time()
        with tr.span(f"catalog.first_touch.{k}"):
            try:
                compare(qs[k](spark, sf), duckdb_run(oracles[k], sf), k)
            except AssertionError:
                wrong.add(k)
        first_touch[k] = time.time() - a

    lat: dict[str, list[float]] = {k: [] for k in QUERY_KEYS}
    hashes: dict[str, set] = {k: set() for k in QUERY_KEYS}
    rounds: list[float] = []
    t_first = time.time()
    while time.time() - t_first < ctx.seconds:
        order = list(QUERY_KEYS)
        rng.shuffle(order)
        r0 = time.time()
        for k in order:
            a = time.time()
            with tr.span(f"query.{k}"):
                hashes[k].add(hash_rows(qs[k](spark, sf)))
            lat[k].append(time.time() - a)
        rounds.append(time.time() - r0)
    t_end = time.time()

    # a key fails when its oracle check failed or its executions disagree
    wrong |= {k for k in QUERY_KEYS if len(hashes[k]) != 1}
    all_lat = [x for k in QUERY_KEYS for x in lat[k]]
    executions = len(all_lat)
    pass_s = sum(median(lat[k]) for k in QUERY_KEYS)
    report = [
        ("query_round_s", median(rounds), "s", len(rounds)),
        *latency_lines("query_latency", all_lat),
    ]

    def layers(attr: dict) -> dict:
        out = {}
        ops = []
        for k in QUERY_KEYS:
            spans = _spans(attr, tr, f"query.{k}")
            ops += spans
            out[f"query.{k}.p50_s"] = median(lat[k])
            out[f"query.{k}.jobs"] = _med(spans, "jobs")
            out[f"query.{k}.shuffle_bytes"] = _med(spans, "shuffle_write_bytes")
            out[f"catalog.first_touch.{k}_s"] = first_touch[k]
        out.update(spark_layers(ops))
        return out

    return Run(
        attempted=executions,
        failed=sum(len(lat[k]) for k in wrong),
        t_first_op=t_first,
        t_timed_end=t_end,
        # one pass over the mix, as the sum of each key's median: a round's
        # own time, or a mean, would hang on its one slowest execution
        latency_p50_s=pass_s,
        samples=executions,
        ops_per_s=len(QUERY_KEYS) / pass_s,
        report=report,
        layers=layers,
    )


WORKLOADS = {
    "stream_ingest": stream_ingest,
    "cdc_upsert": cdc_upsert,
    "query_mix": query_mix,
}
