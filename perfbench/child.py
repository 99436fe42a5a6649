"""One benchmark run inside its own process: start the engine's session,
run one workload, write the result as JSON. ``run.py`` starts it with a
prepared environment and watches it from outside."""

from __future__ import annotations

import json
import os
import sys
import time

from perfbench.trace import Tracer, attribute, find_event_log
from perfbench.workloads import QUERY_KEYS, WORKLOADS, Context, PHASES, SPARK_COUNTERS

END_TO_END = (
    ("setup_s", "s"),
    ("latency_p50_s", "s"),
    ("ops_per_s", "1/s"),
    ("rss_mean_mb", "MB"),
)


def per_layer() -> list[tuple[str, str]]:
    """Every per-layer metric, in BENCHMARK.json order. Each traced run
    reports all of them; a layer its workload does not reach reads 0."""
    out = [
        ("session.start_s", "s"),
        ("catalog.first_touch_s", "s"),
        ("trace.overhead_ratio", "ratio"),
        ("trace.untagged_jobs", "count"),
        ("trace.spans", "count"),
    ]
    out += [(f"spark.{k}", u) for k, u in SPARK_COUNTERS]
    out.append(("driver_residual_s", "s"))
    out += [(f"streaming.batch.{p}_ms", "ms") for p in PHASES]
    out += [
        ("streaming.batches", "count"),
        ("streaming.records_per_batch", "count"),
        ("streaming.jobs_per_batch", "count"),
        ("txnlog.append_s", "s"),
        ("txnlog.append.jobs", "count"),
        ("txnlog.bytes_per_record", "bytes"),
        ("txnlog.stems_per_bucket", "count"),
        ("sources.kinesis_sim.read_records_per_s", "rec/s"),
        ("trades.decode_records_per_s", "rec/s"),
        ("cdc.merge.jobs", "count"),
        ("cdc.merge.buckets_rewritten_ratio", "ratio"),
        ("cdc.merge.bytes_written", "bytes"),
        ("cdc.changes.jobs", "count"),
        ("cdc.changes.files_read", "count"),
        ("cdc.changes.p50_s", "s"),
        ("cdc.state.p50_s", "s"),
    ]
    for k in QUERY_KEYS:
        out += [
            (f"query.{k}.p50_s", "s"),
            (f"query.{k}.jobs", "count"),
            (f"query.{k}.shuffle_bytes", "bytes"),
            (f"catalog.first_touch.{k}_s", "s"),
        ]
    return out


def main(cfg: dict) -> None:
    from kinesis_datastore_app_spark.session import get_spark

    run_dir, trace = cfg["run_dir"], cfg["trace"]
    conf = {
        "spark.ui.showConsoleProgress": "false",
        "spark.sql.streaming.numRecentProgressUpdates": "1000",
    }
    if trace:
        os.makedirs(f"{run_dir}/eventlog")
        conf.update(
            {
                "spark.eventLog.enabled": "true",
                "spark.eventLog.dir": f"file://{run_dir}/eventlog",
                "spark.eventLog.compress": "false",
                "spark.eventLog.rolling.enabled": "false",
            }
        )
    a = time.time()
    spark = get_spark(extra_conf=conf)
    session_s = time.time() - a
    tracer = Tracer(spark.sparkContext, trace, cfg["run_id"])
    ctx = Context(
        spark=spark,
        seed=cfg["seed"],
        seconds=cfg["seconds"],
        tracer=tracer,
        scratch=f"{run_dir}/scratch",
    )
    with tracer.span("run"):
        run = WORKLOADS[cfg["workload"]](ctx)
    if trace:
        spark.stop()  # finishes the event log

    out = {
        "attempted": run.attempted,
        "failed": run.failed,
        "t_first_op": run.t_first_op,
        "t_timed_end": run.t_timed_end,
        "samples": run.samples,
        "end_to_end": {
            "setup_s": run.t_first_op - cfg["t_spawn"],
            "latency_p50_s": run.latency_p50_s,
            "ops_per_s": run.ops_per_s,
        },
        "report": run.report,
    }
    if trace:
        attr = attribute(find_event_log(f"{run_dir}/eventlog"), tracer.spans)
        layers = dict.fromkeys(dict(per_layer()), 0)
        layers.update(run.layers(attr))
        layers["session.start_s"] = session_s
        layers["catalog.first_touch_s"] = sum(
            s["end"] - s["start"]
            for s in tracer.spans
            if s["name"].startswith("catalog.first_touch")
        )
        layers["trace.untagged_jobs"] = attr["untagged_jobs"]
        layers["trace.spans"] = len(tracer.spans)
        unknown = set(layers) - set(dict(per_layer()))
        if unknown:
            raise RuntimeError(f"per-layer metrics missing from per_layer(): {unknown}")
        out["per_layer"] = layers
        tracer.dump(cfg["spans_out"])
    with open(f"{run_dir}/result.json", "w") as f:
        json.dump(out, f)


if __name__ == "__main__":
    main(json.loads(sys.argv[1]))
    # run.py stops the JVM and the Python workers with this process's
    # group, so skip the orderly shutdown that would wait for them
    os._exit(0)
