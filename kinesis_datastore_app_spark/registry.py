"""Operator registry — the single source of truth for the driver harness.

Every implemented operator registers a ``(spark, sf_dir) -> DataFrame``
callable under its SURVEY.md §2 key, optionally with the equivalent DuckDB
oracle SQL. ``__spark_entry__.queries()`` / ``oracle_sql()`` re-export these
dicts verbatim.

Rules of the harness (see SURVEY.md §5.2):
* alias every computed column identically in Spark and SQL;
* no nondeterministic output order requirements (the driver hash is
  order-insensitive) but LIMIT/top-k queries must impose a total order;
* float aggregations go through exact decimal arithmetic (numerics.py) so
  Spark and DuckDB agree bit-for-bit;
* operators with no SQL equivalent (streaming, approximate) register with
  ``oracle=None`` → driver does a rows-only check.
"""

from __future__ import annotations

import glob
import importlib
import json
import os
from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession

QueryFn = Callable[[SparkSession, str], DataFrame]

QUERIES: dict[str, QueryFn] = {}
ORACLE: dict[str, str] = {}

# Module order drives REGISTRATION order, which breaks ties in the
# verification order (_ordered: least recently verified first; the
# correctness harness checks a bounded window of keys per round).
_MODULES = (
    "kinesis_datastore_app_spark.streaming.queries",
    "kinesis_datastore_app_spark.trades.queries",
    "kinesis_datastore_app_spark.llm.dedup",
    "kinesis_datastore_app_spark.llm.simsearch",
    "kinesis_datastore_app_spark.llm.text",
    "kinesis_datastore_app_spark.llm.multimodal",
    "kinesis_datastore_app_spark.llm.pipeline",
    "kinesis_datastore_app_spark.llm.embeddings",
    "kinesis_datastore_app_spark.observability",
    "kinesis_datastore_app_spark.operators.cdc",
    "kinesis_datastore_app_spark.operators.quality",
    "kinesis_datastore_app_spark.functions.scalar",
    "kinesis_datastore_app_spark.sources.kinesis_sim",
    "kinesis_datastore_app_spark.sources.keyed_sink",
    "kinesis_datastore_app_spark.sources.cdf_stream",
    "kinesis_datastore_app_spark.udfs",
    "kinesis_datastore_app_spark.operators.sampling",
    "kinesis_datastore_app_spark.operators.subqueries",
    "kinesis_datastore_app_spark.operators.graph",
    "kinesis_datastore_app_spark.operators.tpch",
    "kinesis_datastore_app_spark.operators.pivots",
    "kinesis_datastore_app_spark.operators.setops",
    "kinesis_datastore_app_spark.operators.windows",
    "kinesis_datastore_app_spark.operators.scans",
    "kinesis_datastore_app_spark.operators.filters",
    "kinesis_datastore_app_spark.operators.joins",
    "kinesis_datastore_app_spark.operators.aggregates",
)

_loaded = False

# Modules from _MODULES that load_all skipped as not-yet-landed. Kept
# visible (round-11 ADVICE, low): the missing-module tolerance below
# also swallows a TYPO'D package segment in _MODULES ('operatorz.graph'
# raises with e.name ending at the typo'd ancestor), which would drop
# every registration from that module with no signal. The suite pins
# this list empty (tests/test_registry.py) — with all modules landed,
# ANY skip is a typo — and load_all warns on stderr either way.
SKIPPED_MODULES: list[str] = []


def register(name: str, oracle: str | None = None) -> Callable[[QueryFn], QueryFn]:
    """Decorator: register ``fn`` under ``name`` with optional oracle SQL."""

    def deco(fn: QueryFn) -> QueryFn:
        if name in QUERIES:
            raise ValueError(f"duplicate operator key: {name}")
        QUERIES[name] = fn
        if oracle is not None:
            ORACLE[name] = oracle
        return fn

    return deco


def load_all() -> None:
    """Import every operator module (idempotent) so registrations run."""
    global _loaded
    if _loaded:
        return
    for mod in _MODULES:
        try:
            importlib.import_module(mod)
        except ModuleNotFoundError as e:
            # Modules land milestone by milestone; a missing MODULE
            # ITSELF is fine during the build — including a missing
            # PARENT package (importing a.b.c when a.b doesn't exist
            # raises with e.name='a.b'; round-10 review). A typo'd
            # intra-package import INSIDE a present module also raises
            # ModuleNotFoundError, but its name is never the module nor
            # an ancestor of it, so it still re-raises (the round-8
            # review bug class stays caught).
            if e.name == mod or (e.name and mod.startswith(e.name + ".")):
                if mod not in SKIPPED_MODULES:
                    SKIPPED_MODULES.append(mod)
                    import sys

                    print(
                        f"kinesis_datastore_app_spark.registry: skipped "
                        f"unimportable module {mod!r} ({e}) — its "
                        "registrations are absent this process",
                        file=sys.stderr,
                    )
                continue
            raise
    _loaded = True


def _last_checked() -> dict[str, int]:
    """key → latest round with a driver correctness row, parsed from the
    CORRECTNESS_r*.json files the harness writes to the repo root. Makes
    the verification order SELF-ROTATING: the driver's bounded per-round
    window always sees never-checked keys first, then the least-recently
    checked — no manual registry reshuffle between rounds (the round-3
    process miss). Missing/unreadable files degrade to the static order."""
    root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    out: dict[str, int] = {}
    for p in sorted(glob.glob(os.path.join(root, "CORRECTNESS_r*.json"))):
        try:
            rnd = int(p.rsplit("CORRECTNESS_r", 1)[1].split(".")[0])
            with open(p) as f:
                keys = json.load(f)
        except (OSError, ValueError):
            continue
        if not isinstance(keys, dict):
            # unexpected top-level shape (legacy list, truncated file):
            # degrade to the static order for this file, per docstring —
            # never crash every entrypoint over a malformed report
            continue
        for k, row in keys.items():
            # A row only counts as "checked" if it was a POSITIVE clean
            # pass: all three match fields literally True and no err. An
            # err, an explicit mismatch, or an unrecognized/truncated row
            # shape (e.g. {}) means the key still needs a green driver
            # row and must not rotate to the back (advisor r4; the old
            # absent-field test let an empty dict count as green —
            # round-8 review).
            if not isinstance(row, dict) or row.get("err"):
                continue
            if not (
                row.get("rows_match") is True
                and row.get("schema_match") is True
                and row.get("hash_match") is True
            ):
                continue
            out[k] = max(out.get(k, 0), rnd)
    return out


def _ordered(d: dict) -> dict:
    last = _last_checked()
    # stable sort: never-checked / never-cleanly-checked keys (round 0)
    # first in registration order, then ascending by the round each key
    # last got a clean correctness row — the order is derived from the
    # CORRECTNESS files alone, with no hand-kept priority list to go stale
    return {k: d[k] for k in sorted(d, key=lambda k: last.get(k, 0))}


def queries() -> dict[str, QueryFn]:
    load_all()
    return _ordered(QUERIES)


def oracle_sql() -> dict[str, str]:
    load_all()
    return _ordered(ORACLE)
