"""Open-loop pacing of the kinesis_sim connector.

``PacedKinesisSource`` is the engine's ``KinesisSimDataSource`` with
one change: its stream reader's ``latestOffset`` never advertises a
record before that record is due. Due times come from a small JSON
schedule file the benchmark rewrites between phases (the reader runs in
Spark's Python source process, so a file is the channel). Offsets,
partitions, rows, the per-batch cap and the restart ratchet are the
connector's own.
"""

from __future__ import annotations

import json
import math
import os
import time

from kinesis_datastore_app_spark.sources.kinesis_sim import (
    KinesisSimDataSource,
    _StreamReader,
)


def due_count(schedule: dict, now: float) -> int:
    """Records due by ``now``: ``released`` at once, plus ``paced``
    more at ``rate`` per second from ``t0`` when ``t0`` is set."""
    due = int(schedule["released"])
    t0 = schedule.get("t0")
    if t0 is not None and now > t0:
        due += min(int(schedule["paced"]), math.floor((now - t0) * schedule["rate"]))
    return due


def write_schedule(path: str, **schedule) -> None:
    """Replace the schedule atomically, so the reader never sees half a file."""
    tmp = f"{path}.tmp"
    with open(tmp, "w") as f:
        json.dump(schedule, f)
    os.replace(tmp, path)


class PacedReader(_StreamReader):
    def __init__(self, options):
        super().__init__(options)
        self.schedule_path = options["schedule"]

    def latestOffset(self) -> dict:
        floor = getattr(self, "_latest", 0)
        cap = super().latestOffset()["index"]  # records_per_batch and n caps
        with open(self.schedule_path) as f:
            due = due_count(json.load(f), time.time())
        # the ratchet floor wins over the schedule: an offset Spark has
        # already planned or committed is never taken back
        self._latest = max(floor, min(cap, due))
        return {"index": self._latest}


class PacedKinesisSource(KinesisSimDataSource):
    @classmethod
    def name(cls) -> str:
        return "kinesis_sim_paced"

    def streamReader(self, schema):
        return PacedReader(self.options)
