"""Per-stage lineage / elapsed tracking.

Reference analog: the %elapsed(begin)/%elapsed(end) bracket around
every query, accumulating an `elapsed` dataset (query, start, end,
elapsed, cumulative) and a progress report
(data_curation_base.sas:2894-2995).

The tracker is driver-side (stage boundaries are driver events). A row
holds what a stage measures: (stage, started_at, ended_at, elapsed_sec,
status); the rows of a run are appended to <out>/lineage as one parquet
file. A stage wraps the actions it names (the pipeline's report passes
collect inside their stage), so its elapsed time is the work, not the
lazy plan building. Timestamps are wall-clock by design — lineage is
telemetry, not part of the deterministic output contract.
"""

from __future__ import annotations

import time
from contextlib import contextmanager
from dataclasses import dataclass, field

from pcornet_data_curation_spark.operators.normalize import arrow_schema

LINEAGE_SCHEMA = arrow_schema(
    "stage string, started_at double, ended_at double, elapsed_sec double, status string"
)


@dataclass
class LineageTracker:
    rows: list[tuple] = field(default_factory=list)

    @contextmanager
    def stage(self, name: str):
        start = time.time()
        status = "failed"
        try:
            yield
            status = "ok"
        finally:
            end = time.time()
            self.rows.append((name, start, end, end - start, status))
