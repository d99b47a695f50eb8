"""Per-stage lineage / elapsed tracking.

Reference analog: the %elapsed(begin)/%elapsed(end) bracket around
every query, accumulating an `elapsed` dataset (query, start, end,
elapsed, cumulative) and a progress report
(data_curation_base.sas:2894-2995).

The tracker is driver-side (stage boundaries are driver events); rows
are tiny and appended to <out>/lineage as one parquet file per run.
A stage wraps the actions it names (the pipeline's report passes
collect inside their stage), so its elapsed time is the work, not
the lazy plan building. Timestamps are wall-clock by design —
lineage is telemetry, not part of the deterministic output contract.
"""

from __future__ import annotations

import time
from contextlib import contextmanager
from dataclasses import dataclass, field

import pyarrow as pa

from pcornet_data_curation_spark.operators.normalize import arrow_schema

LINEAGE_SCHEMA = arrow_schema(
    "stage string, partition_id int, started_at double, ended_at double, "
    "elapsed_sec double, rows_in bigint, rows_out bigint, status string"
)


@dataclass
class LineageRow:
    stage: str
    partition_id: int | None
    started_at: float
    ended_at: float
    elapsed_sec: float
    rows_in: int | None
    rows_out: int | None
    status: str


@dataclass
class LineageTracker:
    rows: list[LineageRow] = field(default_factory=list)

    @contextmanager
    def stage(self, name: str, partition_id: int | None = None, rows_in: int | None = None):
        start = time.time()
        holder = {"rows_out": None}
        try:
            yield holder
        except Exception:
            end = time.time()
            self.rows.append(
                LineageRow(name, partition_id, start, end, end - start, rows_in, None, "failed")
            )
            raise
        end = time.time()
        self.rows.append(
            LineageRow(
                name, partition_id, start, end, end - start, rows_in, holder["rows_out"], "ok"
            )
        )

    def to_records(self) -> list[dict]:
        return [
            {
                "stage": r.stage,
                "partition_id": r.partition_id,
                "started_at": r.started_at,
                "ended_at": r.ended_at,
                "elapsed_sec": r.elapsed_sec,
                "rows_in": r.rows_in,
                "rows_out": r.rows_out,
                "status": r.status,
            }
            for r in self.rows
        ]

    def to_arrow(self) -> pa.Table:
        return pa.Table.from_pylist(self.to_records(), schema=LINEAGE_SCHEMA)
