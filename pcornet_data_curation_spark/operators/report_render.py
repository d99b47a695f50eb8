"""Run-report rendering — the reference's PDF print stage
(data_curation_print.sas: top-N per query + ods pdf; edc_report.sas
multi-page report) recast as one Markdown file per run.

Input is the run's small output tables, already on the driver
(reports, exceptions, completeness, lineage rows); rendering starts no
Spark job and never touches the fact table.
"""

from __future__ import annotations

import os
from collections import defaultdict

import pyarrow as pa

from pcornet_data_curation_spark.operators.reports import floor_pct

TOP_N = 50  # print limit parity (reference obs=50, %prnt)


def _md_table(cols: list[str], rows: list) -> str:
    if not rows:
        return "_(empty)_\n"
    lines = ["| " + " | ".join(cols) + " |", "|" + "---|" * len(cols)]
    for row in rows:
        lines.append("| " + " | ".join("" if v is None else str(v) for v in row) + " |")
    return "\n".join(lines) + "\n"


def _table(t: pa.Table, rows: list | None = None) -> str:
    rows = [tuple(r.values()) for r in t.to_pylist()] if rows is None else rows
    return _md_table(t.column_names, rows)


def render_run_report(
    output_root: str, tables: dict[str, pa.Table], lineage: list[dict]
) -> str:
    """Render <output_root>/REPORT.md from the run's output tables
    (`tables`: every report by name plus 'exceptions' and
    'completeness') and the lineage rows of every run into this root.
    Returns the file path."""
    parts: list[str] = ["# Curation run report\n"]

    meta = sorted(tuple(r.values()) for r in tables["run_metadata"].to_pylist())
    parts += ["## Run metadata\n", _table(tables["run_metadata"], meta)]
    parts += ["## Verdict\n", _table(tables["verdict_summary"])]

    exceptions = tables["exceptions"]
    n_exc = sum(exceptions.column("exception").to_pylist())
    parts += [f"## Data checks — {n_exc} exception(s)\n", _table(exceptions)]

    completeness = sorted(tuple(r.values()) for r in tables["completeness"].to_pylist())
    missing = [r for r in completeness if not r[1]]
    parts += [
        f"## Completeness — {len(missing)} missing report(s)\n",
        _md_table(tables["completeness"].column_names, missing or completeness),
    ]

    # rule fail rates over all buckets
    totals: dict[str, list] = defaultdict(lambda: [0, None])
    for r in tables["rule_summary"].to_pylist():
        t = totals[r["rule_id"]]
        t[0] += r["records"]
        if r["fail_records"] is not None:
            t[1] = (t[1] or 0) + r["fail_records"]
    rules = sorted(
        ((rule, rec, fail, floor_pct(fail, rec)) for rule, (rec, fail) in totals.items()),
        key=lambda r: (r[2] is None, -(r[2] or 0), r[0]),
    )[:TOP_N]
    parts += [
        "## Rule fail rates (all buckets)\n",
        _md_table(["rule_id", "records", "fail_records", "fail_pct"], rules),
    ]

    langs = tables["lang_dist"]  # already in valueset order
    parts += ["## Language distribution\n", _table(langs.slice(0, TOP_N))]
    domains = tables["domain_dist"]  # already by record_n desc, host
    parts += ["## Domain distribution (top hosts + OTHER)\n", _table(domains.slice(0, TOP_N))]
    parts += ["## Content duplication\n", _table(tables["dedup_summary"])]

    stages: dict[str, list] = {}
    for r in lineage:
        s = stages.setdefault(r["stage"], [0.0, r["status"]])
        s[0] += r["elapsed_sec"]
        s[1] = max(s[1], r["status"])
    timings = sorted(
        ((name, round(sec, 2), status) for name, (sec, status) in stages.items()),
        key=lambda r: -r[1],
    )
    parts += [
        "## Stage timings (reference %elapsed)\n",
        _md_table(["stage", "elapsed_sec", "status"], timings),
    ]

    path = os.path.join(output_root, "REPORT.md")
    with open(path, "w") as f:
        f.write("\n".join(parts))
    return path
