"""Golden pin of the reporting tail's outputs.

Three `run_pipeline` runs over `pages_df(spark, 800, partitions=4)`
with 4 buckets:

  a  the default config;
  b  a url blocklist plus dedup="flag";
  c  the default config again, with prior_run_root pointing at run a.

For every `reports/*` table, `metrics`, `exceptions` and `completeness`
the read-back Spark schema and the rows must equal the golden file.
Wall-clock values are excluded (`run_metadata.output_root`, the
`report_staleness` `age_sec` rows and the observed value of check
12.02). Doubles derived from float columns (perplexity, token means,
their ratio, drift deltas) match within 1e-9 relative; everything else
matches exactly. Tables whose rows the pipeline sorts are compared in
order, the rest as sorted row lists.

Regenerate the golden file (only when an output is meant to change):

    REPORT_TAIL_GOLDEN_WRITE=1 python -m pytest tests/test_report_tail_golden.py
"""

from __future__ import annotations

import json
import math
import os

import pytest

from pcornet_data_curation_spark.config import PipelineConfig
from pcornet_data_curation_spark.datagen.pages import pages_df
from pcornet_data_curation_spark.plans.pipeline import EXPECTED_REPORTS, run_pipeline

GOLDEN = os.path.join(os.path.dirname(__file__), "report_tail_golden.json")
WRITE = os.environ.get("REPORT_TAIL_GOLDEN_WRITE") == "1"
BLOCKED_HOSTS = ["hub.example.net", "site-0007.example.com", "site-0042.example.com"]

# tables whose rows the pipeline emits in a defined order
ORDERED = {"reports/lang_dist", "reports/warc_ym_dist", "reports/domain_dist", "exceptions"}
# report columns derived from float columns (summation order may differ)
FLOAT_COLS = {
    "reports/ppl_stats": {"mean", "p05", "p25", "p50", "p75", "p95"},
    "reports/referential_summary": {
        "kept_mean_tokens", "dropped_mean_tokens", "drop_keep_token_ratio",
    },
}
FLOAT_METRICS = {
    ("ppl_stats", s) for s in FLOAT_COLS["reports/ppl_stats"]
} | {("referential_summary", s) for s in FLOAT_COLS["reports/referential_summary"]}


def _is_float_metric(dc_name: str, statistic: str) -> bool:
    if dc_name.startswith("drift|"):
        return True
    return (dc_name, statistic) in FLOAT_METRICS


def _table_names(out: str) -> list[str]:
    reports = sorted(os.listdir(os.path.join(out, "reports")))
    return [f"reports/{r}" for r in reports] + ["metrics", "exceptions", "completeness"]


def _keep_row(name: str, row: dict) -> bool:
    if name == "reports/run_metadata":
        return row["meta_key"] != "output_root"
    if name == "metrics":
        if row["dc_name"] == "run_metadata" and row["category"] == "output_root":
            return False
        return not (row["dc_name"] == "report_staleness" and row["statistic"] == "age_sec")
    return True


def _scrub_row(name: str, row: dict) -> dict:
    if name == "exceptions" and row["check_id"] == "12.02":
        row = dict(row, observed=None, exception=None)
    return row


def _sort_key(row: list):
    return [(v is None, v if v is not None else 0) for v in row]


def snapshot(spark, out: str) -> dict:
    """Schema and rows of every checked output under `out`."""
    snap = {}
    for name in _table_names(out):
        df = spark.read.parquet(os.path.join(out, name))
        cols = df.columns
        rows = [
            _scrub_row(name, r.asDict())
            for r in df.collect()
            if _keep_row(name, r.asDict())
        ]
        rows = [[r[c] for c in cols] for r in rows]
        if name not in ORDERED:
            rows.sort(key=_sort_key)
        snap[name] = {
            "schema": [[f.name, f.dataType.simpleString(), f.nullable] for f in df.schema.fields],
            "rows": rows,
        }
    return snap


def _close(a, b) -> bool:
    if a is None or b is None:
        return a is None and b is None
    a, b = float(a), float(b)
    if math.isnan(a) or math.isnan(b):
        return math.isnan(a) and math.isnan(b)
    return a == b or abs(a - b) <= 1e-9 * max(abs(a), abs(b))


def _rows_equal(name: str, cols: list[str], got: list, want: list) -> list[str]:
    if len(got) != len(want):
        return [f"{name}: {len(got)} rows, golden has {len(want)}"]
    problems = []
    for i, (g, w) in enumerate(zip(got, want)):
        gd, wd = dict(zip(cols, g)), dict(zip(cols, w))
        for c in cols:
            if name == "metrics" and _is_float_metric(gd["dc_name"], gd["statistic"]) \
                    and c in ("resultc", "resultn"):
                ok = _close(gd[c], wd[c])
            elif name == "exceptions" and c == "observed" and gd["dc_name"] is not None \
                    and _is_float_metric(gd["dc_name"], gd["statistic"]):
                ok = _close(gd[c], wd[c])
            elif c in FLOAT_COLS.get(name, ()):
                ok = _close(gd[c], wd[c])
            else:
                ok = gd[c] == wd[c] and type(gd[c]) is type(wd[c])
            if not ok:
                problems.append(f"{name} row {i} column {c}: got {gd[c]!r}, golden {wd[c]!r}")
    return problems


@pytest.fixture(scope="module")
def runs(spark, tmp_path_factory):
    base = tmp_path_factory.mktemp("tail_golden")
    pages = pages_df(spark, 800, partitions=4)
    blocklist = base / "blocklist.txt"
    blocklist.write_text("\n".join(BLOCKED_HOSTS) + "\n")
    outs = {k: str(base / k) for k in "abc"}
    run_pipeline(spark, pages, PipelineConfig(output_root=outs["a"], n_buckets=4))
    run_pipeline(spark, pages, PipelineConfig(
        output_root=outs["b"], n_buckets=4, url_blocklist=str(blocklist), dedup="flag"))
    run_pipeline(spark, pages, PipelineConfig(
        output_root=outs["c"], n_buckets=4, prior_run_root=outs["a"]))
    return {k: snapshot(spark, out) for k, out in outs.items()}


def test_report_tail_matches_golden(runs):
    if WRITE:
        with open(GOLDEN, "w") as f:
            json.dump(runs, f, separators=(",", ":"), sort_keys=True)
            f.write("\n")
    with open(GOLDEN) as f:
        golden = json.load(f)
    problems = []
    for run in "abc":
        got, want = runs[run], golden[run]
        if sorted(got) != sorted(want):
            problems.append(f"run {run}: tables {sorted(got)} != golden {sorted(want)}")
            continue
        for name in sorted(want):
            if got[name]["schema"] != want[name]["schema"]:
                problems.append(
                    f"run {run} {name}: schema {got[name]['schema']} != {want[name]['schema']}"
                )
                continue
            cols = [f[0] for f in want[name]["schema"]]
            problems += [
                f"run {run} " + p
                for p in _rows_equal(name, cols, got[name]["rows"], want[name]["rows"])
            ]
    assert not problems, "\n".join(problems[:40])


def test_report_tail_covers_every_expected_report(runs):
    for run in "abc":
        names = {n.split("/", 1)[1] for n in runs[run] if n.startswith("reports/")}
        assert set(EXPECTED_REPORTS) <= names
    assert "reports/url_filter_summary" in runs["b"]
    assert any(r[0].startswith("drift|") for r in runs["c"]["metrics"]["rows"])
