"""Data checks — threshold rules over the normalized metrics.

Reference analog: edc_prep.sas (expected-output registry vs produced,
:56-125) + edc_report.sas (threshold checks -> exception rows with
severity, :865-944, 11280-11361). Checks are data: a registry of
(check_id, dc_name, statistic, op, threshold, severity) evaluated on
the driver over the (small) metrics rows.
"""

from __future__ import annotations

import math
from collections import defaultdict
from dataclasses import dataclass


@dataclass(frozen=True)
class Check:
    check_id: str
    description: str
    dc_name: str  # metrics dc_name to test
    statistic: str  # metrics statistic to test
    op: str  # exception when  observed OP threshold : lt|le|gt|ge
    threshold: float
    severity: str = "red"  # red | blue (reference severity coloring)
    category: str | None = None  # optional category filter
    family: str = "general"  # check family (reference DC groups)


# Registry modeled on the reference's Data Checks v20 families
# (edc_report.sas:865-907 threshold table, :11303-11311 numbered
# checks): run-viability, per-column conformance, uniqueness, scrub,
# extraction, value distribution, temporal plausibility, continuous
# stats, and per-bucket rule behavior. A check without `category`
# applies to EVERY metric row of its (dc_name, statistic) — e.g. 9.01
# fires per (bucket, rule) — which is the per-partition conformance
# shape the north rule asks for.
DEFAULT_CHECKS: tuple[Check, ...] = (
    # -- 1.x run viability (verdict_summary) ------------------------------
    Check("1.01", "keep rate implausibly low", "verdict_summary", "keep_pct", "lt", 10.0, "red", family="viability"),
    Check("1.02", "keep rate implausibly high", "verdict_summary", "keep_pct", "gt", 99.5, "blue", family="viability"),
    Check("1.03", "run produced no records", "verdict_summary", "records", "lt", 1.0, "red", family="viability"),
    Check("1.04", "run kept no records", "verdict_summary", "kept", "lt", 1.0, "red", family="viability"),
    # -- 2.x column conformance (pages_tag %tag profile) -------------------
    Check("2.01", "null urls present", "pages_tag", "null_n", "gt", 0.0, "red", category="curated|url", family="conformance"),
    Check("2.02", "null lang_pred present", "pages_tag", "null_n", "gt", 0.0, "blue", category="curated|lang", family="conformance"),
    Check("2.03", "url cardinality degenerate", "pages_tag", "distinct_n", "lt", 2.0, "red", category="curated|url", family="conformance"),
    # -- 3.x key uniqueness (url_unique) -----------------------------------
    Check("3.01", "duplicate urls present", "url_unique", "dup_url_n", "gt", 0.0, "blue", family="uniqueness"),
    Check("3.02", "no distinct urls", "url_unique", "url_distinct_n", "lt", 1.0, "red", family="uniqueness"),
    # -- 4.x PII scrub (scrub_summary) -------------------------------------
    Check("4.01", "scrub hit-rate suspicious", "scrub_summary", "scrub_pct", "gt", 50.0, "blue", family="scrub"),
    Check("4.02", "scrub hit-rate implausible", "scrub_summary", "scrub_pct", "gt", 90.0, "red", family="scrub"),
    # -- 5.x extraction fidelity (extraction_summary) ----------------------
    Check("5.01", "text/html extraction mismatches", "extraction_summary", "mismatch_pct", "gt", 1.0, "blue", family="extraction"),
    Check("5.02", "extraction mismatch rate high", "extraction_summary", "mismatch_pct", "gt", 10.0, "red", family="extraction"),
    # -- 6.x value distribution (lang_dist %n_pct) -------------------------
    Check("6.01", "unidentified-language share high", "lang_dist", "record_pct", "gt", 20.0, "red", category="NULL or missing", family="distribution"),
    Check("6.02", "languages outside valueset", "lang_dist", "record_n", "gt", 0.0, "blue", category="Values outside of CDM specifications", family="distribution"),
    Check("6.03", "english share collapsed", "lang_dist", "record_pct", "lt", 1.0, "blue", category="en", family="distribution"),
    # -- 7.x temporal plausibility (warc_minmax / warc_ym_dist) ------------
    Check("7.01", "pre-1900 timestamps present", "warc_minmax", "implausible_n", "gt", 0.0, "red", category="warc_ts", family="temporal"),
    Check("7.02", "future timestamps present", "warc_minmax", "future_n", "gt", 0.0, "red", category="warc_ts", family="temporal"),
    Check("7.03", "all timestamps missing", "warc_minmax", "n", "lt", 1.0, "red", category="warc_ts", family="temporal"),
    Check("7.04", "empty month inside observed range", "warc_ym_dist", "record_n", "lt", 1.0, "blue", family="temporal"),
    # -- 8.x continuous stats (tokens_by_keep / ppl_stats %cont) -----------
    Check("8.01", "kept docs suspiciously short", "tokens_by_keep", "mean", "lt", 30.0, "blue", category="true", family="continuous"),
    Check("8.02", "kept doc with zero tokens", "tokens_by_keep", "min", "lt", 1.0, "red", category="true", family="continuous"),
    Check("8.03", "perplexity mean implausible", "ppl_stats", "mean", "gt", 300.0, "red", family="continuous"),
    Check("8.04", "perplexity tail heavy", "ppl_stats", "p95", "gt", 600.0, "blue", family="continuous"),
    # -- 9.x per-bucket rule behavior (rule_summary) -----------------------
    Check("9.01", "rule rejects nearly everything in a bucket", "rule_summary", "fail_pct", "gt", 95.0, "blue", family="rules"),
    Check("9.02", "empty bucket", "rule_summary", "records", "lt", 1.0, "red", family="rules"),
    # -- extended conformance / distribution (v20 breadth) ------------------
    Check("2.04", "scrubbed_text nulls on curated rows", "pages_tag", "null_n", "gt", 0.0, "blue", category="curated|scrubbed_text", family="conformance"),
    Check("2.05", "declared-lang cardinality degenerate", "pages_tag", "distinct_n", "lt", 2.0, "blue", category="curated|lang", family="conformance"),
    Check("4.03", "scrub never fires (patterns dead?)", "scrub_summary", "scrub_pct", "lt", 0.01, "blue", family="scrub"),
    Check("6.04", "language monoculture (en > 98%)", "lang_dist", "record_pct", "gt", 98.0, "blue", category="en", family="distribution"),
    Check("6.05", "out-of-valueset language share high", "lang_dist", "record_pct", "gt", 30.0, "red", category="Values outside of CDM specifications", family="distribution"),
    # -- 10.x referential integrity (referential_summary) -------------------
    Check("10.01", "kept rows missing scrubbed text", "referential_summary", "kept_null_scrub_n", "gt", 0.0, "red", family="referential"),
    # 10.02 counts rows stored outside their url's bucket (bucket is a
    # pure url hash); a url split across buckets always has one
    Check("10.02", "urls split across buckets (store corruption)", "referential_summary", "cross_bucket_dup_url_n", "gt", 0.0, "red", family="referential"),
    Check("10.03", "null urls in curated table", "referential_summary", "null_url_n", "gt", 0.0, "red", family="referential"),
    Check("10.04", "lang_pred outside valueset", "referential_summary", "lang_nonvalueset_n", "gt", 0.0, "blue", family="referential"),
    Check("10.05", "dropped docs longer than kept (filter inverted?)", "referential_summary", "drop_keep_token_ratio", "gt", 1.0, "blue", family="referential"),
    # -- 11.x distribution shift vs prior run (drift|*) ----------------------
    # metrics exist only when cfg.prior_run_root is set; absent rows
    # evaluate to observed=NULL → exception=false (n/a), like the
    # reference's previous-refresh comparisons on a first refresh
    Check("11.01", "keep rate moved >5 pts vs prior run", "drift|verdict_summary", "keep_pct__absdelta", "gt", 5.0, "blue", family="drift"),
    Check("11.02", "keep rate moved >15 pts vs prior run", "drift|verdict_summary", "keep_pct__absdelta", "gt", 15.0, "red", family="drift"),
    Check("11.03", "record volume moved >50% vs prior run", "drift|verdict_summary", "records__relpct", "gt", 50.0, "blue", family="drift"),
    Check("11.04", "english share moved >10 pts vs prior run", "drift|lang_dist", "record_pct__absdelta", "gt", 10.0, "blue", category="en", family="drift"),
    Check("11.05", "perplexity mean moved >30% vs prior run", "drift|ppl_stats", "mean__relpct", "gt", 30.0, "blue", family="drift"),
    Check("11.06", "scrub hit-rate moved >10 pts vs prior run", "drift|scrub_summary", "scrub_pct__absdelta", "gt", 10.0, "blue", family="drift"),
    Check("11.07", "token mean of kept docs moved >30% vs prior", "drift|tokens_by_keep", "mean__relpct", "gt", 30.0, "blue", category="true", family="drift"),
    # -- 12.x per-report staleness (report_staleness) ------------------------
    Check("12.01", "report older than curated data (resume died mid-report)", "report_staleness", "stale", "gt", 0.0, "red", family="staleness"),
    Check("12.02", "report older than 7 days", "report_staleness", "age_sec", "gt", 604800.0, "blue", family="staleness"),
    # -- 13.x threshold-crossing trend (threshold_trend) ---------------------
    Check("13.01", "metric within 20% of a threshold and moving toward it", "threshold_trend", "approaching", "gt", 0.0, "blue", family="trend"),
    # -- 14.x domain concentration (domain_summary) --------------------------
    Check("14.01", "single domain holds >30% of records", "domain_summary", "top1_share_pct", "gt", 30.0, "blue", family="domains"),
    Check("14.02", "single domain holds >60% of records", "domain_summary", "top1_share_pct", "gt", 60.0, "red", family="domains"),
    Check("14.03", "corpus from a single host", "domain_summary", "hosts_n", "lt", 2.0, "red", family="domains"),
    Check("14.04", "unparsable urls present", "domain_summary", "null_host_n", "gt", 0.0, "blue", family="domains"),
    # -- 15.x content duplication (dedup_summary; categories are the
    # dedup stage mode, so 'off' runs — dup_n 0 by construction — stay
    # quiet and measured runs threshold on the real rate) -------------------
    Check("15.01", "exact-duplicate rate high", "dedup_summary", "dup_pct", "gt", 30.0, "blue", category="flag", family="duplication"),
    Check("15.02", "exact-duplicate rate high", "dedup_summary", "dup_pct", "gt", 30.0, "blue", category="drop", family="duplication"),
    Check("15.03", "corpus is mostly duplicates", "dedup_summary", "dup_pct", "gt", 60.0, "red", category="flag", family="duplication"),
    Check("15.04", "corpus is mostly duplicates", "dedup_summary", "dup_pct", "gt", 60.0, "red", category="drop", family="duplication"),
    # -- 16.x url-level pre-filter (url_filter_summary; metrics exist
    # only when cfg.url_blocklist is set — absent rows report n/a) ----------
    Check("16.01", "url filter dropped >30% of input", "url_filter_summary", "dropped_pct", "gt", 30.0, "blue", family="urlfilter"),
    Check("16.02", "url filter dropped most of the input (blocklist too broad?)", "url_filter_summary", "dropped_pct", "gt", 70.0, "red", family="urlfilter"),
)


EXCEPTIONS_DDL = (
    "check_id string, family string, description string, dc_name string, "
    "category string, statistic string, threshold double, observed double, "
    "exception boolean, severity string"
)
COMPLETENESS_DDL = "dc_name string, produced boolean"


def expected_reports_check(produced: list[str], expected: list[str]) -> list[tuple]:
    """Completeness: expected report names vs produced (edc_prep.sas
    :80-125). Returns (dc_name, produced) rows."""
    produced = set(produced)
    return [(name, name in produced) for name in expected]


def _spark_order(x: float) -> tuple:
    """Sort key of a double in Spark's ordering: NaN equals NaN and is
    larger than every other double."""
    return (True, 0.0) if math.isnan(x) else (False, x)


def _breach(op: str, observed: float, threshold: float) -> bool:
    """`observed <op> threshold` in Spark's ordering (`_spark_order`)."""
    a, b = _spark_order(observed), _spark_order(threshold)
    return {"lt": a < b, "le": a <= b, "gt": a > b, "ge": a >= b}.get(op, False)


def evaluate_checks(
    metrics: list[tuple], checks: tuple[Check, ...] = DEFAULT_CHECKS
) -> list[tuple]:
    """Evaluate the registry over metric rows (dc_name, variable,
    category, statistic, resultc, resultn) → exception rows
    (check_id, family, description, dc_name, category, statistic,
    threshold, observed, exception, severity), ordered by check_id then
    category (NULL first).

    A check without a category applies to every metric row of its
    (dc_name, statistic); absent metrics produce one row with
    observed=NULL, exception=false ('n/a handling for absent tables',
    edc_report.sas:11280-11361).
    """
    by_key: dict[tuple, list[tuple]] = defaultdict(list)
    for dc_name, _, category, statistic, _, resultn in metrics:
        by_key[(dc_name, statistic)].append((category, resultn))
    out = []
    for c in checks:
        head = (c.check_id, c.family, c.description, c.dc_name)
        tail = (c.statistic, float(c.threshold))
        hits = [
            (cat, obs)
            for cat, obs in by_key.get((c.dc_name, c.statistic), [])
            if c.category is None or c.category == cat
        ]
        for cat, obs in hits or [(None, None)]:
            exc = obs is not None and _breach(c.op, obs, float(c.threshold))
            out.append((*head, cat, *tail, obs, exc, c.severity))
    return sorted(out, key=lambda r: (r[0], r[4] is not None, r[4] or ""))
