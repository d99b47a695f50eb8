"""Pipeline run configuration.

The reference derives its cutoffs from the *wall-clock run date*
(`&sysdate9`/today(), data_curation_base.sas:44-56) which makes runs
irreproducible; here run_date is an explicit parameter (SURVEY §4.4).
"""

from __future__ import annotations

import datetime as dt
from dataclasses import dataclass, field


@dataclass(frozen=True)
class PipelineConfig:
    """All knobs of a curation run. Deterministic given these fields."""

    # Reproducible "today" — drives lookback cutoffs and DASH-style
    # trailing windows (reference data_curation_base.sas:44-56).
    run_date: dt.date = dt.date(2026, 1, 1)

    # Lookback window in years (reference lookback param, default 10;
    # sasprograms/02_run_queries.sas:87-88). Rows older than the cutoff
    # (and non-null) are excluded at scan time.
    lookback_years: int = 10

    # Number of url-hash buckets = unit of checkpoint/resume and of the
    # per-partition conformance reports. At 10^12 docs this would be
    # O(10^4-10^5); tests use small values.
    n_buckets: int = 8

    # Cells (write tasks, files) per bucket: repartition key is
    # (bucket, salt) with salt = xxhash64(url) % salt_factor. Both keys
    # hash the url, so no domain concentrates in a cell whatever this is.
    salt_factor: int = 4

    # Rule thresholds are data, not code (reference valuesets pattern);
    # overrides merge onto operators.rules.DEFAULT_RULES.
    rule_overrides: dict = field(default_factory=dict)

    # Output root for tables, manifest, lineage.
    output_root: str = "/tmp/pdcs_out"

    # Prior run's output root (optional): enables the distribution-
    # shift (drift) and threshold-trend check families — the reference
    # EDC's cross-run comparisons (edc_report.sas compares current vs
    # previous-refresh values). None → those checks report n/a.
    prior_run_root: str | None = None

    # Also export every report as CSV next to the parquet (the
    # reference print stage's &_csv=YES gate,
    # data_curation_print.sas:121-150).
    export_csv: bool = False

    # Global dedup stage (C4/Gopher): 'off' (default — per-url verdict
    # parity with the reference labels), 'flag' (record exact_dup
    # without dropping), 'drop' (also fold into keep). Survivor = min
    # url per group, deterministic.
    dedup: str = "off"

    # How duplicate groups are formed when dedup != off: 'exact'
    # (content fingerprint equality) or 'near' (MinHash-LSH pairs →
    # connected components at `near_threshold` estimated jaccard).
    dedup_method: str = "exact"
    near_threshold: float = 0.8

    # Derive text from html (operators/extract.py regex chain) for
    # rows whose text column is NULL but html is present — the crawl
    # case where extraction didn't run upstream. Pure Column algebra,
    # so it works in batch and streaming alike. Default off: per-url
    # verdict parity with the reference labels (which scores the
    # stored text verbatim).
    extract_missing_text: bool = False

    # When filling text from html, preserve line structure: '\n' at
    # block-element boundaries (extract_text_lines_col) so derived
    # text feeds dup_line_metrics, bullet/terminal-punct line ratios
    # and span-dedup line reassembly with real lines — production
    # extractors emit newlines at block tags for exactly this reason.
    # False pins the legacy flat (single-line) chain.
    extract_preserve_lines: bool = True

    # Honor `<meta name="robots" content="noindex">` (and `none`)
    # directives found in the html column: such pages are DROPPED at
    # the scan, before any payload processing — the curation-side
    # politeness re-check a stored-WARC pipeline must do itself
    # (operators/robotsmeta.py). Default off: per-url verdict parity.
    respect_noindex: bool = False

    # Repair one round of cp1252 mojibake in the text column before
    # anything reads it (operators/mojibake.py fixed literal-replace
    # table). Pure Column algebra — batch and streaming alike; NULL
    # text stays NULL (missingness accounting untouched). Default off:
    # per-url verdict parity with the reference labels.
    fix_mojibake: bool = False

    # Remove boilerplate lines (jusText-lite,
    # operators/boilerplate.py) from the text column before dedup and
    # scoring; applied AFTER the mojibake repair so stopword density
    # is measured on repaired text. NULL stays NULL. Default off.
    remove_boilerplate: bool = False

    # URL-level pre-filter (RefinedWeb/C4 stage): path to a newline-
    # delimited domain blocklist file. When set, pages failing
    # operators.urlfilter.url_filter (blocked/subdomain host, keyword,
    # IP-literal host, length, query-param spam, unparsable url) are
    # DROPPED before curation — they never reach scoring, exactly as a
    # production crawl filter rejects by url before decoding payloads.
    # Default None: per-url verdict parity with the reference labels.
    url_blocklist: str | None = None

    def __post_init__(self) -> None:
        if self.dedup not in ("off", "flag", "drop"):
            raise ValueError(f"dedup must be off|flag|drop, got {self.dedup!r}")
        if self.dedup_method not in ("exact", "near"):
            raise ValueError(
                f"dedup_method must be exact|near, got {self.dedup_method!r}"
            )

    @property
    def lookback_cutoff(self) -> dt.date:
        try:
            return self.run_date.replace(year=self.run_date.year - self.lookback_years)
        except ValueError:  # Feb 29
            return self.run_date.replace(month=2, day=28, year=self.run_date.year - self.lookback_years)
