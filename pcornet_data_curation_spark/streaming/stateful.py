"""Stateful streaming operator (engine extension — the reference is
strictly batch, SURVEY §2.9): `stream_dedup_flag`, the exact-dedup
flag of `streaming.curate_stream`, via applyInPandasWithState keyed by
content fingerprint (state = one marker per fingerprint, no global
structure).
"""

from __future__ import annotations

from collections.abc import Iterator

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

from pcornet_data_curation_spark.operators.dedup import content_fp_col

DEDUP_STATE_DDL = "seen boolean"


def stream_dedup_flag(pages_stream: DataFrame) -> DataFrame:
    """Streaming twin of the batch exact-dedup stage (pipeline
    `with_exact_dup_flag`), applied by curate_stream where batch
    `curate` applies that stage: between `prepare_pages` and
    `finish_curation`. Every row passes through keyed by its
    whitespace/case-normalized content fingerprint; the FIRST arrival of each fingerprint survives
    (exact_dup=False) and every later arrival is flagged
    exact_dup=True. Within one micro-batch "first" is deterministic —
    min (warc_ts, url); across batches it is arrival order. State per
    fingerprint is one boolean — O(distinct docs) cluster-wide, sharded
    by the groupBy key, the same fp-keyed co-location the batch
    stage's groupBy+join pays.

    Output = input columns + exact_dup. The input is `prepare_pages`'
    projection, so html is already consumed and never rides the
    fp-keyed state shuffle, and the fingerprint sees repaired text.
    Requires url and warc_ts (the in-batch ordering key) and text (the
    fingerprint source).

    Documented divergence from the batch stage (which picks the global
    MINIMUM url as survivor): an append-mode stream cannot retro-flag
    an already-emitted row when a lexicographically-smaller url arrives
    later, so the streaming survivor is first-seen. Everything
    downstream (dedup_summary counts, drop-mode keep fold) is
    method-agnostic over the flag.
    """
    from pyspark.sql.types import BooleanType, StructField, StructType

    keyed = pages_stream.withColumn("_fp", content_fp_col())
    cols = [f.name for f in pages_stream.schema.fields]
    out_schema = StructType(
        list(pages_stream.schema.fields) + [StructField("exact_dup", BooleanType(), False)]
    )

    def flag(
        key: tuple, pdfs: Iterator[pd.DataFrame], state: GroupState
    ) -> Iterator[pd.DataFrame]:
        # STREAM the Arrow chunks instead of concatenating the whole
        # group: a hot boilerplate fingerprint with huge within-batch
        # multiplicity would otherwise concentrate the full group's
        # rows in one executor's memory. Only the current minimum
        # (warc_ts, url) row is held back across chunks (O(1) carry);
        # every other row is flagged exact_dup=True and yielded with
        # its own chunk. At the end the carried minimum is emitted
        # with exact_dup = whether the fingerprint was already seen
        # in an earlier micro-batch.
        seen_before = state.exists
        best = None
        for pdf in pdfs:
            if not len(pdf):
                continue
            combined = pdf if best is None else pd.concat([best, pdf])
            combined = combined.sort_values(["warc_ts", "url"], na_position="last")
            best = combined.head(1)
            rest = combined.iloc[1:]
            if len(rest):
                out = rest[cols].copy()
                out["exact_dup"] = True
                yield out
        if best is None:
            return
        state.update((True,))
        out = best[cols].copy()
        out["exact_dup"] = bool(seen_before)
        yield out

    return keyed.groupBy("_fp").applyInPandasWithState(
        flag,
        outputStructType=out_schema,
        stateStructType=DEDUP_STATE_DDL,
        outputMode="append",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )
