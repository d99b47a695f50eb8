"""Streaming ingestion (Structured Streaming).

The reference package is strictly batch (SURVEY §2.9); streaming here
is an engine extension: the same row-level curation transforms applied
over a file-source stream with exactly-once sinks.
"""

from pcornet_data_curation_spark.streaming.curate_stream import run_stream_once  # noqa: F401
