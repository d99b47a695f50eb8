"""Checkpoint manifest — per-bucket resume without recomputation.

Reference analog: the incremental progress dataset updated after every
query (data_curation_base.sas:2942-2993) — a restart of the SAS
package re-runs everything; this engine instead records per-bucket
completion in a JSON manifest next to the output so a restarted run
skips completed url-hash buckets entirely (north rule: "resumable from
checkpoint with per-partition lineage + metrics").

Atomicity: manifest writes go to a temp file then os.replace (atomic
on POSIX). Data writes are idempotent per bucket because the curated
table is partitioned by bucket and written with dynamic partition
overwrite — a re-run of an unfinished bucket replaces only that
bucket's directory.

Marks: a bucket is marked done by the reporting tail right after its
bucket pass (plans/report_tail.py), with that pass's `rows`/`kept` for
the bucket — the one place a bucket is counted. A run killed between
the curated write and that mark leaves the bucket pending, and the
resume rewrites it.

Bucket function: `bucket_col` both places curated rows and, in the
report tail, checks every stored row (check 10.02), under the
manifest's n_buckets guard.

Store format: a new manifest records FORMAT; a manifest with any other
(or no) format is refused, as an n_buckets mismatch is, so every store
this code reads has the curated schema it writes (two-valued
`exact_dup` included). Every reader goes through `load`: a run through
`load_or_init`, which also holds the file's n_buckets to the config's,
and the `check` command directly, which takes n_buckets from the file
and creates nothing. A corrupt file is refused the same way.
"""

from __future__ import annotations

import json
import os
import time

from pyspark.sql import functions as F

# curated-store format this code writes and reads; manifests written
# before the format was recorded (no "format" key) count as format 1
FORMAT = 2


def bucket_col(n_buckets: int):
    """The url-hash bucket of a row: resume, write and report unit."""
    return F.pmod(F.xxhash64(F.col("url")), F.lit(n_buckets)).cast("int")


def salt_col(salt_factor: int):
    # independent second hash stream (seeded by an extra literal)
    return F.pmod(F.xxhash64(F.col("url"), F.lit(0x5A17)), F.lit(salt_factor)).cast("int")


class Manifest:
    FILENAME = "_manifest.json"

    def __init__(self, root: str, n_buckets: int, data: dict | None = None):
        self.root = root
        self.path = os.path.join(root, self.FILENAME)
        if data is None:  # a new store; a stored `{}` is refused below
            data = {"format": FORMAT, "n_buckets": n_buckets, "buckets": {}, "reports": {}}
        self.data = data
        if self.data.get("format") != FORMAT:
            raise ValueError(
                f"checkpoint manifest {self.path} has store format "
                f"{self.data.get('format')}, this code reads format {FORMAT} — "
                "start a fresh output_root"
            )
        if self.data.get("n_buckets") != n_buckets:
            raise ValueError(
                f"manifest n_buckets={self.data.get('n_buckets')} != config n_buckets={n_buckets}; "
                "bucket function changed — start a fresh output_root"
            )

    @classmethod
    def load(cls, root: str) -> "Manifest":
        """The manifest stored under `root`, with the n_buckets it
        records. Creates nothing; a missing file raises
        FileNotFoundError."""
        path = os.path.join(root, cls.FILENAME)
        with open(path) as f:
            try:
                data = json.load(f)
            except json.JSONDecodeError as e:
                raise ValueError(
                    f"checkpoint manifest {path} is truncated or corrupt ({e}); "
                    "it cannot say which buckets are done — start a fresh output_root"
                ) from e
        return cls(root, data.get("n_buckets"), data)

    @classmethod
    def load_or_init(cls, root: str, n_buckets: int) -> "Manifest":
        os.makedirs(root, exist_ok=True)
        if os.path.exists(os.path.join(root, cls.FILENAME)):
            return cls(root, n_buckets, cls.load(root).data)
        return cls(root, n_buckets)

    def save(self) -> None:
        tmp = self.path + ".tmp"
        with open(tmp, "w") as f:
            json.dump(self.data, f, indent=1, sort_keys=True)
        os.replace(tmp, self.path)

    # -- bucket state -------------------------------------------------
    def done_buckets(self) -> list[int]:
        return sorted(
            int(k) for k, v in self.data["buckets"].items() if v.get("status") == "done"
        )

    def pending_buckets(self) -> list[int]:
        done = set(self.done_buckets())
        return [b for b in range(self.data["n_buckets"]) if b not in done]

    def mark_done(self, bucket: int, rows: int, kept: int) -> None:
        self.data["buckets"][str(bucket)] = {
            "status": "done",
            "rows": rows,
            "kept": kept,
            "finished_at": time.time(),
        }

    def mark_report(self, name: str) -> None:
        self.data["reports"][name] = {"finished_at": time.time()}
