"""Build the spark-submit --py-files artifact.

The north-rule deployment shape is `spark-submit --py-files` on a
multi-executor cluster: the driver ships one zip of the package to
every executor's PYTHONPATH. This tool produces that zip
deterministically (sorted entries, zeroed timestamps — two builds of
the same tree are byte-identical, so the artifact itself can be
content-addressed / cached by the cluster deploy tooling).

    python tools/build_pyfiles.py [--out dist/pcornet_data_curation_spark.zip]

    spark-submit --master <cluster> --py-files dist/pcornet_data_curation_spark.zip \
        --deploy-mode cluster your_job.py
    # spark-submit has no -m; to drive the package CLI on a cluster,
    # ship a two-line driver file next to the zip:
    #   # run_cli.py
    #   import sys
    #   from pcornet_data_curation_spark.__main__ import main
    #   sys.exit(main(sys.argv[1:]))
    spark-submit --master <cluster> --py-files dist/pcornet_data_curation_spark.zip \
        run_cli.py run --input ... --output ...

Only the package itself ships — tests, tools, and docs stay out of the
executor path.
"""

from __future__ import annotations

import argparse
import os
import zipfile

PKG = "pcornet_data_curation_spark"
ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def build(out_path: str, root: str = ROOT) -> str:
    pkg_dir = os.path.join(root, PKG)
    entries = []
    for dirpath, dirnames, filenames in os.walk(pkg_dir):
        dirnames[:] = sorted(d for d in dirnames if d != "__pycache__")
        for fn in sorted(filenames):
            if fn.endswith((".pyc", ".pyo")):
                continue
            full = os.path.join(dirpath, fn)
            entries.append((full, os.path.relpath(full, root)))
    os.makedirs(os.path.dirname(os.path.abspath(out_path)) or ".", exist_ok=True)
    with zipfile.ZipFile(out_path, "w", zipfile.ZIP_DEFLATED) as zf:
        for full, arc in entries:
            with open(full, "rb") as f:
                data = f.read()
            # zeroed timestamp -> deterministic, content-addressable zip
            info = zipfile.ZipInfo(arc, date_time=(1980, 1, 1, 0, 0, 0))
            info.external_attr = 0o644 << 16
            info.compress_type = zipfile.ZIP_DEFLATED
            zf.writestr(info, data)
    return out_path


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--out", default=os.path.join(ROOT, "dist", f"{PKG}.zip"))
    args = ap.parse_args()
    path = build(args.out)
    n = len(zipfile.ZipFile(path).namelist())
    print(f"wrote {path} ({n} files)")
    print(f"spark-submit --py-files {path} your_job.py")
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
