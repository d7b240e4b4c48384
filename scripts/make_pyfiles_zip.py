#!/usr/bin/env python
"""Build the spark-submit --py-files artifact: dist/sharetrace_giraph_spark.zip.

Usage:
    python scripts/make_pyfiles_zip.py [OUTPUT_ZIP]
    spark-submit --py-files dist/sharetrace_giraph_spark.zip jobs/run_graph.py ...

The archive is reproducible: members are written in sorted path order with
a fixed timestamp, so rebuilding from unchanged sources yields
identical bytes.
"""

from __future__ import annotations

import os
import sys
import zipfile

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
PKG = "sharetrace_giraph_spark"
#: zip's earliest representable time; stamped on every member
_EPOCH = (1980, 1, 1, 0, 0, 0)


def main(out: str | None = None) -> str:
    out = out or os.path.join(REPO, "dist", f"{PKG}.zip")
    os.makedirs(os.path.dirname(os.path.abspath(out)), exist_ok=True)
    members = sorted(
        os.path.relpath(os.path.join(root, f), REPO)
        for root, _dirs, files in os.walk(os.path.join(REPO, PKG))
        if "__pycache__" not in root
        for f in files
        if f.endswith(".py")
    )
    with zipfile.ZipFile(out, "w", zipfile.ZIP_DEFLATED) as zf:
        for rel in members:
            info = zipfile.ZipInfo(rel, date_time=_EPOCH)
            info.compress_type = zipfile.ZIP_DEFLATED
            with open(os.path.join(REPO, rel), "rb") as fh:
                zf.writestr(info, fh.read())
    print(out)
    return out


if __name__ == "__main__":
    main(sys.argv[1] if len(sys.argv) > 1 else None)
