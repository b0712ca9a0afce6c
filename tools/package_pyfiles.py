"""Build the spark-submit --py-files artifact (north_star: "ships as a
spark-submit --py-files package").

Usage:
    python tools/package_pyfiles.py [dest.zip]
    spark-submit --py-files dist/cuda_float_compress_spark.zip your_job.py

The zip contains only the package sources (no tests/bench). The driver
imports the package from it, and ``session.get_spark`` puts it on the
Python workers' PYTHONPATH. The CLI runs from a job file that calls it:
    spark-submit --py-files dist/... job.py encode --input DIR ...
with job.py running ``sys.exit(main())`` after
``from cuda_float_compress_spark.cli import main``.
"""

from __future__ import annotations

import os
import sys
import zipfile

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
PKG = "cuda_float_compress_spark"


def build(dest: str | None = None) -> str:
    dest = dest or os.path.join(ROOT, "dist", f"{PKG}.zip")
    os.makedirs(os.path.dirname(dest), exist_ok=True)
    src = os.path.join(ROOT, PKG)
    with zipfile.ZipFile(dest, "w", zipfile.ZIP_DEFLATED) as z:
        for dirpath, _dirs, files in os.walk(src):
            if "__pycache__" in dirpath:
                continue
            for f in sorted(files):
                if not f.endswith(".py"):
                    continue
                full = os.path.join(dirpath, f)
                z.write(full, os.path.relpath(full, ROOT))
    return dest


if __name__ == "__main__":
    out = build(sys.argv[1] if len(sys.argv) > 1 else None)
    print(out)
