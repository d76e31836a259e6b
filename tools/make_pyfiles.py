"""Package the engine for ``spark-submit --py-files``.

Produces ``dist/docling_parse_spark.zip`` (or ``<out_dir>/docling_parse_spark.zip``
with ``python tools/make_pyfiles.py <out_dir>``) containing the package (pure
Python, no native deps). Ship with:

    spark-submit --master <cluster> \\
        --py-files dist/docling_parse_spark.zip \\
        docling_parse_spark/job.py --input <docs table> --out <dir> [--resume]
"""

from __future__ import annotations

import os
import sys
import zipfile

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def main(dist: str | None = None) -> str:
    dist = dist or os.path.join(REPO, "dist")
    os.makedirs(dist, exist_ok=True)
    out = os.path.join(dist, "docling_parse_spark.zip")
    with zipfile.ZipFile(out, "w", zipfile.ZIP_DEFLATED) as z:
        pkg = os.path.join(REPO, "docling_parse_spark")
        for root, _dirs, files in os.walk(pkg):
            if "__pycache__" in root:
                continue
            for fn in sorted(files):
                # .py sources + the compiled font/encoding data tables
                # (pdf/data/*.json.gz) the decode kernels load at runtime
                if fn.endswith((".py", ".json.gz")):
                    full = os.path.join(root, fn)
                    z.write(full, os.path.relpath(full, REPO))
    print(out)
    return out


if __name__ == "__main__":
    main(sys.argv[1] if len(sys.argv) > 1 else None)
