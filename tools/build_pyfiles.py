"""Build dist/hsearch_spark.zip for spark-submit --py-files.

The archive is reproducible: entries are written in sorted path order
with a fixed timestamp and fixed permissions, so two builds of the same
source tree are byte-identical.
"""

from __future__ import annotations

import os
import zipfile

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
# earliest timestamp the zip format can store
FIXED_DATE_TIME = (1980, 1, 1, 0, 0, 0)


def main() -> str:
    dist = os.path.join(ROOT, "dist")
    os.makedirs(dist, exist_ok=True)
    out = os.path.join(dist, "hsearch_spark.zip")
    pkg = os.path.join(ROOT, "hsearch_spark")
    paths = sorted(
        os.path.relpath(os.path.join(dirpath, fn), ROOT)
        for dirpath, _dirnames, filenames in os.walk(pkg)
        for fn in filenames
        if fn.endswith(".py")
    )
    with zipfile.ZipFile(out, "w", zipfile.ZIP_DEFLATED) as z:
        for rel in paths:
            info = zipfile.ZipInfo(rel, date_time=FIXED_DATE_TIME)
            info.compress_type = zipfile.ZIP_DEFLATED
            info.external_attr = 0o644 << 16  # regular file, rw-r--r--
            with open(os.path.join(ROOT, rel), "rb") as f:
                z.writestr(info, f.read())
    print(out)
    return out


if __name__ == "__main__":
    main()
