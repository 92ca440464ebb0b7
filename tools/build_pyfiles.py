"""Build dist/hsearch_spark.zip for spark-submit --py-files.

The zip is reproducible: entries are written in sorted path order with a
fixed timestamp and mode, so a rebuild from unchanged sources is
byte-identical to the previous one.
"""

from __future__ import annotations

import os
import zipfile

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
# earliest timestamp a zip entry can carry
_ZIP_EPOCH = (1980, 1, 1, 0, 0, 0)


def main() -> str:
    dist = os.path.join(ROOT, "dist")
    os.makedirs(dist, exist_ok=True)
    out = os.path.join(dist, "hsearch_spark.zip")
    with zipfile.ZipFile(out, "w", zipfile.ZIP_DEFLATED) as z:
        pkg = os.path.join(ROOT, "hsearch_spark")
        for dirpath, dirnames, filenames in os.walk(pkg):
            dirnames.sort()  # os.walk descends in this (now sorted) order
            for fn in sorted(filenames):
                if fn.endswith(".py"):
                    full = os.path.join(dirpath, fn)
                    info = zipfile.ZipInfo(os.path.relpath(full, ROOT), _ZIP_EPOCH)
                    info.compress_type = zipfile.ZIP_DEFLATED
                    info.external_attr = 0o644 << 16
                    with open(full, "rb") as f:
                        z.writestr(info, f.read())
    print(out)
    return out


if __name__ == "__main__":
    main()
