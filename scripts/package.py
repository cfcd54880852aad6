"""Build dist/headson_spark.zip for spark-submit --py-files."""

from __future__ import annotations

import os
import zipfile


def build(out: str = "dist/headson_spark.zip") -> str:
    root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    out_path = os.path.join(root, out)
    os.makedirs(os.path.dirname(out_path), exist_ok=True)
    pkg = os.path.join(root, "headson_spark")
    with zipfile.ZipFile(out_path, "w", zipfile.ZIP_DEFLATED) as z:
        for dirpath, _dirnames, filenames in os.walk(pkg):
            if "__pycache__" in dirpath:
                continue
            for fn in filenames:
                if fn.endswith(".pyc"):
                    continue
                full = os.path.join(dirpath, fn)
                rel = os.path.relpath(full, root)
                z.write(full, rel)
    return out_path


if __name__ == "__main__":
    print(build())
