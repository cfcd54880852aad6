"""The spark-submit --py-files zip ships exactly the package source."""

from __future__ import annotations

import importlib.util
import os
import zipfile

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def test_package_zip_holds_exactly_the_package_modules(tmp_path):
    spec = importlib.util.spec_from_file_location(
        "package_script", os.path.join(ROOT, "scripts", "package.py"))
    package = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(package)

    out = package.build(str(tmp_path / "headson_spark.zip"))
    with zipfile.ZipFile(out) as z:
        shipped = {n for n in z.namelist() if n.endswith(".py")}
    source = set()
    for dirpath, _dirnames, filenames in os.walk(
            os.path.join(ROOT, "headson_spark")):
        source |= {os.path.relpath(os.path.join(dirpath, fn), ROOT)
                   for fn in filenames if fn.endswith(".py")}
    assert shipped == source
    assert "headson_spark/streaming/engine.py" in shipped
