"""``package_zip`` ships the checkout it runs from: two copies of the
package on one machine each get a zip of their own source, so a driver
never puts another checkout's code on its executors."""

import os
import shutil
import tempfile
import zipfile

import stream_lib_spark
from stream_lib_spark.jobs.session import package_zip


def test_each_package_tree_ships_its_own_source(tmp_path, monkeypatch):
    src = os.path.dirname(os.path.abspath(stream_lib_spark.__file__))
    copy = tmp_path / "checkout" / "stream_lib_spark"
    shutil.copytree(src, copy, ignore=shutil.ignore_patterns("__pycache__"))
    altered = copy / "functions.py"
    altered.write_text(altered.read_text() + "\n# altered in the second checkout\n")
    zips = tmp_path / "tmp"
    zips.mkdir()
    monkeypatch.setattr(tempfile, "tempdir", str(zips))

    for tree in (str(copy), src, str(copy)):
        monkeypatch.setattr(stream_lib_spark, "__file__", os.path.join(tree, "__init__.py"))
        with zipfile.ZipFile(package_zip()) as zf:
            shipped = zf.read("stream_lib_spark/functions.py").decode()
        with open(os.path.join(tree, "functions.py")) as f:
            assert shipped == f.read(), f"zip for {tree} holds another tree's source"
