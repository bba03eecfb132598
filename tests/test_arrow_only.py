"""Source scan: the sketch pipeline (build, merge, checkpoint), every
finalizer, and the text and vector kernels cross the Python boundary
as Arrow only, and the checkpoint job runs the library's one pipeline
instead of kernels of its own.
``pyspark.sql.pandas.types`` (Spark↔Arrow schema conversion) stays
allowed."""

import os
import re

import pytest

import stream_lib_spark

PKG = os.path.dirname(os.path.abspath(stream_lib_spark.__file__))
ARROW_ONLY = ["agg.py", "functions.py", "sketches/wire_export.py", "jobs/checkpoint.py",
              "textops.py", "similarity.py"]
PANDAS_APIS = ("pandas_udf", "mapInPandas", "applyInPandas", "toPandas")


def _source(module):
    with open(os.path.join(PKG, module)) as f:
        return f.read()


@pytest.mark.parametrize("module", ARROW_ONLY)
def test_module_has_no_pandas_path(module):
    src = _source(module)
    assert not re.search(r"^\s*(import|from)\s+pandas\b", src, re.M), f"{module} imports pandas"
    for api in PANDAS_APIS:
        assert api not in src, f"{module} uses {api}"


def test_agg_groups_without_pandas():
    assert "to_pandas" not in _source("agg.py")


def test_checkpoint_has_no_private_kernels():
    src = _source("jobs/checkpoint.py")
    for name in ("applyInArrow", "_groups", "_offer"):
        assert name not in src, f"jobs/checkpoint.py uses {name}"


def test_driver_rows_enter_spark_as_arrow():
    """Rows held on the driver reach Spark through ``agg._local_frame``
    (an Arrow table, planned as a LocalTableScan) and nowhere else: no
    ``createDataFrame`` of a Python list, which is a pickled Python RDD."""
    jobs = sorted(f"jobs/{f}" for f in os.listdir(os.path.join(PKG, "jobs")) if f.endswith(".py"))
    calls = {m: _source(m).count("createDataFrame(") for m in ["agg.py", "functions.py", *jobs]}
    assert calls.pop("agg.py") == 1 and not any(calls.values()), calls
    local_frame = _source("agg.py").split("def _local_frame(")[1].split("\ndef ")[0]
    assert "createDataFrame(" in local_frame
