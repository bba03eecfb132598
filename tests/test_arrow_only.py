"""Source scan: the sketch pipeline (build, merge, checkpoint) and every
finalizer cross the Python boundary as Arrow only.  ``pyspark.sql.pandas.types``
(Spark↔Arrow schema conversion) and pyarrow's ``Table.to_pandas`` (the
merge kernel's key grouping) stay allowed."""

import os
import re

import pytest

import stream_lib_spark

PKG = os.path.dirname(os.path.abspath(stream_lib_spark.__file__))
ARROW_ONLY = ["agg.py", "functions.py", "sketches/wire_export.py", "jobs/checkpoint.py"]
PANDAS_APIS = ("pandas_udf", "mapInPandas", "applyInPandas", "toPandas")


@pytest.mark.parametrize("module", ARROW_ONLY)
def test_module_has_no_pandas_path(module):
    with open(os.path.join(PKG, module)) as f:
        src = f.read()
    assert not re.search(r"^\s*(import|from)\s+pandas\b", src, re.M), f"{module} imports pandas"
    for api in PANDAS_APIS:
        assert api not in src, f"{module} uses {api}"
