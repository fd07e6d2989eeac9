"""Contract oracle gate: every registry entry, run on Spark over
the sf0.01 testdata, must equal its DuckDB oracle (the same comparison
as ``tools/check_oracles.py``)."""

from __future__ import annotations

import os
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from motive_rdf_spark.__main__ import DOGFOOD  # noqa: E402
from motive_rdf_spark.contract import registry  # noqa: E402
from tools.check_oracles import SF_DIR, check, connect  # noqa: E402

# entries whose input is a reference dataset rather than the testdata
FIXTURES = {
    "dogfood_goldens": DOGFOOD,
    "hdt_goldens": os.path.join(os.path.dirname(DOGFOOD), "aifb.complete.hdt"),
}

pytestmark = pytest.mark.skipif(
    not os.path.isdir(SF_DIR), reason="sf0.01 testdata not available"
)


@pytest.fixture(scope="module")
def con():
    c = connect()
    yield c
    c.close()


@pytest.mark.parametrize("name", list(registry()))
def test_entry_matches_oracle(spark, con, name):
    if name in FIXTURES and not os.path.exists(FIXTURES[name]):
        pytest.skip(f"{FIXTURES[name]} not available")
    ok, report = check(spark, con, name)
    assert ok, f"{name}: {report}"
