"""The session that get_spark builds."""

from __future__ import annotations

import pytest
from pyspark.errors import ArithmeticException
from pyspark.sql import functions as F


def test_call_site_capture_is_off(spark):
    assert spark.conf.get("spark.python.sql.dataFrameDebugging.enabled") == "false"


def test_ansi_modulo_by_zero_still_raises(spark):
    """Without call-site capture a runtime error keeps its class and
    condition; only its DataFrame context loses the Python file:line."""
    with pytest.raises(ArithmeticException) as err:
        spark.range(3).select(F.col("id") % F.lit(0)).collect()
    assert err.value.getCondition() == "REMAINDER_BY_ZERO"
