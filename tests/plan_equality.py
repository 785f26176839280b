"""Plan-equality check for expression builders that replace one
construction with another (SQL text for Column-by-Column builds)."""

from __future__ import annotations

import re

# expression ids, and the generated names of lambda variables (the
# Column API numbers them, x_1, y_2, ...; SQL text names them)
_IDS = re.compile(r"#\d+|(?<=lambda )\w+#\d+")


def assert_same_analyzed(new, old) -> None:
    """`new` and `old` analyze to the same plan: canonically equal,
    and the same tree as printed up to expression ids and lambda
    variable names (canonicalization covers the binding). Canonical
    equality alone is not enough for floating point, because
    canonicalization reorders commutative operators ((a + b) + c and
    a + (b + c) canonicalize alike)."""
    a = new._jdf.queryExecution().analyzed()
    b = old._jdf.queryExecution().analyzed()
    assert a.sameResult(b), "not canonically equal"
    # no field limit: the default one truncates long projections
    conf = new.sparkSession.conf
    conf.set("spark.sql.debug.maxToStringFields", 1 << 20)
    try:
        assert _IDS.sub("#", a.toString()) == _IDS.sub("#", b.toString())
    finally:
        conf.unset("spark.sql.debug.maxToStringFields")
