"""Property-based op-semantics tests (hypothesis): random inputs through
the compiled engine vs an independent Python model of the reference
semantics (take/drop clamping, slice windows, unique's string-coerced
equality, round half-away-from-zero, to_base digits, pad no-truncate).

One engine run covers a whole batch of generated records, keeping Spark
job count low.
"""

from __future__ import annotations

import json
import math

import pytest
from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st

from rulemorph_spark.engine import transform

RULE = """
version: 2
input:
  format: json
  json: {}
mappings:
  - target: "take_n"
    expr: ["@input.arr", {take: ["@input.n"]}]
  - target: "drop_n"
    expr: ["@input.arr", {drop: ["@input.n"]}]
  - target: "slice_ab"
    expr: ["@input.arr", {slice: ["@input.a", "@input.b"]}]
  - target: "uniq"
    expr: ["@input.mixed", "unique"]
  - target: "rounded"
    expr: ["@input.x", {round: [2]}]
  - target: "based"
    expr: ["@input.i", {to_base: [16]}]
  - target: "padded"
    expr: ["@input.s", {pad_start: [6, "ab"]}]
"""


def model(rec):
    arr, n = rec["arr"], rec["n"]
    a, b = rec["a"], rec["b"]
    size = len(arr)
    nc = max(min(n, size), -size)
    take_n = arr[:nc] if n >= 0 else arr[size + nc:]
    drop_n = arr[nc:] if n >= 0 else arr[:size + nc]
    sa = min(a if a >= 0 else max(size + a, 0), size)
    sb = min(b if b >= 0 else max(size + b, 0), size)
    slice_ab = arr[sa:sb] if sb > sa else []

    seen, uniq = set(), []
    for v in rec["mixed"]:
        key = ("\0null" if v is None else
               ("true" if v else "false") if isinstance(v, bool) else
               str(int(v)) if isinstance(v, float) and v == int(v) else
               str(v))
        if key not in seen:
            seen.add(key)
            uniq.append(v)

    x = rec["x"]
    scaled = x * 100
    r = math.floor(scaled + 0.5) if scaled >= 0 else math.ceil(scaled - 0.5)
    rounded = r / 100
    if rounded == int(rounded):
        rounded = int(rounded)

    i = rec["i"]
    digits = "0123456789abcdef"
    m_, out = abs(i), ""
    while m_:
        out = digits[m_ % 16] + out
        m_ //= 16
    based = ("-" if i < 0 else "") + (out or "0")

    s = rec["s"]
    if len(s) >= 6:
        padded = s
    else:
        need = 6 - len(s)
        padded = ("ab" * need)[:need] + s

    return {"take_n": take_n, "drop_n": drop_n, "slice_ab": slice_ab,
            "uniq": uniq, "rounded": rounded, "based": based,
            "padded": padded}


record_strategy = st.fixed_dictionaries({
    "arr": st.lists(st.integers(-5, 99), max_size=6),
    "n": st.integers(-8, 8),
    "a": st.integers(-8, 8),
    "b": st.integers(-8, 8),
    "mixed": st.lists(
        st.one_of(st.integers(-3, 3), st.booleans(), st.none(),
                  st.sampled_from(["1", "2", "x", "true"])),
        max_size=6),
    "x": st.floats(-1000, 1000, allow_nan=False,
                   allow_infinity=False).map(lambda v: round(v, 4)),
    "i": st.integers(-10**12, 10**12),
    "s": st.text(alphabet="xyz", max_size=8),
})


def _num_eq(a, b):
    if isinstance(a, (int, float)) and isinstance(b, (int, float)):
        return math.isclose(a, b, rel_tol=1e-9, abs_tol=1e-9)
    return a == b


@settings(max_examples=5, deadline=None,
          suppress_health_check=[HealthCheck.function_scoped_fixture])
@given(records=st.lists(record_strategy, min_size=1, max_size=25))
def test_ops_match_model(spark, records):
    out = transform(spark, RULE, input_text=json.dumps(records))
    assert len(out) == len(records)
    for rec, got in zip(records, out):
        want = model(rec)
        for key, expected in want.items():
            actual = got.get(key)
            if isinstance(expected, list):
                assert len(actual) == len(expected), (key, rec, got)
                assert all(_num_eq(x, y)
                           for x, y in zip(actual, expected)), \
                    (key, rec, got)
            else:
                assert _num_eq(actual, expected), (key, rec, got)


@pytest.mark.parametrize("value,scale,want", [
    (1e20, 0, 1e20),            # |x| >= 2^53: f64::round is the identity
    (-1e20, 2, -1e20),
    (2.5, 0, 3.0),              # half away from zero
    (-2.5, 0, -3.0),
    (1.005, 1, 1.0),
])
def test_round_half_away_matches_interp(spark, value, scale, want):
    """functions.scalar.round_half_away is the engines' round kernel:
    Spark's floor/ceil over DOUBLE return BIGINT, so without the 2^53
    guard round_half_away(1e20) clamps to 9.223372036854776e18."""
    from pyspark.sql import functions as F

    from rulemorph_spark import interp as I
    from rulemorph_spark.functions.scalar import round_half_away

    got = spark.range(1).select(
        round_half_away(F.lit(value), scale).alias("r")).collect()[0]["r"]
    rule = ("version: 2\ninput: {format: json}\nmappings:\n"
            f"  - target: r\n    expr: [\"@input.x\", {{round: [{scale}]}}]\n")
    oracle = I.transform(rule, input_text=json.dumps([{"x": value}]))
    assert got == want == oracle[0]["r"]
