"""Property-based typed↔variant parity (hypothesis): random rows
through the same rule on both engine paths must agree exactly.

Covers the extended typed op subset (replace modes, pads, split+len,
to_base, arithmetic+round, date ops, and the array ops over a split:
take/drop/slice, unique, contains, index_of, find_index) over
generated strings (including regex-special characters), integers,
floats, and datetimes.
"""

from __future__ import annotations

import json

from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st

from rulemorph_spark.engine import transform_table

RULE = """
version: 2
input: {format: json}
mappings:
  - target: id
    source: id
  - target: rep_first
    expr: ["@input.s", {replace: ["a", "X"]}]
  - target: rep_all
    expr: ["@input.s", {replace: ["a", "X", "all"]}]
  - target: rep_rx
    expr: ["@input.s", {replace: ["[0-9]", "#", "regex"]}]
  - target: rep_rx_all
    expr: ["@input.s", {replace: ["[0-9]", "#", "regex_all"]}]
  - target: padded
    expr: ["@input.s", {pad_end: [10, "xy"]}]
  - target: n_parts
    expr: ["@input.s", {split: [","]}, {len: []}]
  - target: slen
    expr: ["@input.s", {len: []}]
  - target: based
    expr: ["@input.i", {to_base: [7]}]
  - target: arith
    expr: ["@input.x", {multiply: [3]}, {add: ["@input.i"]}, {round: [3]}]
  - target: fmt
    expr: ["@input.d", {date_format: ["%d/%m/%Y %H:%M"]}]
  - target: epoch_ms
    expr: ["@input.d", {to_unixtime: ["ms"]}]
  - target: head2
    expr: ["@input.s", {split: [","]}, {take: [2]}]
  - target: tail2
    expr: ["@input.s", {split: [","]}, {take: [-2]}]
  - target: dropped
    expr: ["@input.s", {split: [","]}, {drop: [1]}]
  - target: dropped_tail
    expr: ["@input.s", {split: [","]}, {drop: [-1]}]
  - target: sliced
    expr: ["@input.s", {split: [","]}, {slice: [1, -1]}]
  - target: sliced_tail
    expr: ["@input.s", {split: [","]}, {slice: [-2]}]
  - target: uniq
    expr: ["@input.s", {split: [","]}, {unique: []}]
  - target: has_a
    expr: ["@input.s", {split: [","]}, {contains: ["a"]}]
  - target: idx_a
    expr: ["@input.s", {split: [","]}, {index_of: ["a"]}]
  - target: first_long
    expr:
      - "@input.s"
      - split: [","]
      - find_index: [["@item", {len: []}, {gt: [1]}]]
"""

ROW = st.tuples(
    # a comma-rich alphabet so the split arrays repeat and vary in length
    st.one_of(st.text(max_size=12),
              st.text(alphabet="a,b", max_size=12)),
    st.integers(min_value=-10**12, max_value=10**12),
    st.floats(allow_nan=False, allow_infinity=False,
              min_value=-1e9, max_value=1e9),
    st.datetimes(min_value=__import__("datetime").datetime(1971, 1, 1),
                 max_value=__import__("datetime").datetime(2200, 1, 1)),
)


def _rows_typed(df):
    return [r.asDict() for r in sorted(df.collect(), key=lambda r: r["id"])]


def _rows_variant(df):
    from pyspark.sql import functions as F
    out = df.select(*[F.to_json(c).alias(c) for c in df.columns])
    rows = []
    for r in sorted(out.collect(), key=lambda r: json.loads(r["id"])):
        rows.append({k: (None if v is None else json.loads(v))
                     for k, v in r.asDict().items()})
    return rows


@settings(max_examples=6, deadline=None,
          suppress_health_check=list(HealthCheck))
@given(st.lists(ROW, min_size=1, max_size=12))
def test_typed_variant_parity_random(spark, rows):
    data = [(i, s, n, x, d.strftime("%Y-%m-%dT%H:%M:%SZ"))
            for i, (s, n, x, d) in enumerate(rows)]
    df = spark.createDataFrame(
        data, "id long, s string, i long, x double, d string")
    typed = transform_table(df, RULE, mode="typed")
    variant = transform_table(df, RULE, mode="variant")
    t_rows, v_rows = _rows_typed(typed), _rows_variant(variant)
    assert len(t_rows) == len(v_rows)
    for t, v in zip(t_rows, v_rows):
        assert t == v, f"typed {t} != variant {v}"
