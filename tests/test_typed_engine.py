"""Typed fast-path engine (`compiler/typed.py` + `engine.transform_table`):
value parity against the general variant engine on the same typed input,
plus fallback routing and error semantics."""

from __future__ import annotations

import json

import pytest
from pyspark.sql import functions as F

from rulemorph_spark.engine import transform_table
from rulemorph_spark.errors import extract_engine_error


def _collect_engine_error(df):
    """Actions on transform_table results raise Spark exceptions carrying
    the encoded engine error; recover the typed {kind, path} payload."""
    try:
        df.collect()
    except Exception as exc:
        err = extract_engine_error(exc)
        assert err is not None, f"no engine error in {exc}"
        return err
    raise AssertionError("expected an engine error")

RULE = """
version: 2
input: {format: json}
record_when: {gte: ["@input.qty", 1]}
mappings:
  - target: id
    source: id
  - target: label
    expr: ["@input.name", {uppercase: []}, {concat: ["-", "@input.status"]}]
  - target: total
    expr: ["@input.qty", {multiply: ["@input.price"]}, {round: [2]}]
  - target: qty_str
    expr: ["@input.qty", {to_string: []}]
  - target: fallback
    expr: [{coalesce: ["@input.nonexistent", "@input.name"]}]
  - target: tier
    expr:
      - "@input.price"
      - if:
          cond: {gte: ["$", 100]}
          then: "premium"
          else: "standard"
  - target: discounted
    when: {eq: ["@input.status", "open"]}
    expr: ["@input.price", {multiply: [0.9]}]
  - target: missing_with_default
    source: not_a_column
    default: 42
  - target: casted
    expr: ["@input.qty", {to_string: []}]
    type: int
  - target: rate
    source: context.rate
"""


def _df(spark):
    rows = [
        (1, "alpha", "open", 3, 50.0),
        (2, "beta", "closed", 2, 120.5),
        (3, "gamma", "open", 0, 10.0),     # filtered by record_when
        (4, "delta", "open", 1, 100.0),
    ]
    return spark.createDataFrame(
        rows, "id long, name string, status string, qty long, price double")


CTX = {"rate": 0.25}


def _rows_typed(df):
    key = df.columns[0]
    return [r.asDict(recursive=True)
            for r in sorted(df.collect(), key=lambda r: r[key])]


def _rows_variant(df):
    key = df.columns[0]
    out = df.select(*[F.to_json(c).alias(c) for c in df.columns])
    rows = []
    for r in sorted(out.collect(), key=lambda r: json.loads(r[key])):
        rows.append({k: (None if v is None else json.loads(v))
                     for k, v in r.asDict().items()})
    return rows


def test_typed_variant_parity(spark):
    df = _df(spark)
    typed = transform_table(df, RULE, context=CTX, mode="typed")
    variant = transform_table(df, RULE, context=CTX, mode="variant")
    t_rows, v_rows = _rows_typed(typed), _rows_variant(variant)
    assert len(t_rows) == len(v_rows) == 3  # qty=0 row filtered
    for t, v in zip(t_rows, v_rows):
        assert t == v, f"typed {t} != variant {v}"
    # spot-check concrete values
    assert t_rows[0] == {
        "id": 1, "label": "ALPHA-open", "total": 150.0, "qty_str": "3",
        "fallback": "alpha", "tier": "standard", "discounted": 45.0,
        "missing_with_default": 42, "casted": 3, "rate": 0.25}
    # gated-off mapping (status != open) → NULL under the table contract
    assert t_rows[1]["discounted"] is None


def test_typed_plan_has_no_variant_ops(spark):
    typed = transform_table(_df(spark), RULE, context=CTX, mode="typed")
    assert "variant" not in typed.schema.simpleString()
    plan = typed._jdf.queryExecution().optimizedPlan().toString()
    assert "schema_of_variant" not in plan
    assert "parse_json" not in plan


def test_round_falls_back_per_row_kind(spark):
    """round is v1-delegated even from v2 pipes: an integral rounded
    value re-emits as i64 PER ROW (json_number_from_f64), a kind a
    single typed column cannot carry.  The result is FLAGGED
    (TVal.reemit_kind): kind-blind consumers (native output columns,
    arithmetic) stay typed — the parity fixture above keeps its round
    — while kind-OBSERVING consumers (v2 serde rendering, v2 strict
    eq) defer to the variant engine (round-8 double-fuzz find: typed
    rendered 3.0 where the reference emits 3)."""
    import pytest

    from rulemorph_spark.compiler.typed import TypedFallback
    rule = """
version: 2
input: {format: json}
mappings:
  - target: out
    expr: ["@input.price", {round: [0]}, {concat: ["lit:|"]}]
"""
    with pytest.raises(TypedFallback, match="re-emission kind"):
        transform_table(_df(spark), rule, context=CTX, mode="typed")
    out = transform_table(_df(spark), rule, context=CTX, mode="auto")
    vals = [r["o"] for r in out.selectExpr(
        "CAST(out AS STRING) AS o").collect()]
    # integral results render as serde INTEGERS through v2 concat
    assert vals and all(v.endswith("|") and "." not in v
                        for v in vals), vals


def test_auto_falls_back_on_unsupported_op(spark):
    # `chunk` is an array op outside the typed subset → TypedFallback,
    # and mode="auto" routes to the variant engine
    rule = """
version: 2
input: {format: json}
mappings:
  - target: id
    source: id
  - target: pairs
    expr: ["@input.name", {split: ["a"]}, {chunk: [2]}]
"""
    from rulemorph_spark.compiler.typed import TypedFallback
    with pytest.raises(TypedFallback):
        transform_table(_df(spark), rule, mode="typed")
    out = transform_table(_df(spark), rule, mode="auto")
    rows = _rows_variant(out)
    assert rows[0]["id"] == 1 and rows[0]["pairs"] == [["", "lph"], [""]]


RULE_EXT = """
version: 2
input: {format: json}
mappings:
  - target: id
    source: id
  - target: fixed
    expr: ["@input.name", {replace: ["a", "o"]}]
  - target: fixed_all
    expr: ["@input.name", {replace: ["a", "o", "all"]}]
  - target: rx
    expr: ["@input.name", {replace: ["[aeiou]", "*", "regex"]}]
  - target: rx_all
    expr: ["@input.name", {replace: ["[aeiou]", "*", "regex_all"]}]
  - target: parts
    expr: ["@input.name", {split: ["a"]}]
  - target: n_parts
    expr: ["@input.name", {split: ["a"]}, {len: []}]
  - target: padded
    expr: ["@input.id", {to_string: []}, {pad_start: [6, "0"]}]
  - target: tail_pad
    expr: ["@input.name", {pad_end: [8, "."]}]
  - target: hexed
    expr: ["@input.id", {to_base: [16]}]
  - target: name_len
    expr: ["@input.name", {len: []}]
  - target: fmt
    expr: ["@input.when_str", {date_format: ["%Y/%m/%d"]}]
  - target: epoch
    expr: ["@input.when_str", {to_unixtime: []}]
"""


def test_typed_extended_ops_parity(spark):
    """replace/split/pad/len/to_base/date ops: typed ↔ variant parity."""
    df = spark.createDataFrame(
        [(30, "alpha", "2024-03-05T06:07:08Z"),
         (31, "banana", "2023-12-31 23:59:59"),
         (32, "xyz", "2020-01-01")],
        "id long, name string, when_str string")
    typed = transform_table(df, RULE_EXT, mode="typed")
    variant = transform_table(df, RULE_EXT, mode="variant")
    t_rows, v_rows = _rows_typed(typed), _rows_variant(variant)
    assert len(t_rows) == len(v_rows) == 3
    for t, v in zip(t_rows, v_rows):
        assert t == v, f"typed {t} != variant {v}"
    assert t_rows[0]["fixed"] == "olpha"
    assert t_rows[0]["fixed_all"] == "olpho"
    assert t_rows[0]["rx"] == "*lpha"
    assert t_rows[0]["rx_all"] == "*lph*"
    assert t_rows[1]["parts"] == ["b", "n", "n", ""]
    assert t_rows[1]["n_parts"] == 4
    assert t_rows[0]["padded"] == "000030"
    assert t_rows[2]["tail_pad"] == "xyz....."
    assert t_rows[0]["hexed"] == "1e"
    assert t_rows[0]["fmt"] == "2024/03/05"
    assert t_rows[0]["epoch"] == 1709618828


RULE_LOOKUP = """
version: 2
input: {format: json}
mappings:
  - target: id
    source: id
  - target: user_name
    expr:
      - lookup_first: ["@context.users", "uid", "@input.user_id", "name"]
  - target: tags
    expr:
      - lookup: ["@context.tags", "tid", "@input.tag_id", "value"]
"""

LOOKUP_CTX = {
    "users": [{"uid": 1, "name": "ann"}, {"uid": 2, "name": "bo"},
              {"uid": 2, "name": "shadowed"}],
    "tags": [{"tid": "a", "value": "red"}, {"tid": "a", "value": "blue"},
             {"tid": "b", "value": "green"}],
}


def test_typed_lookup_parity(spark):
    df = spark.createDataFrame(
        [(1, 1, "a"), (2, 2, "b"), (3, 9, "zz")],
        "id long, user_id long, tag_id string")
    typed = transform_table(df, RULE_LOOKUP, context=LOOKUP_CTX,
                            mode="typed")
    variant = transform_table(df, RULE_LOOKUP, context=LOOKUP_CTX,
                              mode="variant")
    t_rows, v_rows = _rows_typed(typed), _rows_variant(variant)
    for t, v in zip(t_rows, v_rows):
        assert t == v, f"typed {t} != variant {v}"
    assert t_rows[0] == {"id": 1, "user_name": "ann",
                         "tags": ["red", "blue"]}
    assert t_rows[1] == {"id": 2, "user_name": "bo", "tags": ["green"]}
    # no match: lookup_first → missing (NULL), lookup → empty array
    assert t_rows[2] == {"id": 3, "user_name": None, "tags": []}
    # the typed plan stays variant-free
    assert "variant" not in typed.schema.simpleString()


RULE_STEPS = """
version: 2
input: {format: json}
steps:
  - mappings:
      - target: id
        source: id
      - target: doubled
        expr: ["@input.qty", {multiply: [2]}]
  - record_when: {gte: ["@out.doubled", 4]}
  - mappings:
      - target: label
        expr: ["@out.doubled", {to_string: []}, {concat: ["-x"]}]
  - asserts:
      - when: {lte: ["@out.doubled", 1000]}
        error: {code: E_BIG, message: "too big"}
"""


def test_typed_steps_parity(spark):
    df = spark.createDataFrame(
        [(1, 1.0), (2, 3.0), (3, 10.0)], "id long, qty double")
    typed = transform_table(df, RULE_STEPS, mode="typed")
    variant = transform_table(df, RULE_STEPS, mode="variant")
    t_rows, v_rows = _rows_typed(typed), _rows_variant(variant)
    assert t_rows == v_rows
    # qty=1 → doubled=2 < 4 filtered; others survive with @out chaining
    # v2 to_string renders floats via serde Display — integral
    # floats KEEP .0 (r7 fix; interp-adjudicated)
    assert t_rows == [{"id": 2, "doubled": 6.0, "label": "6.0-x"},
                      {"id": 3, "doubled": 20.0, "label": "20.0-x"}]


def test_typed_steps_assert_raises(spark):
    df = spark.createDataFrame([(1, 800.0)], "id long, qty double")
    out = transform_table(df, RULE_STEPS, mode="typed")
    err = _collect_engine_error(out)
    assert err.kind == "AssertionFailed" and err.code == "E_BIG"


def test_typed_steps_assert_skips_filtered_rows(spark):
    # doubled=2 fails the assert bound? no — it fails record_when first,
    # so the assert must NOT fire for it even though 2 <= 1000 holds;
    # use a row that would fail the assert but is filtered earlier
    rule = RULE_STEPS.replace('lte: ["@out.doubled", 1000]',
                              'gte: ["@out.doubled", 4]')
    df = spark.createDataFrame([(1, 1.0)], "id long, qty double")
    out = transform_table(df, rule, mode="typed")
    assert out.collect() == []  # filtered, not raised


def test_typed_required_semantics(spark):
    # required + statically-missing column → MissingRequired on action
    rule_missing = """
version: 2
input: {format: json}
mappings:
  - target: x
    source: not_a_column
    required: true
"""
    out = transform_table(_df(spark), rule_missing, mode="typed")
    err = _collect_engine_error(out)
    assert err.kind == "MissingRequired"

    # required + runtime-null value → MissingRequired only on null rows
    df = spark.createDataFrame([(1, "a"), (2, None)],
                               "id long, name string")
    rule_null = """
version: 2
input: {format: json}
mappings:
  - target: n
    source: name
    required: true
"""
    ok = transform_table(df.filter("id = 1"), rule_null, mode="typed")
    assert ok.collect()[0]["n"] == "a"
    bad = transform_table(df, rule_null, mode="typed")
    assert _collect_engine_error(bad).kind == "MissingRequired"


def test_typed_null_operand_errors_and_lenient_when(spark):
    df = spark.createDataFrame([(1, "a", 2.0), (2, None, 3.0)],
                               "id long, name string, price double")
    # strict: concat over a null operand errors (null-operand protocol)
    strict = """
version: 2
input: {format: json}
mappings:
  - target: label
    expr: ["@input.name", {concat: ["!"]}]
"""
    out = transform_table(df, strict, mode="typed")
    assert _collect_engine_error(out).kind == "ExprError"
    # lenient: the same failure inside `when` is a skip, not an error
    lenient = """
version: 2
input: {format: json}
mappings:
  - target: id
    source: id
  - target: label
    when: {eq: [["@input.name", {concat: ["!"]}], "a!"]}
    value: matched
"""
    rows = _rows_typed(transform_table(df, lenient, mode="typed"))
    assert rows == [{"id": 1, "label": "matched"},
                    {"id": 2, "label": None}]


def test_typed_nested_targets(spark):
    rule = """
version: 2
input: {format: json}
mappings:
  - target: doc.id
    source: id
  - target: doc.meta.name
    source: name
  - target: top
    source: status
"""
    out = transform_table(_df(spark), rule, mode="typed")
    row = sorted(out.collect(), key=lambda r: r["doc"]["id"])[0]
    assert row["doc"]["id"] == 1 and row["doc"]["meta"]["name"] == "alpha"
    assert row["top"] == "open"


def test_typed_eq_cross_type_and_orderings(spark):
    df = spark.createDataFrame([(1, 1.0, "1"), (2, 2.5, "x")],
                               "i long, d double, s string")
    rule = """
version: 2
input: {format: json}
mappings:
  - target: i
    source: i
  - target: long_vs_double
    when: {eq: ["@input.i", "@input.d"]}
    value: eq
  - target: num_vs_numstr_order
    when: {lt: ["@input.s", 5]}
    value: lt
"""
    typed = _rows_typed(transform_table(df, rule, mode="typed"))
    variant = _rows_variant(transform_table(df, rule, mode="variant"))
    assert typed == variant
    # long 1 vs double 1.0: strict JSON equality is false ("1" vs "1.0")
    assert typed[0]["long_vs_double"] is None
    # "1" < 5 numerically; "x" vs 5 errors → lenient skip
    assert typed[0]["num_vs_numstr_order"] == "lt"
    assert typed[1]["num_vs_numstr_order"] is None


RULE_ARRAYS = """
version: 2
input: {format: json}
mappings:
  - target: id
    source: id
  - target: parts
    expr: ["@input.csv", {split: [","]}]
  - target: upper2
    expr: ["@input.csv", {split: [","]}, {map: [{uppercase: []}]},
           {take: [2]}]
  - target: nonb
    expr: ["@input.csv", {split: [","]},
           {filter: [["@item", {ne: ["b"]}]]}]
  - target: uniq
    expr: ["@input.csv", {split: [","]}, {unique: []}]
  - target: hasb
    expr: ["@input.csv", {split: [","]}, {contains: ["b"]}]
  - target: idx_z
    expr: ["@input.csv", {split: [","]}, {index_of: ["z"]}]
  - target: fidx_q
    expr: ["@input.csv", {split: [","]},
           {find_index: [["@item", {eq: ["q"]}]]}]
  - target: mid
    expr: ["@input.csv", {split: [","]}, {slice: [1, -1]}]
  - target: tail2
    expr: ["@input.csv", {split: [","]}, {take: [-2]}]
  - target: head_dropped
    expr: ["@input.csv", {split: [","]}, {drop: [1]}]
  - target: lens
    expr: ["@input.csv", {split: [","]}, {map: [{len: []}]}]
  - target: tagged
    expr:
      - "@input.csv"
      - split: [","]
      - map:
          - concat: ["_", "@item.index"]
      - drop: [-1]
  - target: long_gone
    expr: ["@input.csv", {split: [","]}, {take: [9223372036854775807]}]
"""


def test_typed_array_ops_parity(spark):
    """split → map/filter/take/drop/slice/unique/contains/index_of/
    find_index on native array<string> columns: typed ↔ variant parity
    (incl. i64-overflow-safe take, ``array_ops_overflow_32bit.rs``)."""
    df = spark.createDataFrame(
        [(1, "a,b,c,b,a"), (2, "x"), (3, "q,q,q,z")], "id long, csv string")
    typed = transform_table(df, RULE_ARRAYS, mode="typed")
    variant = transform_table(df, RULE_ARRAYS, mode="variant")
    t_rows, v_rows = _rows_typed(typed), _rows_variant(variant)
    assert len(t_rows) == len(v_rows) == 3
    for t, v in zip(t_rows, v_rows):
        assert t == v, f"typed {t} != variant {v}"
    # native types, concrete values
    assert typed.schema["parts"].dataType.simpleString() == "array<string>"
    assert typed.schema["lens"].dataType.simpleString() == "array<bigint>"
    r1 = t_rows[0]
    assert r1["upper2"] == ["A", "B"]
    assert r1["nonb"] == ["a", "c", "a"]
    assert r1["uniq"] == ["a", "b", "c"]
    assert r1["hasb"] is True and t_rows[1]["hasb"] is False
    assert t_rows[2]["idx_z"] == 3 and r1["idx_z"] == -1
    assert t_rows[2]["fidx_q"] == 0 and r1["fidx_q"] == -1
    assert r1["mid"] == ["b", "c", "b"]
    assert r1["tail2"] == ["b", "a"]
    assert r1["tagged"] == ["a_0", "b_1", "c_2", "b_3"]


def test_typed_array_plan_stays_native(spark):
    df = spark.createDataFrame([(1, "a,b")], "id long, csv string")
    typed = transform_table(df, RULE_ARRAYS, mode="typed")
    plan = typed._jdf.queryExecution().optimizedPlan().toString()
    assert "parse_json" not in plan and "variant" not in plan.lower()


def test_typed_v1_cmp_ops_string_coerced(spark):
    """pipe-step == is the v1 string-coerced equality (1 ≡ "1"), unlike
    the strict v2 condition eq (``transform.rs:5480-5493``)."""
    rule = """
version: 2
input: {format: json}
mappings:
  - target: op_eq
    expr: ["@input.n", {eq: ["1"]}]
  - target: ord_lt
    expr: ["@input.n", {lt: ["2"]}]
  - target: cond_eq
    expr:
      - "@input.n"
      - if:
          cond: {eq: ["$", "1"]}
          then: "strict-eq"
          else: "strict-ne"
"""
    df = spark.createDataFrame([(1, 1)], "id long, n long")
    typed = transform_table(df, rule, mode="typed")
    variant = transform_table(df, rule, mode="variant")
    t_rows, v_rows = _rows_typed(typed), _rows_variant(variant)
    assert t_rows == v_rows
    assert t_rows[0] == {"op_eq": True, "ord_lt": True,
                         "cond_eq": "strict-ne"}


# --- branch steps (typed) ------------------------------------------------

BRANCH_MAIN = """
version: 2
input: {format: json}
steps:
  - mappings:
      - target: id
        source: id
      - target: kind
        expr: ["@input.status"]
  - branch:
      when: {eq: ["@input.status", "open"]}
      then: open_rule.yaml
      else: closed_rule.yaml
  - mappings:
      - target: after
        value: "post-branch"
"""

BRANCH_OPEN = """
version: 2
input: {format: json}
mappings:
  - target: note
    expr: ["open:", {concat: ["@input.kind"]}]
  - target: score
    expr: ["@input.id", {multiply: [10]}]
  - target: nested.flag
    value: true
"""

BRANCH_CLOSED = """
version: 2
input: {format: json}
mappings:
  - target: note
    value: "closed"
  - target: kind
    value: "overwritten"
"""


def _write_rules(tmp_path, main=BRANCH_MAIN, **subs):
    (tmp_path / "main.yaml").write_text(main)
    for name, text in subs.items():
        (tmp_path / f"{name}.yaml").write_text(text)
    return str(tmp_path / "main.yaml"), str(tmp_path)


def _branch_df(spark):
    return spark.createDataFrame(
        [(1, "open"), (2, "closed"), (3, "open")], "id long, status string")


def test_typed_branch_merge_parity(spark, tmp_path):
    _write_rules(tmp_path, open_rule=BRANCH_OPEN, closed_rule=BRANCH_CLOSED)
    df = _branch_df(spark)
    kw = dict(base_dir=str(tmp_path))
    typed = transform_table(df, BRANCH_MAIN, mode="typed", **kw)
    variant = transform_table(df, BRANCH_MAIN, mode="variant", **kw)
    t_rows, v_rows = _rows_typed(typed), _rows_variant(variant)
    assert t_rows == v_rows
    by_id = {r["id"]: r for r in t_rows}
    # then-branch: sub reads parent @out via @input (transform.rs:509)
    assert by_id[1]["note"] == "open:open"
    assert by_id[1]["score"] == 10
    assert by_id[1]["nested"] == {"flag": True}
    assert by_id[1]["after"] == "post-branch"
    # else-branch deep-merge overwrites parent's `kind`
    assert by_id[2]["note"] == "closed"
    assert by_id[2]["kind"] == "overwritten"
    assert by_id[2]["score"] is None and by_id[2]["nested"] is None
    # typed plan stays variant-free
    plan = typed._jdf.queryExecution().optimizedPlan().toString()
    assert "schema_of_variant" not in plan and "parse_json" not in plan


BRANCH_RETURN_MAIN = """
version: 2
input: {format: json}
steps:
  - mappings:
      - target: id
        source: id
      - target: normal
        value: "kept"
  - branch:
      when: {gte: ["@input.id", 2]}
      then: ret_rule.yaml
      return: true
  - mappings:
      - target: late
        value: "only-non-returned"
"""

BRANCH_RET = """
version: 2
input: {format: json}
mappings:
  - target: id
    expr: ["@input.id", {multiply: [100]}, {int: []}]
  - target: routed
    value: true
"""

# v2 arithmetic yields serde FLOAT kind; merged with the main tree's
# Int id a single native column cannot keep the per-row number kind
# the reference preserves (Int 1 renders "1", Float 100.0 renders
# "100.0"), so mixed-kind return merges defer to the variant engine
# (r7; _unify refuses int/float mixes)
BRANCH_RET_MIXED_KIND = BRANCH_RET.replace(", {int: []}", "")


def test_typed_branch_return_parity(spark, tmp_path):
    _write_rules(tmp_path, main=BRANCH_RETURN_MAIN, ret_rule=BRANCH_RET)
    df = _branch_df(spark)
    kw = dict(base_dir=str(tmp_path))
    typed = transform_table(df, BRANCH_RETURN_MAIN, mode="typed", **kw)
    variant = transform_table(df, BRANCH_RETURN_MAIN, mode="variant", **kw)
    t_rows, v_rows = _rows_typed(typed), _rows_variant(variant)
    assert t_rows == v_rows
    by_id = {r["id"]: r for r in t_rows}
    # id>=2 rows take the returned tree ONLY (normal/late → absent → NULL)
    assert by_id[200] == {"id": 200, "normal": None, "routed": True,
                          "late": None}
    assert by_id[300] == {"id": 300, "normal": None, "routed": True,
                          "late": None}
    # non-returned row keeps the main tree; `routed` absent
    assert by_id[1] == {"id": 1, "normal": "kept", "routed": None,
                        "late": "only-non-returned"}


def test_typed_branch_return_mixed_kind_falls_back(spark, tmp_path):
    from rulemorph_spark.compiler.typed import TypedFallback
    _write_rules(tmp_path, main=BRANCH_RETURN_MAIN,
                 ret_rule=BRANCH_RET_MIXED_KIND)
    df = _branch_df(spark)
    kw = dict(base_dir=str(tmp_path))
    with pytest.raises(TypedFallback):
        transform_table(df, BRANCH_RETURN_MAIN, mode="typed", **kw)
    out = transform_table(df, BRANCH_RETURN_MAIN, mode="auto", **kw)
    rows = _rows_variant(out)
    by_id = {r["id"]: r for r in rows}
    assert by_id[200.0]["routed"] is True     # Float kind preserved
    assert by_id[1]["normal"] == "kept"


BRANCH_FILTER_SUB = """
version: 2
input: {format: json}
record_when: {gte: ["@input.id", 3]}
mappings:
  - target: big
    value: true
"""


def test_typed_branch_subrule_record_when_drops_rows(spark, tmp_path):
    main = """
version: 2
input: {format: json}
steps:
  - mappings:
      - target: id
        source: id
  - branch:
      when: {eq: ["@input.status", "open"]}
      then: filter_rule.yaml
"""
    _write_rules(tmp_path, main=main, filter_rule=BRANCH_FILTER_SUB)
    df = _branch_df(spark)
    kw = dict(base_dir=str(tmp_path))
    typed = transform_table(df, main, mode="typed", **kw)
    variant = transform_table(df, main, mode="variant", **kw)
    t_rows, v_rows = _rows_typed(typed), _rows_variant(variant)
    assert t_rows == v_rows
    # open rows (1, 3) route through sub-rule; its record_when keeps only
    # id>=3 → id=1 dropped; closed row (2) bypasses the branch entirely
    assert [r["id"] for r in t_rows] == [2, 3]
    assert t_rows[1]["big"] is True and t_rows[0]["big"] is None


def test_typed_branch_gates_subrule_errors(spark, tmp_path):
    """Sub-rule mapping errors must not fire for rows where the branch
    is not taken (rule.py gates values with F.when(gate, value))."""
    main = """
version: 2
input: {format: json}
steps:
  - mappings:
      - target: id
        source: id
  - branch:
      when: {eq: ["@input.status", "open"]}
      then: err_rule.yaml
"""
    # the sub-rule's @input is the parent @out (id only); casting the
    # parent's non-numeric status copy errors when (and only when) taken
    main = main.replace("- target: id\n        source: id",
                        "- target: id\n        source: id\n"
                        "      - target: kind\n        source: status")
    err_rule = """
version: 2
input: {format: json}
mappings:
  - target: strict
    source: kind
    required: true
    type: int
"""
    _write_rules(tmp_path, main=main, err_rule=err_rule)
    df = spark.createDataFrame(
        [(1, "closed"), (2, "closed")], "id long, status string")
    kw = dict(base_dir=str(tmp_path))
    # no row takes the branch → the int-cast error never evaluates
    typed = transform_table(df, main, mode="typed", **kw)
    assert [r["id"] for r in _rows_typed(typed)] == [1, 2]
    # and when a row DOES take it, the cast error surfaces
    df2 = spark.createDataFrame([(1, "open")], "id long, status string")
    err = _collect_engine_error(transform_table(df2, main,
                                                mode="typed", **kw))
    # v2 expr-level casts are ExprError (type_cast_error,
    # v2_eval.rs:1734-1740; r7 fix — TypeCastFailed is the
    # mapping-level `type:` only)
    assert err.kind == "ExprError"


def test_typed_branch_fallbacks(spark, tmp_path):
    from rulemorph_spark.compiler.typed import TypedFallback

    v1_sub = ("version: 1\ninput: {format: json}\n"
              "mappings:\n  - target: x\n    value: 1\n")
    main = """
version: 2
input: {format: json}
steps:
  - mappings:
      - target: id
        source: id
  - branch:
      when: {gte: ["@input.id", 1]}
      then: sub.yaml
"""
    _write_rules(tmp_path, main=main, sub=v1_sub)
    with pytest.raises(TypedFallback):
        transform_table(_branch_df(spark), main, mode="typed",
                        base_dir=str(tmp_path))
    # auto mode still works via the variant engine
    out = transform_table(_branch_df(spark), main, mode="auto",
                          base_dir=str(tmp_path))
    assert {r["id"]: r for r in _rows_variant(out)}[1]["x"] == 1


# --- typed array aggregations (sum/min/max/first/last/flatten) ----------

RULE_ARRAY_AGG = """
version: 2
input: {format: json}
mappings:
  - target: id
    source: id
  - target: total
    expr: ["@input.nums", {sum: []}]
  - target: lo
    expr: ["@input.nums", {min: []}]
  - target: hi
    expr: ["@input.nums", {max: []}]
  - target: head
    expr: ["@input.nums", {first: []}]
  - target: tail
    expr: ["@input.nums", {last: []}]
  - target: flat
    expr: ["@input.nested", {flatten: []}]
  - target: flat_first
    expr: ["@input.nested", {flatten: []}, {first: []}]
"""


def test_typed_array_agg_parity(spark):
    df = spark.createDataFrame(
        [(1, [3, 1, 2], [[1, 2], [3]]),
         (2, [], []),                      # empty → null / missing
         (3, [7], [[9], []]),
         (4, [-5, 5], [[], []])],
        "id long, nums array<long>, nested array<array<long>>")
    typed = transform_table(df, RULE_ARRAY_AGG, mode="typed")
    variant = transform_table(df, RULE_ARRAY_AGG, mode="variant")
    t_rows, v_rows = _rows_typed(typed), _rows_variant(variant)
    assert t_rows == v_rows
    # concrete values + native long types (integral re-emission)
    assert typed.schema["total"].dataType.simpleString() == "bigint"
    by_id = {r["id"]: r for r in t_rows}
    assert by_id[1] == {"id": 1, "total": 6, "lo": 1, "hi": 3, "head": 3,
                        "tail": 2, "flat": [1, 2, 3], "flat_first": 1}
    assert by_id[2]["total"] is None and by_id[2]["head"] is None
    assert by_id[4] == {"id": 4, "total": 0, "lo": -5, "hi": 5, "head": -5,
                        "tail": 5, "flat": [], "flat_first": None}


def test_typed_array_agg_null_element_errors(spark):
    df = spark.createDataFrame([([1, None, 3],)], "nums array<long>")
    rule = ("version: 2\ninput: {format: json}\nmappings:\n"
            "  - target: s\n    expr: [\"@input.nums\", {sum: []}]\n")
    err = _collect_engine_error(transform_table(df, rule, mode="typed"))
    assert err.kind == "ExprError"


def test_typed_array_agg_float_falls_back(spark):
    from rulemorph_spark.compiler.typed import TypedFallback
    df = spark.createDataFrame([([1.5, 2.5],)], "nums array<double>")
    rule = ("version: 2\ninput: {format: json}\nmappings:\n"
            "  - target: s\n    expr: [\"@input.nums\", {sum: []}]\n")
    with pytest.raises(TypedFallback):
        transform_table(df, rule, mode="typed")
    # auto mode: variant engine renders the f64 sum (4 → integral int)
    out = transform_table(df, rule, mode="auto")
    assert _rows_variant(out)[0]["s"] == 4


def test_dynamic_get_typed_native_over_map(spark):
    """Round 5 (VERDICT r4 next #7): a dynamic ``get`` key over a
    string-keyed scalar map compiles on the TYPED path (no
    TypedFallback — previously the whole rule paid variant decode for
    one dynamic path).  The dynamic key is a PARSED dot/bracket path
    (eval_json_get, transform.rs:4446-4474): over a scalar-valued map
    a multi-segment path dead-ends as missing; null base → missing,
    absent key → missing (default applies), JSON-null key → `expr arg
    must not be null`.
    """
    import json as _json

    import pytest

    from rulemorph_spark.compiler.typed import (TypedFallback,
                                                TypedRuleCompiler)
    from rulemorph_spark.engine import transform_table
    from rulemorph_spark.errors import extract_engine_error
    from rulemorph_spark.model import parse_rule_file

    df = spark.createDataFrame(
        [(1, {"a": 10, "b": 20}, "a"),
         (2, {"a": 1}, "zz"),
         (3, None, "a"),
         (5, {"k.y": 7}, "k.y")],
        "id long, m map<string,bigint>, k string")
    rule = """
version: 2
input: {format: json}
mappings:
  - target: id
    source: id
  - target: v
    expr: ["@input.m", {get: ["@input.k"]}]
    required: false
    default: -1
"""
    # compiles typed — the fallback is GONE for this shape
    out = TypedRuleCompiler(parse_rule_file(rule)).compile(df)
    typed = {r["id"]: r["v"] for r in out.collect()}
    variant = {_json.loads(r["id"]): _json.loads(r["v"]) for r in
               transform_table(df, rule, mode="variant")
               .select(F.to_json("id").alias("id"),
                       F.to_json("v").alias("v")).collect()}
    # r7: a dotted dynamic key DEEP-NAVIGATES (parse_path_tokens,
    # transform.rs:4461-4470) — the literal "k.y" map key is NOT
    # matched; interp-adjudicated (the r5 one-key pin was wrong)
    assert typed == variant == {1: 10, 2: -1, 3: -1, 5: -1}

    # static literal get over a map base is typed-native too
    rule_static = rule.replace('{get: ["@input.k"]}', '{get: ["a"]}')
    out2 = TypedRuleCompiler(parse_rule_file(rule_static)).compile(df)
    assert {r["id"]: r["v"] for r in out2.collect()} == \
        {1: 10, 2: 1, 3: -1, 5: -1}

    # JSON-null key errors identically in both engines
    dfn = spark.createDataFrame([(4, {"x": 5}, None)],
                                "id long, m map<string,bigint>, k string")
    errs = []
    for mode in ("typed", "variant"):
        with pytest.raises(Exception) as exc:
            transform_table(dfn, rule, mode=mode).collect()
        ee = extract_engine_error(exc.value)
        errs.append((ee.kind, ee.message))
    assert errs[0] == errs[1] == ("ExprError",
                                  "expr arg must not be null")

    # non-get consumers of a map column still fall back (map equality
    # must stay on the variant engine's canonical-text compare)
    rule_eq = """
version: 2
input: {format: json}
mappings:
  - target: id
    source: id
  - target: same
    expr: ["@input.m", {eq: ["@input.m"]}]
"""
    with pytest.raises(TypedFallback):
        TypedRuleCompiler(parse_rule_file(rule_eq)).compile(df)


def test_dynamic_get_lenient_record_when_parity(spark):
    """Dynamic get inside record_when (lenient mode): null key rows
    downgrade the would-be error to false in BOTH engines; null base
    and absent keys are missing -> false."""
    import json as _json

    from rulemorph_spark.engine import transform_table

    df = spark.createDataFrame(
        [(1, {"a": 10}, "a"), (2, {"a": 1}, "a"),
         (3, {"a": 10}, None), (4, None, "a"), (5, {"a": 10}, "zz")],
        "id long, m map<string,bigint>, k string")
    rule = """
version: 2
input: {format: json}
record_when: ["@input.m", {get: ["@input.k"]}, {gte: [5]}]
mappings:
  - target: id
    source: id
"""
    t = sorted(r["id"] for r in
               transform_table(df, rule, mode="typed").collect())
    v = sorted(_json.loads(r["id"]) for r in
               transform_table(df, rule, mode="variant")
               .select(F.to_json("id").alias("id")).collect())
    assert t == v == [1]


@pytest.mark.parametrize("expr", [
    ["@input.nul", {"to_base": ["@input.nope"]}],
    ["@input.nul", {"to_base": ["@input.m.b"]}],
    ["@input.id", {"to_base": ["@input.nope"]}],
    ["@input.nul", {"to_base": [16]}],
])
def test_to_base_missing_base_before_null_value(spark, expr):
    """``eval_to_base`` checks both operands for missing before either
    for null: a missing base (static, or per row through a map) makes a
    null value missing, in both engines as in interp."""
    from rulemorph_spark import interp as I

    rows = [(1, None, {}), (2, None, {"c": 3})]
    df = spark.createDataFrame(rows, "id long, nul long, m map<string,long>")
    rule = ("version: 2\ninput: {format: json}\nmappings:\n"
            "  - target: id\n    source: id\n"
            f"  - target: out\n    expr: {json.dumps(expr)}\n")
    try:
        want = sorted(json.dumps(r, sort_keys=True) for r in I.transform(
            rule, input_text=json.dumps([{"id": i, "nul": n, "m": m}
                                         for i, n, m in rows])))
    except I.InterpError as e:
        want = (e.kind, e.message, e.path)
    for mode in ("typed", "variant"):
        out = transform_table(df, rule, mode=mode)
        try:
            got = sorted(json.dumps(json.loads(r[0]), sort_keys=True)
                         for r in out.select(F.to_json(F.struct(
                             *out.columns))).collect())
        except Exception as exc:
            err = extract_engine_error(exc)
            got = (err.kind, err.message, err.path) if err else repr(exc)
        assert got == want, (mode, got, want)
