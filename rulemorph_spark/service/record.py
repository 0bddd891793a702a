"""Single-record rule application for the service layers.

Endpoint/MCP requests transform ONE record at a time.  Each call
compiles its rule again (there is no plan cache) over a driver-local
1-row relation: the record enters as an inline ``VALUES`` table, so
the plan's leaf is a ``LocalRelation`` and the optimizer's
``ConvertToLocalRelation`` folds the whole Project/Filter rule plan
into a ``LocalTableScan`` evaluated on the driver — ``collect()``
launches no Spark job.  A job still runs when the plan holds a
Python-UDF bridge op (it cannot be evaluated on the driver) or a
``finalize.filter`` over ``@item.index`` (it re-indexes through an RDD).
"""

from __future__ import annotations

import json
from typing import Any

from pyspark.sql import SparkSession
from pyspark.sql import functions as F

from ..engine import apply_finalize, _apply_wrap
from ..errors import extract_engine_error
from ..model import RuleFile, parse_rule_file

_RECORD_SQL = ("SELECT __idx__, parse_json(__raw__) AS __record__ "
               "FROM VALUES (0L, :raw) AS t(__idx__, __raw__)")


def transform_record(spark: SparkSession, rule: RuleFile | str,
                     record: Any, context: Any = None,
                     base_dir: str = ".") -> Any | None:
    """Apply a rule to one record (``transform_record_with_warnings_inner``,
    ``transform.rs:288-308``): returns the output value, or None when the
    record is filtered out; finalize applies to the singleton array."""
    if isinstance(rule, str):
        rule = parse_rule_file(rule)
    from ..compiler.rule import Builder, RuleCompiler

    df = spark.sql(_RECORD_SQL, args={"raw": json.dumps(record)})
    builder = Builder(df)
    compiled = RuleCompiler(rule, context=context,
                            base_dir=base_dir).compile(
        builder, F.col("__record__"))
    result = (builder.df.withColumn("__keep__", compiled.keep)
              .filter(F.col("__keep__"))
              .withColumn("__json__", compiled.out_json())
              .select("__idx__", "__json__"))
    try:
        result, wrap = apply_finalize(result, rule, context)
        rows = result.collect()
    except Exception as exc:
        err = extract_engine_error(exc)
        if err is not None:
            raise err from exc
        raise
    records = [json.loads(r["__json__"]) for r in rows]
    if wrap is not None:
        return _apply_wrap(records, wrap, rule, spark, context)
    if rule.finalize is not None:
        return records[0] if len(records) == 1 else records
    return records[0] if records else None
