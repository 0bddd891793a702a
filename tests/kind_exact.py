"""Kind-exact outcomes for comparing engines.

A transform's outcome is ``("ok", JSON text of its value)`` or
``("err", kind, message, path)``.  Comparing JSON text, not values,
keeps number kinds apart: ``45000`` and ``45000.0`` compare equal as
Python values but differ as text, and the reference writes them
differently.  Object key order is compared too, unless ``sort_keys``
(the engine writes keys in target order, ``interp`` sorted).
"""

from __future__ import annotations

import json

from rulemorph_spark import interp as I
from rulemorph_spark.engine import transform
from rulemorph_spark.errors import TransformEngineError


def outcome(call, sort_keys: bool = False) -> tuple:
    """The kind-exact outcome of ``call()``: an engine or interpreter
    error becomes ``("err", kind, message, path)``."""
    try:
        return ("ok", json.dumps(call(), sort_keys=sort_keys))
    except (TransformEngineError, I.InterpError) as e:
        return ("err", e.kind, e.message, e.path)


def engine(spark, rule: str, records: list, context=None,
           sort_keys: bool = False) -> tuple:
    """``engine.transform`` of ``records`` (a JSON document)."""
    return outcome(lambda: transform(spark, rule,
                                     input_text=json.dumps(records),
                                     context=context), sort_keys)


def oracle(rule: str, records: list, context=None,
           sort_keys: bool = False) -> tuple:
    """``interp.transform``, the independent oracle."""
    return outcome(lambda: I.transform(rule, input_text=json.dumps(records),
                                       context=context), sort_keys)


def table_rows(df) -> list[str]:
    """A DataFrame's rows as sorted JSON text, typed and variant
    columns alike (``to_json`` renders each as it is)."""
    from pyspark.sql import functions as F
    return sorted(r[0] for r in df.select(
        F.to_json(F.struct(*df.columns))).collect())
