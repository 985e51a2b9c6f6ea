"""Scope projection + string coercion — the reference's core relational
ops (SURVEY.md §2.2).

Reference semantics being re-expressed (not copied — all Spark Column
algebra here):

* ``scope_project``: keep only the record's top-level keys named in
  ``instruction.scope``; ``scope=None`` keeps all
  (instructions_runners.py:37-39).  Spark: ``df.select`` — Catalyst
  turns this into column pruning pushed into the parquet scan.
* ``stringify_kv``: coerce every non-string top-level value to a JSON
  string (utils.py:10-17, ``json.dumps(..., ensure_ascii=False,
  indent=2)``).  Spark: ``F.to_json`` per non-string column (compact,
  JVM-side) by default; ``pretty=True`` byte-matches the reference via
  an Arrow-batched Python UDF (only needed for parity tests / prompt
  byte-stability — the hot path stays JVM-side).
* ``json_serialize``: serialize the scoped record to one JSON string —
  the LLM "user message" (instructions_runners.py:40-44).
* ``any_to_str``: scalar cast lattice str/int/float/list/dict
  (self_verification_mr.py:56-66).
* ``json_clean``: strip markdown code fences from LLM JSON output
  (self_verification_mr.py:52-53).
"""

from __future__ import annotations

import json
from collections.abc import Sequence

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T


def scope_project(df: DataFrame, scope: Sequence[str] | None) -> DataFrame:
    """Column pruning; ``scope=None`` == keep everything."""
    if scope is None:
        return df
    return df.select(*scope)


def to_json_keep_nulls(col: Column) -> Column:
    """``F.to_json`` with ``ignoreNullFields=false`` — the reference's
    ``json.dumps`` emits ``"key": null`` and DuckDB's ``to_json`` keeps
    nulls, while Spark's default drops them; this keeps byte parity for
    records containing null scoped fields."""
    return F.to_json(col, {"ignoreNullFields": "false"})


@F.udf(T.StringType(), useArrow=True)
def _pretty_json_str(x: str | None) -> str | None:
    """json.dumps(indent=2, ensure_ascii=False) over already-JSON text.

    Input is compact JSON text (from F.to_json); output is the
    reference's exact pretty form.  Arrow-batched; used only on
    parity paths.
    """
    if x is None:
        return None
    return json.dumps(json.loads(x), indent=2, ensure_ascii=False)


def _is_string_type(dt: T.DataType) -> bool:
    return isinstance(dt, T.StringType)


def stringify_kv(df: DataFrame, pretty: bool = False) -> DataFrame:
    """Coerce every non-string top-level column to a JSON string.

    Numeric columns are stringified via plain cast (matching
    ``json.dumps`` scalar output for ints; floats keep their shortest
    repr via JSON formatting), complex columns via ``to_json``.
    """
    # Null parity: json2str_kv (utils.py:10-17) never emits Python None —
    # a null value of ANY type (string included: isinstance(None, str) is
    # False) falls through to json.dumps(None) == "null".  Coalesce every
    # branch to the literal "null" to byte-match.
    cols: list[Column] = []
    for f in df.schema.fields:
        if _is_string_type(f.dataType):
            c = F.col(f.name)
        elif isinstance(f.dataType, (T.StructType, T.ArrayType, T.MapType)):
            c = to_json_keep_nulls(F.col(f.name))
            if pretty:
                c = _pretty_json_str(c)
        else:
            c = F.col(f.name).cast("string")
        cols.append(F.coalesce(c, F.lit("null")).alias(f.name))
    return df.select(*cols)


def scope_in_record_order(scope: Sequence[str] | None, available: Sequence[str]) -> list[str]:
    """The reference's scope filter preserves the INPUT record's key
    order, not the scope list's (instructions_runners.py:39 iterates
    ``input_data.items()``); ``scope=None`` keeps every key."""
    if scope is None:
        return list(available)
    wanted = set(scope)
    return [c for c in available if c in wanted]


def scoped_json_col(
    scope: Sequence[str] | None, available: Sequence[str], pretty: bool = False
) -> Column:
    """The scoped record as one JSON string, keys in record order.

    Compact JSON (JVM ``to_json``, nulls kept) by default;
    ``pretty=True`` byte-matches the reference's ``json.dumps(indent=2,
    ensure_ascii=False)`` via an Arrow-batched UDF."""
    cols = scope_in_record_order(scope, available)
    c = to_json_keep_nulls(F.struct(*[F.col(x) for x in cols]))
    return _pretty_json_str(c) if pretty else c


def json_serialize(
    df: DataFrame,
    scope: Sequence[str] | None,
    out_col: str = "serialized",
    pretty: bool = False,
) -> DataFrame:
    """Scoped record -> one JSON string column (the LLM user message)."""
    return df.withColumn(out_col, scoped_json_col(scope, df.columns, pretty))


def any_to_str(col: Column, dt: T.DataType) -> Column:
    """Scalar cast: str/int/float -> str, list/dict -> JSON text.

    The reference raises on any other type
    (self_verification_mr.py:56-66); we map the same lattice and let
    Spark's cast semantics cover the rest of the primitive types.
    """
    if isinstance(dt, (T.StructType, T.ArrayType, T.MapType)):
        return to_json_keep_nulls(col)
    return col.cast("string")


def json_clean(col: Column) -> Column:
    """Strip ```` ```json ```` / ```` ``` ```` fences from LLM output
    (self_verification_mr.py:52-53 does two str.replace calls)."""
    return F.regexp_replace(col, r"```json|```", "")
