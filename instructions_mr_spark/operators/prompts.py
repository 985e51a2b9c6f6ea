"""Prompt assembly (SURVEY.md §2.2) — deterministic, JVM-side.

All reference behaviors re-expressed as Spark Column expressions:

* ``build_sys_msg`` — reference builds the system message from the
  instruction's fields only, ignoring the record
  (instructions_runners.py:46-60: optional ``## Instruction`` /
  ``## Your Role`` / ``## Your Given Input`` / ``## The Extected
  Output`` [typo preserved for byte parity] sections).  Because it is
  data-independent it is a *plan-time literal*, not a runtime column.
* ``user_msg_col`` — user message = serialized scoped input
  (instructions_runners.py:62-67).
* ``chatml_col`` — ``[system, user]`` transcript; mistral dialect
  rewrite: if "mistral" in model name, system becomes a user turn and
  an ``{"assistant": "Ok."}`` turn is injected between
  (instructions_runners.py:69-91).
* ``prompt_template_sub`` — ``__ROLE__``/``__INPUT_DESC__``/
  ``__OUTPUT_DESC__`` placeholder substitution on a template
  (self_verification_mr.py:37-49, 473-486).
* ``xml_tag_wrap`` — wrap each grouped input as
  ``<NAME>\ncontent\n</NAME>\n\n`` and concatenate in scope order
  (self_verification_mr.py:457-471).
"""

from __future__ import annotations

from collections.abc import Mapping, Sequence

from pyspark.sql import Column
from pyspark.sql import functions as F
from pyspark.sql import types as T

from instructions_mr_spark.config import Instruction
from instructions_mr_spark.operators.scope import scoped_json_col

CHATML_TYPE = T.ArrayType(
    T.StructType(
        [
            T.StructField("role", T.StringType()),
            T.StructField("content", T.StringType()),
        ]
    )
)


def build_sys_msg(ins: Instruction) -> str:
    """Plan-time literal; section order and headers match the reference
    byte-for-byte (including the 'Extected' typo,
    instructions_runners.py:57)."""
    parts: list[str] = []
    if ins.content is not None:
        parts.append(f"## Instruction\n{ins.content}\n\n")
    if ins.role is not None:
        parts.append(f"## Your Role\n{ins.role}\n\n")
    if ins.input_desc is not None:
        parts.append(f"## Your Given Input\n{ins.input_desc}\n\n")
    if ins.output_desc is not None:
        parts.append(f"## The Extected Output\n{ins.output_desc}\n\n")
    return "".join(parts)


def user_msg_col(
    scope: Sequence[str] | None, available: Sequence[str], pretty: bool = False
) -> Column:
    """User message column = the JSON-serialized scoped record
    (``scope.scoped_json_col``: keys in record order, ``pretty=True``
    for the reference's exact indent=2 form)."""
    return scoped_json_col(scope, available, pretty)


def _msg(role: str, content: Column | str) -> Column:
    c = content if isinstance(content, Column) else F.lit(content)
    return F.struct(F.lit(role).alias("role"), c.alias("content"))


def chatml_col(ins: Instruction, available: Sequence[str], model: str = "echo") -> Column:
    """ChatML transcript column: array<struct<role,content>>."""
    sys_msg = build_sys_msg(ins)
    user = user_msg_col(ins.scope, available)
    if "mistral" in model.lower():
        return F.array(_msg("user", sys_msg), _msg("assistant", "Ok."), _msg("user", user))
    return F.array(_msg("system", sys_msg), _msg("user", user))


def prompt_template_sub(template: str, subs: Mapping[str, str]) -> str:
    """Placeholder substitution — plan-time (all operands are config
    literals in the reference too)."""
    out = template
    for key, val in subs.items():
        out = out.replace(key, val)
    return out


def prompt_template_sub_col(template: str, subs: Mapping[str, Column]) -> Column:
    """Column-valued placeholder substitution: fill a template with
    per-record values (the reference fills with config literals only,
    self_verification_mr.py:473-486; this is the distributed
    generalization — same replace chain, JVM-side ``F.replace``, no
    UDF)."""
    out: Column = F.lit(template)
    for key, val in subs.items():
        out = F.replace(out, F.lit(key), val)
    return out


def xml_tag_wrap_one(name: str, content: Column) -> Column:
    """``<NAME>\ncontent\n</NAME>\n\n`` for one named input."""
    return F.concat(
        F.lit(f"<{name}>\n"),
        F.coalesce(content.cast("string"), F.lit("")),
        F.lit(f"\n</{name}>\n\n"),
    )


def xml_tag_wrap(names: Sequence[str]) -> Column:
    """Concatenate tag-wrapped columns in scope order (the reduce
    group-concat user message)."""
    if not names:
        return F.lit("")
    return F.concat(*[xml_tag_wrap_one(n, F.col(n)) for n in names])
