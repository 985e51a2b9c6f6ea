"""The session factory's generated-code cache holds a warm session's
working set: re-running a query pass compiles no new classes, up to
AQE's stage renumbering."""

import time

from instructions_mr_spark import registry
from instructions_mr_spark.queries._util import free_staged_checkpoints
from instructions_mr_spark.session import codegen_compiles

# perfbench's curation_session items: about 136 distinct generated
# classes, more than the 100 a default-sized cache keeps.
CURATION_SESSION = ["semdedup_cells", "graph_conductance_brand", "graph_hits_unnormalized"]


def _pass(spark, sf_dir) -> int:
    before = codegen_compiles(spark)
    for name in CURATION_SESSION:
        registry.QUERIES[name](spark, sf_dir).write.format("noop").mode("overwrite").save()
    free_staged_checkpoints()
    return codegen_compiles(spark) - before


def test_codegen_compiles_counts_a_new_class(spark):
    # an integer literal is inlined into the generated code, so a value
    # no earlier plan used forces one fresh compile
    before = codegen_compiles(spark)
    spark.range(1).selectExpr(f"id + {time.time_ns() % 1_000_000_007}").collect()
    assert codegen_compiles(spark) > before


def test_warm_pass_compiles_no_new_classes(spark, sf_dir):
    # the first pass is cold, or partly warm after earlier tests
    first = _pass(spark, sf_dir)
    warm = [_pass(spark, sf_dir), _pass(spark, sf_dir)]
    # Not exactly 0: AQE numbers whole-stage-codegen stages in the order
    # its query stages finish, the number is part of the generated class
    # name, so a warm pass can compile a few renumbered copies until each
    # order has been seen (0-8 a pass, at most 12 over two, measured).
    # A cache smaller than the working set recompiles 100+ every pass.
    assert sum(warm) < 25, f"warm passes recompiled {warm} classes (first pass: {first})"
