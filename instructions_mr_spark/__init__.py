"""instructions_mr_spark — a PySpark-native analytics engine with the
query/data-processing capabilities of innerNULL/instructions-mr.

The reference (studied read-only at /root/reference, pkg
``instructionspipe``) is a config-driven MapReduce framework whose map
and reduce tasks are natural-language instructions executed by an LLM
over JSON records.  This engine re-expresses that surface Spark-first:

* records      -> DataFrame rows with full nested StructType schemas
* scope        -> column pruning (``df.select``), optimized by Catalyst
* stage        -> one DataFrame -> DataFrame transform
* pipeline     -> a chain of lazy ``.transform`` calls (one logical plan)
* LLM call     -> a ``mapInArrow`` operator fanning calls over a
                  bounded worker pool
* reduce       -> within-record column regroup + concat (reference
                  semantics) and cross-record ``groupBy`` (extension)

plus the full relational surface (joins/aggs/windows/set-ops), LLM
training-data-pipeline operators (dedup, similarity search, text
analysis, multimodal plumbing) and Structured Streaming, none of which
the reference has (SURVEY.md §2.6-2.7).
"""

__version__ = "0.1.0"

from instructions_mr_spark.session import get_spark  # noqa: F401
