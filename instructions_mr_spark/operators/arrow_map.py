"""The one per-row Python boundary: a single ``mapInArrow`` shell that
every Python-by-design operator shares (the LLM executor, the
multimodal decoders and frame sampler, the winnowing kernel).

Input columns are projected JVM-side, cross as Python lists, and come
back as one Python list per output column, each built into an Arrow
array of its declared Spark type.  Keep columns never leave Arrow: the
same arrays go back out, so any Spark type round-trips unchanged.
"""

from __future__ import annotations

from collections.abc import Callable, Iterator, Sequence

from pyspark.sql import Column, DataFrame
from pyspark.sql import types as T


def map_columns(
    df: DataFrame,
    keep: Sequence[str],
    inputs: Sequence[Column],
    out: Sequence[T.StructField],
    make_fn: Callable[[], Callable[..., Sequence[list]]],
) -> DataFrame:
    """``keep`` columns plus one column per ``out`` field.

    ``make_fn()`` runs once per task, so per-task state (an LLM client,
    imports) is built there; the function it returns is called once per
    Arrow batch with one Python list per ``inputs`` column and returns
    one list per ``out`` field, each as long as the batch."""
    import pyarrow as pa
    from pyspark.sql.pandas.types import to_arrow_type

    from instructions_mr_spark.shipping import ensure_shipped

    ensure_shipped(df.sparkSession)
    keep = list(keep)
    out = list(out)
    n_keep = len(keep)
    projected = df.select(
        *keep, *[c.alias(f"__in{i}") for i, c in enumerate(inputs)]
    )
    schema = T.StructType([projected.schema[c] for c in keep] + out)
    arrow_types = [to_arrow_type(f.dataType) for f in out]
    names = schema.names

    def run(batches: Iterator[pa.RecordBatch]) -> Iterator[pa.RecordBatch]:
        fn = make_fn()
        for batch in batches:
            cols = fn(*(c.to_pylist() for c in batch.columns[n_keep:]))
            arrays = batch.columns[:n_keep] + [
                pa.array(v, t) for v, t in zip(cols, arrow_types)
            ]
            yield pa.RecordBatch.from_arrays(arrays, names=names)

    return projected.mapInArrow(run, schema=schema)
