"""The one per-row Python kernel boundary.

``map_rows`` runs a plain Python function over every row of a
DataFrame inside a narrow ``mapInPandas`` stage: kernels see rows, but
data still moves between the JVM and Python by Arrow batch. Stages that
carry state across batches, buffer a whole partition, vectorize over a
whole batch, run grouped, or read Arrow buffers directly stay direct
``mapInPandas`` / ``applyInPandas`` / ``mapInArrow`` calls (the
allowlist in ``tests/test_scale_hygiene.py``).

Imports nothing from the package, so every layer can use it.
"""

from __future__ import annotations

from collections.abc import Callable, Iterable, Iterator

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import types as T


def map_rows(
    df: DataFrame, row_fn: Callable[..., Iterable[tuple]], schema: T.StructType
) -> DataFrame:
    """``row_fn(*row)`` over each row of ``df`` (its columns in order),
    as one narrow ``mapInPandas`` stage. ``row_fn`` returns or yields
    output tuples in ``schema`` field order: none drops the input row,
    several explode it. A batch that yields no rows emits nothing."""
    names = schema.fieldNames()

    def batches(pdfs: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in pdfs:
            rows = [
                out
                for row in pdf.itertuples(index=False, name=None)
                for out in row_fn(*row)
            ]
            if rows:
                yield pd.DataFrame.from_records(rows, columns=names)

    return df.mapInPandas(batches, schema=schema)
