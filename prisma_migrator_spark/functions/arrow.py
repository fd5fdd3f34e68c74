"""Arrow-batched stage construction without the deprecated enum.

``pandas_udf(fn, rt, PandasUDFType.SCALAR)`` is the legacy Spark-2.x
form — it works on the pinned Spark but warns and is slated for
removal (ADVICE r7). The modern form infers the eval type from type
hints, and ``typing.get_type_hints`` evaluates those hints against the
DEFINING module's globals — which is exactly why the call sites
(`llm/text.py`, `llm/multimodal.py`) could not use it with their
function-local ``import pandas as pd``. This module imports pandas at
module level so the hints on the wrappers below always resolve, and
every call site delegates here.

The UDF wrapper uses the ITERATOR form (`SCALAR_ITER`): same Arrow
batch transfer as plain SCALAR, plus per-task setup (codec tables,
zlib) amortizes across batches instead of re-running per batch.
:func:`map_decode` is the one per-payload decode stage of the
multimodal family: a function plus a schema make one Arrow-batched
``mapInPandas`` stage.
"""

from __future__ import annotations

from typing import Callable, Iterator, Optional, Tuple

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql.functions import pandas_udf
from pyspark.sql.types import DataType


def struct_pandas_udf(
    return_type: str,
    fn: Callable[..., "pd.DataFrame"],
):
    """Modern STRUCT-returning pandas UDF over a per-batch function
    ``fn(*series) -> pd.DataFrame`` whose columns are the struct
    fields. Spark yields a bare Series when the UDF takes one column
    and a tuple when it takes several — the wrapper normalizes both
    shapes."""

    def _it(
        batches: Iterator[Tuple[pd.Series, ...]]
    ) -> Iterator[pd.DataFrame]:
        for b in batches:
            yield fn(*b) if isinstance(b, tuple) else fn(b)

    return pandas_udf(_it, return_type)


def map_decode(
    df: DataFrame,
    fn: Callable[[bytes], Optional[tuple]],
    schema: str,
) -> DataFrame:
    """One Arrow-batched decode stage over ``(doc_id, payload)``: a
    single ``mapInPandas`` that runs ``fn(bytes(payload))`` per row.
    ``schema`` types the output — ``doc_id`` first, then one field per
    element of the tuple ``fn`` returns.

    Fault isolation: when ``fn`` raises or returns ``None`` (and a
    NULL payload makes ``bytes`` raise), the row keeps its ``doc_id``
    and every output is NULL — one bad blob out of a billion never
    fails the task. A stage that drops undecodable rows filters on an
    output being NULL after this stage. Empty batches yield empty
    frames of the same columns."""
    names = DataType.fromDDL(schema).names
    nulls = (None,) * (len(names) - 1)

    def decode(payload) -> tuple:
        try:
            out = fn(bytes(payload))
        except Exception:
            return nulls
        return nulls if out is None else out

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            cols = list(zip(*map(decode, pdf["payload"]))) or [()] * len(nulls)
            yield pd.DataFrame(
                {
                    names[0]: pdf["doc_id"].to_numpy(),
                    **{
                        n: pd.Series(c, dtype=object)
                        for n, c in zip(names[1:], cols)
                    },
                }
            )

    return df.select("doc_id", "payload").mapInPandas(run, schema)
