"""The one per-row stage behind every operator that runs Python per row.

An operator supplies `per_row(r)`: a generator of output tuples, in
schema order, for one input row `r` (a pandas row namedtuple).
`map_rows` owns everything else as a single `mapInPandas` stage: the
Arrow batch loop (one output frame per input batch), the row walk, the
column-wise output building, and the one error-policy boundary:

- 'fail' re-raises (strict; the reference's TesseractException);
- 'dead-letter' replaces the row's output with `error_rows(r, exc)`:
  in-band rows, so a failure stays visible, countable and
  deterministic with no side channel;
- 'drop' emits nothing for the row and counts it in
  `multimodal.last_decode_error_observation` (`dropped_payloads`).

An operator that passes `error_rows` speaks `fail|dead-letter`; one
that does not speaks `fail|drop`. A row's output is collected in full
before any of it is appended, so a failure part-way through a row
never leaves partial output behind.
"""

from __future__ import annotations

from typing import Callable, Iterable, Iterator

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

PerRow = Callable[[tuple], Iterable[tuple]]
ErrorRows = Callable[[tuple, Exception], Iterable[tuple]]

_ERR = T.StructField("__err", T.IntegerType(), False)


def _blank(dt: T.DataType):
    """A typed placeholder for a 'drop' marker row (filtered out)."""
    if isinstance(dt, T.StringType):
        return ""
    if isinstance(dt, T.BinaryType):
        return b""
    return False if isinstance(dt, T.BooleanType) else 0


def batch_fn(schema: T.StructType, per_row: PerRow, on_error: str = "fail",
             error_rows: ErrorRows | None = None
             ) -> Callable[[Iterator[pd.DataFrame]], Iterator[pd.DataFrame]]:
    """The `mapInPandas` function of `map_rows`; under 'drop' its
    frames end with the `__err` marker column."""
    names = schema.fieldNames()
    if on_error == "drop":
        names.append(_ERR.name)
        marker = tuple(_blank(f.dataType) for f in schema) + (1,)

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            cols: list[list] = [[] for _ in names]
            for r in pdf.itertuples(index=False):
                try:
                    rows = list(per_row(r))
                except Exception as e:   # noqa: BLE001 — policy boundary
                    if on_error == "fail":
                        raise
                    rows = (list(error_rows(r, e))
                            if on_error == "dead-letter" else [marker])
                else:
                    if on_error == "drop":
                        rows = [t + (0,) for t in rows]
                for t in rows:
                    for c, v in zip(cols, t):
                        c.append(v)
            yield pd.DataFrame(dict(zip(names, cols)))

    return run


def _with_drop_observation(df: DataFrame) -> DataFrame:
    """Count the `__err` marker rows (one per dropped input row), then
    filter them out. The count is published as
    `multimodal.last_decode_error_observation` and readable with
    `.get['dropped_payloads']` after any action: corrupt inputs at
    10^12 rows are a data-quality fact to surface, not an exception to
    die on."""
    from pyspark.sql import Observation

    from . import multimodal
    obs = Observation()
    observed = df.observe(
        obs, F.sum(F.col("__err")).alias("dropped_payloads"))
    multimodal.last_decode_error_observation = obs
    return observed.where(F.col("__err") == 0).drop("__err")


def map_rows(df: DataFrame, schema: T.StructType, per_row: PerRow,
             on_error: str = "fail",
             error_rows: ErrorRows | None = None) -> DataFrame:
    """`df` -> `schema` rows, `per_row` applied to every input row under
    the `on_error` policy (see the module docstring)."""
    allowed = (("fail", "dead-letter") if error_rows is not None
               else ("fail", "drop"))
    if on_error not in allowed:
        raise ValueError(f"on_error must be one of {allowed}, "
                         f"got {on_error!r}")
    run = batch_fn(schema, per_row, on_error, error_rows)
    if on_error == "drop":
        schema = T.StructType(list(schema) + [_ERR])
    out = df.mapInPandas(run, schema)
    return _with_drop_observation(out) if on_error == "drop" else out
