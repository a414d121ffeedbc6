"""Row transforms: map / filter / flatMap / foreach.

Reference parity:
- ``Transformer<I,O>`` — sync map ``fn(I) -> Result<Option<O>>``; Some→emit,
  None→filter out, Err→in-band error record
  (reference: etl-core/src/transformer.rs:7-65).
- ``TransformDataSource``/``TransformHandler<I,O>`` — async 1:1 map; the 1:N
  List arm is ``panic!("not implemented")`` in the reference — implemented
  here for real (reference: etl-job/src/transform_store.rs:13-102, the
  unimplemented List arm at transform_store.rs:70-72).
- ``Apply<S,I>`` — per-record async side-effect
  (reference: etl-core/src/task/apply.rs:7-56).

Spark-first: the preferred call shape is *column expressions* (JVM-side,
whole-stage codegen). The closure forms exist for genuinely imperative
logic and run as Arrow-batched pandas functions, never row-at-a-time Python
UDFs in the hot path.
"""

from __future__ import annotations

from collections.abc import Callable, Iterable
from typing import Any

from pyspark.sql import Column, DataFrame, Row
from pyspark.sql import functions as F

from etl_tools_rs_spark.sources.files import ERROR_COL


def transform(
    df: DataFrame,
    cols: dict[str, Column] | None = None,
    where: Column | None = None,
    fn: Callable | None = None,
    fn_schema: str | None = None,
) -> DataFrame:
    """Transformer parity. Declarative form: ``cols`` (projection map) +
    ``where`` (the Option::None arm → filter). Imperative form: ``fn`` is a
    pandas-batch function ``Iterator[pd.DataFrame] -> Iterator[pd.DataFrame]``
    with output ``fn_schema`` (mapInPandas). Errors raised inside ``fn``
    should be caught by the fn itself and emitted on an ``_error`` column to
    preserve the reference's error-as-record model.
    """
    out = df
    if where is not None:
        out = out.filter(where)
    if cols:
        out = out.withColumns(cols)
    if fn is not None:
        if fn_schema is None:
            raise ValueError("fn requires fn_schema")
        out = out.mapInPandas(fn, schema=fn_schema)
    return out


def flat_transform(
    df: DataFrame,
    expr: Column,
    alias: str,
    keep: list[str] | None = None,
    outer: bool = False,
) -> DataFrame:
    """1:N flatMap — implements TransformOutput::List, which the reference
    panics on (transform_store.rs:70-72). ``expr`` must be an array Column;
    each element becomes a row aliased ``alias``; ``keep`` columns are
    carried along. ``outer=True`` keeps zero-element rows (null child)."""
    keep_cols = keep if keep is not None else df.columns
    exploded = F.explode_outer(expr) if outer else F.explode(expr)
    return df.select(*keep_cols, exploded.alias(alias))


def with_error_column(
    df: DataFrame, expr: Column, error_when: Column, error_msg: Column | str
) -> DataFrame:
    """Declarative error-as-record: rows where ``error_when`` holds get
    ``_error`` set (and expr nulled) rather than failing the query —
    the engine-level analogue of the reference's in-band Err records."""
    msg = F.lit(error_msg) if isinstance(error_msg, str) else error_msg
    return df.withColumn(ERROR_COL, F.when(error_when, msg))


def apply_foreach(
    df: DataFrame,
    fn: Callable[[Row], None],
    init: Callable[[], Any] | None = None,
) -> int:
    """Apply parity: run a side-effect per record, return the success count.

    Runs as ``foreachPartition`` so per-partition state (a client/connection
    from ``init``) is created once per partition, not per row (the
    reference's ``&state`` argument, task/apply.rs:17).
    Counting uses a deterministic second action on the cached frame.
    """

    def _part(rows: Iterable[Row]) -> None:
        state = init() if init else None
        for row in rows:
            fn(row) if state is None else fn(row, state)  # type: ignore[call-arg]

    df = df.cache()
    try:
        n = df.count()
        df.foreachPartition(_part)
    finally:
        df.unpersist()
    return n


def flat_transform_udtf(
    df: DataFrame,
    gen_fn: Callable[..., Any],
    input_cols: list[str],
    output_schema: str,
) -> DataFrame:
    """True UDTF 1:N transform: ``gen_fn(*row_values)`` yields ZERO or
    more output tuples per input row, lateral-joined back to the input
    columns — the fully-general form of the reference's unimplemented
    ``TransformOutput::List`` arm (etl-core/src/transform_store.rs:70-72,
    a ``panic!`` in the reference). Use ``flat_transform`` (explode of a
    column expression) whenever the expansion IS column-expressible —
    that form stays JVM-side; this one is the Python escape hatch for
    generator logic no expression can state (stateful parsers,
    third-party tokenizers, record splitters).

    Runs as a Spark Python UDTF (executor-side, batched through the
    Python worker; ``.outer()`` semantics keep input rows with zero
    outputs out of the result — same inner-lateral shape as explode).
    Output: all input columns + the UDTF's ``output_schema`` columns.
    """
    from pyspark.sql.functions import udtf

    @udtf(returnType=output_schema)
    class _Gen:  # noqa: N801 — local adapter
        def eval(self, *args):  # noqa: ANN002
            yield from gen_fn(*args)

    # .outer() marks each argument as a correlated reference to the left
    # (input) relation — the lateral-join column binding
    return df.lateralJoin(_Gen(*[F.col(c).outer() for c in input_cols]))
