"""Pandas operators: whole-group pandas functions (`applyInPandas`) —
the literal Spark equivalent of the reference's whole-table pandas
transforms (reference: dags/etl.py:48-66), scoped to one group per
call so no single task ever holds the full table — and ``map_rows``,
the one row-at-a-time `mapInPandas` batch loop the engine's Python
row bodies share.

Used only where group-local semantics genuinely need pandas; the
native-expression twin should exist whenever the math is expressible
(and is what the oracle checks)."""

from __future__ import annotations

from collections.abc import Callable, Iterable, Iterator
from typing import TYPE_CHECKING

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

if TYPE_CHECKING:  # pragma: no cover
    import pandas as pd

ZSCORE_SCHEMA = "doc_id long, lang string, n_chars long, z double"


def zscore_by_group(docs: DataFrame) -> DataFrame:
    """Per-language z-score of document length via applyInPandas —
    each language group becomes one pandas frame in one task.

    The pandas function is a closure (pickled by value): a module-level
    function pickles by reference and the Python WORKERS would then
    have to import this package, which fails whenever the driver's cwd
    isn't the repo root."""

    def zscore_group(pdf: "pd.DataFrame") -> "pd.DataFrame":
        mu = pdf["n_chars"].mean()
        sd = pdf["n_chars"].std(ddof=0)  # population std: matches stddev_pop
        pdf = pdf.copy()
        pdf["z"] = 0.0 if sd == 0 else (pdf["n_chars"] - mu) / sd
        return pdf[["doc_id", "lang", "n_chars", "z"]]

    return docs.select("doc_id", "lang", "n_chars").groupBy("lang").applyInPandas(
        zscore_group, ZSCORE_SCHEMA
    )


def zscore_by_group_native(docs: DataFrame) -> DataFrame:
    """The native-expression twin (window aggregates, no Python) —
    the form the oracle checks and the one to prefer in production."""
    from pyspark.sql import Window

    w = Window.partitionBy("lang")
    mu = F.avg("n_chars").over(w)
    sd = F.stddev_pop("n_chars").over(w)
    return docs.select(
        "doc_id",
        "lang",
        "n_chars",
        F.when(sd == 0, F.lit(0.0)).otherwise((F.col("n_chars") - mu) / sd).alias("z"),
    )


def map_rows(
    df: DataFrame,
    row_fn: Callable[..., Iterable[tuple]],
    schema: T.StructType | str,
) -> DataFrame:
    """Row-at-a-time Python over Arrow batches: ``row_fn(*row)`` gets
    one input row's values in ``df``'s column order and returns the
    list of output tuples for it (zero, one or many), laid out as
    ``schema`` (a StructType or a DDL string, whose field names name
    the output columns). The batch loop is a closure, so it pickles by
    value with ``row_fn`` and the workers never import this package."""
    names = (T.StructType.fromDDL(schema) if isinstance(schema, str) else schema).names

    def batches(it: Iterator["pd.DataFrame"]) -> Iterator["pd.DataFrame"]:
        import pandas as pd

        for pdf in it:
            rows = []
            for row in zip(*(col for _, col in pdf.items())):
                rows.extend(row_fn(*row))
            yield pd.DataFrame(rows, columns=names)

    return df.mapInPandas(batches, schema)
