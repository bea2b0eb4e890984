"""SQL-text plumbing shared by the statement builders.

The streaming folds (CDC upsert, SCD2, rollup) are each defined once, as
a builder that returns one SQL statement over named relations. The batch
operators run that statement over temp views bound to their input
DataFrames; the ``foreachBatch`` sinks build it once per sink start and
re-run it per micro-batch. Everything a builder splices in that did not
come from the builder itself goes through :func:`ident` or
:func:`literal`, and nothing is ever passed through ``str.format``, so a
brace or quote in a column name or path cannot change the statement.
"""

from __future__ import annotations

import uuid
from collections.abc import Callable

from pyspark.sql import DataFrame


def ident(name: str) -> str:
    """A backtick-quoted identifier; embedded backticks are doubled."""
    return "`" + name.replace("`", "``") + "`"


def literal(text: str) -> str:
    """A single-quoted string literal; ``\\`` and ``'`` are escaped."""
    return "'" + text.replace("\\", "\\\\").replace("'", "\\'") + "'"


def run_over_views(build: Callable[..., str], **frames: DataFrame) -> DataFrame:
    """Bind each frame to a uniquely named temp view, run
    ``build(**view_names)`` and drop the views.

    ``spark.sql`` analyzes eagerly, so the returned DataFrame already holds
    the views' plans and stays valid after they are dropped."""
    spark = next(iter(frames.values())).sparkSession
    uid = uuid.uuid4().hex[:12]
    views = {name: f"__fdi_{name}_{uid}" for name in frames}
    for name, df in frames.items():
        df.createOrReplaceTempView(views[name])
    try:
        return spark.sql(build(**views))
    finally:
        for view in views.values():
            spark.catalog.dropTempView(view)
