"""Vectorized URL functions: canonicalize + origin as pandas UDFs.

Wraps the pure kernel in :mod:`atra_spark.urlkit` in Arrow-batched
``pandas_udf``s (SURVEY.md §2.7 rows "URL canonicalize" / "Origin
extraction"; reference atra/src/url/cleaner.rs:51-79,
atra/src/url/origin.rs:23-49).
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import functions as F
from pyspark.sql.types import StringType

from ..urlkit import canonicalize, origin


@F.pandas_udf(StringType())
def canonicalize_udf(urls: pd.Series) -> pd.Series:
    return urls.map(lambda u: canonicalize(u) if u is not None else None)


@F.pandas_udf(StringType())
def origin_udf(urls: pd.Series) -> pd.Series:
    return urls.map(lambda u: origin(u) if u is not None else None)
