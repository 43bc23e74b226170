"""Scalar pandas UDFs in the type-hinted Series -> Series form.

Spark infers a pandas UDF's eval type from its hints; the explicit
``PandasUDFType.SCALAR`` argument is deprecated (SPARK-28264) and warns on
every call. Modules under ``from __future__ import annotations`` cannot just
write ``pd.Series`` hints: they arrive as strings that Spark resolves against
the module's globals, where a locally imported ``pd`` is missing.
"""

from __future__ import annotations

import inspect
from collections.abc import Callable


def series_udf(return_type) -> Callable:
    """Decorator: ``f(s1, ...)`` over pandas Series returning a Series, as a
    scalar pandas UDF with Spark type ``return_type``. The hints are set on
    ``f.__annotations__`` as real ``pd.Series`` objects, so inference sees
    the same Series -> Series signature whatever the caller's module does
    with annotations."""

    def wrap(f: Callable):
        import pandas as pd
        from pyspark.sql.functions import pandas_udf

        hints = {name: pd.Series for name in inspect.signature(f).parameters}
        f.__annotations__ = {**hints, "return": pd.Series}
        return pandas_udf(f, return_type)

    return wrap
