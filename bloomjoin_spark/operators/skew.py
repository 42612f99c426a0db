"""Salted joins for hot keys (the F0 ``source`` column holds ~50% of
rows in one value).

``salted_join`` replicates the small side ``salts``× and spreads the
big side's rows across salts, so one hot key occupies ``salts``
reducers instead of one.  The result is row-identical to the plain
join, and it composes with AQE's skew-join splitting.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def salted_join(
    big: DataFrame,
    small: DataFrame,
    on: str | list[str],
    how: str = "inner",
    salts: int = 16,
) -> DataFrame:
    """Equi-join with the hot-key exchange spread over ``salts``
    reducers. ``small`` is replicated ``salts``×; result is identical
    to ``big.join(small, on, how)``."""
    keys = [on] if isinstance(on, str) else list(on)
    if how not in ("inner", "left", "left_semi", "semi"):
        raise ValueError(
            "salted_join supports inner/left/semi (small side is replicated)"
        )
    salt_big = big.withColumn(
        "__salt", F.pmod(F.xxhash64(F.monotonically_increasing_id()), F.lit(salts))
    )
    salt_small = small.withColumn(
        "__salt", F.explode(F.sequence(F.lit(0), F.lit(salts - 1)))
    ).withColumn("__salt", F.col("__salt").cast(salt_big.schema["__salt"].dataType))
    spark_how = {"semi": "left_semi"}.get(how, how)
    out = salt_big.join(salt_small, on=keys + ["__salt"], how=spark_how)
    return out.drop("__salt")
