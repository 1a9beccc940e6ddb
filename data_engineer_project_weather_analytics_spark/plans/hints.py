"""Size-conditional broadcast hints.

An explicit ``F.broadcast()`` is an ORDER, not a suggestion: Spark will
build and ship the build side no matter how large it turns out, and at
the target scale (100 TB, SF-scaling dimensions in the multi-GB range)
a forced broadcast of ``customer``/``part``/``supplier`` OOMs every
executor.  But dropping the hint entirely gives up the intent signal on
the plans where a broadcast IS the right shape at every realistic size.

:func:`maybe_broadcast` resolves the tension by reading the optimizer's
own size estimate for the subtree (driver-side plan stats — file sizes
scaled by column pruning; no job runs) and attaching the hint only when
the estimate fits under ``spark.sql.autoBroadcastJoinThreshold``.
Over the threshold the DataFrame is returned unhinted and the choice
falls to Catalyst statistics + AQE, which at runtime can still pick a
broadcast (if post-filter sizes shrink) or a shuffled join — the
decision an engine must make from data, not from code written at sf0.1.

Forced ``F.broadcast()`` remains correct — and stays in the plans — for
sides whose size is *structurally* bounded: TPC-H ``region`` (5 rows)
and ``nation`` (25 rows) are constant regardless of scale factor, and
1-row scalar aggregates (averages, corpus counts) cannot grow.  The
rule of thumb enforced by tests/test_plans.py: forced hints only on
scale-constant sides; everything SF-scaling goes through
:func:`maybe_broadcast`.
"""

from __future__ import annotations

import re
import warnings

from py4j.protocol import Py4JJavaError
from pyspark.errors.exceptions.captured import CapturedException
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

_UNITS = {
    "": 1,
    "b": 1,
    "k": 2**10,
    "kb": 2**10,
    "m": 2**20,
    "mb": 2**20,
    "g": 2**30,
    "gb": 2**30,
    "t": 2**40,
    "tb": 2**40,
}


def parse_byte_size(value: str) -> int:
    """Parse Spark's byte-size conf strings (``10485760b``, ``10MB``,
    ``-1``) into bytes.  Negative → feature disabled."""
    m = re.fullmatch(r"\s*(-?\d+)\s*([a-zA-Z]*)\s*", value)
    if not m or m.group(2).lower() not in _UNITS:
        raise ValueError(f"unparseable byte size: {value!r}")
    return int(m.group(1)) * _UNITS[m.group(2).lower()]


def broadcast_threshold_bytes(spark: SparkSession) -> int:
    """The session's auto-broadcast threshold in bytes (-1 = disabled)."""
    return parse_byte_size(
        spark.conf.get("spark.sql.autoBroadcastJoinThreshold", "10485760b")
    )


def estimated_size_bytes(df: DataFrame) -> int:
    """The optimizer's size estimate for ``df``'s plan (driver-side
    logical-plan statistics; runs no job).  For parquet scans this is
    file bytes scaled by column pruning — the same number Spark's own
    join planning consults."""
    # py4j renders the Scala BigInt as a Python int (str() covers the
    # JavaObject fallback on other bridge versions)
    return int(str(df._jdf.queryExecution().optimizedPlan().stats().sizeInBytes()))


def maybe_broadcast(df: DataFrame, threshold_bytes: int | None = None) -> DataFrame:
    """Broadcast hint ONLY if the plan-stats size estimate fits under
    the threshold (default: the session's autoBroadcastJoinThreshold);
    otherwise return ``df`` unhinted and let stats/AQE choose the join
    strategy at the actual data size.  A failed JVM stats call (raw
    ``Py4JJavaError``, or the ``CapturedException`` pyspark converts
    known JVM exception classes into) is surfaced as a
    ``RuntimeWarning`` and ``df`` is returned unhinted."""
    if threshold_bytes is None:
        threshold_bytes = broadcast_threshold_bytes(df.sparkSession)
    if threshold_bytes < 0:
        return df
    try:
        size = estimated_size_bytes(df)
    except (Py4JJavaError, CapturedException) as exc:
        # no estimate → no forced hint (the safe direction), but say so
        warnings.warn(
            f"no plan-stats size estimate, broadcast hint dropped: {exc}",
            RuntimeWarning,
            stacklevel=2,
        )
        return df
    return F.broadcast(df) if size <= threshold_bytes else df
