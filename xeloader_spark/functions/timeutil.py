"""S10 — the three-timestamp projection.

Reference: every event row gets a coarse graphing timestamp, a precise UTC
timestamp, and a local-zone timestamp (XELoader/EventHolder.cs:105-114);
the zone comes from `-z` or the system zone
(XELoader/InputParameters.cs:274-295); rationale documented at
XELoader/InputParameters.cs:622-626.

Deviations (documented per SURVEY §7.3):
- the coarse column is `date_trunc('minute', …)`; the reference relies on
  SQL Server's smalldatetime cast which *rounds* (seconds ≥ 29.998 round
  up) — `smalldatetime_round` reproduces that exactly (`q_smalldatetime_round`);
- zones are IANA names (Spark), not Windows zone IDs.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F


def smalldatetime_round(ts: Column) -> Column:
    """SQL Server smalldatetime semantics: minute precision, seconds
    ≥ 29.998 round up. Implemented as +30.002s then minute-truncate:
    29.998 + 30.002 = 60.000 → next minute; 29.997999 stays."""
    return F.date_trunc("minute", ts + F.expr("INTERVAL '30.002' SECOND"))


def three_timestamp_projection(
    df: DataFrame,
    ts_col: str = "ts",
    tz: str = "UTC",
) -> DataFrame:
    """Append `e_time_of_event` (coarse), `e_time_of_event_utc`,
    `e_time_of_event_local` columns. All JVM-side built-ins — stays inside
    whole-stage codegen."""
    ts = F.col(ts_col)
    return (
        df.withColumn("e_time_of_event", F.date_trunc("minute", ts))
        .withColumn("e_time_of_event_utc", ts)
        .withColumn("e_time_of_event_local", F.from_utc_timestamp(ts, tz))
    )
