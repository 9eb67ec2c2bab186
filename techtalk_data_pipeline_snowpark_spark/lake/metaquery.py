"""Metadata-only query answering — COUNT(*) / MIN / MAX from zone maps.

The Snowflake behavior the reference relies on implicitly (a `SELECT
count(*)` against a Snowflake table answers from micro-partition metadata
without scanning data — the reference's existence/row-count probes, e.g.
tt-dps-pipeline-rest/src/main/scala/com/griddynamics/pipeline/
IngestRatingsFromRawToFlat.scala:71 `df.count()`, round-trip in
milliseconds for that reason), re-expressed over this repo's lake format: every committed file already carries ``rows`` and per-column
``min``/``max``/``nc`` zone-map stats in the snapshot (`lake/stats.py`),
so the three classic metadata aggregates fold driver-side in O(live files)
with ZERO data I/O.

Scale posture: at 10^10 rows a full-scan ``count(*)`` reads every page of
100 TB; this answers from the manifest the commit protocol already paid
for. Correctness rules — every check degrades to ``None`` ("scan instead")
rather than guessing:

* any live file referencing a deletion vector → None (deleted rows make
  counts/extrema stale);
* COUNT: any file missing ``rows`` → None;
* MIN/MAX per column: any file missing that column's stats → None (cannot
  distinguish "all null" from "stats collection failed" without the file's
  own schema); a file whose stats prove all-null (``nc == rows``) is
  skipped, matching SQL's null-ignoring MIN/MAX; all files all-null →
  SQL answer NULL;
* strings: stats are truncated at 64 chars with outward widening
  (`stats._STR_CAP`), so a 64-char min or a max carrying the widening
  suffix is a BOUND, not a value → None; shorter stats are exact values;
* floats: NaN already poisons stats at collect time (missing entry → None
  here); timestamps/dates are stored normalized (epoch micros/days) and
  are inverse-mapped back to datetime/date.
"""

from __future__ import annotations

import datetime
import math

from pyspark.sql import types as T

from techtalk_data_pipeline_snowpark_spark.lake.stats import _MAX_CHAR, _STR_CAP

__all__ = ["metadata_aggregate"]

_EPOCH_DT = datetime.datetime(1970, 1, 1)
_EPOCH_D = datetime.date(1970, 1, 1)


def _denorm(v, dtype: T.DataType, is_min: bool):
    """Inverse of stats._norm. Returns (ok, value)."""
    if isinstance(dtype, T.TimestampType):
        return True, _EPOCH_DT + datetime.timedelta(microseconds=v)
    if isinstance(dtype, T.DateType):
        return True, _EPOCH_D + datetime.timedelta(days=v)
    if isinstance(dtype, T.StringType):
        # a capped min / widened max is a bound, not an attained value
        if is_min and len(v) >= _STR_CAP:
            return False, None
        if not is_min and (len(v) > _STR_CAP or v.endswith(_MAX_CHAR)):
            return False, None
        return True, v
    if isinstance(dtype, (T.FloatType, T.DoubleType)) and isinstance(v, float):
        if math.isnan(v) or math.isinf(v):  # defensive; collect drops NaN
            return False, None
    return True, v


def metadata_aggregate(
    table,
    version: int | None = None,
    count: bool = True,
    min_of: tuple[str, ...] | list[str] = (),
    max_of: tuple[str, ...] | list[str] = (),
) -> dict | None:
    """Answer COUNT(*)/MIN/MAX from snapshot metadata, or None to say
    "not provable from metadata — run the scan".

    Returns ``{"count": int, "min": {col: value}, "max": {col: value}}``
    (keys present only for what was asked). A column whose every live row
    is NULL answers SQL-style ``None``.
    """
    snap = table.snapshot(version)
    fields = {f.name: f.dataType for f in snap.schema.fields}
    for c in list(min_of) + list(max_of):
        if c not in fields:
            raise ValueError(f"unknown column {c!r}")

    metas = list(snap.files.values())
    if any(m.get("dv") for m in metas):
        return None

    out: dict = {}
    if count:
        rows = [m.get("rows") for m in metas]
        if any(r is None for r in rows):
            return None
        out["count"] = sum(rows)

    for side, cols in (("min", min_of), ("max", max_of)):
        if not cols:
            continue
        res = out.setdefault(side, {})
        for c in cols:
            best = None
            for m in metas:
                ent = (m.get("stats") or {}).get(c)
                rows = m.get("rows")
                if rows == 0:
                    continue  # empty file contributes nothing
                if ent is None or rows is None:
                    return None
                if side not in ent:
                    # no min/max recorded: provably all-null, or unusable
                    if ent.get("nc") == rows:
                        continue  # all-null file — MIN/MAX ignores it
                    return None
                ok, v = _denorm(ent[side], fields[c], side == "min")
                if not ok:
                    return None
                if best is None or (v < best if side == "min" else v > best):
                    best = v
            res[c] = best
    return out
