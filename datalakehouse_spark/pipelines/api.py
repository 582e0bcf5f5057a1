"""Serving-API compile layer — request params -> validated plan inputs.

The reference's FastAPI service is a micro SQL compiler: ISO-8601
parsing with Z handling and date-only -> midnight (main.py:105-125),
limit/offset clamping (main.py:171-174), projection whitelisting
(main.py:261-269), result timestamp formatting
``YYYY-MM-DD HH:MM:SS.mmm -0600`` (main.py:127-163,189-197).  This
module is that compiler without HTTP: pure functions the engine's
`serving` pipeline consumes, so the whole request path is testable
in-process; auth/authz (bearer tokens + the Trino rules.json
privilege matrix) lives beside it in pipelines/auth.py.
"""

from __future__ import annotations

import datetime as dt
from collections.abc import Sequence

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from datalakehouse_spark.pipelines.serving import MAX_PAGE_SIZE


class BadRequest(ValueError):
    pass


def parse_iso_instant(value: str) -> dt.datetime:
    """ISO-8601 -> aware UTC datetime; 'Z' suffix and date-only (->
    midnight) accepted (main.py:105-125)."""
    s = value.strip()
    if not s:
        raise BadRequest("empty timestamp")
    if len(s) == 10:  # date-only
        s += "T00:00:00"
    if s.endswith(("Z", "z")):
        s = s[:-1] + "+00:00"
    try:
        parsed = dt.datetime.fromisoformat(s)
    except ValueError as e:
        raise BadRequest(f"bad timestamp {value!r}: {e}") from e
    if parsed.tzinfo is None:
        parsed = parsed.replace(tzinfo=dt.timezone.utc)
    return parsed.astimezone(dt.timezone.utc)


def validate_page(limit, offset) -> tuple[int, int]:
    """limit 1..10000, offset >= 0 (main.py:171-174,247)."""
    try:
        limit, offset = int(limit), int(offset)
    except (TypeError, ValueError) as e:
        raise BadRequest("limit/offset must be integers") from e
    if limit < 1 or limit > MAX_PAGE_SIZE:
        raise BadRequest(f"limit must be 1..{MAX_PAGE_SIZE}")
    if offset < 0:
        raise BadRequest("offset must be >= 0")
    return limit, offset


def validate_columns(requested: Sequence[str] | None, available: Sequence[str]) -> list[str]:
    """Dynamic projection with whitelisting (main.py:261-269)."""
    if not requested:
        return list(available)
    bad = [c for c in requested if c not in available]
    if bad:
        raise BadRequest(f"unknown columns: {bad}")
    return list(requested)


def format_response_ts(col: Column | str, tz: str = "America/Mexico_City") -> Column:
    """Instant -> local display string 'yyyy-MM-dd HH:mm:ss.mmm -0600'
    (main.py:127-163,189-197; F18).

    date_format's `Z` renders the *session* zone, so the target-zone
    offset is computed per row (correct across DST transitions) and
    appended explicitly.
    """
    c = F.col(col) if isinstance(col, str) else col
    shifted = F.from_utc_timestamp(c, tz)
    off_s = F.unix_timestamp(shifted) - F.unix_timestamp(c)
    sign = F.when(off_s < 0, F.lit("-")).otherwise(F.lit("+"))
    hh = F.lpad((F.abs(off_s) / 3600).cast("int").cast("string"), 2, "0")
    mm = F.lpad(((F.abs(off_s) % 3600) / 60).cast("int").cast("string"), 2, "0")
    return F.concat(
        F.date_format(shifted, "yyyy-MM-dd HH:mm:ss.SSS"),
        F.lit(" "),
        sign,
        hh,
        mm,
    )


def compile_count_request(
    df: DataFrame,
    *,
    device_id=None,
    start: str | None = None,
    end: str | None = None,
    device_col: str = "user_id",
    ts_col: str = "ts",
) -> DataFrame:
    """Request -> COUNT plan, sharing the page path's instant handling
    (main.py:281-299 pairs the count with the page over the SAME row
    universe — compiling them through different parse/normalize code
    invites silent drift)."""
    from datalakehouse_spark.pipelines.serving import count_query

    ts_start = parse_iso_instant(start).replace(tzinfo=None) if start else None
    ts_end = parse_iso_instant(end).replace(tzinfo=None) if end else None
    return count_query(
        df,
        device_col=device_col,
        ts_col=ts_col,
        device_id=device_id,
        ts_start=ts_start,
        ts_end=ts_end,
    )


def compile_seek_request(
    df: DataFrame,
    *,
    device_id=None,
    start: str | None = None,
    end: str | None = None,
    columns: Sequence[str] | None = None,
    limit=100,
    after_ts: str | None = None,
    after_id=None,
    after_device=None,
    device_col: str = "user_id",
    ts_col: str = "ts",
    tiebreak_col: str = "event_id",
) -> DataFrame:
    """Keyset-pagination request -> plan: ``after_ts``/``after_id`` are
    the previous page's last row (its sort key), echoed back by the
    client — same validation and instant handling as the offset path."""
    from datalakehouse_spark.pipelines.serving import page_after

    limit, _ = validate_page(limit, 0)
    if (after_ts is None) != (after_id is None):
        raise BadRequest("after_ts and after_id must be passed together")
    if after_ts is not None and device_id is None and after_device is None:
        raise BadRequest("seek without device_id needs after_device")
    if after_id is not None:
        try:
            after_id = int(after_id)
        except ValueError as exc:
            raise BadRequest(f"after_id must be integral: {after_id!r}") from exc
    if after_device is not None:
        try:
            after_device = int(after_device)
        except ValueError as exc:
            raise BadRequest(
                f"after_device must be integral: {after_device!r}"
            ) from exc
    last_ts = parse_iso_instant(after_ts).replace(tzinfo=None) if after_ts else None
    cols = validate_columns(columns, df.columns)
    ts_start = parse_iso_instant(start).replace(tzinfo=None) if start else None
    ts_end = parse_iso_instant(end).replace(tzinfo=None) if end else None
    return page_after(
        df,
        device_col=device_col,
        ts_col=ts_col,
        tiebreak_col=tiebreak_col,
        device_id=device_id,
        ts_start=ts_start,
        ts_end=ts_end,
        columns=cols,
        limit=limit,
        last_device=after_device,
        last_ts=last_ts,
        last_key=after_id,
    )


def compile_page_request(
    df: DataFrame,
    *,
    device_id=None,
    start: str | None = None,
    end: str | None = None,
    columns: Sequence[str] | None = None,
    limit=100,
    offset=0,
    device_col: str = "user_id",
    ts_col: str = "ts",
    tiebreak_col: str = "event_id",
) -> DataFrame:
    """Full request -> DataFrame compile (validation + plan)."""
    from datalakehouse_spark.pipelines.serving import page_query

    limit, offset = validate_page(limit, offset)
    cols = validate_columns(columns, df.columns)
    ts_start = parse_iso_instant(start).replace(tzinfo=None) if start else None
    ts_end = parse_iso_instant(end).replace(tzinfo=None) if end else None
    return page_query(
        df,
        device_col=device_col,
        ts_col=ts_col,
        tiebreak_col=tiebreak_col,
        device_id=device_id,
        ts_start=ts_start,
        ts_end=ts_end,
        columns=cols,
        limit=limit,
        offset=offset,
    )
