"""MySQL-style week numbering (src/Functions/toCustomWeek.cpp wraps
DateLUT's calc_week, which follows MySQL WEEK() mode semantics).

Pure-Python row UDFs — corpus-presentation surface only; analytical
paths use Spark's weekofyear/extract.
"""

import datetime


def _daynr(y: int, m: int, d: int) -> int:
    return datetime.date(y, m, d).toordinal()


def _days_in_year(y: int) -> int:
    return 366 if (y % 4 == 0 and (y % 100 != 0 or y % 400 == 0)) else 365


def calc_week(d: datetime.date, mode: int) -> tuple[int, int]:
    """(week, week_year) per MySQL calc_week (documented WEEK() modes):
    bit0 Monday-first, bit1 zero-week allowed -> range 0..53,
    bit2 week-of-first-day year."""
    # mode bit 8 (reference extension, DateLUTImpl::toYearWeekOfNewyearMode):
    # the week containing January 1 is week 1 OF THE NEW YEAR
    if mode & 8:
        monday_first = bool(mode & 1)
        dow = d.isoweekday()  # Mon=1..Sun=7
        off = 0 if monday_first else 1
        probe = d + datetime.timedelta(
            days=7 - (d + datetime.timedelta(days=off)).isoweekday()
        )
        wy = probe.year
        first = datetime.date(wy, 1, 1)
        if monday_first:
            fd = first - datetime.timedelta(days=first.isoweekday() - 1)
            td = d - datetime.timedelta(days=dow - 1)
        else:
            fd = first if first.isoweekday() == 7 else (
                first - datetime.timedelta(days=first.isoweekday())
            )
            td = d if dow == 7 else d - datetime.timedelta(days=dow)
        return (td - fd).days // 7 + 1, wy
    # MySQL week_mode(): without Monday-first the FIRST_WEEKDAY bit
    # toggles (so user mode 0 behaves as mode 4 internally)
    if not (mode & 1):
        mode ^= 4
    monday_first = bool(mode & 1)
    week_year = bool(mode & 2)
    first_weekday = bool(mode & 4)
    y = d.year
    daynr = _daynr(d.year, d.month, d.day)
    first_daynr = _daynr(y, 1, 1)
    # weekday of Jan 1: 0 = Monday when monday_first else 0 = Sunday
    wd = datetime.date(y, 1, 1).weekday()  # 0 = Monday
    weekday = wd if monday_first else (wd + 1) % 7
    if d.month == 1 and d.day <= 7 - weekday:
        if not week_year and (
            (first_weekday and weekday != 0)
            or (not first_weekday and weekday >= 4)
        ):
            return 0, y
        week_year = True
        y -= 1
        days = _days_in_year(y)
        first_daynr -= days
        weekday = (weekday + 53 * 7 - days) % 7
    if (first_weekday and weekday != 0) or (
        not first_weekday and weekday >= 4
    ):
        days = daynr - (first_daynr + (7 - weekday))
    else:
        days = daynr - (first_daynr - weekday)
    if week_year and days >= 52 * 7:
        weekday = (weekday + _days_in_year(y)) % 7
        if (not first_weekday and weekday < 4) or (
            first_weekday and weekday == 0
        ):
            return 1, y + 1
    return days // 7 + 1, y


def _parse(s):
    return datetime.date.fromisoformat(str(s)[:10])


def register_udfs(spark) -> None:
    spark.udf.register(
        "ch_to_week",
        lambda s, m: (
            None if s is None else calc_week(_parse(s), int(m or 0))[0]
        ),
        "int",
    )
    spark.udf.register(
        "ch_to_year_week",
        lambda s, m: (
            None
            if s is None
            else (lambda wk, yy: yy * 100 + wk)(
                *calc_week(_parse(s), int(m or 0) | 2)
            )
        ),
        "long",
    )
