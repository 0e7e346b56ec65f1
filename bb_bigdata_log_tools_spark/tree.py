"""The hourly log tree, the one directory model of every tool:
``<root>/<dc>/<svc>/<type>/<yyyyMMdd>/<HH>/<comp>/<state>``, ``<state>``
one of :data:`STATES` (the reference's ``util/IndexLogs.java`` layout).

Validity rule (:func:`hour_start_ms`): a date directory is 8 ASCII digits
naming a UTC day, an hour directory 2 naming an hour 00-23; every tool
skips anything else (a stray file, ``20240230``, ``24``). Window rule: a
window ``[start, end)`` touches the hours whose :func:`hour_stamp` lies
in ``[hour_stamp(start), hour_stamp(end - 1)]``. The parquet log store
partitions by the same values (:func:`hour_columns`, which alone imports
pyspark)."""

from __future__ import annotations

import calendar
import math
import os
import time
from collections.abc import Iterator
from datetime import datetime

STATES = ("archive", "data", "incoming")


def hour_start_ms(date: str, hour: str = "00") -> int | None:
    """Epoch ms at which hour directory ``<date>/<hour>`` starts, or None
    when the names break the validity rule."""
    digits = date + hour
    if len(date) != 8 or len(hour) != 2 or not (digits.isascii() and digits.isdigit()):
        return None
    try:
        t = datetime(int(date[:4]), int(date[4:6]), int(date[6:]), int(hour))
    except ValueError:
        return None
    return calendar.timegm(t.timetuple()) * 1000


def hour_stamp(ms: int) -> str:
    """The ``yyyyMMddHH`` stamp of the UTC hour holding epoch ms ``ms``."""
    return time.strftime("%Y%m%d%H", time.gmtime(ms // 1000))


def hour_columns() -> dict:
    """Spark expressions for the ``date`` (``yyyyMMdd``) and ``hour``
    (``HH``) of column ``ts`` (epoch ms), in the session time zone (UTC)."""
    from pyspark.sql import functions as F

    t = F.timestamp_millis(F.col("ts"))
    return {"date": F.date_format(t, "yyyyMMdd"), "hour": F.date_format(t, "HH")}


def _subdirs(path: str, name: str | None = None) -> list[tuple[str, str]]:
    """``(name, path)`` of the directories in ``path`` in name order, or of
    ``name`` alone, unchecked: the next level's listing finds that out."""
    if name is not None:
        return [(name, os.path.join(path, name))]
    try:
        with os.scandir(path) as it:
            return sorted((e.name, e.path) for e in it if e.is_dir())
    except (FileNotFoundError, NotADirectoryError):
        return []


def hours(root: str, dc: str | None = None, svc: str | None = None, comp: str | None = None,
          start_ms: int | None = None, end_ms: int | None = None) -> Iterator[tuple]:
    """``(path, dc, svc, type, date, hour, comp, state)`` of every state
    directory under ``root``, in path order: of the given ``dc``, ``svc``
    and ``comp`` only, and of the hours the window ``[start_ms, end_ms)``
    touches. Entries that break the validity rule are skipped."""
    lo = int(hour_stamp(start_ms)) if start_ms is not None else 0
    hi = int(hour_stamp(end_ms - 1)) if end_ms is not None else math.inf
    for dc_, dc_dir in _subdirs(root, dc):
        for svc_, svc_dir in _subdirs(dc_dir, svc):
            for type_, type_dir in _subdirs(svc_dir):
                for date, date_dir in _subdirs(type_dir):
                    if (hour_start_ms(date) is None
                            or int(date) * 100 + 23 < lo or int(date) * 100 > hi):
                        continue
                    for hour, hour_dir in _subdirs(date_dir):
                        if hour_start_ms(date, hour) is None or not lo <= int(date + hour) <= hi:
                            continue
                        for comp_, comp_dir in _subdirs(hour_dir, comp):
                            for state, path in _subdirs(comp_dir):
                                if state in STATES:
                                    yield path, dc_, svc_, type_, date, hour, comp_, state
