"""Readers and writers of the program's file formats."""

from __future__ import annotations

import glob


def spark_paths(*patterns: str) -> list[str]:
    """The paths a Spark file source reads for ``patterns``, each glob
    expanded on the driver in name order. Given one glob, Spark looks for
    a streaming sink's ``_spark_metadata`` under the pattern itself and
    logs a stack trace when there is no such file; given the files, it
    does not. A pattern that matches no local path (none, or a URI) is
    passed on as it is, so Spark reads it or fails on it as before."""
    return [p for pattern in patterns for p in sorted(glob.glob(pattern)) or [pattern]]
