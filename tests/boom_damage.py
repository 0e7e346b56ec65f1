"""Shared test helper: wreck one container block of a .bm file in place."""

from __future__ import annotations

from itertools import islice

from bb_bigdata_log_tools_spark.sources.boom import _zigzag, iter_blocks, read_header


def damage_block(path: str, index: int = 2) -> None:
    """Wreck the count/size varints of block ``index`` (the third by
    default). The block is found by framing from the header, not by
    searching for the sync marker: the writer's all-zero marker also
    matches one byte early whenever a payload ends in 0x00."""
    with open(path, "rb") as f:
        data = f.read()
    pos = read_header(data)[3]
    for _schema, _codec, count, raw in islice(iter_blocks(data), index):
        pos += len(_zigzag(count)) + len(_zigzag(len(raw))) + len(raw) + 16
    bad = bytearray(data)
    for k in range(6):
        bad[pos + k] ^= 0xFF
    with open(path, "wb") as f:
        f.write(bytes(bad))
