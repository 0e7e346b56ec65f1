"""Write the committed stand-in Boom corpus that the ``boom_read*`` gate
keys read when the reference test tree is absent:

- ``bb_bigdata_log_tools_spark/data/standin-blocks.json``: the logBlock
  records, one per line, in file order;
- ``bb_bigdata_log_tools_spark/data/standin.bm``: those records written
  by the JVM's own Avro ``DataFileWriter`` (deflate, 64-byte sync
  interval, so the file holds tens of container blocks and a 512-byte
  ``maxPartitionBytes`` cuts it into several ranges).

The oracle SQL is built from the JSON, not from a decode of the
``.bm``; ``tests/test_gate_corpus.py`` checks that the JVM reads the
``.bm`` back as exactly the JSON records. Run from the repo root:
``python tests/make_gate_corpus.py``.
"""

from __future__ import annotations

import json
import os
import sys

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

from bb_bigdata_log_tools_spark.sources.boom import BOOM_SCHEMA_JSON  # noqa: E402

# registry_boom's STANDIN_BM / STANDIN_BLOCKS; importing it needs the JSON
DATA_DIR = os.path.join(REPO, "bb_bigdata_log_tools_spark", "data")
STANDIN_BM = os.path.join(DATA_DIR, "standin.bm")
STANDIN_BLOCKS = os.path.join(DATA_DIR, "standin-blocks.json")

SECOND0 = 1_330_423_200  # 2012-02-28 10:00 UTC
MESSAGES = [
    "plain ascii line",
    "this line contains the first search term",
    "Greek: Ελληνικά γράμματα",
    "Cyrillic: Человек и закон",
    "CJK: 日本語のログメッセージ",
    "CONTAINS in capitals matches no term",
    "greek in lower case matches no term",
    "a quote ' a tab \t and a backslash \\",
    "",
    "outside the BMP 😀 𝄞, still contains a term",
    "percent % and underscore _ are literal",
]


def standin_blocks() -> list[dict]:
    """40 logBlocks of zero to three lines: every eventId edge, three
    create times, and the three lines of block 11 in one millisecond."""
    blocks = []
    for b in range(40):
        lines = [
            {"ms": 500 if b == 11 else (b * 37 + i * 101) % 1000,
             "eventId": (0, 1, -1, 2**31 - 1)[(b + i) % 4],
             "message": MESSAGES[(b * 3 + i) % len(MESSAGES)]}
            for i in range(b % 4)
        ]
        blocks.append({"second": SECOND0 + b * 7, "createTime": 1_330_426_800_000 + b % 3,
                       "blockNumber": b, "logLines": lines})
    return blocks


def main() -> None:
    from jvm_avro import jvm_write

    from bb_bigdata_log_tools_spark.session import get_spark

    blocks = standin_blocks()
    with open(STANDIN_BLOCKS, "w", encoding="utf-8") as f:
        f.write("[\n" + ",\n".join(json.dumps(r, ensure_ascii=False) for r in blocks) + "\n]\n")
    spark = get_spark("make-gate-corpus", master="local[1]")
    try:
        jvm_write(spark, STANDIN_BM, BOOM_SCHEMA_JSON, blocks, codec="deflate", sync_interval=64)
    finally:
        spark.stop()


if __name__ == "__main__":
    main()
