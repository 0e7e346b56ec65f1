"""Registry part 4: query_index, multimodal metadata, LSH-bucketed ANN,
hfind, gzip text read, text→boom round-trip (SURVEY.md §2 rows 9, 10,
16, 17, 29, 34).

Every entry here is fully oracle-gated; the filesystem operators
(hfind, gzip read, boom round-trip) run over pinned fixtures so their
oracles are deterministic VALUES lists.
"""

from __future__ import annotations

import gzip
import os
import shutil
import tempfile

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from bb_bigdata_log_tools_spark.functions.hashing import permutation_params
from bb_bigdata_log_tools_spark.operators import index, similarity
from bb_bigdata_log_tools_spark.registry_boom import DATA_DIR
from bb_bigdata_log_tools_spark.session import ensure_parallelism, table
from bb_bigdata_log_tools_spark.sources.boom import published
from bb_bigdata_log_tools_spark.sources.logs import EVENTS_AS_LOGS_SQL, events_as_logs

_LOGS_CTE = f"WITH logs AS ({EVENTS_AS_LOGS_SQL})"

# active-at probe instant: 2024-01-15T00:00Z
ACTIVE_AT_MS = 1705276800000


def q_log_query_index(spark: SparkSession, sf_dir: str) -> DataFrame:
    logs = events_as_logs(table(spark, sf_dir, "events")).withColumn(
        "component", F.split(F.col("message"), " ").getItem(0)
    )
    idx = index.log_index(logs, keys=["component"])
    return index.query_index(idx, service_like="s", active_at_ms=ACTIVE_AT_MS)


SQL_LOG_QUERY_INDEX = f"""{_LOGS_CTE},
idx AS (
  SELECT string_split(message, ' ')[1] AS component,
         min(ts) AS start_ts,
         max(ts) AS end_ts,
         count(*) AS line_count,
         CAST(sum(strlen(message)) AS BIGINT) AS total_bytes
  FROM logs GROUP BY 1
)
SELECT * FROM idx
WHERE contains(component, 's')
  AND start_ts <= {ACTIVE_AT_MS} AND end_ts >= {ACTIVE_AT_MS}
ORDER BY component
"""


def q_multimodal_meta(spark: SparkSession, sf_dir: str) -> DataFrame:
    from bb_bigdata_log_tools_spark.operators.multimodal import (
        attach_media,
        media_metadata,
    )

    docs = table(spark, sf_dir, "documents")
    return media_metadata(attach_media(docs))


SQL_MULTIMODAL_META = """
SELECT doc_id,
       CASE doc_id % 3 WHEN 0 THEN 'image' WHEN 1 THEN 'audio' ELSE 'video' END
         AS media_type,
       CAST(strlen(text) AS INTEGER) AS n_bytes,
       md5(text) AS content_md5
FROM documents
ORDER BY doc_id
"""


# Deterministic fixtures for the real-decode probe: (doc_id,
# media_type, format, maker_args, expected (width, height, n_frames)).
# Payload bytes are generated by the engine's own format writers, the
# values re-extracted by the header parsers, and the oracle pins the
# expectations. Audio uses the module's column convention:
# width=sample_rate, height=channels, n_frames=sample_count.
_DECODE_FIXTURES = [
    (i, "image", fmt, (100 + 7 * i, 50 + 3 * i), (100 + 7 * i, 50 + 3 * i, 1))
    for i, fmt in enumerate(["png", "jpeg", "gif", "bmp"] * 3)
] + [
    (
        12 + j,
        "audio",
        "wav",
        (8000 * (1 + j), 1 + j % 2, 1000 + 111 * j),
        (8000 * (1 + j), 1 + j % 2, 1000 + 111 * j),
    )
    for j in range(4)
] + [
    # MP3: maker takes (rate, channels, frames); meta n_samples =
    # frames × 1152 (MPEG1 Layer III samples-per-frame).
    (
        16 + j,
        "audio",
        "mp3",
        (44100 if j % 2 == 0 else 48000, 1 + j % 2, 5 + j),
        (44100 if j % 2 == 0 else 48000, 1 + j % 2, (5 + j) * 1152),
    )
    for j in range(3)
] + [
    # MP4: (width, height, n_frames) straight through the box walk.
    (
        19 + j,
        "video",
        "mp4",
        (320 + 16 * j, 180 + 9 * j, 24 * (j + 1)),
        (320 + 16 * j, 180 + 9 * j, 24 * (j + 1)),
    )
    for j in range(3)
] + [
    # round 6: a FULL baseline JPEG (entropy-coded data, not just the
    # marker skeleton) — dims recovered by the SOF walk like the rest.
    (22, "image", "jpeg_full", (28, 18), (28, 18, 1)),
    # round 7: NON-INTERLEAVED baseline (one SOS per component,
    # T.81 A.2.2) — the multi-scan layout real crawls contain.
    (23, "image", "jpeg_full_ni", (26, 17), (26, 17, 1)),
    # round 7: PARTIAL interleave (non-interleaved Y scan + one
    # interleaved Cb+Cr scan) — any component subset per scan is legal.
    (24, "image", "jpeg_full_split", (24, 15), (24, 15, 1)),
    # round 7: PROGRESSIVE (SOF2) — full successive-approximation scan
    # script (DC first/refine + AC first/refine, T.81 Annex G).
    (25, "image", "jpeg_full_prog", (22, 16), (22, 16, 1)),
    # round 7: ANIMATED GIF — real LZW frames, n_frames = the image
    # descriptor count from the gifcodec block walk.
    (26, "image", "gif_anim", (18, 12), (18, 12, 3)),
    # round 9: EXIF-orientation-tagged full JPEGs — width/height stay
    # the STORED raster dims (what the SOF header says); the surfaced
    # `orientation` column (computed by parse_exif_orientation on both
    # engines' shared fixture bytes) tells downstream the display
    # geometry is transposed for 5-8.
    (27, "image", "jpeg_full_exif6", (20, 14), (20, 14, 1)),
    (28, "image", "jpeg_full_exif3", (21, 13), (21, 13, 1)),
]


def _decode_payloads() -> list[tuple[int, str, bytes]]:
    from bb_bigdata_log_tools_spark.operators.multimodal import (
        make_bmp_header,
        make_gif_header,
        make_jpeg_header,
        make_mp3,
        make_mp4,
        make_png,
        make_wav,
    )

    from bb_bigdata_log_tools_spark.operators.jpegcodec import make_jpeg

    def _jpeg_full(w: int, h: int) -> bytes:
        rows = [
            [((x * 5) % 256, (y * 9) % 256, (x + y) % 256) for x in range(w)]
            for y in range(h)
        ]
        return make_jpeg(w, h, rows, subsample=2, restart_interval=3)

    def _jpeg_full_ni(w: int, h: int) -> bytes:
        rows = [
            [((x * 3) % 256, (y * 13) % 256, (x * 2 + y) % 256) for x in range(w)]
            for y in range(h)
        ]
        return make_jpeg(
            w, h, rows, subsample=2, restart_interval=2, interleaved=False
        )

    def _jpeg_full_split(w: int, h: int) -> bytes:
        rows = [
            [((x * 9) % 256, (y * 4) % 256, (x + y * 7) % 256) for x in range(w)]
            for y in range(h)
        ]
        return make_jpeg(w, h, rows, subsample=2, y_cbcr_split=True)

    def _jpeg_full_prog(w: int, h: int) -> bytes:
        rows = [
            [((x * 6) % 256, (y * 11) % 256, (x * 4 + y) % 256) for x in range(w)]
            for y in range(h)
        ]
        return make_jpeg(w, h, rows, subsample=2, progressive=True)

    def _jpeg_exif(orientation: int):
        from bb_bigdata_log_tools_spark.operators.multimodal import (
            add_exif_orientation,
        )

        def maker(w: int, h: int) -> bytes:
            rows = [
                [((x * 8) % 256, (y * 5) % 256, (x + 2 * y) % 256)
                 for x in range(w)]
                for y in range(h)
            ]
            return add_exif_orientation(make_jpeg(w, h, rows), orientation)

        return maker

    def _gif_anim(w: int, h: int) -> bytes:
        from bb_bigdata_log_tools_spark.operators.gifcodec import make_gif

        def frame(shift: int):
            return [
                [(((x + shift) % 4) * 60, (y % 3) * 70, (shift % 5) * 40)
                 for x in range(w)]
                for y in range(h)
            ]

        return make_gif(
            w, h, frame(0),
            extra_frames=[(frame(1), None), (frame(2), (2, 1, w - 2, h - 1))],
        )

    makers = {
        "png": make_png,
        "jpeg": make_jpeg_header,
        "jpeg_full": _jpeg_full,
        "jpeg_full_ni": _jpeg_full_ni,
        "jpeg_full_split": _jpeg_full_split,
        "jpeg_full_prog": _jpeg_full_prog,
        "jpeg_full_exif6": _jpeg_exif(6),
        "jpeg_full_exif3": _jpeg_exif(3),
        "gif_anim": _gif_anim,
        "gif": make_gif_header,
        "bmp": make_bmp_header,
        "wav": make_wav,
        "mp3": make_mp3,
        "mp4": make_mp4,
    }
    return [
        (i, mt, makers[fmt](*args)) for i, mt, fmt, args, _exp in _DECODE_FIXTURES
    ]


def q_multimodal_decode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Real decoding end-to-end: PNG/JPEG/GIF/BMP image payloads and
    PCM WAV audio payloads built by the format writers, dimensions /
    audio meta recovered executor-side by the pure-Python header
    parsers (decoded=true for every row)."""
    from bb_bigdata_log_tools_spark.operators.multimodal import extract_features

    media = spark.createDataFrame(
        [(i, p, mt) for i, mt, p in _decode_payloads()],
        "doc_id long, payload binary, media_type string",
    )
    return extract_features(media)


# Expected EXIF orientation per decode-fixture doc_id (pinned
# LITERALLY — independent of parse_exif_orientation, so a parser bug
# cannot hide by recomputing the same wrong value on both sides).
# Every fixture not listed is untagged → 1.
_DECODE_EXPECTED_ORIENTATION = {27: 6, 28: 3}


def _multimodal_decode_oracle() -> str:
    sizes = {i: len(p) for i, _mt, p in _decode_payloads()}
    vals = ",\n  ".join(
        f"({i}, '{mt}', {sizes[i]}, {w}, {h}, {fr},"
        f" {_DECODE_EXPECTED_ORIENTATION.get(i, 1)}, TRUE)"
        for i, mt, _fmt, _args, (w, h, fr) in _DECODE_FIXTURES
    )
    return (
        "SELECT doc_id, media_type, CAST(n_bytes AS INTEGER) AS n_bytes,"
        " CAST(width AS INTEGER) AS width, CAST(height AS INTEGER) AS height,"
        " CAST(n_frames AS INTEGER) AS n_frames,"
        " CAST(orientation AS INTEGER) AS orientation, decoded\n"
        f"FROM (VALUES\n  {vals}\n)"
        " AS t(doc_id, media_type, n_bytes, width, height, n_frames,"
        " orientation, decoded)\n"
        "ORDER BY doc_id"
    )


def q_ann_lsh_bucketed(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = ensure_parallelism(table(spark, sf_dir, "embeddings"))
    return similarity.ann_topk_lsh(emb, n_queries=20, k=10, n_planes=4)


def _plane_sql(j: int, dim: int = 64) -> str:
    params = permutation_params(4 * dim)
    signs = [1.0 if params[j * dim + i][0] % 2 == 1 else -1.0 for i in range(dim)]
    arr = "[" + ", ".join(str(s) for s in signs) + "]"
    return f"CASE WHEN list_dot_product(emb, {arr}) > 0 THEN {1 << j} ELSE 0 END"


SQL_ANN_LSH_BUCKETED = f"""
WITH e AS (
  SELECT vec_id, embedding::DOUBLE[] AS emb FROM embeddings
),
b AS (
  SELECT vec_id, emb,
         CAST({' + '.join(_plane_sql(j) for j in range(4))} AS BIGINT) AS bucket
  FROM e
),
q AS (SELECT vec_id AS q_id, emb AS q_emb, bucket AS q_bucket FROM b WHERE vec_id < 20),
scored AS (
  SELECT q.q_id, b.vec_id AS n_id,
         round(list_dot_product(q.q_emb, b.emb)
               / sqrt(list_dot_product(q.q_emb, q.q_emb))
               / sqrt(list_dot_product(b.emb, b.emb)), 4) AS cos_sim
  FROM b JOIN q ON b.bucket = q.q_bucket AND b.vec_id <> q.q_id
),
ranked AS (
  SELECT q_id, n_id, cos_sim,
         CAST(row_number() OVER (PARTITION BY q_id
                                 ORDER BY cos_sim DESC, n_id) AS INTEGER) AS rank
  FROM scored
)
SELECT q_id, n_id, cos_sim, rank FROM ranked WHERE rank <= 10
ORDER BY q_id, rank
"""


# hfind fixture: a deterministic tree with pinned names/sizes/mtimes so
# the filesystem operator gets a real VALUES-list oracle (same pattern
# as the gzip fixture below). Layout (sizes in bytes, mtimes pinned):
#   app.log 120 | app.log.bak 60 | xapp.log 35 | notes.txt 10
#   sub/error.log 240 | sub/tmp.log 40 | sub/sub2/deep.log 500
_HFIND_FILES = [
    ("app.log", 120),
    ("app.log.bak", 60),
    ("xapp.log", 35),
    ("notes.txt", 10),
    ("sub/error.log", 240),
    ("sub/tmp.log", 40),
    ("sub/sub2/deep.log", 500),
]
_HFIND_T0 = 1704067200  # 2024-01-01T00:00:00Z, +1 day per file


def _hfind_fixture_root() -> str:
    root = os.path.join(tempfile.gettempdir(), "bb_hfind_fixture")
    shutil.rmtree(root, ignore_errors=True)
    for i, (rel, size) in enumerate(_HFIND_FILES):
        p = os.path.join(root, rel)
        os.makedirs(os.path.dirname(p), exist_ok=True)
        with open(p, "wb") as f:
            f.write(b"x" * size)
        os.utime(p, (_HFIND_T0 + i * 86400,) * 2)
    for d in [os.path.join(root, "sub/sub2"), os.path.join(root, "sub"), root]:
        os.utime(d, (_HFIND_T0,) * 2)
    return root


def q_hfind(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two predicate probes over the pinned fixture tree, unioned:

    - probe 'anchored_glob': name 'app*' must match app.log + app.log.bak
      but NOT xapp.log (start-anchored full-name glob semantics);
    - probe 'size_depth': '*.log' files >= 100 bytes within depth 2 —
      exercises type/size/depth predicates together.
    """
    from bb_bigdata_log_tools_spark.sources.hfind import hfind

    root = _hfind_fixture_root()
    cols = [
        "name",
        F.col("size").cast("long").alias("size"),
        "depth",
        F.col("mtime_ms").cast("long").alias("mtime_ms"),
    ]
    a = hfind(spark, root, name_glob="app*", file_type="f").select(
        F.lit("anchored_glob").alias("probe"), *cols
    )
    b = hfind(
        spark, root, name_glob="*.log", file_type="f", min_size=100, max_depth=2
    ).select(F.lit("size_depth").alias("probe"), *cols)
    return a.unionAll(b)


def _hfind_oracle() -> str:
    rows = []
    by_rel = {rel: (size, _HFIND_T0 + i * 86400) for i, (rel, size) in enumerate(_HFIND_FILES)}
    for rel in ["app.log", "app.log.bak"]:
        size, mt = by_rel[rel]
        rows.append(("anchored_glob", os.path.basename(rel), size, 1, mt * 1000))
    for rel in ["app.log", "sub/error.log"]:
        size, mt = by_rel[rel]
        rows.append(("size_depth", os.path.basename(rel), size, rel.count("/") + 1, mt * 1000))
    vals = ",\n  ".join(f"('{p}', '{n}', {s}, {d}, {m})" for p, n, s, d, m in rows)
    return (
        "SELECT probe, name, CAST(size AS BIGINT) AS size,"
        " CAST(depth AS INTEGER) AS depth, CAST(mtime_ms AS BIGINT) AS mtime_ms\n"
        f"FROM (VALUES\n  {vals}\n) AS t(probe, name, size, depth, mtime_ms)\n"
        "ORDER BY probe, name"
    )


REF_TEXT = "/root/reference/testcases/logsearch/logsearch-test-file.txt"
#: What ``gzip_text_read`` and ``text_to_boom`` read: the reference's text
#: corpus, or the committed stand-in when that tree is absent (RFC5424
#: heads, multi-byte messages, a quote, a tab, two lines in one
#: millisecond and one line whose head is not a timestamp).
TEXT_INPUT = REF_TEXT if os.path.exists(REF_TEXT) else os.path.join(DATA_DIR, "standin-text.txt")


def q_gzip_text_read(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Read a .gz text file through the text source. The .gz is rewritten
    from :data:`TEXT_INPUT` (the reference's fixed test corpus, or the
    stand-in without the reference tree) on every call, so it never
    holds another source's lines."""
    from bb_bigdata_log_tools_spark.sources.gziptext import read_gzip_text

    gz_dir = os.path.join(tempfile.gettempdir(), "bb_gzip_read")
    os.makedirs(gz_dir, exist_ok=True)
    gz_path = os.path.join(gz_dir, os.path.basename(TEXT_INPUT) + ".gz")
    with published(gz_path) as tmp, open(TEXT_INPUT, "rb") as f_in, gzip.open(tmp, "wb") as f_out:
        shutil.copyfileobj(f_in, f_out)
    return read_gzip_text(spark, gz_path)


def _gzip_oracle() -> str:
    with open(TEXT_INPUT, encoding="utf-8") as f:
        lines = [line.rstrip("\n") for line in f]
    vals = ",\n  ".join("('" + line.replace("'", "''") + "')" for line in lines)
    return f"SELECT line FROM (VALUES\n  {vals}\n) AS t(line) ORDER BY line"


def q_text_to_boom(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Round-trip: text corpus → .bm (distributed write) → boom read,
    over :data:`TEXT_INPUT` (the reference's corpus, or the stand-in
    without the reference tree). The oracle is the pinned parse of the
    fixed input; a line whose head is not a timestamp is dropped."""
    from bb_bigdata_log_tools_spark.sources.boom import read_boom, text_to_boom

    out_dir = os.path.join(tempfile.gettempdir(), "bb_text_to_boom")
    shutil.rmtree(out_dir, ignore_errors=True)
    text_to_boom(spark, TEXT_INPUT, out_dir)
    return read_boom(spark, out_dir).select("ts", "message")


def _text_to_boom_oracle() -> str:
    # The parse the converter performs, expressed over the same pinned
    # input: split at first space, RFC5424-parse the head, keep the tail.
    with open(TEXT_INPUT, encoding="utf-8") as f:
        lines = [line.rstrip("\n") for line in f if line.strip()]
    vals = ",\n  ".join("('" + line.replace("'", "''") + "')" for line in lines)
    return f"""
WITH raw(value) AS (VALUES
  {vals}
)
SELECT epoch_ms(CAST(string_split(value, ' ')[1] AS TIMESTAMP)) AS ts,
       substring(value, strpos(value, ' ') + 1) AS message
FROM raw
WHERE TRY_CAST(string_split(value, ' ')[1] AS TIMESTAMP) IS NOT NULL
ORDER BY ts, message
"""




def q_log_cat_by_time(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cat over the partitioned parquet log store (built once per sf_dir
    in /tmp): the time window prunes (date, hour) partitions — the
    Catalyst-native replacement for CatByTime's path walking. Same
    result contract as ``log_cat`` → same oracle."""
    from bb_bigdata_log_tools_spark.registry import END_MS, START_MS
    from bb_bigdata_log_tools_spark.session import tmp_store_path
    from bb_bigdata_log_tools_spark.sources.logs import cat_by_time, write_log_store

    store = tmp_store_path("log_store", sf_dir)
    if not os.path.exists(os.path.join(store, "_SUCCESS")):
        write_log_store(events_as_logs(table(spark, sf_dir, "events")), store)
    return cat_by_time(spark, store, START_MS, END_MS)


MISC_QUERIES = {
    "log_cat_by_time": q_log_cat_by_time,
    "log_query_index": q_log_query_index,
    "multimodal_meta": q_multimodal_meta,
    "multimodal_decode": q_multimodal_decode,
    "ann_lsh_bucketed": q_ann_lsh_bucketed,
    "hfind": q_hfind,
    "gzip_text_read": q_gzip_text_read,
    "text_to_boom": q_text_to_boom,
}

MISC_ORACLES = {
    k: v
    for k, v in {
        "log_query_index": SQL_LOG_QUERY_INDEX,
        "multimodal_meta": SQL_MULTIMODAL_META,
        "multimodal_decode": _multimodal_decode_oracle(),
        "ann_lsh_bucketed": SQL_ANN_LSH_BUCKETED,
        "hfind": _hfind_oracle(),
        "gzip_text_read": _gzip_oracle(),
        "text_to_boom": _text_to_boom_oracle(),
    }.items()
    if v is not None
}



# --------------------------------------------------------------------------
# multimodal resize + frame sampling (round 3)
# --------------------------------------------------------------------------

FRAME_EVERY_N = 500
RESIZE_W, RESIZE_H = 16, 12


def q_media_frame_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Frame fan-out over the decode fixtures: real header-parsed frame
    counts -> sampled frame indices via sequence+explode."""
    from bb_bigdata_log_tools_spark.operators.multimodal import media_frame_sample

    media = spark.createDataFrame(
        [(i, p, mt) for i, mt, p in _decode_payloads()],
        "doc_id long, payload binary, media_type string",
    )
    return media_frame_sample(media, FRAME_EVERY_N)


def _frame_sample_oracle() -> str:
    vals = []
    for i, mt, _fmt, _args, (w, h, fr) in _DECODE_FIXTURES:
        if mt not in ("video", "image"):
            continue  # audio n_frames = PCM sample count; no frame fan-out
        for idx in range(0, fr, FRAME_EVERY_N):
            vals.append(f"({i}, '{mt}', {fr}, TRUE, {idx})")
    body = ",\n  ".join(vals)
    return (
        "SELECT doc_id, media_type, CAST(n_frames AS INTEGER) AS n_frames,"
        " decoded, CAST(frame_idx AS INTEGER) AS frame_idx\n"
        f"FROM (VALUES\n  {body}\n)"
        " AS t(doc_id, media_type, n_frames, decoded, frame_idx)\n"
        "ORDER BY doc_id, frame_idx"
    )


def _resize_payloads() -> list[tuple[int, str, bytes]]:
    from bb_bigdata_log_tools_spark.operators.multimodal import (
        make_bmp,
        make_png,
        make_png_rows,
        make_wav,
    )

    items = []
    for j in range(4):
        w, h = 8 + 4 * j, 6 + 3 * j
        rows = [
            [((x * 7 + j) % 256, (y * 11) % 256, (x + y) % 256) for x in range(w)]
            for y in range(h)
        ]
        items.append((j, "image", make_bmp(w, h, rows)))
    # PNGs now REALLY decode (spec decoder, all filter types): a
    # single-color one and a Paeth-filtered multicolor one.
    items.append((4, "image", make_png(10, 5)))
    png_rows = [
        [((x * 13) % 256, (y * 5 + x) % 256, (x ^ y) % 256) for x in range(9)]
        for y in range(7)
    ]
    items.append((5, "image", make_png_rows(9, 7, png_rows, filter_type=4)))
    items.append((6, "audio", make_wav(8000, 1, 10)))  # non-image -> stub row
    # CORRUPT PNG (IHDR claims 16-bit over 8-bit data: stride short by
    # half) -> honest reject row; REAL 16-bit decodes (rows 17-19)
    deep = bytearray(make_png(4, 4))
    deep[24] = 16  # IHDR bit-depth byte
    items.append((7, "image", bytes(deep)))
    # Baseline JPEGs now REALLY decode (round 6, T.81 spec codec): a
    # 4:4:4 one and the dominant web shape — 4:2:0 with restart markers.
    from bb_bigdata_log_tools_spark.operators.jpegcodec import make_jpeg

    jrows = [
        [((x * 11) % 256, (y * 7) % 256, (x * 2 + y * 3) % 256) for x in range(20)]
        for y in range(14)
    ]
    items.append((8, "image", make_jpeg(20, 14, jrows)))
    items.append(
        (9, "image", make_jpeg(20, 14, jrows, subsample=2, restart_interval=2))
    )
    # CORRUPT progressive (a baseline stream with its SOF patched to
    # SOF2: the scan header's Ss=0/Se=63 violates G.1.1.1.1) -> honest
    # reject row: dimensions parse from the header, pixels do not.
    prog = bytearray(make_jpeg(8, 8, [[(10, 20, 30)] * 8] * 8))
    prog[prog.index(b"\xff\xc0") + 1] = 0xC2
    items.append((10, "image", bytes(prog)))
    # round 7: non-interleaved baseline (one SOS per component) now
    # REALLY decodes — previously the one stub a conformant file hit.
    items.append(
        (
            11,
            "image",
            make_jpeg(20, 14, jrows, subsample=2, restart_interval=2,
                      interleaved=False),
        )
    )
    # round 7: REAL progressive (SOF2) decodes — full
    # successive-approximation script and the spectral-selection-only
    # variant (T.81 Annex G).
    items.append((12, "image", make_jpeg(20, 14, jrows, progressive=True)))
    items.append(
        (
            13,
            "image",
            make_jpeg(20, 14, jrows, subsample=2, restart_interval=2,
                      progressive=True, spectral_only=True),
        )
    )
    # arithmetic-coded frame (SOF9) -> the remaining honest stub class
    arith = bytearray(make_jpeg(8, 8, [[(10, 20, 30)] * 8] * 8))
    arith[arith.index(b"\xff\xc0") + 1] = 0xC9
    items.append((14, "image", bytes(arith)))
    # round 7: GIFs now REALLY decode (LZW + interlace + transparency,
    # operators/gifcodec.py) — plain and interlaced-with-subframe.
    from bb_bigdata_log_tools_spark.operators.gifcodec import make_gif

    grows = [
        [((x % 5) * 40, (y % 4) * 50, ((x + y) % 6) * 30) for x in range(21)]
        for y in range(13)
    ]
    items.append((15, "image", make_gif(21, 13, grows)))
    items.append(
        (
            16,
            "image",
            make_gif(
                21, 13,
                [r[:16] for r in grows[:8]],
                interlace=True,
                frame_rect=(3, 2, 16, 8),
                transparent_bgr=(40, 50, 30),
            ),
        )
    )
    # round 7: the previously stubbed PNG profiles now REALLY decode —
    # Adam7 interlaced RGB, 4-bit palette, 16-bit grayscale.
    from bb_bigdata_log_tools_spark.operators.multimodal import (
        make_png_gray,
        make_png_palette,
    )

    items.append(
        (
            17,
            "image",
            make_png_rows(9, 7, png_rows, filter_type=4, interlace=True),
        )
    )
    pal_colors = [((i * 37) % 256, (i * 91) % 256, (i * 13) % 256) for i in range(16)]
    items.append(
        (
            18,
            "image",
            make_png_palette(
                13, 8,
                [[pal_colors[(x + 3 * y) % 16] for x in range(13)] for y in range(8)],
                bit_depth=4,
            ),
        )
    )
    items.append(
        (
            19,
            "image",
            make_png_gray(
                10, 6,
                [[(x * 4099 + y * 257) % 65536 for x in range(10)] for y in range(6)],
                bit_depth=16,
            ),
        )
    )
    # round 7: the wider BMP profiles — RLE8 palette and 32bpp.
    from bb_bigdata_log_tools_spark.operators.multimodal import (
        make_bmp_palette,
        make_bmp_wide,
    )

    bpal = [((i * 53) % 256, (i * 29) % 256, (i * 11) % 256) for i in range(7)]
    items.append(
        (
            20,
            "image",
            make_bmp_palette(
                14, 9,
                [[bpal[(x // 3 + y) % 7] for x in range(14)] for y in range(9)],
                bpp=8, rle=True,
            ),
        )
    )
    items.append(
        (
            21,
            "image",
            make_bmp_wide(
                12, 7,
                [[((x * 31) % 256, (y * 41) % 256, (x * 3 + y) % 256)
                  for x in range(12)] for y in range(7)],
                bpp=32,
            ),
        )
    )
    # round 9: EXIF-orientation-tagged full JPEGs — the resize must
    # operate on the DISPLAY raster (orientation 6 transposes, 3
    # rotates 180°), and in_width/in_height report display geometry.
    from bb_bigdata_log_tools_spark.operators.jpegcodec import make_jpeg
    from bb_bigdata_log_tools_spark.operators.multimodal import (
        add_exif_orientation,
    )

    def _exif_rows(w, h):
        return [
            [((x * 12) % 256, (y * 7) % 256, (x * 2 + 3 * y) % 256)
             for x in range(w)]
            for y in range(h)
        ]

    items.append(
        (22, "image", add_exif_orientation(make_jpeg(16, 10, _exif_rows(16, 10)), 6))
    )
    items.append(
        (23, "image", add_exif_orientation(make_jpeg(14, 9, _exif_rows(14, 9)), 3))
    )
    return items


def q_media_resize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Real nearest-neighbor BMP/PNG resize executor-side; payloads
    outside the decoded profiles flow through flagged (decoded=false)."""
    from bb_bigdata_log_tools_spark.operators.multimodal import media_resize

    media = spark.createDataFrame(
        [(i, p, mt) for i, mt, p in _resize_payloads()],
        "doc_id long, payload binary, media_type string",
    )
    return media_resize(media, RESIZE_W, RESIZE_H)


def _media_resize_oracle() -> str:
    from bb_bigdata_log_tools_spark.operators.multimodal import (
        media_resize_record,
    )

    vals = []
    for i, mt, p in _resize_payloads():
        iw, ih, ow, oh, nb, md5, dec = media_resize_record(p, RESIZE_W, RESIZE_H)
        vals.append(
            f"({i}, '{mt}', {iw}, {ih}, {ow}, {oh}, {nb}, '{md5}',"
            f" {'TRUE' if dec else 'FALSE'})"
        )
    body = ",\n  ".join(vals)
    return (
        "SELECT doc_id, media_type,"
        " CAST(in_width AS INTEGER) AS in_width,"
        " CAST(in_height AS INTEGER) AS in_height,"
        " CAST(out_width AS INTEGER) AS out_width,"
        " CAST(out_height AS INTEGER) AS out_height,"
        " CAST(out_bytes AS INTEGER) AS out_bytes,"
        " out_md5, decoded\n"
        f"FROM (VALUES\n  {body}\n)"
        " AS t(doc_id, media_type, in_width, in_height, out_width,"
        " out_height, out_bytes, out_md5, decoded)\n"
        "ORDER BY doc_id"
    )


MISC_QUERIES.update(
    {
        "media_frame_sample": q_media_frame_sample,
        "media_resize": q_media_resize,
    }
)
MISC_ORACLES.update(
    {
        "media_frame_sample": _frame_sample_oracle(),
        "media_resize": _media_resize_oracle(),
    }
)


def q_log_dedup_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    from bb_bigdata_log_tools_spark.operators import logops

    logs = events_as_logs(ensure_parallelism(table(spark, sf_dir, "events")))
    return logops.log_dedup_window(logs)


SQL_LOG_DEDUP_WINDOW = f"""{_LOGS_CTE},
b AS (
  SELECT ts, event_id, message,
         CASE WHEN lag(ts) OVER w IS NULL
                   OR ts - lag(ts) OVER w > 3600000
              THEN 1 ELSE 0 END AS nb
  FROM logs
  WINDOW w AS (PARTITION BY message ORDER BY ts, event_id)
),
s AS (
  SELECT *, sum(nb) OVER (PARTITION BY message ORDER BY ts, event_id
                          ROWS UNBOUNDED PRECEDING) AS burst_id
  FROM b
)
SELECT message,
       min(ts) AS burst_start,
       min(event_id) AS first_event_id,
       CAST(count(*) AS BIGINT) AS n_repeats
FROM s
GROUP BY message, burst_id
ORDER BY burst_start, first_event_id
"""

MISC_QUERIES["log_dedup_window"] = q_log_dedup_window
MISC_ORACLES["log_dedup_window"] = SQL_LOG_DEDUP_WINDOW


# Dialect-portable SQL executed VERBATIM by both engines: spark.sql on
# the registered temp views, DuckDB as the oracle. Exercises CTEs, a
# window rank, date_trunc, and aggregate casts through the SQL surface
# (sqlapi.py) rather than the DataFrame API.
SQL_PORTABLE_TOPDAYS = """
WITH daily AS (
  SELECT event_type, CAST(date_trunc('day', ts) AS DATE) AS day,
         CAST(count(*) AS BIGINT) AS n,
         round(sum(value), 4) AS total_value
  FROM events GROUP BY 1, 2
),
ranked AS (
  SELECT *, row_number() OVER (
    PARTITION BY event_type ORDER BY total_value DESC, day
  ) AS rnk
  FROM daily
)
SELECT event_type, day, n, total_value, rnk
FROM ranked WHERE rnk <= 3
ORDER BY event_type, rnk
"""


def q_sql_passthrough(spark: SparkSession, sf_dir: str) -> DataFrame:
    from bb_bigdata_log_tools_spark.sqlapi import sql

    return sql(spark, sf_dir, SQL_PORTABLE_TOPDAYS)


MISC_QUERIES["sql_passthrough"] = q_sql_passthrough
MISC_ORACLES["sql_passthrough"] = SQL_PORTABLE_TOPDAYS


GREP_CTX_REGEX = '"k": 4[0-9]}'
GREP_CTX_BEFORE = 2
GREP_CTX_AFTER = 2


def q_log_grep_context(spark: SparkSession, sf_dir: str) -> DataFrame:
    from bb_bigdata_log_tools_spark.operators import logops

    logs = events_as_logs(ensure_parallelism(table(spark, sf_dir, "events")))
    return logops.log_grep_context(
        logs, GREP_CTX_REGEX, GREP_CTX_BEFORE, GREP_CTX_AFTER
    )


SQL_LOG_GREP_CONTEXT = f"""{_LOGS_CTE},
m AS (
  SELECT ts, block_no, line_no, message,
         CASE WHEN regexp_matches(message, '{GREP_CTX_REGEX.replace("'", "''")}')
              THEN 1 ELSE 0 END AS is_match
  FROM logs
),
c AS (
  SELECT *, max(is_match) OVER (
           PARTITION BY block_no ORDER BY ts, line_no
           ROWS BETWEEN {GREP_CTX_AFTER} PRECEDING
                    AND {GREP_CTX_BEFORE} FOLLOWING
         ) AS keep
  FROM m
)
SELECT ts, block_no, line_no, message, is_match = 1 AS is_match
FROM c WHERE keep = 1
ORDER BY block_no, ts, line_no
"""

TAIL_N = 10


def q_log_tail(spark: SparkSession, sf_dir: str) -> DataFrame:
    from bb_bigdata_log_tools_spark.operators import logops

    logs = events_as_logs(ensure_parallelism(table(spark, sf_dir, "events")))
    return logops.log_tail(logs, TAIL_N)


SQL_LOG_TAIL = f"""{_LOGS_CTE},
r AS (
  SELECT block_no, ts, line_no, message,
         CAST(row_number() OVER (
           PARTITION BY block_no ORDER BY ts DESC, line_no DESC
         ) AS INTEGER) AS lines_from_end
  FROM logs
)
SELECT block_no, ts, line_no, message, lines_from_end
FROM r WHERE lines_from_end <= {TAIL_N}
ORDER BY block_no, ts, line_no
"""

MISC_QUERIES["log_grep_context"] = q_log_grep_context
MISC_ORACLES["log_grep_context"] = SQL_LOG_GREP_CONTEXT
MISC_QUERIES["log_tail"] = q_log_tail
MISC_ORACLES["log_tail"] = SQL_LOG_TAIL


# --------------------------------------------------------------------------
# round-5: log template mining + volume trend
# --------------------------------------------------------------------------


def q_log_templates(spark: SparkSession, sf_dir: str) -> DataFrame:
    from bb_bigdata_log_tools_spark.operators.logops import log_templates

    return log_templates(events_as_logs(table(spark, sf_dir, "events")))


SQL_LOG_TEMPLATES = f"""{_LOGS_CTE}
SELECT regexp_replace(regexp_replace(message, '0x[0-9a-fA-F]+', '<H>', 'g'),
                      '[0-9]+', '<N>', 'g') AS template,
       CAST(count(*) AS BIGINT) AS n_lines,
       CAST(count(DISTINCT block_no) AS BIGINT) AS n_blocks,
       min(ts) AS first_ts,
       max(ts) AS last_ts,
       min(message) AS example_message
FROM logs
GROUP BY template
ORDER BY n_lines DESC, template
"""


def q_log_volume_trend(spark: SparkSession, sf_dir: str) -> DataFrame:
    from bb_bigdata_log_tools_spark.operators.logops import log_volume_trend

    return log_volume_trend(events_as_logs(table(spark, sf_dir, "events")))


SQL_LOG_VOLUME_TREND = f"""{_LOGS_CTE},
daily AS (
  SELECT string_split(message, ' ')[1] AS component,
         ts // 86400000 AS day,
         CAST(count(*) AS BIGINT) AS n_lines
  FROM logs GROUP BY 1, 2
)
SELECT component, day, n_lines,
       lag(n_lines) OVER (PARTITION BY component ORDER BY day) AS prev_lines,
       CASE WHEN lag(n_lines) OVER (PARTITION BY component ORDER BY day) > 0
            THEN round(n_lines * 1.0 /
                 lag(n_lines) OVER (PARTITION BY component ORDER BY day), 4)
       END AS ratio
FROM daily
ORDER BY component, day
"""


MISC_QUERIES.update(
    {
        "log_templates": q_log_templates,
        "log_volume_trend": q_log_volume_trend,
    }
)
MISC_ORACLES.update(
    {
        "log_templates": SQL_LOG_TEMPLATES,
        "log_volume_trend": SQL_LOG_VOLUME_TREND,
    }
)


# --------------------------------------------------------------------------
# round-5: REAL PCM audio statistics (loudness/clipping gate)
# --------------------------------------------------------------------------


def _audio_stats_payloads() -> list[tuple[int, str, bytes]]:
    import math

    from bb_bigdata_log_tools_spark.operators.multimodal import make_mp3, make_wav

    sine = [int(16384 * math.sin(2 * math.pi * 440 * i / 8000)) for i in range(800)]
    quiet = [int(300 * math.sin(2 * math.pi * 100 * i / 8000)) for i in range(400)]
    square = [32767 if i % 2 else -32768 for i in range(200)]
    eight = [128 + (100 if i % 2 else -100) for i in range(100)]
    return [
        (0, "audio", make_wav(8000, 1, samples=sine)),
        (1, "audio", make_wav(16000, 1, samples=quiet)),
        (2, "audio", make_wav(8000, 1, samples=square)),   # fully clipped
        (3, "audio", make_wav(8000, 1, samples=eight, bits=8)),
        (4, "audio", make_wav(8000, 1, n_samples=50)),     # silence
        (5, "audio", make_mp3(44100, 1, 3)),               # compressed -> stub
        (6, "image", b"not audio"),                        # wrong modality
        # round 7: the wider REAL profiles — 24-bit PCM, IEEE float32
        # (with genuine >=1.0 clipping), and the EXTENSIBLE wrapper.
        (7, "audio", make_wav(8000, 1, samples=[v << 8 for v in sine], bits=24)),
        (
            8,
            "audio",
            make_wav(
                8000, 1,
                samples=[min(1.25, 2.5 * v / 32768.0) for v in sine],
                float_fmt=True,
            ),
        ),
        (9, "audio", make_wav(8000, 2, samples=sine[:400] * 2, extensible=True)),
    ]


def q_audio_pcm_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Real PCM sample-level statistics executor-side (fixed fixture
    input, independent of sf_dir — the media-op pattern)."""
    from bb_bigdata_log_tools_spark.operators.multimodal import audio_pcm_stats

    media = spark.createDataFrame(
        [(i, p, mt) for i, mt, p in _audio_stats_payloads()],
        "doc_id long, payload binary, media_type string",
    )
    return audio_pcm_stats(media)


def _audio_stats_oracle() -> str:
    from bb_bigdata_log_tools_spark.operators.multimodal import wav_pcm_stats

    vals = []
    for i, mt, p in _audio_stats_payloads():
        st = wav_pcm_stats(p) if mt == "audio" else None
        if st is not None:
            d, rms, peak, cf = st
            vals.append(f"({i}, '{mt}', {d}, {rms}, {peak}, {cf}, TRUE)")
        else:
            vals.append(f"({i}, '{mt}', 0, 0.0, 0.0, 0.0, FALSE)")
    body = ",\n  ".join(vals)
    return (
        "SELECT doc_id, media_type, CAST(duration_ms AS BIGINT) AS duration_ms,"
        " CAST(rms AS DOUBLE) AS rms, CAST(peak AS DOUBLE) AS peak,"
        " CAST(clipped_frac AS DOUBLE) AS clipped_frac, decoded\n"
        f"FROM (VALUES\n  {body}\n)"
        " AS t(doc_id, media_type, duration_ms, rms, peak, clipped_frac, decoded)\n"
        "ORDER BY doc_id"
    )


MISC_QUERIES.update({"audio_pcm_stats": q_audio_pcm_stats})
MISC_ORACLES.update({"audio_pcm_stats": _audio_stats_oracle()})


# --------------------------------------------------------------------------
# round-5: REAL PCM resampling (rate normalization)
# --------------------------------------------------------------------------

RESAMPLE_RATE = 4000


def _resample_payloads() -> list[tuple[int, str, bytes]]:
    import math

    from bb_bigdata_log_tools_spark.operators.multimodal import make_mp3, make_wav

    sine = [int(16384 * math.sin(2 * math.pi * 440 * i / 8000)) for i in range(800)]
    stereo = [v for i in range(200) for v in (i * 80, -i * 80)]
    return [
        (0, "audio", make_wav(8000, 1, samples=sine)),
        (1, "audio", make_wav(16000, 2, samples=stereo)),
        (2, "audio", make_wav(4000, 1, samples=[100, -100] * 30)),  # identity rate
        # 8-bit now REALLY resamples (shifted up to canonical 16-bit)
        (3, "audio", make_wav(8000, 1, samples=[5, 6, 7], bits=8)),
        (4, "audio", make_mp3(44100, 1, 2)),                         # compressed -> stub
        (5, "video", b"notaudio"),                                   # wrong modality
        # round 7: wider profiles resample to canonical 16-bit
        (6, "audio", make_wav(8000, 1, samples=[v << 8 for v in sine[:200]],
                              bits=24)),
        (7, "audio", make_wav(8000, 1,
                              samples=[v / 32768.0 for v in sine[:200]],
                              float_fmt=True, extensible=True)),
    ]


def q_audio_resample(spark: SparkSession, sf_dir: str) -> DataFrame:
    from bb_bigdata_log_tools_spark.operators.multimodal import audio_resample

    media = spark.createDataFrame(
        [(i, p, mt) for i, mt, p in _resample_payloads()],
        "doc_id long, payload binary, media_type string",
    )
    return audio_resample(media, RESAMPLE_RATE)


def _audio_resample_oracle() -> str:
    import hashlib as _hl

    from bb_bigdata_log_tools_spark.operators.multimodal import (
        parse_wav_meta,
        wav_resample,
    )

    vals = []
    for i, mt, p in _resample_payloads():
        meta = parse_wav_meta(p) if mt == "audio" else None
        res = wav_resample(p, RESAMPLE_RATE) if meta else None
        in_rate = meta[0] if meta else 0
        if res is not None:
            rmeta = parse_wav_meta(res)
            vals.append(
                f"({i}, '{mt}', {in_rate}, {RESAMPLE_RATE}, {rmeta[2]},"
                f" {len(res)}, '{_hl.md5(res).hexdigest()}', TRUE)"
            )
        else:
            vals.append(f"({i}, '{mt}', {in_rate}, 0, 0, 0, '', FALSE)")
    body = ",\n  ".join(vals)
    return (
        "SELECT doc_id, media_type, CAST(in_rate AS INTEGER) AS in_rate,"
        " CAST(out_rate AS INTEGER) AS out_rate,"
        " CAST(out_samples AS BIGINT) AS out_samples,"
        " CAST(out_bytes AS INTEGER) AS out_bytes, out_md5, decoded\n"
        f"FROM (VALUES\n  {body}\n)"
        " AS t(doc_id, media_type, in_rate, out_rate, out_samples,"
        " out_bytes, out_md5, decoded)\n"
        "ORDER BY doc_id"
    )


MISC_QUERIES.update({"audio_resample": q_audio_resample})
MISC_ORACLES.update({"audio_resample": _audio_resample_oracle()})


# --------------------------------------------------------------------------
# round-5: VARIANT semi-structured extraction (Spark 4 showcase)
# --------------------------------------------------------------------------


def q_events_variant_extract(spark: SparkSession, sf_dir: str) -> DataFrame:
    from bb_bigdata_log_tools_spark.operators.logops import events_variant_extract

    return events_variant_extract(table(spark, sf_dir, "events"))


# The oracle mirrors the TYPED extraction semantics with DuckDB's JSON
# functions; props_schema is pinned via the known payload shape
# ({"k": <int>}) — schema_of_variant's rendering is engine-specific, so
# the oracle reproduces it from the validity flag.
SQL_EVENTS_VARIANT_EXTRACT = """
SELECT event_id,
       TRY_CAST(json_extract_string(props, '$.k') AS INTEGER) AS k_value,
       TRY_CAST(json_extract_string(props, '$.k') AS BIGINT) // 10 AS k_bucket,
       CASE WHEN json_valid(props) THEN 'OBJECT<k: BIGINT>' END AS props_schema,
       json_valid(props) AS is_valid_json
FROM events
ORDER BY event_id
"""


MISC_QUERIES.update({"events_variant_extract": q_events_variant_extract})
MISC_ORACLES.update({"events_variant_extract": SQL_EVENTS_VARIANT_EXTRACT})


# --------------------------------------------------------------------------
# round-8: perceptual image hashing (dHash) + image near-dup — the
# pixel decoders' first CONSUMER: cross-format duplicate detection.
# Fixture families: A = checkerboard mastered as BMP/PNG/baseline/
# 4:2:0-restart/progressive JPEG/GIF + a brightness-shifted copy
# (all Hamming 0) + a one-cell edit (Hamming 1); B = a distinct
# pattern with its own JPEG re-encode (Hamming 0 inside, ~35 from A);
# C = a photo-like gradient whose lossy JPEG re-encodes land at
# Hamming 2 (the genuine codec-noise band the threshold must absorb);
# plus an audio payload and a corrupt image (decoded=false rows).
# --------------------------------------------------------------------------

_DHASH_W, _DHASH_H = 36, 24
DEDUP_IMAGE_MAX_HAMMING = 6


def _dhash_rows():
    import math

    def pat_a(x: int, y: int):
        v = 200 if ((x // 4 + y // 3) % 2) else 40
        return (v, v, v)

    def pat_b(x: int, y: int):
        v = ((x // 4) * 53 + (y // 3) * 31) % 256
        return (v, (v * 2) % 256, 255 - v)

    def pat_c(x: int, y: int):
        v = int(120 + 90 * math.sin(x * 0.5) * math.cos(y * 0.4))
        c = max(0, min(255, v))
        return (c, max(0, min(255, (v * 3) // 4 + 30)),
                max(0, min(255, 255 - v)))

    W, H = _DHASH_W, _DHASH_H
    rows_a = [[pat_a(x, y) for x in range(W)] for y in range(H)]
    rows_ab = [[tuple(min(c + 20, 255) for c in px) for px in r]
               for r in rows_a]
    rows_ae = [r[:] for r in rows_a]
    for y in range(6, 9):
        for x in range(12, 16):
            v = 240 - rows_ae[y][x][0]
            rows_ae[y][x] = (v, v, v)
    rows_b = [[pat_b(x, y) for x in range(W)] for y in range(H)]
    rows_c = [[pat_c(x, y) for x in range(W)] for y in range(H)]
    return rows_a, rows_ab, rows_ae, rows_b, rows_c


def _dhash_payloads() -> list[tuple[int, str, bytes]]:
    from bb_bigdata_log_tools_spark.operators.gifcodec import make_gif
    from bb_bigdata_log_tools_spark.operators.jpegcodec import make_jpeg
    from bb_bigdata_log_tools_spark.operators.multimodal import (
        make_bmp,
        make_png_rows,
        make_wav,
    )

    W, H = _DHASH_W, _DHASH_H
    rows_a, rows_ab, rows_ae, rows_b, rows_c = _dhash_rows()
    return [
        (0, "image", make_bmp(W, H, rows_a)),
        (1, "image", make_png_rows(W, H, rows_a)),
        (2, "image", make_jpeg(W, H, rows_a)),
        (3, "image", make_jpeg(W, H, rows_a, subsample=2,
                               restart_interval=2)),
        (4, "image", make_jpeg(W, H, rows_a, progressive=True)),
        (5, "image", make_gif(W, H, rows_a)),
        (6, "image", make_bmp(W, H, rows_ab)),
        (7, "image", make_bmp(W, H, rows_ae)),
        (8, "image", make_bmp(W, H, rows_b)),
        (9, "image", make_jpeg(W, H, rows_b)),
        (10, "image", make_bmp(W, H, rows_c)),
        (11, "image", make_jpeg(W, H, rows_c)),
        (12, "image", make_jpeg(W, H, rows_c, subsample=2,
                                restart_interval=3)),
        (13, "audio", make_wav(8000, 1, 16)),
        (14, "image", b"\x00notanimageatall" * 4),
        # round-9: EXIF-rotated re-exports of the rows_a master (the
        # camera-upload case): raster stored rotated, orientation tag
        # says how to display — must dedup against docs 0–5 via the
        # orientation-normalized dHash.
        (15, "image", _exif_rotated(rows_a, 1, 6)),
        (16, "image", _exif_rotated(rows_a, 3, 8)),
    ]


def _exif_rotated(rows, k: int, orientation: int) -> bytes:
    """JPEG of ``rows`` with the raster physically rotated by
    ``np.rot90(k)`` and an EXIF orientation tag that displays it
    upright again (k=1 CCW ↔ orientation 6, k=3 CW ↔ 8)."""
    import numpy as np

    from bb_bigdata_log_tools_spark.operators.jpegcodec import make_jpeg
    from bb_bigdata_log_tools_spark.operators.multimodal import (
        add_exif_orientation,
    )

    stored = np.rot90(np.asarray(rows, dtype=np.uint8), k)
    h, w = stored.shape[0], stored.shape[1]
    srows = [[tuple(int(c) for c in px) for px in r] for r in stored]
    return add_exif_orientation(make_jpeg(w, h, srows), orientation)


def _dhash_media_df(spark: SparkSession) -> DataFrame:
    return spark.createDataFrame(
        [(i, p, mt) for i, mt, p in _dhash_payloads()],
        "doc_id long, payload binary, media_type string",
    )


_DHASH_VALUES_CACHE: list | None = None


def _dhash_values() -> list:
    """(doc_id, media_type, width, height, dhash) computed ONCE per
    process — the three image oracle builders below share this list
    instead of re-decoding every fixture payload per builder (the
    decoders are pure Python; a triple re-decode costs real import
    time as the fixture set grows)."""
    global _DHASH_VALUES_CACHE
    if _DHASH_VALUES_CACHE is None:
        from bb_bigdata_log_tools_spark.operators.multimodal import (
            image_dhash_value,
            parse_image_dimensions,
        )

        out = []
        for i, mt, p in _dhash_payloads():
            dims = parse_image_dimensions(p)
            out.append(
                (i, mt, dims[1] if dims else 0, dims[2] if dims else 0,
                 image_dhash_value(p))
            )
        _DHASH_VALUES_CACHE = out
    return _DHASH_VALUES_CACHE


def q_image_dhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    from bb_bigdata_log_tools_spark.operators.multimodal import image_dhash

    return image_dhash(_dhash_media_df(spark))


def _image_dhash_oracle() -> str:
    vals = []
    for i, mt, w, h, hv in _dhash_values():
        hv_sql = "CAST(NULL AS BIGINT)" if hv is None else str(hv)
        vals.append(
            f"({i}, '{mt}', {w}, {h}, {hv_sql},"
            f" {'TRUE' if hv is not None else 'FALSE'})"
        )
    body = ",\n  ".join(vals)
    return (
        "SELECT doc_id, media_type,"
        " CAST(width AS INTEGER) AS width,"
        " CAST(height AS INTEGER) AS height,"
        " CAST(dhash AS BIGINT) AS dhash, decoded\n"
        f"FROM (VALUES\n  {body}\n)"
        " AS t(doc_id, media_type, width, height, dhash, decoded)\n"
        "ORDER BY doc_id"
    )


def q_dedup_image(spark: SparkSession, sf_dir: str) -> DataFrame:
    from bb_bigdata_log_tools_spark.operators.multimodal import dedup_image

    return dedup_image(
        _dhash_media_df(spark), max_hamming=DEDUP_IMAGE_MAX_HAMMING
    )


def _dedup_image_oracle() -> str:
    # BRUTE-FORCE pair scan over the driver-computed dHash relation:
    # the oracle proves the pigeonhole-blocked join loses no pair and
    # invents none (completeness check, not a replica of the plan).
    vals = [
        f"({i}, {hv})" for i, _mt, _w, _h, hv in _dhash_values()
        if hv is not None
    ]
    body = ", ".join(vals)
    return f"""
WITH h AS (SELECT * FROM (VALUES {body}) AS t(doc_id, dhash))
SELECT a.doc_id AS doc_id1, b.doc_id AS doc_id2,
       CAST(bit_count(xor(CAST(a.dhash AS BIGINT), CAST(b.dhash AS BIGINT)))
            AS INTEGER) AS hamming
FROM h a JOIN h b ON a.doc_id < b.doc_id
WHERE bit_count(xor(CAST(a.dhash AS BIGINT), CAST(b.dhash AS BIGINT)))
      <= {DEDUP_IMAGE_MAX_HAMMING}
ORDER BY doc_id1, doc_id2
"""


MISC_QUERIES.update(
    {"image_dhash": q_image_dhash, "dedup_image": q_dedup_image}
)
MISC_ORACLES.update(
    {
        "image_dhash": _image_dhash_oracle(),
        "dedup_image": _dedup_image_oracle(),
    }
)


# --------------------------------------------------------------------------
# round-8 composition keys: the image pair graph resolved to clusters,
# and the link-graph side of the HTML fixture pages.
# --------------------------------------------------------------------------


def q_dedup_image_cluster(spark: SparkSession, sf_dir: str) -> DataFrame:
    from bb_bigdata_log_tools_spark.operators.multimodal import (
        dedup_image_cluster,
    )

    return dedup_image_cluster(
        _dhash_media_df(spark), max_hamming=DEDUP_IMAGE_MAX_HAMMING
    )


def _dedup_image_cluster_oracle() -> str:
    # recursive transitive closure over the brute-force pair graph
    # (same discipline as SQL_DEDUP_CLUSTER): cluster_id = min doc_id
    # reachable — matches min-label propagation's fixpoint.
    vals = [
        f"({i}, {hv})" for i, _mt, _w, _h, hv in _dhash_values()
        if hv is not None
    ]
    body = ", ".join(vals)
    return f"""
WITH RECURSIVE h AS (SELECT * FROM (VALUES {body}) AS t(doc_id, dhash)),
pairs AS (
  SELECT a.doc_id AS doc_id1, b.doc_id AS doc_id2
  FROM h a JOIN h b ON a.doc_id < b.doc_id
  WHERE bit_count(xor(CAST(a.dhash AS BIGINT), CAST(b.dhash AS BIGINT)))
        <= {DEDUP_IMAGE_MAX_HAMMING}
),
edges AS (
  SELECT doc_id1 AS a, doc_id2 AS b FROM pairs
  UNION
  SELECT doc_id2, doc_id1 FROM pairs
),
reach(a, b) AS (
  SELECT a, b FROM edges
  UNION
  SELECT r.a, e.b FROM reach r JOIN edges e ON r.b = e.a
)
SELECT a AS doc_id, least(a, min(b)) AS cluster_id
FROM reach GROUP BY a
ORDER BY doc_id
"""


MISC_QUERIES.update({"dedup_image_cluster": q_dedup_image_cluster})
MISC_ORACLES.update({"dedup_image_cluster": _dedup_image_cluster_oracle()})


# --------------------------------------------------------------------------
# round-8: audio fingerprint + near-dup — the third multimodal dedup
# leg. Fixture family: one master signal re-exported as float WAV,
# int16, 8-bit, half amplitude, and resampled (all Hamming 0 — the
# invariances a copied recording actually needs), a gain-wobble remix
# (Hamming 2, the near band), a distinct signal + its own 8-bit copy
# (far from the master, 0 within), plus an image payload, a corrupt
# WAV, and a too-short clip (decoded=false rows).
# --------------------------------------------------------------------------

DEDUP_AUDIO_MAX_HAMMING = 6


def _audio_fp_payloads() -> list[tuple[int, str, bytes]]:
    import math

    from bb_bigdata_log_tools_spark.operators.multimodal import (
        make_bmp,
        make_wav,
        wav_resample,
    )

    sweep = [
        math.sin(2 * math.pi * (3 + i / 700) * i / 8000)
        * (0.3 + 0.5 * abs(math.sin(i / 500)))
        for i in range(4000)
    ]
    other = [
        math.sin(2 * math.pi * 11 * i / 8000) * (0.9 if (i // 800) % 2 else 0.1)
        for i in range(4000)
    ]
    wobble = [s * (1 + 0.2 * math.sin(i / 300)) for i, s in enumerate(sweep)]

    def to16(ss):
        return [max(-32768, min(32767, int(s * 32767))) for s in ss]

    def to8(ss):
        return [max(0, min(255, int(s * 127) + 128)) for s in ss]

    master = make_wav(8000, 1, samples=sweep, float_fmt=True)
    corrupt = bytearray(make_wav(8000, 1, samples=to16(sweep[:100]), bits=16))
    corrupt[20] = 0x55  # format code -> unknown codec
    return [
        (0, "audio", master),
        (1, "audio", make_wav(8000, 1, samples=to16(sweep), bits=16)),
        (2, "audio", make_wav(8000, 1, samples=[s * 0.5 for s in sweep],
                              float_fmt=True)),
        (3, "audio", make_wav(8000, 1, samples=to8(sweep), bits=8)),
        (4, "audio", wav_resample(master, 4000)),
        (5, "audio", make_wav(8000, 1, samples=wobble, float_fmt=True)),
        (6, "audio", make_wav(8000, 1, samples=to16(other), bits=16)),
        (7, "audio", make_wav(8000, 1, samples=to8(other), bits=8)),
        (8, "image", make_bmp(4, 4, [[(9, 9, 9)] * 4] * 4)),
        (9, "audio", bytes(corrupt)),
        (10, "audio", make_wav(8000, 1, samples=to16(sweep[:40]), bits=16)),
    ]


def _audio_fp_media_df(spark: SparkSession) -> DataFrame:
    return spark.createDataFrame(
        [(i, p, mt) for i, mt, p in _audio_fp_payloads()],
        "doc_id long, payload binary, media_type string",
    )


def q_audio_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    from bb_bigdata_log_tools_spark.operators.multimodal import (
        audio_fingerprint,
    )

    return audio_fingerprint(_audio_fp_media_df(spark))


def _audio_fingerprint_oracle() -> str:
    from bb_bigdata_log_tools_spark.operators.multimodal import (
        audio_fingerprint_value,
        parse_wav_meta,
    )

    vals = []
    for i, mt, p in _audio_fp_payloads():
        fp = audio_fingerprint_value(p)
        meta = parse_wav_meta(p)
        # mirror the operator's sample_rate != 0 guard
        # (multimodal.py audio_fingerprint) so a rate-0 WAV fixture
        # can't diverge or ZeroDivisionError at oracle-build time
        dur = (
            meta[2] * 1000 // meta[0]
            if (fp is not None and meta and meta[0])
            else 0
        )
        fp_sql = "CAST(NULL AS BIGINT)" if fp is None else str(fp)
        vals.append(
            f"({i}, '{mt}', {dur}, {fp_sql},"
            f" {'TRUE' if fp is not None else 'FALSE'})"
        )
    body = ",\n  ".join(vals)
    return (
        "SELECT doc_id, media_type, CAST(duration_ms AS BIGINT) AS"
        " duration_ms, CAST(fingerprint AS BIGINT) AS fingerprint,"
        " decoded\n"
        f"FROM (VALUES\n  {body}\n)"
        " AS t(doc_id, media_type, duration_ms, fingerprint, decoded)\n"
        "ORDER BY doc_id"
    )


def q_dedup_audio(spark: SparkSession, sf_dir: str) -> DataFrame:
    from bb_bigdata_log_tools_spark.operators.multimodal import dedup_audio

    return dedup_audio(
        _audio_fp_media_df(spark), max_hamming=DEDUP_AUDIO_MAX_HAMMING
    )


def _dedup_audio_oracle() -> str:
    # brute-force completeness check over the driver-computed
    # fingerprints, like _dedup_image_oracle (single decode per
    # payload)
    from bb_bigdata_log_tools_spark.operators.multimodal import (
        audio_fingerprint_value,
    )

    fps = [
        (i, audio_fingerprint_value(p)) for i, _mt, p in _audio_fp_payloads()
    ]
    vals = [f"({i}, {fp})" for i, fp in fps if fp is not None]
    body = ", ".join(vals)
    return f"""
WITH h AS (SELECT * FROM (VALUES {body}) AS t(doc_id, fp))
SELECT a.doc_id AS doc_id1, b.doc_id AS doc_id2,
       CAST(bit_count(xor(CAST(a.fp AS BIGINT), CAST(b.fp AS BIGINT)))
            AS INTEGER) AS hamming
FROM h a JOIN h b ON a.doc_id < b.doc_id
WHERE bit_count(xor(CAST(a.fp AS BIGINT), CAST(b.fp AS BIGINT)))
      <= {DEDUP_AUDIO_MAX_HAMMING}
ORDER BY doc_id1, doc_id2
"""


MISC_QUERIES.update(
    {"audio_fingerprint": q_audio_fingerprint, "dedup_audio": q_dedup_audio}
)
MISC_ORACLES.update(
    {
        "audio_fingerprint": _audio_fingerprint_oracle(),
        "dedup_audio": _dedup_audio_oracle(),
    }
)
