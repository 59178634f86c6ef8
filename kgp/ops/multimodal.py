"""Multimodal column plumbing: opaque binary payloads + typed metadata.

Image/audio/video payloads are opaque ``binary`` columns with typed
metadata extracted by Arrow-batched ``mapInPandas`` decoders.  The decode
libraries (PIL/ffmpeg/librosa) are not in this container, so the actual
codec step is stubbed (`decode_image` raises), but the Spark-side plumbing
— schema, batch shape, UDF signature, partition behavior — is real and
tested: `payload_meta` runs a deterministic byte-level "decoder" over the
binary column and is oracle-checked against SQL byte arithmetic.

At 100 TB: binary columns ride the same parquet/Iceberg scan as text
(column pruning keeps them unread unless selected); decode stages are
embarrassingly parallel mapInPandas with no shuffle; per-batch memory is
bounded by ``spark.sql.execution.arrow.maxRecordsPerBatch``.
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import DataFrame, functions as F

META_SCHEMA = "doc_id long, n_bytes int, width int, height int, n_frames int"


def decode_image(payload: bytes):  # pragma: no cover - stub by design
    """Real codec hook. Container has no image libs; see module docstring."""
    try:
        from PIL import Image  # noqa: F401
    except ImportError as e:
        raise NotImplementedError("image decoding requires PIL; not in container") from e
    raise NotImplementedError("wire PIL.Image.open(io.BytesIO(payload)) here")


def with_payload(docs: DataFrame) -> DataFrame:
    """Attach a binary payload column (utf-8 bytes of text stand in for an
    encoded media blob — deterministic, schema-correct)."""
    return docs.select("doc_id", F.encode("text", "UTF-8").alias("payload"))


def payload_meta(docs: DataFrame) -> DataFrame:
    """Deterministic fake 'decode': byte-derived metadata per payload.

    width = n_bytes mod 256, height = (n_bytes div 256) mod 256,
    n_frames = n_bytes mod 7 + 1 — stands in for (and has the exact
    call shape of) a real image/video header parse.
    """
    payloads = with_payload(docs)

    def decode(batches):
        for pdf in batches:
            # NULL payload (text is a nullable column) -> NULL metadata row,
            # matching the SQL twin's octet_length(encode(NULL)) = NULL;
            # bare .map(len) would crash the task on the first NULL while
            # the oracle answers — an engine divergence, not just a crash
            n = pd.Series(
                pd.array([len(b) if b is not None else None
                          for b in pdf["payload"]], dtype="Int64"))
            yield pd.DataFrame({
                "doc_id": pdf["doc_id"],
                "n_bytes": n.astype("Int32"),
                "width": (n % 256).astype("Int32"),
                "height": ((n // 256) % 256).astype("Int32"),
                "n_frames": (n % 7 + 1).astype("Int32"),
            })

    return payloads.mapInPandas(decode, schema=META_SCHEMA)


# operator constants, read by each Spark operator and its DuckDB twin
FRAME_EVERY = 2   # frame_sample keeps every FRAME_EVERY-th frame
MAX_SIDE = 64     # mm_meta's resize bound (longest side, px)
BYTE_DIM = 8      # byte_features histogram width

PAYLOAD_META_SQL = """
    WITH p AS (SELECT doc_id, octet_length(encode(text)) AS n_bytes FROM documents)
    SELECT doc_id, n_bytes::INT AS n_bytes, (n_bytes % 256)::INT AS width,
           ((n_bytes // 256) % 256)::INT AS height, (n_bytes % 7 + 1)::INT AS n_frames
    FROM p
"""


# ---------------------------------------------------------------------------
# frame sampling (video-shaped 1→N expansion)
# ---------------------------------------------------------------------------

def frame_sample(docs: DataFrame) -> DataFrame:
    """(doc_id, frame_idx, frame_offset, frame_len): sample every
    ``FRAME_EVERY``-th frame of each payload.  The frame table derives
    deterministically from the payload header (n_frames, byte extents) —
    the exact plumbing a real ffmpeg frame extractor slots into, with the
    decode stub swapped for codec calls.  1→N expansion happens JVM-side
    (sequence + explode): no Python, no shuffle."""
    meta = payload_meta(docs)
    frames = meta.withColumn(
        "frame_idx", F.explode(F.sequence(
            F.lit(0), F.col("n_frames") - 1, F.lit(FRAME_EVERY))))
    frame_len = (F.col("n_bytes") / F.col("n_frames")).cast("int")
    return frames.select(
        "doc_id", "frame_idx",
        (F.col("frame_idx") * frame_len).alias("frame_offset"),
        frame_len.alias("frame_len"),
    )


def frame_sample_sql() -> str:
    # composed over PAYLOAD_META_SQL (like mm_meta_sql): the header
    # derivation is single-sourced so a layout edit can't leave this
    # oracle checking stale semantics
    return f"""
        WITH m AS ({PAYLOAD_META_SQL}),
        fr AS (SELECT doc_id, n_bytes, n_frames,
                      unnest(range(0, n_frames, {FRAME_EVERY})) AS frame_idx
               FROM m)
        SELECT doc_id, frame_idx::INT AS frame_idx,
               (frame_idx * (n_bytes // n_frames))::INT AS frame_offset,
               (n_bytes // n_frames)::INT AS frame_len
        FROM fr
    """


def _resize_exprs():
    """(out_w, out_h, keep): the ONE Spark-side definition of the
    aspect-preserving resize plan (mm_meta; mm_meta_sql is its twin).
    Explicit floor + 1px minimum: Spark's double->int cast truncates while
    DuckDB's rounds, so the rounding mode must be spelled out for parity."""
    max_side = MAX_SIDE
    longest = F.greatest("width", "height")
    out_w = F.greatest(F.lit(1), F.floor(F.col("width") * F.lit(max_side) / longest)).cast("int")
    out_h = F.greatest(F.lit(1), F.floor(F.col("height") * F.lit(max_side) / longest)).cast("int")
    return out_w, out_h, longest <= max_side


def mm_meta(docs: DataFrame) -> DataFrame:
    """payload_meta + resize planning merged into ONE per-doc row, so a
    single driver-gate slot hash-checks both multimodal ops.  ``out_w`` /
    ``out_h`` are 0 for degenerate dimensions (width or height 0); real
    outputs are always >= 1, so the sentinel is unambiguous and the schema
    stays null-free (nullable ints round-trip differently through pandas
    in the two engines)."""
    m = payload_meta(docs)
    out_w, out_h, keep = _resize_exprs()
    ok = (F.col("width") > 0) & (F.col("height") > 0)
    return m.select(
        "doc_id", "n_bytes", "width", "height", "n_frames",
        F.when(ok, F.when(keep, F.col("width")).otherwise(out_w))
        .otherwise(F.lit(0)).alias("out_w"),
        F.when(ok, F.when(keep, F.col("height")).otherwise(out_h))
        .otherwise(F.lit(0)).alias("out_h"),
    )


def mm_meta_sql() -> str:
    # composed over PAYLOAD_META_SQL so the meta derivation is
    # single-sourced — an edit to the payload header layout can't leave
    # this gate view testing stale semantics
    return f"""
        WITH m AS ({PAYLOAD_META_SQL})
        SELECT doc_id, n_bytes, width, height, n_frames,
               CASE WHEN COALESCE(width, 0) <= 0 OR COALESCE(height, 0) <= 0 THEN 0
                    WHEN GREATEST(width, height) <= {MAX_SIDE} THEN width
                    ELSE GREATEST(1, FLOOR(width * {MAX_SIDE} / GREATEST(width, height)))::INT
               END AS out_w,
               CASE WHEN COALESCE(width, 0) <= 0 OR COALESCE(height, 0) <= 0 THEN 0
                    WHEN GREATEST(width, height) <= {MAX_SIDE} THEN height
                    ELSE GREATEST(1, FLOOR(height * {MAX_SIDE} / GREATEST(width, height)))::INT
               END AS out_h
        FROM m
    """


def byte_features(docs: DataFrame) -> DataFrame:
    """(doc_id, features): L1-normalized byte histogram over the payload —
    the binary→embedding feature-extraction plumbing (a real image
    featurizer replaces the histogram with model activations; the Arrow
    batch shape, schema, and downstream simsearch compatibility are what
    this exercises)."""
    import numpy as np

    payloads = with_payload(docs)
    dim = BYTE_DIM

    def feats(batches):
        for pdf in batches:
            out = []
            for b in pdf["payload"]:
                if b is None:  # nullable text -> NULL features, not a crash
                    out.append(None)
                    continue
                arr = np.frombuffer(bytes(b), dtype=np.uint8)
                if arr.size == 0:
                    out.append([0.0] * dim)
                    continue
                hist = np.bincount(arr % dim, minlength=dim).astype(np.float64)
                out.append(list((hist / hist.sum()).astype(float)))
            yield pd.DataFrame({"doc_id": pdf["doc_id"], "features": out})

    return payloads.mapInPandas(feats, schema="doc_id long, features array<double>")


def byte_features_q20(docs: DataFrame) -> DataFrame:
    """Driver-hashable byte_features surface: ``(doc_id, dim, l2q20,
    feat_csv)`` with every float projected through floor-2^20 fixed point
    (the embed_components idiom — exact binary arithmetic on IEEE-identical
    values in both engines, no round()/shortest-repr string drift).

    l2q20 folds the squared components LEFT-TO-RIGHT (F.aggregate's array
    order) — the SQL twin spells out the same 8-term nested fold, because
    a bare SUM() carries no order guarantee and float addition is not
    associative."""
    q = F.lit(1 << 20)
    return byte_features(docs).select(
        "doc_id", F.size("features").alias("dim"),
        F.floor(F.sqrt(F.aggregate(
            "features", F.lit(0.0), lambda a, x: a + x * x)) * q)
        .cast("long").alias("l2q20"),
        F.concat_ws(",", F.transform(
            "features",
            lambda x: F.floor(x * q).cast("long").cast("string")))
        .alias("feat_csv"))


def byte_features_q20_sql() -> str:
    """DuckDB twin of byte_features_q20, exact for ASCII text (the
    documents fixture is [a-z ]): payload bytes = UTF-8 of text = ord of
    each char, so the histogram is a join-by-index char scan (no unnest —
    see the DuckDB 1.0 hazard notes in ops/transcript_twin.py).  cnt::DOUBLE /
    total::DOUBLE is the identical IEEE division numpy performs
    (hist.sum() over 8 sub-2^53 counts is exact in float64), the squared
    components fold left-to-right like F.aggregate, and floor-2^20 fixed
    point carries no rounding boundary.  NULL text propagates as a
    NULL-features row (dim/l2q20 NULL, feat_csv '') matching the Spark
    surface's nullable-payload branch — NOT an all-zero row."""
    dim = BYTE_DIM
    ks = list(range(dim))
    cols = ", ".join(
        f"COALESCE(MAX(CASE WHEN k = {k} THEN c END), 0) AS c{k}" for k in ks)
    xs = ", ".join(
        f"CASE WHEN t = 0 THEN 0.0 ELSE CAST(c{k} AS DOUBLE) / CAST(t AS DOUBLE) END AS x{k}"
        for k in ks)
    sumsq = "0.0"
    for k in ks:
        sumsq = f"({sumsq} + x{k} * x{k})"
    csv = " || ',' || ".join(
        f"CAST(CAST(FLOOR(x{k} * 1048576) AS BIGINT) AS VARCHAR)" for k in ks)
    return f"""
        WITH d AS (SELECT doc_id, text FROM documents),
        nums AS MATERIALIZED (
          SELECT g.i
          FROM generate_series(1, 1000000) AS g(i),
               (SELECT CASE WHEN max(length(text)) > 1000000
                            THEN CAST(error('byte_features twin: text exceeds the 1e6-char nums ceiling') AS BIGINT)
                            ELSE COALESCE(max(length(text)), 0) END AS m FROM d) b
          WHERE g.i <= b.m
        ),
        h AS (SELECT doc_id, ord(substr(text, n.i, 1)) % {dim} AS k, count(*) AS c
              FROM d JOIN nums n ON n.i <= length(text)
              GROUP BY doc_id, ord(substr(text, n.i, 1)) % {dim}),
        tot AS (SELECT doc_id, SUM(c) AS t FROM h GROUP BY doc_id),
        wide AS (SELECT d.doc_id, d.text IS NULL AS tnull,
                        COALESCE(t.t, 0) AS t, {cols}
                 FROM d LEFT JOIN tot t ON d.doc_id = t.doc_id
                 LEFT JOIN h ON d.doc_id = h.doc_id
                 GROUP BY d.doc_id, d.text IS NULL, COALESCE(t.t, 0)),
        x AS (SELECT doc_id, tnull, {xs} FROM wide)
        SELECT doc_id,
               CASE WHEN tnull THEN NULL ELSE {dim} END AS dim,
               CASE WHEN tnull THEN NULL
                    ELSE CAST(FLOOR(sqrt({sumsq}) * 1048576) AS BIGINT)
               END AS l2q20,
               CASE WHEN tnull THEN '' ELSE {csv} END AS feat_csv
        FROM x
    """
