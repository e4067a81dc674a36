"""Multimodal queries (``operators/multimodal.py``): image and
audio metadata, frame sampling, audio features, real decoding and
perceptual-hash near-duplicates. Payloads (raw bytes, WAV files, PPM
frame streams) are synthesized in-query from the document text, so the
decode plumbing is real and each oracle predicts the decoded values
from the generation rule.
"""

from __future__ import annotations

from dirty_js_etl_spark.queries._shared import _cat, register


@register(
    "x15_multimodal_meta",
    "SELECT doc_id, 'image/fake' AS media_type, "
    "CAST(octet_length(encode(text)) AS BIGINT) AS byte_len, "
    "md5(text) AS checksum FROM documents",
)
def x15_multimodal_meta(spark, sf_dir):
    from dirty_js_etl_spark.operators.multimodal import (
        attach_binary_payload,
        media_metadata_only,
    )

    docs = _cat(spark, sf_dir).read("documents")
    return media_metadata_only(attach_binary_payload(docs))


@register(
    "x19_frame_sample",
    "SELECT doc_id, CAST(UNNEST(range(0, octet_length(encode(text)) % 5 + 1)) AS INT)"
    " AS frame_idx FROM documents",
)
def x19_frame_sample(spark, sf_dir):
    # 1->N mapInPandas expansion (video frame-sample analog); checksum
    # column dropped for the oracle (DuckDB's md5 over mixed binary
    # concat differs) — row multiplicity and indices are the contract
    from dirty_js_etl_spark.operators.multimodal import (
        attach_binary_payload,
        sample_frames,
    )

    docs = _cat(spark, sf_dir).read("documents")
    return sample_frames(attach_binary_payload(docs)).select("doc_id", "frame_idx")


@register(
    "x20_audio_features",
    "SELECT doc_id, CAST(octet_length(encode(text)) * 20 AS BIGINT) AS duration_ms, "
    "CAST(octet_length(encode(text)) % 2 + 1 AS INT) AS n_channels, "
    "round((octet_length(encode(text)) % 1000) / 1000.0, 6) AS rms FROM documents",
)
def x20_audio_features(spark, sf_dir):
    from dirty_js_etl_spark.operators.multimodal import (
        attach_binary_payload,
        extract_audio_features,
    )

    docs = _cat(spark, sf_dir).read("documents")
    return extract_audio_features(attach_binary_payload(docs))


@register(
    "x203_audio_decode",
    """
WITH b AS (
  SELECT doc_id, text, octet_length(encode(text)) AS l FROM documents
), d AS (
  SELECT doc_id, text,
         CASE WHEN l = 0 THEN 0 ELSE (l - 1) % 90 + 1 END AS n
  FROM b
)
SELECT doc_id, CAST(8000 AS INT) AS sample_rate, CAST(1 AS INT) AS n_channels,
       CAST(8 AS INT) AS bits, CAST(n AS BIGINT) AS n_samples,
       CAST(n * 1000 // 8000 AS BIGINT) AS duration_ms,
       CAST(CASE WHEN n = 0 THEN 0 ELSE
         list_sum(list_transform(range(1, n + 1),
                  i -> ascii(substring(text, CAST(i AS INT), 1)))) END
         AS BIGINT) AS sample_sum
FROM d
""",
)
def x203_audio_decode(spark, sf_dir):
    # REAL audio decode (the x16 move for the audio seam): each
    # document wraps into a genuine RIFF/WAVE file (PCM mono 8 kHz
    # 8-bit, text bytes as samples) and the Arrow-batched kernel WALKS
    # those bytes — rate/channels/bits out of the parsed fmt chunk,
    # duration and sample sum out of the data plane. The oracle
    # predicts everything from the generation rule, so the RIFF chunk
    # walker is hash-checked, not shape-checked. Generation and decode
    # are both map-only; payload bytes never shuffle.
    from dirty_js_etl_spark.operators.multimodal import (
        attach_wav_payload,
        decode_audio,
    )

    docs = _cat(spark, sf_dir).read("documents")
    return decode_audio(attach_wav_payload(docs))


@register(
    "x204_frame_sample_real",
    """
WITH b AS (
  SELECT doc_id, text, octet_length(encode(text)) AS l FROM documents
  WHERE octet_length(encode(text)) > 0
), f AS (
  SELECT doc_id, text, l,
         CAST(UNNEST(range(0, l % 4 + 2)) AS INT) AS frame_idx
  FROM b
), d AS (
  SELECT doc_id, text, l, frame_idx,
         (l + frame_idx) % 8 + 1 AS w, (l + frame_idx) % 6 + 1 AS h
  FROM f WHERE frame_idx % 2 = 0
), s AS (
  SELECT doc_id, frame_idx, w, h, l, w * h * 3 AS npix,
         list_sum(list_transform(range(1, l + 1),
                  i -> ascii(substring(text, CAST(i AS INT), 1)))) AS tot,
         CASE WHEN (w * h * 3) % l = 0 THEN 0 ELSE
           list_sum(list_transform(range(1, (w * h * 3) % l + 1),
                    i -> ascii(substring(text, CAST(i AS INT), 1)))) END AS pre
  FROM d
)
SELECT doc_id, frame_idx, CAST(w AS INT) AS width, CAST(h AS INT) AS height,
       CAST((npix // l) * tot + pre AS BIGINT) AS pixel_sum
FROM s
""",
)
def x204_frame_sample_real(spark, sf_dir):
    # REAL frame sampling: each document becomes a container of
    # L%4+2 concatenated binary P6 frames and the kernel walks the
    # byte stream — parsing every header, striding every pixel plane —
    # emitting each 2nd frame's parsed dims + pixel sum (x19 keeps the
    # fake-kernel plumbing shape; this one decodes). The oracle replays
    # the per-frame dims and tiled byte sums arithmetically.
    from dirty_js_etl_spark.operators.multimodal import (
        attach_ppm_stream_payload,
        sample_frames_real,
    )

    docs = _cat(spark, sf_dir).read("documents")
    return sample_frames_real(attach_ppm_stream_payload(docs))


@register(
    "x16_multimodal_decode",
    """
WITH b AS (
  SELECT doc_id, text, octet_length(encode(text)) AS l FROM documents
), d AS (
  SELECT doc_id, text, l, l % 16 + 1 AS w, l % 12 + 1 AS h FROM b
), c AS (
  SELECT doc_id, text, l, w, h, w * h * 3 AS npix,
         octet_length(encode('P6' || chr(10) || CAST(w AS VARCHAR) || ' '
             || CAST(h AS VARCHAR) || chr(10) || '255' || chr(10))) AS hdr
  FROM d
), s AS (
  SELECT doc_id, l, w, h, npix, hdr,
         list_sum(list_transform(range(1, l + 1),
                  i -> ascii(substring(text, CAST(i AS INT), 1)))) AS tot,
         CASE WHEN npix % l = 0 THEN 0 ELSE
           list_sum(list_transform(range(1, npix % l + 1),
                    i -> ascii(substring(text, CAST(i AS INT), 1)))) END AS pre
  FROM c
)
SELECT doc_id, CAST(hdr + npix AS BIGINT) AS byte_len,
       CAST(w AS INT) AS width, CAST(h AS INT) AS height,
       'PPM' AS format,
       CAST((npix // l) * tot + pre AS BIGINT) AS pixel_sum
FROM s
""",
)
def x16_multimodal_decode(spark, sf_dir):
    # REAL decode through real mapInPandas plumbing: each document is
    # wrapped into a genuine binary P6 PPM (header + text bytes tiled
    # as pixels), and the Arrow-batched kernel PARSES those bytes --
    # dims come out of the Netpbm header scan, pixel_sum out of summing
    # the actual pixel plane.  The oracle predicts all of it
    # arithmetically from the generation rule (tiled byte sum = full
    # cycles x total + prefix remainder), so the byte-level decoder is
    # hash-checked, not just shape-checked.  Scale: generation and
    # decode are both map-only; payload bytes never shuffle.
    from dirty_js_etl_spark.operators.multimodal import (
        attach_ppm_payload,
        decode_images,
    )

    docs = _cat(spark, sf_dir).read("documents")
    return decode_images(attach_ppm_payload(docs), use_real_decoder=True)


def _x163_oracle_sql(cap: int = 1000, maxham: int = 3) -> str:
    """DuckDB recomputation of the FULL perceptual-hash pipeline:
    payload bytes (= UTF-8 text — the fixture
    payloads are ASCII, so ``ord`` per char IS the byte), numpy
    ``array_split``'s first-r-cells-get-the-extra-byte layout, cell
    mean vs global mean bits (integer byte sums ≤ a few hundred values
    are EXACT in IEEE double on both engines, so the strict > compares
    identical floats), 4×16-bit packing, the pigeonhole chunk join
    with the hot-bucket cap, and exact hamming."""
    sig_cols = ",\n         ".join(
        f"CAST(sum(CASE WHEN c // 16 = {k} THEN bit * (1 << (c % 16)) "
        f"ELSE 0 END) AS INT) AS c{k}"
        for k in range(4)
    )
    chunks_union = "\n  UNION ALL ".join(
        f"SELECT doc_id, {k} AS chunk_idx, c{k} AS chunk_val FROM sigs"
        for k in range(4)
    )
    ham = " + ".join(f"bit_count(xor(sa.c{k}, sb.c{k}))" for k in range(4))
    return f"""
WITH params AS (
  SELECT doc_id, length(text) AS n,
         length(text) // 64 AS l, length(text) % 64 AS r
  FROM documents
), bytes AS (
  SELECT d.doc_id, t.i,
         ord(substring(d.text, CAST(t.i AS INT) + 1, 1)) AS v
  FROM documents d, unnest(range(length(d.text))) AS t(i)
), cellbytes AS (
  SELECT b.doc_id,
         CASE WHEN b.i < p.r * (p.l + 1) THEN b.i // (p.l + 1)
              ELSE p.r + (b.i - p.r * (p.l + 1)) // greatest(p.l, 1)
         END AS cell, b.v
  FROM bytes b JOIN params p USING (doc_id)
), cellmeans AS (
  SELECT doc_id, cell, avg(v) AS m FROM cellbytes GROUP BY 1, 2
), gmeans AS (
  SELECT doc_id, avg(v) AS gm FROM bytes GROUP BY 1
), spine AS (
  SELECT p.doc_id, t.c FROM params p, unnest(range(64)) AS t(c)
), bits AS (
  SELECT s.doc_id, s.c,
         CASE WHEN coalesce(cm.m, 0.0) > g.gm THEN 1 ELSE 0 END AS bit
  FROM spine s
  LEFT JOIN cellmeans cm ON cm.doc_id = s.doc_id AND cm.cell = s.c
  LEFT JOIN gmeans g ON g.doc_id = s.doc_id
), sigs AS (
  SELECT doc_id,
         {sig_cols}
  FROM bits GROUP BY doc_id
), chunks AS (
  {chunks_union}
), ok AS (
  SELECT chunk_idx, chunk_val FROM chunks
  GROUP BY 1, 2 HAVING count(*) <= {cap}
), kept AS (
  SELECT c.* FROM chunks c JOIN ok USING (chunk_idx, chunk_val)
), cands AS (
  SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
  FROM kept a JOIN kept b
    ON a.chunk_idx = b.chunk_idx AND a.chunk_val = b.chunk_val
   AND a.doc_id < b.doc_id
), scored AS (
  SELECT id_a, id_b, CAST({ham} AS INT) AS hamming
  FROM cands
  JOIN sigs sa ON sa.doc_id = id_a
  JOIN sigs sb ON sb.doc_id = id_b
)
SELECT id_a, id_b, hamming FROM scored WHERE hamming <= {maxham}
"""


@register("x163_phash_near_dup", _x163_oracle_sql())
def x163_phash_near_dup(spark, sf_dir):
    # Multimodal near-dup: average-hash signatures from the payload
    # bytes (map-only Arrow kernel — the bytes never shuffle) + the
    # SAME pigeonhole chunk join as SimHash text dedup. Planted exact
    # duplicates in the fixture text produce identical payloads, so
    # hamming-0 pairs exist by construction.
    from dirty_js_etl_spark.operators.multimodal import (
        attach_binary_payload,
        phash_near_dup_pairs,
    )

    docs = _cat(spark, sf_dir).read("documents")
    with_payload = attach_binary_payload(docs)
    return phash_near_dup_pairs(with_payload, max_hamming=3)
