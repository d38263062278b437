"""X3 similarity search over embeddings, X4 text analysis, X5 multimodal columns."""

from __future__ import annotations

from etl_fuel_priceguide_ec2_spark.registry.base import (
    register,
)
from etl_fuel_priceguide_ec2_spark.operators import (
    multimodal,
    similarity,
    textops,
)
from etl_fuel_priceguide_ec2_spark.sources.catalog import load_table

# ---------------------------------------------------------------------------
# X3 — similarity search over embeddings
# ---------------------------------------------------------------------------


@register(
    "similarity_topk",
    """
    WITH e AS (
      SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v,
             sqrt(list_dot_product(CAST(embedding AS DOUBLE[]), CAST(embedding AS DOUBLE[]))) AS nrm
      FROM embeddings
    ), q AS (SELECT * FROM e WHERE vec_id < 5)
    SELECT query_id, neighbor_id, rank, cosine FROM (
      SELECT q.vec_id AS query_id, e.vec_id AS neighbor_id,
             ROW_NUMBER() OVER (PARTITION BY q.vec_id
                                ORDER BY list_dot_product(e.v, q.v) / (e.nrm * q.nrm) DESC,
                                         e.vec_id ASC) AS rank,
             ROUND(list_dot_product(e.v, q.v) / (e.nrm * q.nrm), 4) + 0.0 AS cosine
      FROM e CROSS JOIN q
      WHERE q.vec_id <> e.vec_id
    ) WHERE rank <= 10
    """,
)
def q_similarity_topk(spark, sf_dir):
    from pyspark.sql import functions as F

    emb = load_table(spark, sf_dir, "embeddings")
    return similarity.cosine_topk(emb, emb.filter(F.col("vec_id") < 5), "vec_id", "embedding", k=10)


@register(
    "similarity_topk_ivf",
    """
    WITH e AS (
      SELECT vec_id, label, CAST(embedding AS DOUBLE[]) AS v,
             sqrt(list_dot_product(CAST(embedding AS DOUBLE[]), CAST(embedding AS DOUBLE[]))) AS nrm
      FROM embeddings
    ), q AS (SELECT * FROM e WHERE vec_id < 5)
    SELECT query_id, neighbor_id, rank, cosine FROM (
      SELECT q.vec_id AS query_id, e.vec_id AS neighbor_id,
             ROW_NUMBER() OVER (PARTITION BY q.vec_id
                                ORDER BY list_dot_product(e.v, q.v) / (e.nrm * q.nrm) DESC,
                                         e.vec_id ASC) AS rank,
             ROUND(list_dot_product(e.v, q.v) / (e.nrm * q.nrm), 4) + 0.0 AS cosine
      FROM e JOIN q ON e.label = q.label
      WHERE q.vec_id <> e.vec_id
    ) WHERE rank <= 10
    """,
)
def q_similarity_topk_ivf(spark, sf_dir):
    from pyspark.sql import functions as F

    emb = load_table(spark, sf_dir, "embeddings")
    return similarity.cosine_topk_ivf(
        emb, emb.filter(F.col("vec_id") < 5), "vec_id", "embedding", cell_col="label", k=10
    )


# ---------------------------------------------------------------------------
# X4 — text analysis on documents
# ---------------------------------------------------------------------------


@register(
    "text_token_stats",
    r"""
    SELECT doc_id,
           CAST(length(trim(text)) AS INT) AS n_chars_actual,
           CAST(len(string_split_regex(trim(text), '\s+')) AS INT) AS n_tokens_ws,
           CAST(len(regexp_extract_all(trim(text), '[A-Za-z]+|[0-9]+|[^A-Za-z0-9\s]')) AS INT)
             AS n_tokens_bpe,
           CAST(len(list_distinct(string_split_regex(trim(text), '\s+'))) AS INT)
             AS n_unique_tokens
    FROM documents
    """,
)
def q_text_token_stats(spark, sf_dir):
    docs = load_table(spark, sf_dir, "documents")
    return textops.token_stats(docs, "doc_id", "text")


@register(
    "text_quality_score",
    r"""
    WITH t AS (
      SELECT doc_id, trim(text) AS txt FROM documents
    ), m AS (
      SELECT doc_id,
             len(string_split_regex(txt, '\s+')) AS n_tokens,
             len(regexp_extract_all(txt, '\b(the|and|of|to|a)\b')) AS n_stop,
             len(regexp_extract_all(txt, '[A-Za-z]')) AS n_alpha,
             length(txt) AS n_chars
      FROM t
    )
    SELECT doc_id,
           CAST(n_tokens AS INT) AS n_tokens,
           ROUND(n_stop * 1.0 / n_tokens, 6) AS stop_ratio,
           ROUND(n_alpha * 1.0 / n_chars, 6) AS alpha_ratio,
           ROUND((CASE WHEN n_tokens BETWEEN 20 AND 1000 THEN 1.0 ELSE 0.0 END
                  + least(ROUND(n_stop * 1.0 / n_tokens, 6) * 5, 1.0)
                  + ROUND(n_alpha * 1.0 / n_chars, 6)) / 3, 6) AS quality_score
    FROM m
    """,
)
def q_text_quality_score(spark, sf_dir):
    docs = load_table(spark, sf_dir, "documents")
    return textops.quality_score(docs, "doc_id", "text")


@register(
    "text_lang_id",
    r"""
    WITH s AS (
      SELECT doc_id,
             len(regexp_extract_all(text, '\b(the|and|of|to|a)\b'))   AS score_en,
             len(regexp_extract_all(text, '\b(el|la|de|que|y)\b'))    AS score_es,
             len(regexp_extract_all(text, '\b(der|die|und|das|ist)\b')) AS score_de,
             len(regexp_extract_all(text, '\b(le|la|et|les|des)\b'))  AS score_fr,
             len(regexp_extract_all(text, '(的|是|在|了|我)'))          AS score_zh
      FROM documents
    )
    SELECT doc_id,
           CASE WHEN greatest(score_en, score_es, score_de, score_fr, score_zh) = 0 THEN 'und'
                WHEN score_en = greatest(score_en, score_es, score_de, score_fr, score_zh) THEN 'en'
                WHEN score_es = greatest(score_en, score_es, score_de, score_fr, score_zh) THEN 'es'
                WHEN score_de = greatest(score_en, score_es, score_de, score_fr, score_zh) THEN 'de'
                WHEN score_fr = greatest(score_en, score_es, score_de, score_fr, score_zh) THEN 'fr'
                ELSE 'zh' END AS pred_lang
    FROM s
    """,
)
def q_text_lang_id(spark, sf_dir):
    docs = load_table(spark, sf_dir, "documents")
    return textops.lang_id(docs, "doc_id", "text")


@register(
    "text_fingerprint",
    """
    SELECT doc_id,
           list_reduce(list_transform(string_split(text, ''), x -> CAST(ascii(x) AS BIGINT)),
                       (a, b) -> (a * 31 + b) % 1000000007) AS fingerprint
    FROM documents WHERE length(text) > 0
    """,
)
def q_text_fingerprint(spark, sf_dir):
    from pyspark.sql import functions as F

    docs = load_table(spark, sf_dir, "documents").filter(F.length("text") > 0)
    return textops.fingerprint(docs, "doc_id", "text")


# ---------------------------------------------------------------------------
# X5 — multimodal columns (binary payload + typed metadata; decode stubbed)
# ---------------------------------------------------------------------------


@register(
    "multimodal_meta",
    """
    SELECT doc_id, 'application/octet-stream' AS mime,
           CAST(octet_length(encode(text)) AS BIGINT) AS n_bytes,
           sha256(text) AS sha
    FROM documents
    """,
)
def q_multimodal_meta(spark, sf_dir):
    docs = load_table(spark, sf_dir, "documents")
    return multimodal.to_media(docs, "doc_id", "text").drop("payload")


@register(
    "multimodal_decode_features",
    """
    SELECT doc_id, 'application/octet-stream' AS mime,
           CAST(octet_length(encode(text)) AS BIGINT) AS n_bytes,
           CAST(octet_length(encode(text)) % 640 + 1 AS BIGINT) AS width,
           CAST(octet_length(encode(text)) % 480 + 1 AS BIGINT) AS height,
           CAST(octet_length(encode(text)) % 30 + 1 AS BIGINT) AS n_frames
    FROM documents
    """,
)
def q_multimodal_decode_features(spark, sf_dir):
    docs = load_table(spark, sf_dir, "documents")
    return multimodal.decode_features(multimodal.to_media(docs, "doc_id", "text"))


@register(
    "multimodal_frame_sample",
    """
    SELECT doc_id, UNNEST(range(0, octet_length(encode(text)) % 30 + 1, 10)) AS frame_idx
    FROM documents
    """,
)
def q_multimodal_frame_sample(spark, sf_dir):
    docs = load_table(spark, sf_dir, "documents")
    return multimodal.frame_sample(multimodal.to_media(docs, "doc_id", "text"), every_nth=10)




@register(
    "audio_waveform_stats",
    """
    WITH samp AS (
      SELECT d.doc_id, ((d.doc_id * 31 + t.i * 7) % 2048) - 1024 AS s
      FROM documents d CROSS JOIN unnest(generate_series(0, 3999)) AS t(i)
    )
    SELECT doc_id,
           CAST(8000 AS BIGINT) AS sample_rate,
           CAST(COUNT(*) AS BIGINT) AS n_samples,
           CAST(MAX(ABS(s)) AS BIGINT) AS peak_abs,
           ROUND(SQRT(CAST(SUM(s * s) AS DOUBLE) / COUNT(*)), 6) AS rms
    FROM samp GROUP BY doc_id
    """,
)
def q_audio_waveform_stats(spark, sf_dir):
    """X5 audio: synthesize REAL 16-bit mono PCM WAV payloads (stdlib
    wave encoder, deterministic integer sawtooth keyed on doc_id),
    decode them back through operators/audiocodec, and emit waveform
    stats. The oracle regenerates the same integer samples in SQL and
    aggregates — peak/RMS match exactly because the signal is trig-free
    integer math and the energy sum is exact int64."""
    docs = load_table(spark, sf_dir, "documents").select("doc_id")
    media = multimodal.to_audio_media(docs, "doc_id", n_samples=4000, sample_rate=8000)
    return multimodal.audio_waveform_stats(media)


@register(
    "audio_zero_crossings",
    """
    WITH samp AS (
      SELECT d.doc_id, t.i, ((d.doc_id * 31 + t.i * 7) % 2048) - 1024 AS s
      FROM documents d CROSS JOIN unnest(generate_series(0, 3999)) AS t(i)
    ), flags AS (
      SELECT doc_id, (s < 0) AS neg,
             LAG(s < 0) OVER (PARTITION BY doc_id ORDER BY i) AS prev_neg
      FROM samp
    )
    SELECT doc_id,
           CAST(4000 AS BIGINT) AS n_samples,
           CAST(COUNT(*) FILTER (WHERE prev_neg IS NOT NULL
                                   AND neg <> prev_neg) AS BIGINT)
             AS zero_crossings,
           ROUND(COUNT(*) FILTER (WHERE prev_neg IS NOT NULL
                                    AND neg <> prev_neg) / 3999.0, 6) AS zcr
    FROM flags GROUP BY doc_id
    """,
)
def q_audio_zero_crossings(spark, sf_dir):
    """X5 audio feature #2: zero-crossing count/rate over the decoded
    WAV payloads (same real encode->decode round trip as
    audio_waveform_stats). Integer-exact by construction — the oracle
    regenerates the sawtooth samples and replays the flag-flip count
    with one LAG window."""
    docs = load_table(spark, sf_dir, "documents").select("doc_id")
    media = multimodal.to_audio_media(docs, "doc_id", n_samples=4000, sample_rate=8000)
    return multimodal.audio_zero_crossings(media)


# Shared by the pair and keep-list oracles: the deterministic pixel
# synthesis + the identical integer aHash band math, as SQL CTEs.
_AHASH_BANDS_CTES = """px AS (
      SELECT d.doc_id, d.doc_id % 100 AS cls,
             p.p % 16 AS x, p.p // 16 AS y
      FROM documents d CROSS JOIN unnest(generate_series(0, 255)) AS p(p)
    ), gray AS (
      SELECT doc_id, x, y,
        ((CASE WHEN x = doc_id % 16 AND y = (doc_id // 16) % 16
              THEN LEAST(255, ((cls * 37 + x * 11 + y * 5) % 256) + (doc_id % 5))
              ELSE (cls * 37 + x * 11 + y * 5) % 256 END)
         + ((cls * 59 + x * 3 + y * 17) % 256)
         + ((cls * 83 + x * 7 + y * 13) % 256)) // 3 AS g
      FROM px
    ), cells AS (
      SELECT doc_id, (y // 2) AS i, (x // 2) AS j, SUM(g) // 4 AS g8
      FROM gray GROUP BY doc_id, (y // 2), (x // 2)
    ), tot AS (
      SELECT doc_id, SUM(g8) AS s FROM cells GROUP BY doc_id
    ), bits AS (
      SELECT c.doc_id, (c.i * 8 + c.j) AS idx,
             CASE WHEN c.g8 * 64 > t.s THEN 1 ELSE 0 END AS bit
      FROM cells c JOIN tot t USING (doc_id)
    ), bands AS (
      SELECT doc_id,
        CAST(SUM(CASE WHEN idx // 16 = 0 THEN (bit << (idx % 16)) ELSE 0 END) AS BIGINT) AS b0,
        CAST(SUM(CASE WHEN idx // 16 = 1 THEN (bit << (idx % 16)) ELSE 0 END) AS BIGINT) AS b1,
        CAST(SUM(CASE WHEN idx // 16 = 2 THEN (bit << (idx % 16)) ELSE 0 END) AS BIGINT) AS b2,
        CAST(SUM(CASE WHEN idx // 16 = 3 THEN (bit << (idx % 16)) ELSE 0 END) AS BIGINT) AS b3
      FROM bits GROUP BY doc_id
    )"""


@register(
    "image_ahash_near_pairs",
    f"""
    WITH {_AHASH_BANDS_CTES}
    SELECT a.doc_id AS id_a, b.doc_id AS id_b,
           CAST(bit_count(xor(a.b0, b.b0)) + bit_count(xor(a.b1, b.b1))
              + bit_count(xor(a.b2, b.b2)) + bit_count(xor(a.b3, b.b3)) AS BIGINT) AS hamming
    FROM bands a JOIN bands b ON a.doc_id < b.doc_id
    WHERE bit_count(xor(a.b0, b.b0)) + bit_count(xor(a.b1, b.b1))
        + bit_count(xor(a.b2, b.b2)) + bit_count(xor(a.b3, b.b3)) <= 3
    """,
)
def q_image_ahash_near_pairs(spark, sf_dir):
    """X5b: image near-dup pairs by perceptual aHash over REAL decoded
    PPM payloads (the full encode → P6 parse → gray → 8×8 block-mean →
    threshold → 16-bit band pipeline runs executor-side; only 4 longs
    per image shuffle). Candidates must share a band (exact recall at
    Hamming <= 3 by pigeonhole), then exact popcount verify — SimHash's
    blocking pattern applied to image space. The oracle replays the
    deterministic pixel synthesis and the identical integer hash math
    in SQL; the Spark side gets the pixels by actually decoding the
    binary payloads, so the codec round trip is what's being verified."""
    docs = load_table(spark, sf_dir, "documents").select("doc_id")
    media = multimodal.to_image_media(docs, "doc_id", size=16, classes=100)
    hashes = multimodal.image_ahash(media)
    return multimodal.image_ahash_pairs(hashes, max_hamming=3)


# --- round-9 addition (post-freeze -> leads the round-10 window) ------
# X5b closure (VERDICT r08 item 5): the aHash band relation promised
# itself as ingest-time state; this keep-list consumes it — near-dup
# pairs -> HashMin components -> min-id canonical — the same relation
# shape a curation job anti-joins (minhash_dedup_keeplist's contract,
# image space). The CC fixpoint replays as a recursive CTE.
_AHASH_KEEPLIST_ORACLE = f"""
    WITH RECURSIVE {_AHASH_BANDS_CTES},
    apairs AS MATERIALIZED (
      SELECT a.doc_id AS id_a, b.doc_id AS id_b
      FROM bands a JOIN bands b ON a.doc_id < b.doc_id
      WHERE bit_count(xor(a.b0, b.b0)) + bit_count(xor(a.b1, b.b1))
          + bit_count(xor(a.b2, b.b2)) + bit_count(xor(a.b3, b.b3)) <= 3
    ), edges AS (
      SELECT id_a AS src, id_b AS dst FROM apairs
      UNION SELECT id_b, id_a FROM apairs
    ), walk AS (
      SELECT src AS node, src AS reach FROM edges
      UNION
      SELECT w.node, e.dst FROM walk w JOIN edges e ON w.reach = e.src
    ), comp AS (
      SELECT node, MIN(reach) AS component_id
      FROM (SELECT node, reach FROM walk UNION SELECT src, dst FROM edges)
      GROUP BY node
    )
    SELECT d.doc_id,
           COALESCE(comp.component_id, d.doc_id) AS component_id,
           COALESCE(comp.component_id, d.doc_id) = d.doc_id AS kept
    FROM documents d LEFT JOIN comp ON comp.node = d.doc_id
"""


@register("image_ahash_keeplist", _AHASH_KEEPLIST_ORACLE)
def q_image_ahash_keeplist(spark, sf_dir):
    """Image-dedup keep-list: decode -> aHash bands -> banded pair join
    (exact recall at Hamming <= 3) -> HashMin connected components ->
    min-id canonical per component, one row per document. The band
    relation is the persistable ingest state —
    ``image_ahash_pairs_from_state`` mines the same pairs from slices
    of it without re-decoding payloads (state-reuse pinned by test)."""
    docs = load_table(spark, sf_dir, "documents").select("doc_id")
    media = multimodal.to_image_media(docs, "doc_id", size=16, classes=100)
    return multimodal.band_keeplist(docs, multimodal.image_ahash(media))


# --- round-11 addition (post-freeze -> leads the round-12 window) ------
# X5b completion: the DCT pHash — perceptual-hash pair member #2.
# Same four-band relation contract as aHash (the pair join and the
# band-state miner consume either), but bits threshold the low-
# frequency DCT spectrum against its median instead of the luminance
# mean — robust to global brightness/contrast shifts. The integer DCT
# basis is generated ONCE (multimodal.dct8_basis_q6) and embedded in
# the oracle as literal VALUES, so no irrational cosine ever has to
# agree cross-engine — only exact int64 products do.

def _phash_bands_ctes() -> str:
    basis = multimodal.dct8_basis_q6()
    vals = ", ".join(
        f"({u}, {x}, {b})" for u, row in enumerate(basis) for x, b in enumerate(row)
    )
    return f"""px AS (
      SELECT d.doc_id, d.doc_id % 100 AS cls,
             p.p % 16 AS x, p.p // 16 AS y
      FROM documents d CROSS JOIN unnest(generate_series(0, 255)) AS p(p)
    ), gray AS (
      SELECT doc_id, x, y,
        ((CASE WHEN x = doc_id % 16 AND y = (doc_id // 16) % 16
              THEN LEAST(255, ((cls * 37 + x * 11 + y * 5) % 256) + (doc_id % 5))
              ELSE (cls * 37 + x * 11 + y * 5) % 256 END)
         + ((cls * 59 + x * 3 + y * 17) % 256)
         + ((cls * 83 + x * 7 + y * 13) % 256)) // 3 AS g
      FROM px
    ), cells AS (
      SELECT doc_id, (y // 2) AS i, (x // 2) AS j, SUM(g) // 4 AS g8
      FROM gray GROUP BY doc_id, (y // 2), (x // 2)
    ), dctb AS (
      -- CAST to BIGINT: bare VALUES ints infer INT32 and the basis
      -- products overflow it (the sim's dtype-trap gotcha)
      SELECT u, x, CAST(b AS BIGINT) AS b FROM (VALUES {vals}) t(u, x, b)
    ), coeff AS MATERIALIZED (
      SELECT c.doc_id, bu.u AS u, bv.u AS v,
             CAST(SUM(bu.b * bv.b * c.g8) AS BIGINT) AS d
      FROM cells c
      JOIN dctb bu ON bu.x = c.i
      JOIN dctb bv ON bv.x = c.j
      GROUP BY c.doc_id, bu.u, bv.u
    ), nondc AS (
      SELECT doc_id, (u * 8 + v) AS idx, d
      FROM coeff WHERE NOT (u = 0 AND v = 0)
    ), med AS (
      SELECT doc_id, d AS m FROM (
        SELECT doc_id, d,
               ROW_NUMBER() OVER (PARTITION BY doc_id ORDER BY d, idx) AS rn
        FROM nondc
      ) WHERE rn = 32
    ), pbits AS (
      SELECT n.doc_id, n.idx - 1 AS bidx,
             CASE WHEN n.d > m.m THEN 1 ELSE 0 END AS bit
      FROM nondc n JOIN med m USING (doc_id)
    ), bands AS (
      SELECT doc_id,
        CAST(SUM(CASE WHEN bidx // 16 = 0 THEN (bit << (bidx % 16)) ELSE 0 END) AS BIGINT) AS b0,
        CAST(SUM(CASE WHEN bidx // 16 = 1 THEN (bit << (bidx % 16)) ELSE 0 END) AS BIGINT) AS b1,
        CAST(SUM(CASE WHEN bidx // 16 = 2 THEN (bit << (bidx % 16)) ELSE 0 END) AS BIGINT) AS b2,
        CAST(SUM(CASE WHEN bidx // 16 = 3 THEN (bit << (bidx % 16)) ELSE 0 END) AS BIGINT) AS b3
      FROM pbits GROUP BY doc_id
    )"""


@register(
    "image_phash_near_pairs",
    f"""
    WITH {_phash_bands_ctes()}
    SELECT a.doc_id AS id_a, b.doc_id AS id_b,
           CAST(bit_count(xor(a.b0, b.b0)) + bit_count(xor(a.b1, b.b1))
              + bit_count(xor(a.b2, b.b2)) + bit_count(xor(a.b3, b.b3)) AS BIGINT) AS hamming
    FROM bands a JOIN bands b ON a.doc_id < b.doc_id
    WHERE bit_count(xor(a.b0, b.b0)) + bit_count(xor(a.b1, b.b1))
        + bit_count(xor(a.b2, b.b2)) + bit_count(xor(a.b3, b.b3)) <= 3
    """,
)
def q_image_phash_near_pairs(spark, sf_dir):
    """X5b: image near-dup pairs by DCT pHash over REAL decoded PPM
    payloads — decode → gray → 8×8 block means → exact-int64 2-D DCT
    (shared fixed-point basis) → median-threshold bits → the SAME
    banded pair join as aHash (exact recall at Hamming <= 3 by
    pigeonhole over the 4 bands). Completes the perceptual-hash pair:
    aHash flags luminance-mean dups, pHash holds under global
    brightness/contrast shifts. The oracle regenerates the pixels and
    replays the identical integer spectrum math in SQL; the Spark side
    earns its pixels through the real codec round trip."""
    docs = load_table(spark, sf_dir, "documents").select("doc_id")
    media = multimodal.to_image_media(docs, "doc_id", size=16, classes=100)
    hashes = multimodal.image_phash(media)
    return multimodal.image_ahash_pairs(hashes, max_hamming=3)


# --- round-12 addition (post-freeze -> leads the round-13 window) -----
# VERDICT r11 item 3: the pHash KEEP-LIST. The band relation is
# hash-family polymorphic by contract (aHash and pHash emit the same
# four-band shape, so the pair join and the CC keep-list compose with
# either); this entry driver-pins that claim end-to-end — decode ->
# pHash bands -> banded pair join -> HashMin connected components ->
# min-id canonical per component, one row per document.

_PHASH_KEEPLIST_ORACLE = f"""
    WITH RECURSIVE {_phash_bands_ctes()},
    ppairs AS MATERIALIZED (
      SELECT a.doc_id AS id_a, b.doc_id AS id_b
      FROM bands a JOIN bands b ON a.doc_id < b.doc_id
      WHERE bit_count(xor(a.b0, b.b0)) + bit_count(xor(a.b1, b.b1))
          + bit_count(xor(a.b2, b.b2)) + bit_count(xor(a.b3, b.b3)) <= 3
    ), edges AS (
      SELECT id_a AS src, id_b AS dst FROM ppairs
      UNION SELECT id_b, id_a FROM ppairs
    ), walk AS (
      SELECT src AS node, src AS reach FROM edges
      UNION
      SELECT w.node, e.dst FROM walk w JOIN edges e ON w.reach = e.src
    ), comp AS (
      SELECT node, MIN(reach) AS component_id
      FROM (SELECT node, reach FROM walk UNION SELECT src, dst FROM edges)
      GROUP BY node
    )
    SELECT d.doc_id,
           COALESCE(comp.component_id, d.doc_id) AS component_id,
           COALESCE(comp.component_id, d.doc_id) = d.doc_id AS kept
    FROM documents d LEFT JOIN comp ON comp.node = d.doc_id
"""


@register("image_phash_keeplist", _PHASH_KEEPLIST_ORACLE)
def q_image_phash_keeplist(spark, sf_dir):
    """Image-dedup keep-list under the DCT pHash: the SAME pair-join +
    connected-components + min-id-canonical composition as
    ``image_ahash_keeplist``, consuming ``multimodal.image_phash``'s
    band relation instead — the polymorphism the four-band contract
    promises, driver-pinned. Spark earns the bits through the real
    PPM codec round trip; the oracle regenerates pixels and replays
    the integer DCT spectrum, then the identical recursive CC."""
    docs = load_table(spark, sf_dir, "documents").select("doc_id")
    media = multimodal.to_image_media(docs, "doc_id", size=16, classes=100)
    return multimodal.band_keeplist(docs, multimodal.image_phash(media))


# --- round-13 additions (post-freeze -> lead the round-14 window) -----
# VERDICT r12 item 4: the AUDIO perceptual near-dup family — images
# have both hash families end-to-end (pairs -> CC -> keep-list); audio
# had codecs + waveform stats only. The fingerprint thresholds the
# 64-band time-energy envelope of the decoded WAV against its mean
# (exact int64 energy sums, the aHash rule in audio space) and emits
# the SAME four-16-bit-band relation, so the banded pair join and the
# CC keep-list are reused UNCHANGED — the band-relation polymorphism's
# third hash family. Payloads are class-structured WAVs
# (audiocodec.synth_class_tone: same-class docs share a sawtooth up to
# a one-sample perturbation => near-dups; classes differ in phase AND
# step => far apart).

_AUDIO_FP_BANDS_CTES = """samp AS (
      SELECT d.doc_id, t.i,
        ((((d.doc_id % 100) * 31 + t.i * (5 + 2 * ((d.doc_id % 100) % 7))) % 2048) - 1024)
        + (CASE WHEN t.i = d.doc_id % 4000 THEN d.doc_id % 9 ELSE 0 END) AS s
      FROM documents d CROSS JOIN unnest(generate_series(0, 3967)) AS t(i)
    ), benergy AS (
      SELECT doc_id, i // 62 AS idx, SUM(ABS(s)) AS e
      FROM samp GROUP BY doc_id, i // 62
    ), tot AS (
      SELECT doc_id, SUM(e) AS te FROM benergy GROUP BY doc_id
    ), bits AS (
      SELECT b.doc_id, b.idx,
             CASE WHEN b.e * 64 > t.te THEN 1 ELSE 0 END AS bit
      FROM benergy b JOIN tot t USING (doc_id)
    ), bands AS (
      SELECT doc_id,
        CAST(SUM(CASE WHEN idx // 16 = 0 THEN (bit << (idx % 16)) ELSE 0 END) AS BIGINT) AS b0,
        CAST(SUM(CASE WHEN idx // 16 = 1 THEN (bit << (idx % 16)) ELSE 0 END) AS BIGINT) AS b1,
        CAST(SUM(CASE WHEN idx // 16 = 2 THEN (bit << (idx % 16)) ELSE 0 END) AS BIGINT) AS b2,
        CAST(SUM(CASE WHEN idx // 16 = 3 THEN (bit << (idx % 16)) ELSE 0 END) AS BIGINT) AS b3
      FROM bits GROUP BY doc_id
    )"""


@register(
    "audio_fingerprint_near_pairs",
    f"""
    WITH {_AUDIO_FP_BANDS_CTES}
    SELECT a.doc_id AS id_a, b.doc_id AS id_b,
           CAST(bit_count(xor(a.b0, b.b0)) + bit_count(xor(a.b1, b.b1))
              + bit_count(xor(a.b2, b.b2)) + bit_count(xor(a.b3, b.b3)) AS BIGINT) AS hamming
    FROM bands a JOIN bands b ON a.doc_id < b.doc_id
    WHERE bit_count(xor(a.b0, b.b0)) + bit_count(xor(a.b1, b.b1))
        + bit_count(xor(a.b2, b.b2)) + bit_count(xor(a.b3, b.b3)) <= 3
    """,
)
def q_audio_fingerprint_near_pairs(spark, sf_dir):
    """X5 audio near-dup pairs: REAL WAV encode -> decode -> 64-band
    time-energy fingerprint (exact int64 sums) -> the SAME banded pair
    join as the image hashes (share >= 1 of 4 bands => exact recall at
    Hamming <= 3 by pigeonhole, then exact popcount verify). The
    oracle regenerates the class-tone samples in SQL and replays the
    identical integer band math; Spark earns the bits through the
    stdlib-wave codec round trip, so the decode path is what's
    verified. Only 4 longs per clip ever shuffle."""
    docs = load_table(spark, sf_dir, "documents").select("doc_id")
    media = multimodal.to_audio_media_classed(
        docs, "doc_id", n_samples=4000, classes=100
    )
    fp = multimodal.audio_fingerprint(media)
    return multimodal.image_ahash_pairs(fp, max_hamming=3)


_AUDIO_FP_KEEPLIST_ORACLE = f"""
    WITH RECURSIVE {_AUDIO_FP_BANDS_CTES},
    apairs AS MATERIALIZED (
      SELECT a.doc_id AS id_a, b.doc_id AS id_b
      FROM bands a JOIN bands b ON a.doc_id < b.doc_id
      WHERE bit_count(xor(a.b0, b.b0)) + bit_count(xor(a.b1, b.b1))
          + bit_count(xor(a.b2, b.b2)) + bit_count(xor(a.b3, b.b3)) <= 3
    ), edges AS (
      SELECT id_a AS src, id_b AS dst FROM apairs
      UNION SELECT id_b, id_a FROM apairs
    ), walk AS (
      SELECT src AS node, src AS reach FROM edges
      UNION
      SELECT w.node, e.dst FROM walk w JOIN edges e ON w.reach = e.src
    ), comp AS (
      SELECT node, MIN(reach) AS component_id
      FROM (SELECT node, reach FROM walk UNION SELECT src, dst FROM edges)
      GROUP BY node
    )
    SELECT d.doc_id,
           COALESCE(comp.component_id, d.doc_id) AS component_id,
           COALESCE(comp.component_id, d.doc_id) = d.doc_id AS kept
    FROM documents d LEFT JOIN comp ON comp.node = d.doc_id
"""


@register("audio_fingerprint_keeplist", _AUDIO_FP_KEEPLIST_ORACLE)
def q_audio_fingerprint_keeplist(spark, sf_dir):
    """Audio-dedup keep-list: fingerprint bands -> banded pair join ->
    HashMin connected components -> min-id canonical per component,
    one row per document — the identical composition the image hash
    families use (``image_ahash_keeplist`` / ``image_phash_keeplist``),
    completing the multimodal dedup symmetry. The fingerprint relation
    is the persistable ingest state; payloads decode once."""
    docs = load_table(spark, sf_dir, "documents").select("doc_id")
    media = multimodal.to_audio_media_classed(
        docs, "doc_id", n_samples=4000, classes=100
    )
    return multimodal.band_keeplist(docs, multimodal.audio_fingerprint(media))


# --- round-16 addition (post-freeze -> leads the round-17 window) ------
# X5 completion (VERDICT r15 item 2): the PNG decode path exercised
# end-to-end as a driver-facing row. Same deterministic pixels, same
# hash math, same keep-list composition as image_ahash_keeplist — the
# ONLY difference is the container: payloads are 8-bit truecolor PNGs
# (stdlib-zlib DEFLATE, operators/imagecodec.decode_png), so what this
# row verifies is precisely the new codec: a single mis-decoded byte
# anywhere in the DEFLATE/unfilter path flips hash bits, changes the
# pair set, and breaks the component hash. The oracle is IDENTICAL to
# the PPM row's (it replays pixel synthesis + hash math in SQL —
# format-free by construction); Spark earns its bits through the real
# PNG round trip.


@register("image_ahash_keeplist_png", _AHASH_KEEPLIST_ORACLE)
def q_image_ahash_keeplist_png(spark, sf_dir):
    """``image_ahash_keeplist`` over PNG payloads: encode_png ->
    decode_png (DEFLATE + scanline unfilter) -> aHash bands -> banded
    pair join -> HashMin components -> min-id canonical. Proves the
    perceptual tier runs on the container real corpora actually carry
    (r16; PPM/BMP were the bootstrap formats)."""
    docs = load_table(spark, sf_dir, "documents").select("doc_id")
    media = multimodal.to_image_media(
        docs, "doc_id", size=16, classes=100, fmt="png"
    )
    return multimodal.band_keeplist(docs, multimodal.image_ahash(media))


# --- round-16 addition #2 (post-freeze -> leads the round-17 window) ---
# X5: the baseline-JPEG decode path as a driver-facing row. JPEG is
# lossy in general, so the fixture is deliberately the EXACT subspace:
# 8x8-block-constant grayscale images have DC-only blocks (AC exactly
# 0; DC dequantization error < 0.5 after the IDCT's /8), so the full
# entropy pipeline — Huffman tables, magnitude coding, byte stuffing,
# DC prediction, zigzag, dequant, IDCT — round-trips the pixels
# bit-exactly, and the oracle can replay pixels + hash math in pure
# SQL exactly as the PPM/PNG rows do. One wrong bit anywhere in the
# codec breaks the component hash.

_AHASH_JPEG_BANDS_CTES = """px AS (
      SELECT d.doc_id, d.doc_id % 100 AS cls, t.t % 8 AS tx, t.t // 8 AS ty
      FROM documents d CROSS JOIN unnest(generate_series(0, 63)) AS t(t)
    ), tiles AS (
      SELECT doc_id, tx, ty,
        CASE WHEN (ty * 8 + tx) = doc_id % 64
             THEN LEAST(255, ((cls * 37 + tx * (61 + cls) + ty * (29 + 2 * cls)) % 256) + (doc_id % 5))
             ELSE (cls * 37 + tx * (61 + cls) + ty * (29 + 2 * cls)) % 256 END AS v
      FROM px
    ), cells AS (
      SELECT doc_id, ty AS i, tx AS j, v AS g8 FROM tiles
    ), tot AS (
      SELECT doc_id, SUM(g8) AS s FROM cells GROUP BY doc_id
    ), bits AS (
      SELECT c.doc_id, (c.i * 8 + c.j) AS idx,
             CASE WHEN c.g8 * 64 > t.s THEN 1 ELSE 0 END AS bit
      FROM cells c JOIN tot t USING (doc_id)
    ), bands AS (
      SELECT doc_id,
        CAST(SUM(CASE WHEN idx // 16 = 0 THEN (bit << (idx % 16)) ELSE 0 END) AS BIGINT) AS b0,
        CAST(SUM(CASE WHEN idx // 16 = 1 THEN (bit << (idx % 16)) ELSE 0 END) AS BIGINT) AS b1,
        CAST(SUM(CASE WHEN idx // 16 = 2 THEN (bit << (idx % 16)) ELSE 0 END) AS BIGINT) AS b2,
        CAST(SUM(CASE WHEN idx // 16 = 3 THEN (bit << (idx % 16)) ELSE 0 END) AS BIGINT) AS b3
      FROM bits GROUP BY doc_id
    )"""

_AHASH_JPEG_KEEPLIST_ORACLE = f"""
    WITH RECURSIVE {_AHASH_JPEG_BANDS_CTES},
    apairs AS MATERIALIZED (
      SELECT a.doc_id AS id_a, b.doc_id AS id_b
      FROM bands a JOIN bands b ON a.doc_id < b.doc_id
      WHERE bit_count(xor(a.b0, b.b0)) + bit_count(xor(a.b1, b.b1))
          + bit_count(xor(a.b2, b.b2)) + bit_count(xor(a.b3, b.b3)) <= 3
    ), edges AS (
      SELECT id_a AS src, id_b AS dst FROM apairs
      UNION SELECT id_b, id_a FROM apairs
    ), walk AS (
      SELECT src AS node, src AS reach FROM edges
      UNION
      SELECT w.node, e.dst FROM walk w JOIN edges e ON w.reach = e.src
    ), comp AS (
      SELECT node, MIN(reach) AS component_id
      FROM (SELECT node, reach FROM walk UNION SELECT src, dst FROM edges)
      GROUP BY node
    )
    SELECT d.doc_id,
           COALESCE(comp.component_id, d.doc_id) AS component_id,
           COALESCE(comp.component_id, d.doc_id) = d.doc_id AS kept
    FROM documents d LEFT JOIN comp ON comp.node = d.doc_id
"""


@register("image_ahash_keeplist_jpeg", _AHASH_JPEG_KEEPLIST_ORACLE)
def q_image_ahash_keeplist_jpeg(spark, sf_dir):
    """Image-dedup keep-list over BASELINE-JPEG payloads: encode_jpeg
    (grayscale, Annex-K tables) -> decode_jpeg (Huffman + dequant +
    IDCT) -> aHash bands -> banded pair join -> HashMin components ->
    min-id canonical. The fixture images are 8x8-block-constant, the
    subspace where the lossy codec is exact (jpegcodec docstring), so
    Spark earns every hash bit through the real entropy-coding round
    trip while the oracle replays pixels + hash math in pure SQL.
    size=64 on purpose: 64 tiles = one tile per aHash cell, so every
    hash bit is independent and the banded blocking keeps its usual
    bucket sizes (a 16x16 / 4-tile fixture left each 16-bit band with
    only 2 effective bits — ~1250-doc buckets and a 12M-candidate pair
    join, measured 20.5 s; this form is the PPM row's blocking)."""
    docs = load_table(spark, sf_dir, "documents").select("doc_id")
    media = multimodal.to_image_media_blocks(
        docs, "doc_id", size=64, classes=100
    )
    return multimodal.band_keeplist(docs, multimodal.image_ahash(media))


# --- round-16 addition #3 (post-freeze -> leads the round-17 window) ---
# X5 video tier made REAL: uncompressed RIFF/AVI is the one video
# container decodable losslessly without PyAV/ffmpeg, so the sampled
# frames' pixels replay in SQL exactly (frame f of doc d IS
# synth_image(d + f) — one substitution in the established gradient
# CTE). The Spark side earns its bits through the real container walk
# (RIFF chunk parse, bottom-up BGR de-rastering) + the SHARED
# ahash_bands math; compressed codecs stay a loud PyAV gate.

_VIDEO_AHASH_ORACLE = """
    WITH fx AS (
      SELECT d.doc_id, fi.fi AS frame_idx, d.doc_id + fi.fi AS did
      FROM documents d CROSS JOIN (VALUES (CAST(0 AS BIGINT)), (CAST(2 AS BIGINT))) fi(fi)
    ), px AS (
      SELECT doc_id, frame_idx, did, did % 100 AS cls,
             p.p % 16 AS x, p.p // 16 AS y
      FROM fx CROSS JOIN unnest(generate_series(0, 255)) AS p(p)
    ), gray AS (
      SELECT doc_id, frame_idx, x, y,
        ((CASE WHEN x = did % 16 AND y = (did // 16) % 16
              THEN LEAST(255, ((cls * 37 + x * 11 + y * 5) % 256) + (did % 5))
              ELSE (cls * 37 + x * 11 + y * 5) % 256 END)
         + ((cls * 59 + x * 3 + y * 17) % 256)
         + ((cls * 83 + x * 7 + y * 13) % 256)) // 3 AS g
      FROM px
    ), cells AS (
      SELECT doc_id, frame_idx, (y // 2) AS i, (x // 2) AS j, SUM(g) // 4 AS g8
      FROM gray GROUP BY doc_id, frame_idx, (y // 2), (x // 2)
    ), tot AS (
      SELECT doc_id, frame_idx, SUM(g8) AS s FROM cells GROUP BY doc_id, frame_idx
    ), bits AS (
      SELECT c.doc_id, c.frame_idx, (c.i * 8 + c.j) AS idx,
             CASE WHEN c.g8 * 64 > t.s THEN 1 ELSE 0 END AS bit
      FROM cells c JOIN tot t USING (doc_id, frame_idx)
    )
    SELECT doc_id, frame_idx,
      CAST(SUM(CASE WHEN idx // 16 = 0 THEN (bit << (idx % 16)) ELSE 0 END) AS BIGINT) AS b0,
      CAST(SUM(CASE WHEN idx // 16 = 1 THEN (bit << (idx % 16)) ELSE 0 END) AS BIGINT) AS b1,
      CAST(SUM(CASE WHEN idx // 16 = 2 THEN (bit << (idx % 16)) ELSE 0 END) AS BIGINT) AS b2,
      CAST(SUM(CASE WHEN idx // 16 = 3 THEN (bit << (idx % 16)) ELSE 0 END) AS BIGINT) AS b3
    FROM bits GROUP BY doc_id, frame_idx
"""


@register("video_frame_ahash_sample", _VIDEO_AHASH_ORACLE)
def q_video_frame_ahash_sample(spark, sf_dir):
    """X5 video: synthesize a REAL uncompressed-AVI clip per document
    (4 frames of the established gradient pixels, frame f =
    synth_image(doc_id + f)), decode the container for real
    executor-side, sample every 2nd frame, and emit each sampled
    frame's aHash band relation — (doc_id, frame_idx, b0..b3), the
    persistable ingest state the banded pair join and keep-list
    compositions consume unchanged (the image/audio contract, now for
    video). The oracle replays the sampled frames' pixels and the
    identical integer hash math in SQL; Spark earns the bits through
    the real RIFF walk + de-rastering, so the container codec is what
    is verified."""
    docs = load_table(spark, sf_dir, "documents").select("doc_id")
    media = multimodal.to_video_media(
        docs, "doc_id", n_frames=4, size=16, classes=100
    )
    return multimodal.video_frame_ahash(media, every_nth=2)
