"""Registry definitions, part C: the LLM-data-pipeline surface --
media codecs, crawl/CDC, retrieval, streaming admission/ingest, BPE
(q77-q100 birth cohort).

Split mechanically by file position from the original single-module
registry (rounds 6-10); the canonical REGISTRY order, the gate roster
(_RESTING), and the rotation assertions live in queries/__init__.py.
"""

from __future__ import annotations

import threading
import weakref
from dataclasses import dataclass
from typing import Callable

from pyspark.sql import DataFrame as SparkDataFrame
from pyspark.sql import SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

import pandasql_spark as ps
from pandasql_spark.functions import similarity, text
from pandasql_spark.session import ensure_semantics

from ._shared import QueryDef, _t, load_events

from ._shared import _codec_corpus
from ._defs_b import _ivf_index  # shared build-once/probe-many index (q40/q87)

# q96's sampled-frames cache from the most recent call PER SESSION —
# each new call unpersists its predecessor on the SAME session, so
# repeated q96 runs hold at most one resident cache per session (see
# q96_video_frames). Keyed weakly by SparkSession and lock-guarded
# (ADVICE r10): interleaved sessions no longer unpersist each other's
# still-live cache (which forced full recompute of its consumers).
_Q96_FRAMES_CACHE: "weakref.WeakKeyDictionary" = weakref.WeakKeyDictionary()
_Q96_FRAMES_LOCK = threading.Lock()

# q80's rendered WAV corpus (<1 KB/doc): three independent decode
# stages (audio_meta, audio_frame_rms, audio_fingerprint — the r13
# fold) would otherwise re-render per branch; same one-cache-per-live-
# session discipline as q41/q96 (queries/_shared.swap_session_cache).
_Q80_MEDIA_CACHE: "weakref.WeakKeyDictionary" = weakref.WeakKeyDictionary()
_Q80_MEDIA_LOCK = threading.Lock()

def q77_source_caps(spark: SparkSession, sf: str) -> SparkDataFrame:
    """Per-source corpus caps, both budget kinds (operators/caps.py):

    - stage ``doc_cap`` — cap_per_group: the top 10 documents of each
      source by (n_chars desc, doc_id asc). The cap binds at every SF
      (sources hold 25 docs at sf0.01). The implementation is the
      hot-key-safe two-phase selection — a no-shuffle partial top-n
      per partition (native WindowGroupLimit), then the rank window
      over ≤ n×P survivors — and the oracle is the NAIVE window in
      SQL, so a green row proves the two-phase plan is row-for-row
      exact.
    - stage ``tok_cap`` — cap_tokens_per_group (the r14 IOU,
      collected): each source's maximal order-prefix whose running
      token sum stays ≤ 400, walked in the same (n_chars desc,
      doc_id asc) order over a deterministic token column
      (n_chars % 89 — includes genuine zero-token rows, which ride
      through under the default min_tokens_per_doc=0). The oracle is
      the SUM ... ROWS UNBOUNDED PRECEDING cumsum filter; probed on
      this corpus: the budget binds at every SF, a zero-token row is
      kept inside the prefix at sf0.001/sf0.1, and an EXACT-budget
      tie (cum == 400, kept by ≤) occurs at sf0.001 and sf0.1 — the
      boundary cases the property suite pins, live under the
      driver's gate."""
    from pandasql_spark.operators.caps import cap_per_group, cap_tokens_per_group

    docs = spark.read.parquet(f"{sf}/documents.parquet")
    order = [("n_chars", False), ("doc_id", True)]
    capped = cap_per_group(docs, keys=["source"], order_by=order, n=10)
    toked = cap_tokens_per_group(
        docs.withColumn("toks", (F.col("n_chars") % 89).cast("long")),
        keys=["source"],
        order_by=order,
        budget=400,
        token_col="toks",
    )
    return capped.select(
        F.lit("doc_cap").alias("stage"),
        "doc_id",
        "source",
        "n_chars",
        F.lit(None).cast("long").alias("toks"),
    ).unionByName(
        toked.select(
            F.lit("tok_cap").alias("stage"), "doc_id", "source",
            "n_chars", "toks",
        )
    )


Q77_SQL = """
SELECT 'doc_cap' AS stage, doc_id, source, n_chars,
       CAST(NULL AS BIGINT) AS toks
FROM (
  SELECT doc_id, source, n_chars,
         row_number() OVER (
           PARTITION BY source ORDER BY n_chars DESC, doc_id
         ) AS rn
  FROM documents
)
WHERE rn <= 10
UNION ALL
SELECT 'tok_cap', doc_id, source, n_chars, toks
FROM (
  SELECT doc_id, source, n_chars, n_chars % 89 AS toks,
         sum(n_chars % 89) OVER (
           PARTITION BY source ORDER BY n_chars DESC, doc_id
           ROWS UNBOUNDED PRECEDING
         ) AS cum
  FROM documents
)
WHERE cum <= 400
"""


def q78_sampled_quantiles(spark: SparkSession, sf: str) -> SparkDataFrame:
    """Hash-sampled quantiles (operators/sketch.py:
    hash_sampled_quantiles) — the deterministic sketch path next to
    q65's exact percentiles: md5-Bernoulli sample at rate 1/8 keyed by
    o_orderkey (engine-portable, no RNG), then the EXACT inverse-CDF
    quantiles of the sample via the distributed ranking recipe. The
    oracle reproduces the sample predicate and the quantile definition
    in SQL, so the gate checks both pieces bit-for-bit."""
    from pandasql_spark.operators.sketch import hash_sampled_quantiles

    o = spark.read.parquet(f"{sf}/orders.parquet")
    return hash_sampled_quantiles(
        o,
        value_col="o_totalprice",
        key_col="o_orderkey",
        quantiles=[0.25, 0.5, 0.75, 0.95],
        rate=1.0 / 8,
    )


Q78_SQL = """
WITH s AS (
  SELECT o_totalprice, o_orderkey
  FROM orders
  WHERE list_reduce(
          list_transform(range(1, 14),
            x -> CAST(strpos('0123456789abcdef',
                             substr(md5(CAST(o_orderkey AS VARCHAR)), x, 1)) - 1
                      AS DOUBLE)),
          (acc, v) -> acc * 16 + v) < 4503599627370496.0 / 8
),
r AS (
  SELECT o_totalprice AS value,
         row_number() OVER (ORDER BY o_totalprice, o_orderkey) AS rn,
         count(*) OVER () AS n
  FROM s
)
SELECT q, value
FROM r
JOIN (VALUES (0.25), (0.5), (0.75), (0.95)) qs(q)
  ON rn = CAST(ceil(q * n) AS BIGINT)
"""


def q79_snapshot_diff(spark: SparkSession, sf: str) -> SparkDataFrame:
    """Incremental-crawl snapshot diff (operators/delta.py): documents
    vs a deterministically mutated next snapshot — doc_id % 17 == 3
    dropped, doc_id % 13 == 1 edited (text suffix), fresh ids appended
    — labeled added/removed/changed/unchanged. Content never crosses
    the wire: both sides reduce to (key, md5 fingerprint) map-side and
    full-outer-join on the key. The oracle recomputes the same
    fingerprint join in SQL."""
    from pandasql_spark.operators.delta import snapshot_diff

    docs = spark.read.parquet(f"{sf}/documents.parquet")
    new = (
        docs.filter(F.col("doc_id") % 17 != 3)
        .withColumn(
            "text",
            F.when(
                F.col("doc_id") % 13 == 1, F.concat(F.col("text"), F.lit(" [v2]"))
            ).otherwise(F.col("text")),
        )
        .unionByName(
            # orderBy before limit: an unordered limit(25) is
            # nondeterministic across runs/partitionings. Fresh ids live
            # in the NEGATIVE keyspace (-(doc_id+1)): doc_id >= 0 at
            # every SF, so the synthetic ids can never collide with real
            # ones — a fixed positive offset would collide once doc_id
            # outgrew it (~sf20 for +1e6) and silently violate
            # snapshot_diff's unique-key contract.
            docs.orderBy("doc_id")
            .limit(25)
            .select(
                (-(F.col("doc_id") + 1)).alias("doc_id"),
                "text",
                "lang",
                "source",
                "n_chars",
            )
        )
    )
    return snapshot_diff(docs, new, key_col="doc_id", content_cols=["text", "lang"])


Q79_SQL = """
WITH old AS (
  SELECT doc_id AS key,
         md5(concat_ws(chr(31), coalesce(text, chr(0)), coalesce(lang, chr(0))))
           AS fp_old
  FROM documents
),
new AS (
  SELECT doc_id AS key,
         md5(concat_ws(chr(31),
               coalesce(CASE WHEN doc_id % 13 = 1 THEN text || ' [v2]'
                             ELSE text END, chr(0)),
               coalesce(lang, chr(0)))) AS fp_new
  FROM documents WHERE doc_id % 17 <> 3
  UNION ALL
  SELECT -(doc_id + 1),
         md5(concat_ws(chr(31), coalesce(text, chr(0)), coalesce(lang, chr(0))))
  FROM (SELECT * FROM documents ORDER BY doc_id LIMIT 25)
),
j AS (
  SELECT coalesce(old.key, new.key) AS key, fp_old, fp_new
  FROM old FULL OUTER JOIN new ON old.key = new.key
)
SELECT key,
       CASE WHEN fp_old IS NULL THEN 'added'
            WHEN fp_new IS NULL THEN 'removed'
            WHEN fp_old = fp_new THEN 'unchanged'
            ELSE 'changed' END AS status
FROM j
"""


def q80_audio(spark: SparkSession, sf: str) -> SparkDataFrame:
    """Audio pipeline with REAL WAV/PCM decode, end-to-end (the audio
    analog of q41): each document renders an actual RIFF/WAVE payload
    (functions/audiocodec.encode_wav) whose sample count, channel
    count, and rate are deterministic functions of len(text), carrying
    an int16 ramp 0..n_samples-1 on every channel; a second,
    independent mapInPandas stage (operators/multimodal.audio_meta /
    audio_frame_rms) decodes the bytes — RIFF chunk walk, PCM16
    reshape, per-payload and per-frame stats. The oracle recomputes
    duration / RMS / peak / frame counts from len(text) in closed form
    (sum of squares 0..m = m(m+1)(2m+1)/6): the only way the Spark side
    gets those numbers is by truly parsing and decoding the WAV (the
    decode stages never see the text). docs with len(text) % 11 == 0
    get a 32-byte garbage payload instead — the corrupt-media contract:
    decode_ok=false with NULL stats from audio_meta, zero frame rows
    from audio_frame_rms (NULL n_frames after the left join).

    Exact-float cross-engine recipe: every RMS is sqrt of a ratio of
    exact-in-float64 integers, so numpy's mean-then-sqrt and DuckDB's
    closed-form division are the SAME correctly-rounded float64;
    rates are 1000·2^k so durations are exact 6-decimal values.

    r13 fold (VERDICT r12 task 3): the host also carries the AUDIO
    perceptual fingerprint (operators/dedup.py:audio_fingerprint —
    the full WAV decode → hann/FFT → 9 log-band → 8×9 grid →
    gradient-bit pipeline, a third independent decode stage). The
    closed form: an int16 ramp is a monotone low-pass signal — its
    power concentrates in the lowest bands and decays across the 9
    log-spaced bands, so every strict adjacent-band comparison is
    false and afp = 0 (the flat contract silence shares; verified
    exhaustively over all 600 (ns, rate, ch) combos this corpus can
    render). Corrupt payloads → NULL afp. Discriminative behavior
    (resampled/volume-scaled copies pair, distinct clips stay ~32
    bits apart) is pinned by test_image_dedup.py's planted audio
    tests — structured clips can't ride this host because its ramp
    render is deliberately spectral-monotone."""
    from pandasql_spark.operators.dedup import audio_fingerprint
    from pandasql_spark.operators.multimodal import audio_frame_rms, audio_meta

    d = spark.read.parquet(f"{sf}/documents.parquet").select("doc_id", "text")

    def render(it):
        import numpy as np
        import pandas as pd

        from pandasql_spark.functions.audiocodec import encode_wav

        for pdf in it:
            payloads = []
            for t in pdf["text"]:
                n = len(t)
                if n % 11 == 0:
                    payloads.append(b"\x00" * 32)
                else:
                    ns = 64 + n % 50
                    ch = 1 + n % 3
                    rate = 1000 * (1 << (n % 4))
                    ramp = np.arange(ns, dtype=np.int16)
                    payloads.append(
                        encode_wav(np.repeat(ramp[:, None], ch, axis=1), rate)
                    )
            yield pd.DataFrame(
                {"media_id": pdf["doc_id"].astype("int64"), "payload": payloads}
            )

    from ._shared import swap_session_cache

    media = swap_session_cache(
        _Q80_MEDIA_CACHE,
        _Q80_MEDIA_LOCK,
        spark,
        d.mapInPandas(render, "media_id long, payload binary"),
    )
    meta = audio_meta(media)
    frames = audio_frame_rms(media, frame_len=32)
    fagg = frames.groupBy("media_id").agg(
        F.count(F.lit(1)).cast("int").alias("n_frames"),
        F.max("frame_rms").alias("max_frame_rms"),
    )
    afp = audio_fingerprint(media).select("media_id", "afp")
    return (
        meta.join(fagg, "media_id", "left")
        .join(afp, "media_id", "left")
        .select(
            "media_id",
            "size_bytes",
            "sample_rate",
            "n_channels",
            "n_samples",
            "duration_s",
            "rms",
            "peak",
            "decode_ok",
            "n_frames",
            "max_frame_rms",
            "afp",
        )
    )


# Closed forms the oracle uses (m := n_samples, f0 := last frame start):
#   whole-payload RMS  = sqrt(sum_{i<m} i² / m) = sqrt((m-1)(2m-1)/6)
#   last-frame RMS     = sqrt((S(m-1) - S(f0-1)) / (m - f0)),
#                        S(k) = k(k+1)(2k+1)/6  (exact integers)
#   the ramp is increasing, so the last frame is the max-RMS frame.
Q80_SQL = """
WITH base AS (
  SELECT doc_id,
         64 + length(text) % 50  AS ns,
         1 + length(text) % 3    AS ch,
         1000 * (1 << (length(text) % 4)) AS rate,
         (length(text) % 11 = 0) AS bad
  FROM documents
), calc AS (
  SELECT *, 32 * ((ns - 1) // 32) AS f0 FROM base
)
SELECT doc_id AS media_id,
  CAST(CASE WHEN bad THEN 32 ELSE 44 + ns * ch * 2 END AS BIGINT) AS size_bytes,
  CAST(CASE WHEN bad THEN NULL ELSE rate END AS INT)  AS sample_rate,
  CAST(CASE WHEN bad THEN NULL ELSE ch END AS INT)    AS n_channels,
  CAST(CASE WHEN bad THEN NULL ELSE ns END AS BIGINT) AS n_samples,
  CASE WHEN bad THEN NULL
       ELSE round(ns / CAST(rate AS DOUBLE), 6) END   AS duration_s,
  CASE WHEN bad THEN NULL
       ELSE round(sqrt(CAST((ns-1)*(2*ns-1) AS DOUBLE) / 6), 6) END AS rms,
  CAST(CASE WHEN bad THEN NULL ELSE ns - 1 END AS INT) AS peak,
  NOT bad AS decode_ok,
  CAST(CASE WHEN bad THEN NULL ELSE (ns - 1) // 32 + 1 END AS INT) AS n_frames,
  CASE WHEN bad THEN NULL
       ELSE round(sqrt(
         CAST((ns-1)*ns*(2*ns-1)//6 - (f0-1)*f0*(2*f0-1)//6 AS DOUBLE)
         / (ns - f0)), 6) END AS max_frame_rms,
  CAST(CASE WHEN bad THEN NULL ELSE 0 END AS BIGINT) AS afp
FROM calc
"""


def q81_audio_report(spark: SparkSession, sf: str) -> SparkDataFrame:
    """Multimodal × observability composition (VERDICT r6 task 7):
    corpus_report over a corpus carrying BOTH text and a real audio
    column — the q80 render (deterministic WAV payloads from len(text),
    1-in-11 corrupt) feeds corpus_report(audio_col=...), which decodes
    every payload (multimodal.audio_meta) and folds duration/RMS
    metrics, EXACT duration percentiles, and per-source decoded seconds
    into the same tall metric frame as the text statistics. The oracle
    recomputes the text metrics q73-style and every audio metric in
    closed form from len(text) — the Spark side can only match by truly
    decoding the payloads (the report never sees the text-derived
    parameters)."""
    from pandasql_spark.operators.report import corpus_report

    d = spark.read.parquet(f"{sf}/documents.parquet").select(
        "doc_id", "text", "source"
    )

    def render(it):
        import numpy as np
        import pandas as pd

        from pandasql_spark.functions.audiocodec import encode_wav

        for pdf in it:
            payloads = []
            for t in pdf["text"]:
                n = len(t)
                if n % 11 == 0:
                    payloads.append(b"\x00" * 32)
                else:
                    ns = 64 + n % 50
                    ch = 1 + n % 3
                    rate = 1000 * (1 << (n % 4))
                    ramp = np.arange(ns, dtype=np.int16)
                    payloads.append(
                        encode_wav(np.repeat(ramp[:, None], ch, axis=1), rate)
                    )
            out = pdf[["doc_id", "text", "source"]].copy()
            out["payload"] = payloads
            yield out

    corpus = d.mapInPandas(
        render, "doc_id long, text string, source string, payload binary"
    )
    return corpus_report(
        corpus, stratum_col="source", audio_col="payload"
    )


Q81_SQL = """
WITH t AS (
  SELECT doc_id, source, len(string_split(text, ' ')) AS tc,
         md5(trim(regexp_replace(lower(text), '\\s+', ' ', 'g'))) AS fp,
         64 + length(text) % 50 AS ns,
         1000 * (1 << (length(text) % 4)) AS rate,
         (length(text) % 11 = 0) AS bad
  FROM documents
),
a AS (
  SELECT doc_id, source, bad,
         CASE WHEN bad THEN NULL
              ELSE round(ns / CAST(rate AS DOUBLE), 6) END AS dur,
         CASE WHEN bad THEN NULL
              ELSE round(sqrt(CAST((ns-1)*(2*ns-1) AS DOUBLE) / 6), 6)
         END AS rms
  FROM t
),
vol AS (
  SELECT 'n_docs' AS metric, CAST(count(*) AS DOUBLE) AS value FROM t
  UNION ALL SELECT 'n_tokens', CAST(sum(tc) AS DOUBLE) FROM t
  UNION ALL SELECT 'avg_tokens', round(avg(tc), 6) FROM t
  UNION ALL SELECT 'exact_dup_rate',
         round(1 - count(DISTINCT fp) / CAST(count(*) AS DOUBLE), 6) FROM t
  UNION ALL SELECT 'n_audio_ok', CAST(sum(CASE WHEN bad THEN 0 ELSE 1 END) AS DOUBLE) FROM a
  UNION ALL SELECT 'audio_decode_fail_rate',
         round(avg(CASE WHEN bad THEN 1.0 ELSE 0.0 END), 6) FROM a
  UNION ALL SELECT 'audio_seconds_total', round(sum(dur), 6) FROM a
  UNION ALL SELECT 'avg_audio_rms', round(avg(rms), 6) FROM a
),
r AS (
  SELECT tc, row_number() OVER (ORDER BY tc, doc_id) AS rn,
         count(*) OVER () AS n
  FROM t
),
pct AS (
  SELECT 'p' || CAST(CAST(round(q * 100) AS INT) AS VARCHAR) || '_tokens' AS metric,
         CAST(tc AS DOUBLE) AS value
  FROM r JOIN (VALUES (0.25), (0.5), (0.75), (0.95)) qs(q)
    ON rn = CAST(ceil(q * n) AS BIGINT)
),
ar AS (
  SELECT dur, row_number() OVER (ORDER BY dur, doc_id) AS rn,
         count(*) OVER () AS n
  FROM a WHERE NOT bad
),
apct AS (
  SELECT 'p' || CAST(CAST(round(q * 100) AS INT) AS VARCHAR) || '_audio_seconds' AS metric,
         dur AS value
  FROM ar JOIN (VALUES (0.25), (0.5), (0.75), (0.95)) qs(q)
    ON rn = CAST(ceil(q * n) AS BIGINT)
),
mix AS (
  SELECT 'docs_source=' || source AS metric, CAST(count(*) AS DOUBLE) AS value
  FROM t GROUP BY source
),
amix AS (
  SELECT 'audio_seconds_source=' || source AS metric, round(sum(dur), 6) AS value
  FROM a GROUP BY source
)
SELECT * FROM vol UNION ALL SELECT * FROM pct UNION ALL SELECT * FROM apct
UNION ALL SELECT * FROM mix UNION ALL SELECT * FROM amix
"""


def q82_bm25_topk(spark: SparkSession, sf: str) -> SparkDataFrame:
    """BM25 sparse retrieval (operators/retrieval.py): top-20 documents
    for a 3-term query. One corpus scan explodes tokens, prunes to the
    query terms BEFORE the (doc, term) shuffle, carries dl through the
    explode (no dl join), scores with Lucene's always-positive idf, and
    takes top-k via TakeOrderedAndProject. avgdl = Σdl/N over exact
    int64 sums, so it is the same correctly-rounded double on both
    engines; the summed score is rounded to 6 (partition-order ulp).

    The reference has no retrieval surface (SURVEY.md §2) — this is the
    beyond-reference sparse-search path next to the dense one (q20/q40)."""
    from pandasql_spark.operators.retrieval import bm25_topk

    d = spark.read.parquet(f"{sf}/documents.parquet").select("doc_id", "text")
    out = bm25_topk(d, ["vector", "hash", "join"], k=20)
    return out.select("doc_id", "hit_terms", "bm25")


Q82_SQL = """
WITH stats AS (
  SELECT CAST(count(*) AS DOUBLE) AS n,
         CAST(sum(len(string_split(text, ' '))) AS DOUBLE)
           / count(*) AS avgdl
  FROM documents
),
tok AS (
  SELECT doc_id, CAST(len(string_split(text, ' ')) AS BIGINT) AS dl,
         unnest(string_split(text, ' ')) AS term
  FROM documents
),
tf AS (
  SELECT doc_id, dl, term, CAST(count(*) AS BIGINT) AS tf
  FROM tok WHERE term IN ('vector', 'hash', 'join')
  GROUP BY doc_id, dl, term
),
dfq AS (
  SELECT term, CAST(count(*) AS BIGINT) AS df_ct FROM tf GROUP BY term
),
scored AS (
  SELECT tf.doc_id,
         ln(1.0 + (stats.n - dfq.df_ct + 0.5) / (dfq.df_ct + 0.5))
           * (tf.tf * (CAST(1.2 AS DOUBLE) + 1.0))
           / (tf.tf + CAST(1.2 AS DOUBLE)
              * (1.0 - 0.75 + 0.75 * tf.dl / stats.avgdl)) AS s
  FROM tf JOIN dfq ON tf.term = dfq.term CROSS JOIN stats
)
SELECT doc_id, CAST(count(*) AS BIGINT) AS hit_terms,
       round(sum(s), 6) AS bm25
FROM scored GROUP BY doc_id
ORDER BY bm25 DESC, doc_id ASC LIMIT 20
"""


def q83_scd2_merge(spark: SparkSession, sf: str) -> SparkDataFrame:
    """SCD2 versioned-history merge (operators/delta.py:scd2_merge):
    documents as the open history at t=0, merged with the q79-style
    mutated snapshot at t=100 — unchanged keys stay open, edited keys
    close at 100 and re-insert open, dropped keys close, fresh
    (negative-id) keys insert. Change detection is fingerprint-only
    (content never joins content); the oracle replays every transition
    in SQL. Output rows are (key, valid_from, valid_to, content md5) —
    the version chain, content-addressed."""
    from pandasql_spark.operators.delta import scd2_merge

    docs = spark.read.parquet(f"{sf}/documents.parquet")
    hist = docs.select("doc_id", "text", "lang").select(
        "*",
        F.lit(0).cast("long").alias("valid_from"),
        F.lit(None).cast("long").alias("valid_to"),
    )
    snap = (
        docs.filter(F.col("doc_id") % 17 != 3)
        .withColumn(
            "text",
            F.when(
                F.col("doc_id") % 13 == 1, F.concat(F.col("text"), F.lit(" [v2]"))
            ).otherwise(F.col("text")),
        )
        .unionByName(
            docs.orderBy("doc_id")
            .limit(25)
            .select(
                (-(F.col("doc_id") + 1)).alias("doc_id"),
                "text",
                "lang",
                "source",
                "n_chars",
            )
        )
        .select("doc_id", "text", "lang")
    )
    merged = scd2_merge(hist, snap, "doc_id", ["text", "lang"], as_of=100)
    fp = F.md5(
        F.concat_ws(
            "\x1f",
            F.coalesce(F.col("text"), F.lit("\x00")),
            F.coalesce(F.col("lang"), F.lit("\x00")),
        )
    )
    return merged.select("doc_id", "valid_from", "valid_to", fp.alias("fp"))


Q83_SQL = """
WITH o AS (
  SELECT doc_id,
         md5(concat_ws(chr(31), coalesce(text, chr(0)), coalesce(lang, chr(0))))
           AS fp
  FROM documents
),
snap AS (
  SELECT doc_id,
         CASE WHEN doc_id % 13 = 1 THEN text || ' [v2]' ELSE text END AS text,
         lang
  FROM documents WHERE doc_id % 17 <> 3
  UNION ALL
  SELECT -(doc_id + 1), text, lang
  FROM (SELECT * FROM documents ORDER BY doc_id LIMIT 25)
),
n AS (
  SELECT doc_id,
         md5(concat_ws(chr(31), coalesce(text, chr(0)), coalesce(lang, chr(0))))
           AS fp
  FROM snap
),
j AS (
  SELECT coalesce(o.doc_id, n.doc_id) AS doc_id, o.fp AS fp_old, n.fp AS fp_new
  FROM o FULL OUTER JOIN n ON o.doc_id = n.doc_id
)
SELECT doc_id, CAST(0 AS BIGINT) AS valid_from,
       CAST(100 AS BIGINT) AS valid_to, fp_old AS fp
FROM j WHERE fp_old IS NOT NULL AND (fp_new IS NULL OR fp_old <> fp_new)
UNION ALL
SELECT doc_id, CAST(0 AS BIGINT), CAST(NULL AS BIGINT), fp_old
FROM j WHERE fp_old IS NOT NULL AND fp_new IS NOT NULL AND fp_old = fp_new
UNION ALL
SELECT doc_id, CAST(100 AS BIGINT), CAST(NULL AS BIGINT), fp_new
FROM j WHERE fp_new IS NOT NULL AND (fp_old IS NULL OR fp_old <> fp_new)
"""


def q84_hash_split(spark: SparkSession, sf: str) -> SparkDataFrame:
    """Leakage-safe deterministic train/val/test split
    (operators/sampling.py:hash_split): every document assigned by
    md5(doc_id) against cumulative cut points in 52-bit hash space —
    zero shuffles, partitioning/retry-stable, group-consistent when
    keyed by a cluster/domain id. The oracle reproduces the exact
    hash arithmetic (13-hex-char integer, identical IEEE cut points)
    so the per-row assignment hash-matches, not just the counts."""
    from pandasql_spark.operators.sampling import hash_split

    d = spark.read.parquet(f"{sf}/documents.parquet").select("doc_id")
    out = hash_split(d, {"train": 0.9, "val": 0.05, "test": 0.05}, "doc_id")
    return out.select("doc_id", "split")


Q84_SQL = """
WITH h AS (
  SELECT doc_id,
         list_reduce(
           list_transform(range(1, 14),
             x -> CAST(strpos('0123456789abcdef',
                              substr(md5(CAST(doc_id AS VARCHAR)), x, 1)) - 1
                       AS DOUBLE)),
           (acc, v) -> acc * 16 + v) AS frac
  FROM documents
)
SELECT doc_id,
       CASE
         WHEN frac < CAST(0.9 AS DOUBLE) * 4503599627370496.0 THEN 'train'
         WHEN frac < (CAST(0.9 AS DOUBLE) + CAST(0.05 AS DOUBLE))
                       * 4503599627370496.0 THEN 'val'
         ELSE 'test'
       END AS split
FROM h
"""


def q85_chunking(spark: SparkSession, sf: str) -> SparkDataFrame:
    """RAG sliding-window chunking (operators/packing.py:
    chunk_documents): every document cut into 64-token windows with a
    16-token overlap — zero shuffles, JVM-side explode(sequence). The
    gate returns every chunk's span plus the md5 of its re-joined text,
    so the oracle (which re-slices the token list in SQL) verifies the
    actual chunk CONTENT, not just the span arithmetic."""
    from pandasql_spark.operators.packing import chunk_documents

    d = spark.read.parquet(f"{sf}/documents.parquet").select("doc_id", "text")
    out = chunk_documents(d, 64, overlap=16)
    return out.select(
        "doc_id", "chunk_idx", "start_tok", "end_tok",
        F.md5(F.col("chunk_text")).alias("fp"),
    )


Q85_SQL = """
WITH t AS (
  SELECT doc_id, string_split(text, ' ') AS tok,
         len(string_split(text, ' ')) AS n
  FROM documents
),
c AS (
  SELECT doc_id, tok, n,
         unnest(range(0,
           CASE WHEN n <= 64 THEN 1
                ELSE 1 + CAST(floor((n - 64 + 47) / CAST(48 AS DOUBLE))
                             AS BIGINT) END)) AS chunk_idx
  FROM t
)
SELECT doc_id, CAST(chunk_idx AS BIGINT) AS chunk_idx,
       CAST(chunk_idx * 48 AS BIGINT) AS start_tok,
       CAST(least(chunk_idx * 48 + 64, n) AS BIGINT) AS end_tok,
       md5(array_to_string(
             list_slice(tok, chunk_idx * 48 + 1,
                        least(chunk_idx * 48 + 64, n)), ' ')) AS fp
FROM c
"""


def q86_gif(spark: SparkSession, sf: str) -> SparkDataFrame:
    """GIF pipeline with REAL native LZW decode, end-to-end (the GIF
    analog of q41's PNG gate): each document renders an actual GIF89a —
    dims, palette size, and the cyclic pixel pattern all deterministic
    functions of (len(text), doc_id) — then the independent image_meta
    stage decodes it back (variable-width LZW, color-table lookup). The
    oracle recomputes width/height/pixel-mean in closed form from the
    text length (residue-class counting for the cyclic pattern): the
    Spark side can only match by truly LZW-decoding the payload. Docs
    with len(text) % 11 == 0 carry garbage bytes — the corrupt-media
    contract (decode_ok=false, NULL stats, job survives)."""
    from pandasql_spark.operators.multimodal import image_meta

    d = _codec_corpus(spark, sf, "doc_id", "text")

    def render(it):
        import numpy as np
        import pandas as pd

        from pandasql_spark.functions.imagecodec import encode_gif

        for pdf in it:
            payloads = []
            for did, t in zip(pdf["doc_id"], pdf["text"]):
                n = len(t)
                if n % 11 == 0:
                    payloads.append(b"\x00" * 32)
                    continue
                w, h, nc = 4 + n % 5, 3 + n % 7, 2 + n % 7
                c = np.arange(nc, dtype=np.int64)
                pal = np.stack(
                    [(c * 37) % 256, (c * 59) % 256, (c * 83) % 256], axis=1
                ).astype(np.uint8)
                idx = (np.arange(w * h) + int(did)) % nc
                payloads.append(encode_gif(pal[idx].reshape(h, w, 3)))
            yield pd.DataFrame(
                {"media_id": pdf["doc_id"].astype("int64"), "payload": payloads}
            )

    media = d.mapInPandas(render, "media_id long, payload binary")
    stats = image_meta(media, decode_pixels=True)
    return stats.select(
        "media_id",
        F.col("format").alias("fmt"),
        "width",
        "height",
        "mode",
        "decode_ok",
        "n_pixels",
        F.round("mean_px", 6).alias("mean_px"),
    )


Q86_SQL = """
WITH t AS (
  SELECT doc_id, length(text) AS n FROM documents
),
p AS (
  SELECT doc_id, 4 + n % 5 AS w, 3 + n % 7 AS h, 2 + n % 7 AS nc,
         unnest(range(2 + n % 7)) AS c
  FROM t WHERE n % 11 <> 0
),
cnt AS (
  SELECT doc_id, w, h,
         (w * h) // nc
           + CASE WHEN ((c - doc_id) % nc + nc) % nc < (w * h) % nc
                  THEN 1 ELSE 0 END AS k,
         (c * 37) % 256 + (c * 59) % 256 + (c * 83) % 256 AS chsum
  FROM p
),
m AS (
  SELECT doc_id, w, h, sum(k * chsum) AS total
  FROM cnt GROUP BY doc_id, w, h
)
SELECT doc_id AS media_id, 'gif' AS fmt, CAST(w AS BIGINT) AS width,
       CAST(h AS BIGINT) AS height, 'P' AS mode, TRUE AS decode_ok,
       CAST(w * h AS BIGINT) AS n_pixels,
       round(CAST(total AS DOUBLE) / (w * h * 3), 6) AS mean_px
FROM m
UNION ALL
SELECT doc_id, NULL, NULL, NULL, NULL, FALSE, NULL, NULL
FROM t WHERE n % 11 = 0
"""


def q87_ann_join(spark: SparkSession, sf: str) -> SparkDataFrame:
    """Batch similarity-search join (operators/ann.py:ann_join): top-5
    corpus neighbors for each of the first 10 embedding rows, through
    the FULL IVF machinery — vectorized probe-cell kernel, (query,
    cell) explode, cell equi-join, WindowGroupLimit top-k — with
    nprobe == nlist so every cell is probed and the result is exactly
    brute force: the oracle recomputes all-pairs cosine (identical
    left-to-right fold) + the same rank window in SQL. Cell ASSIGNMENT
    cancels out of the result by construction, so seeded-KMeans
    placement can't flake the gate; nprobe < nlist recall is
    property-tested in pytest instead (approximation is the contract).
    Ranking happens on the UNROUNDED cosine on both engines; rounding
    to 6 only at output."""
    from pandasql_spark.operators.ann import ann_join

    # q40's build-once index (cell placement cancels out of the
    # full-probe result anyway) so bench reruns time the JOIN path
    idx, _ = _ivf_index(spark, sf)
    qs = spark.read.parquet(f"{sf}/embeddings.parquet").orderBy("vec_id").limit(10)
    out = ann_join(idx, qs, k=5, nprobe=8)
    return out.select(
        "query_id", "neighbor_id", F.round("cos_sim", 6).alias("cos_sim"), "rank"
    )


Q87_SQL = """
WITH q AS (
  SELECT vec_id AS query_id, embedding AS qv
  FROM embeddings ORDER BY vec_id LIMIT 10
),
scored AS (
  SELECT q.query_id, e.vec_id AS neighbor_id,
         list_reduce(list_transform(list_zip(q.qv::DOUBLE[], e.embedding::DOUBLE[]),
                                    x -> x[1] * x[2]), (a, b) -> a + b)
         / (sqrt(list_reduce(list_transform(q.qv::DOUBLE[], x -> x * x), (a, b) -> a + b))
          * sqrt(list_reduce(list_transform(e.embedding::DOUBLE[], x -> x * x), (a, b) -> a + b)))
           AS cos
  FROM q CROSS JOIN embeddings e
),
ranked AS (
  SELECT query_id, neighbor_id, cos,
         row_number() OVER (PARTITION BY query_id
                            ORDER BY cos DESC, neighbor_id ASC) AS rank
  FROM scored
)
SELECT query_id, neighbor_id, round(cos, 6) AS cos_sim, CAST(rank AS BIGINT) AS rank
FROM ranked WHERE rank <= 5
"""


def q88_line_dedup(spark: SparkSession, sf: str) -> SparkDataFrame:
    """C4-style line-level dedup (operators/dedup.py:line_dedup): the
    corpus is first re-lined deterministically (newline every 8 tokens
    — both engines replicate the transform), then every line repeated
    anywhere in the corpus keeps only its first (doc_id, pos)
    occurrence and documents are reassembled in order. With a ~30-word
    vocabulary the 8-token lines collide heavily across docs, so the
    gate exercises real cross-document suppression. The oracle
    reproduces the lining, the per-fingerprint rank, the reassembly
    (ORDER BY pos string_agg), and the md5 of every surviving text.

    r11 fold (registry-ceiling policy): the host also carries the
    SUBSTRING-granularity dedup (operators/dedup.py:substring_dedup —
    the Lee-et-al ~50-token-window op, VERDICT r10 task 3) run on the
    ORIGINAL documents at k=20: sub_fp hashes the spliced text (the
    duplicate spans removed, canonical occurrences kept), and the
    pre-splice stats count non-canonical window occurrences and the
    distinct token positions they cover. The oracle recomputes the
    window fingerprints, the (doc_id, pos)-ordered canonical rank, the
    interval-union coverage, and the re-spliced text itself in SQL —
    the gate hash-matches the OUTPUT TEXT, not just counts. The Spark
    side runs fingerprint="xxhash" — the 100 TB path (8-byte keys) —
    while the oracle fingerprints via md5: window fingerprints are
    internal to duplicate DETECTION, so any exact hash yields the same
    duplicate set and the same spliced text (path equality is also
    pinned directly by test_fingerprint_paths_agree), which makes the
    gate exercise the scale path, the q66-bloom precedent."""
    from pandasql_spark.operators.dedup import line_dedup, substring_dedup

    d = spark.read.parquet(f"{sf}/documents.parquet").select("doc_id", "text")
    toks = F.col("tok")  # projected: an unbound split re-runs per line
    n_lines = F.floor((F.size(toks) + 7) / F.lit(8)).cast("int")
    line_arr = F.transform(
        F.sequence(F.lit(0), n_lines - 1),
        lambda i: F.array_join(F.slice(toks, i * 8 + 1, 8), " "),
    )
    lined = d.select("doc_id", text.tokens("text").alias("tok")).select(
        "doc_id", F.array_join(line_arr, "\n").alias("text")
    )
    out = line_dedup(lined, keep="first")
    sub = substring_dedup(d, k=20, fingerprint="xxhash")
    return out.select(
        "doc_id", F.md5(F.col("text")).alias("fp"), "n_kept", "n_dropped"
    ).join(
        sub.select(
            "doc_id",
            F.md5(F.col("text")).alias("sub_fp"),
            "sub_dup_windows",
            "sub_dup_tokens",
        ),
        "doc_id",
    )


Q88_SQL = """
WITH t AS (
  SELECT doc_id, string_split(text, ' ') AS tok FROM documents
),
p AS (
  SELECT doc_id, tok,
         unnest(range(0, (len(tok) + 7) // 8)) AS pos
  FROM t
),
lines AS (
  SELECT doc_id, pos,
         array_to_string(
           list_slice(tok, pos * 8 + 1, least(pos * 8 + 8, len(tok))), ' ')
           AS line
  FROM p
),
flg AS (
  SELECT doc_id, pos, line,
         CASE WHEN length(line) >= 1
              THEN row_number() OVER (PARTITION BY md5(line)
                                      ORDER BY doc_id, pos) = 1
              ELSE TRUE END AS kept
  FROM lines
),
line_out AS (
  SELECT doc_id,
         md5(coalesce(
           string_agg(CASE WHEN kept THEN line END, chr(10) ORDER BY pos),
           '')) AS fp,
         CAST(sum(CASE WHEN kept THEN 1 ELSE 0 END) AS BIGINT) AS n_kept,
         CAST(sum(CASE WHEN kept THEN 0 ELSE 1 END) AS BIGINT) AS n_dropped
  FROM flg GROUP BY doc_id
),
-- substring-granularity dedup fold (k = 20): window fingerprints,
-- (doc_id, pos)-ordered canonical rank, interval-union coverage,
-- and the re-spliced text, exactly as substring_dedup computes them
sd_w AS (
  SELECT doc_id, tok,
         unnest(range(0, greatest(len(tok) - 20 + 1, 0))) AS pos
  FROM t
),
sd_f AS (
  SELECT doc_id, pos,
         md5(array_to_string(list_slice(tok, pos + 1, pos + 20), ' ')) AS wfp
  FROM sd_w
),
sd_d AS (
  SELECT doc_id, pos FROM (
    SELECT doc_id, pos,
           row_number() OVER (PARTITION BY wfp ORDER BY doc_id, pos) AS rn
    FROM sd_f
  ) WHERE rn > 1
),
sd_cov AS (
  SELECT DISTINCT doc_id, unnest(generate_series(pos, pos + 19)) AS idx
  FROM sd_d
),
sd_tok0 AS (
  SELECT doc_id, tok, unnest(range(0, len(tok))) AS idx FROM t
),
sd_tok AS (
  SELECT doc_id, idx, tok[idx + 1] AS tk FROM sd_tok0
),
sd_spliced AS (
  SELECT k.doc_id,
         coalesce(string_agg(CASE WHEN c.idx IS NULL THEN k.tk END,
                             ' ' ORDER BY k.idx), '') AS sub_text
  FROM sd_tok k
  LEFT JOIN sd_cov c ON c.doc_id = k.doc_id AND c.idx = k.idx
  GROUP BY k.doc_id
),
sd_wcnt AS (
  SELECT doc_id, count(*) AS sub_dup_windows FROM sd_d GROUP BY doc_id
),
sd_ccnt AS (
  SELECT doc_id, count(*) AS sub_dup_tokens FROM sd_cov GROUP BY doc_id
)
SELECT l.doc_id, l.fp, l.n_kept, l.n_dropped,
       md5(s.sub_text) AS sub_fp,
       CAST(coalesce(w.sub_dup_windows, 0) AS BIGINT) AS sub_dup_windows,
       CAST(coalesce(c.sub_dup_tokens, 0) AS BIGINT) AS sub_dup_tokens
FROM line_out l
JOIN sd_spliced s USING (doc_id)
LEFT JOIN sd_wcnt w USING (doc_id)
LEFT JOIN sd_ccnt c USING (doc_id)
"""


def q89_quantize(spark: SparkSession, sf: str) -> SparkDataFrame:
    """Scalar int8-range embedding quantization audit
    (operators/quantize.py:quantization_report): per-vector affine
    min/max codes, dequantized reconstruction error, and an md5 over
    the code array itself — one zero-shuffle Arrow-batched pass.
    The oracle recomputes codes, error, and the code fingerprint in
    SQL with the identical IEEE sequence (round-half-up on the
    non-negative affine image is engine-invariant), so the gate
    hash-matches the COMPRESSED REPRESENTATION, not just stats."""
    from pandasql_spark.operators.quantize import quantization_report

    e = spark.read.parquet(f"{sf}/embeddings.parquet")
    return quantization_report(e)


Q89_SQL = """
WITH b AS (
  SELECT vec_id, embedding::DOUBLE[] AS v,
         list_min(embedding::DOUBLE[]) AS lo,
         (list_max(embedding::DOUBLE[]) - list_min(embedding::DOUBLE[]))
           / 255.0 AS scale
  FROM embeddings
),
c AS (
  SELECT vec_id, v, lo, scale,
         CASE WHEN scale = 0
              THEN list_transform(v, x -> CAST(0 AS BIGINT))
              ELSE list_transform(v, x -> CAST(round((x - lo) / scale)
                                              AS BIGINT)) END AS codes
  FROM b
)
SELECT vec_id, CAST(len(v) AS BIGINT) AS dim,
       round(lo, 6) AS lo, round(scale, 6) AS scale,
       round(list_max(list_transform(list_zip(v, codes),
               p -> abs(p[1] - (lo + p[2] * scale)))), 6) AS max_abs_err,
       md5(array_to_string(list_transform(codes, q -> CAST(q AS VARCHAR)),
                           ',')) AS code_fp
FROM c
"""


def q90_jpeg(spark: SparkSession, sf: str) -> SparkDataFrame:
    """JPEG pipeline with REAL native baseline decode, end-to-end
    (functions/jpegcodec.py — Huffman + dequant + IDCT, no PIL): each
    document renders a grayscale JPEG of flat 8×8 tiles whose values
    are a closed-form function of (doc_id, len(text)); an independent
    stage decodes the bytes and checks every pixel against the
    expected tile value. Flat tiles are DC-only blocks, so true
    decode error is bounded by the DC quantization step (≤1 grey
    level at quality 90) — the gate emits err_ok = (max |decoded −
    expected| ≤ 1) and the oracle demands TRUE plus exact dims for
    every well-formed payload: only a genuinely working
    entropy-decode + IDCT chain passes. len(text) % 11 == 0 rows carry garbage — the
    corrupt-media contract (decode_ok=false, NULL stats)."""
    d = _codec_corpus(spark, sf, "doc_id", "text")

    def render(it):
        import numpy as np
        import pandas as pd

        from pandasql_spark.functions.jpegcodec import encode_jpeg

        for pdf in it:
            payloads, ns = [], []
            for did, t in zip(pdf["doc_id"], pdf["text"]):
                n = len(t)
                ns.append(n)
                if n % 11 == 0:
                    payloads.append(b"\x00" * 32)
                    continue
                bw, bh = 1 + n % 3, 1 + n % 2
                tiles = (
                    int(did) * 7 + 83 * np.arange(bh * bw, dtype=np.int64)
                ) % 256
                img = np.kron(
                    tiles.reshape(bh, bw).astype(np.uint8),
                    np.ones((8, 8), np.uint8),
                )
                payloads.append(encode_jpeg(img, quality=90))
            yield pd.DataFrame(
                {
                    "media_id": pdf["doc_id"].astype("int64"),
                    "n": np.asarray(ns, dtype=np.int64),
                    "payload": payloads,
                }
            )

    media = d.mapInPandas(render, "media_id long, n long, payload binary")

    def verify(it):
        import numpy as np
        import pandas as pd

        from pandasql_spark.functions.imagecodec import ImageDecodeError
        from pandasql_spark.functions.jpegcodec import decode_jpeg

        for pdf in it:
            rows = {"doc_id": [], "decode_ok": [], "width": [],
                    "height": [], "err_ok": []}
            for did, n, payload in zip(pdf["media_id"], pdf["n"], pdf["payload"]):
                did, n = int(did), int(n)
                rows["doc_id"].append(did)
                try:
                    px = decode_jpeg(bytes(payload))
                except ImageDecodeError:
                    rows["decode_ok"].append(False)
                    rows["width"].append(None)
                    rows["height"].append(None)
                    rows["err_ok"].append(None)
                    continue
                bw, bh = 1 + n % 3, 1 + n % 2
                tiles = (did * 7 + 83 * np.arange(bh * bw, dtype=np.int64)) % 256
                exp = np.kron(
                    tiles.reshape(bh, bw), np.ones((8, 8), np.int64)
                )
                got = px[:, :, 0].astype(np.int64)
                rows["decode_ok"].append(True)
                rows["width"].append(px.shape[1])
                rows["height"].append(px.shape[0])
                rows["err_ok"].append(
                    bool(got.shape == exp.shape
                         and np.abs(got - exp).max() <= 1)
                )
            yield pd.DataFrame(rows)

    return media.mapInPandas(
        verify,
        "doc_id long, decode_ok boolean, width long, height long, err_ok boolean",
    )


Q90_SQL = """
WITH t AS (SELECT doc_id, length(text) AS n FROM documents)
SELECT doc_id, TRUE AS decode_ok,
       CAST(8 * (1 + n % 3) AS BIGINT) AS width,
       CAST(8 * (1 + n % 2) AS BIGINT) AS height,
       TRUE AS err_ok
FROM t WHERE n % 11 <> 0
UNION ALL
SELECT doc_id, FALSE, NULL, NULL, NULL FROM t WHERE n % 11 = 0
"""


def q91_quantile_normalize(spark: SparkSession, sf: str) -> SparkDataFrame:
    """Per-group quantile normalization (operators/ranking.py:
    quantile_normalize): every order's price calibrated to its
    priority-class empirical CDF at 1/20 resolution — the cross-source
    score-calibration move. Cut points are exact per-group inverse-CDF
    picks (value-at-rank is tie-order-independent, so no tiebreak
    needed); the oracle reproduces the rank picks, the cut arrays, and
    the strict-less count per row. pct = count/k is the same double on
    both engines (small-int division)."""
    from pandasql_spark.operators.ranking import quantile_normalize

    o = spark.read.parquet(f"{sf}/orders.parquet")
    out = quantile_normalize(o, "o_totalprice", ["o_orderpriority"], k=20)
    return out.select("o_orderkey", "o_orderpriority", "pct")


Q91_SQL = """
WITH r AS (
  SELECT o_orderpriority AS g, o_totalprice AS v,
         row_number() OVER (PARTITION BY o_orderpriority
                            ORDER BY o_totalprice) AS rn,
         count(*) OVER (PARTITION BY o_orderpriority) AS n
  FROM orders
),
cuts AS (
  SELECT g, v
  FROM r JOIN (SELECT unnest(range(1, 20)) AS i) qs
    ON rn = CAST(ceil(round(i / 20.0 * n, 9)) AS BIGINT)
),
agg AS (
  SELECT g, list(v ORDER BY v) AS cut_arr FROM cuts GROUP BY g
)
SELECT o.o_orderkey, o.o_orderpriority,
       CAST(len(list_filter(a.cut_arr, c -> c < o.o_totalprice)) AS DOUBLE)
         / 20.0 AS pct
FROM orders o JOIN agg a ON o.o_orderpriority = a.g
"""


def q92_html_extract(spark: SparkSession, sf: str) -> SparkDataFrame:
    """HTML → text extraction (functions/html.py): each document is
    wrapped into a deterministic HTML page — title, per-token <p>
    markup, a script block containing decoy tags, a comment, and
    entity-encoded text — then html_to_text / html_title recover the
    visible text. Everything is codegen regexp/replace chains with
    RE2-portable patterns, so the oracle renders the same page and runs
    the SAME patterns in DuckDB; the md5 of the extracted text matches
    only if tag stripping, script/comment removal, single-level entity
    decode, and whitespace collapse all agree."""
    from pandasql_spark.functions.html import html_title, html_to_text

    d = spark.read.parquet(f"{sf}/documents.parquet").select("doc_id", "text")
    page = F.concat(
        F.lit("<html><head><title>doc "),
        F.col("doc_id").cast("string"),
        F.lit("</title><style>p{c:red}</style></head><body>"
              "<script>var a=\"<p>decoy</p>\";</script><p>"),
        F.replace(F.col("text"), F.lit(" "), F.lit("</p> <p>")),
        F.lit("</p><!-- crawl:meta --><div>Q&amp;A&nbsp;&lt;x&gt;</div>"
              "</body></html>"),
    )
    h = d.select("doc_id", page.alias("html"))
    return h.select(
        "doc_id",
        html_title("html").alias("title"),
        F.md5(html_to_text("html")).alias("fp"),
    )


Q92_SQL = """
WITH page AS (
  SELECT doc_id,
         '<html><head><title>doc ' || CAST(doc_id AS VARCHAR)
         || '</title><style>p{c:red}</style></head><body>'
         || '<script>var a="<p>decoy</p>";</script><p>'
         || replace(text, ' ', '</p> <p>')
         || '</p><!-- crawl:meta --><div>Q&amp;A&nbsp;&lt;x&gt;</div>'
         || '</body></html>' AS html
  FROM documents
),
stripped AS (
  SELECT doc_id, html,
         regexp_replace(
           regexp_replace(
             regexp_replace(
               regexp_replace(html, '(?is)<script\\b[^>]*>.*?</script>', ' ', 'g'),
               '(?is)<style\\b[^>]*>.*?</style>', ' ', 'g'),
             '(?s)<!--.*?-->', ' ', 'g'),
           '<[^>]+>', ' ', 'g') AS s
  FROM page
),
decoded AS (
  SELECT doc_id, html,
         replace(replace(replace(replace(replace(replace(s,
           '&lt;', '<'), '&gt;', '>'), '&quot;', '"'),
           '&#39;', chr(39)), '&nbsp;', ' '), '&amp;', '&') AS s
  FROM stripped
)
SELECT doc_id,
       trim(regexp_replace(
         regexp_extract(html, '(?is)<title\\b[^>]*>(.*?)</title>', 1),
         '\\s+', ' ', 'g')) AS title,
       md5(trim(regexp_replace(s, '\\s+', ' ', 'g'))) AS fp
FROM decoded
"""


def q93_url_normalize(spark: SparkSession, sf: str) -> SparkDataFrame:
    """URL canonicalization (functions/url.py): each document renders a
    deliberately messy absolute URL — uppercase scheme/host, default
    :80 port on a third of rows, a PERCENT-ENCODED tracking parameter
    (``%75tm_source`` → ``utm_source``, must still be recognized and
    dropped), an unreserved escape in the path (``%41`` → ``A`` with
    the original case kept), a lowercase reserved escape in a param
    value (``%2f`` → ``%2F``: uppercased, NOT decoded), unsorted query
    params, and a fragment on even ids — and url_normalize must
    collapse every variant axis at once. The oracle is CLOSED FORM: it
    renders the already-canonical URL directly from doc_id, so the
    gate passes only if normalization removes exactly the junk and
    nothing else (path case and non-default ports must survive —
    covered by unit tests; here every axis is exercised corpus-wide)."""
    from pandasql_spark.functions.url import url_host, url_normalize

    d = spark.read.parquet(f"{sf}/documents.parquet").select("doc_id")
    raw = F.concat(
        F.lit("HTTP://Site"),
        (F.col("doc_id") % 7).cast("string"),
        F.lit(".COM"),
        F.when(F.col("doc_id") % 3 == 0, F.lit(":80")).otherwise(F.lit("")),
        F.lit("/p%41th/"),
        F.col("doc_id").cast("string"),
        F.lit("?b="),
        (F.col("doc_id") % 5).cast("string"),
        F.lit("&%75tm_source=t&a=%7e%2fx"),
        F.when(F.col("doc_id") % 2 == 0, F.lit("#sec")).otherwise(F.lit("")),
    )
    u = d.select("doc_id", raw.alias("url"))
    return u.select(
        "doc_id",
        url_normalize("url").alias("norm"),
        url_host("url").alias("host"),
    )


Q93_SQL = """
SELECT doc_id,
       'http://site' || CAST(doc_id % 7 AS VARCHAR) || '.com/pAth/'
         || CAST(doc_id AS VARCHAR) || '?a=~%2Fx&b='
         || CAST(doc_id % 5 AS VARCHAR) AS norm,
       'site' || CAST(doc_id % 7 AS VARCHAR) || '.com' AS host
FROM documents
"""


def q94_crawl_pipeline(spark: SparkSession, sf: str) -> SparkDataFrame:
    """Crawl → corpus capstone (operators/crawl.py:crawl_to_corpus):
    each document becomes a raw crawl record — the q92 HTML page and a
    q93-style messy URL whose path is doc_id % 50, so URL variants AND
    true cross-document URL collisions both occur — then one call runs
    extract → canonicalize → URL-dedup (min id) → token-count gate →
    host-keyed leakage-safe split. The oracle is FULLY CLOSED FORM: the
    extracted text, canonical URL, survivor set, token counts, and the
    md5-based split assignment are all arithmetic over (doc_id, text) —
    no regexp in the oracle at all, so the gate only passes if the real
    extraction/normalization chain lands exactly on the closed form.

    r12 fold (registry-ceiling policy): the host also carries UNICODE
    normalization (functions/text.py:normalize_unicode — strip
    control/zero-width chars, then NFC): each surviving doc's extracted
    text is wrapped in a deterministic Unicode-messy frame (an NFD
    'cafe'+U+0301, a ZWSP, a soft hyphen, a combining ring, a C0
    control) and norm_fp hashes the normalized result — so the gate
    proves composition (e+◌́→é, A+◌̊→Å), invisible-char stripping, and
    ASCII passthrough byte-exactly against DuckDB's utf8proc
    `nfc_normalize` + the same RE2 strip class."""
    from pandasql_spark.functions.text import normalize_unicode
    from pandasql_spark.operators.crawl import crawl_to_corpus

    d = spark.read.parquet(f"{sf}/documents.parquet").select("doc_id", "text")
    page = F.concat(
        F.lit("<html><head><title>doc "),
        F.col("doc_id").cast("string"),
        F.lit("</title><style>p{c:red}</style></head><body>"
              "<script>var a=\"<p>decoy</p>\";</script><p>"),
        F.replace(F.col("text"), F.lit(" "), F.lit("</p> <p>")),
        F.lit("</p><!-- crawl:meta --><div>Q&amp;A&nbsp;&lt;x&gt;</div>"
              "</body></html>"),
    )
    url = F.concat(
        F.lit("HTTP://Site"),
        (F.col("doc_id") % 7).cast("string"),
        F.lit(".COM"),
        F.when(F.col("doc_id") % 3 == 0, F.lit(":80")).otherwise(F.lit("")),
        F.lit("/p/"),
        (F.col("doc_id") % 50).cast("string"),
        F.lit("?b=2&utm_source=t&a=1"),
        F.when(F.col("doc_id") % 2 == 0, F.lit("#sec")).otherwise(F.lit("")),
    )
    crawl = d.select("doc_id", url.alias("url"), page.alias("html"))
    out = crawl_to_corpus(
        crawl, min_tokens=40, split_weights={"train": 0.9, "eval": 0.1}
    )
    # NFD cafe+U+0301, ZWSP | extracted text | soft hyphen, A+U+030A,
    # C0 ctrl - explicit escapes (raw invisible chars in source are a trap)
    messy = F.concat(
        F.lit("cafe\u0301\u200b "),
        F.col("text"),
        F.lit(" \u00adA\u030a\u0002"),
    )
    return out.select(
        "doc_id", "url_norm", "host", "title", "n_tokens", "split",
        F.md5(F.col("text")).alias("fp"),
        F.md5(normalize_unicode(messy)).alias("norm_fp"),
    )


Q94_SQL = """
WITH t AS (
  SELECT doc_id, text,
         'doc ' || CAST(doc_id AS VARCHAR) || ' ' || text || ' Q&A <x>'
           AS extracted,
         'http://site' || CAST(doc_id % 7 AS VARCHAR) || '.com/p/'
           || CAST(doc_id % 50 AS VARCHAR) || '?a=1&b=2' AS url_norm,
         'site' || CAST(doc_id % 7 AS VARCHAR) || '.com' AS host
  FROM documents
),
dedup AS (
  SELECT *, row_number() OVER (PARTITION BY url_norm ORDER BY doc_id) AS rn
  FROM t
),
gated AS (
  SELECT doc_id, url_norm, host,
         'doc ' || CAST(doc_id AS VARCHAR) AS title,
         CAST(len(string_split(extracted, ' ')) AS BIGINT) AS n_tokens,
         extracted
  FROM dedup
  WHERE rn = 1 AND len(string_split(extracted, ' ')) >= 40
)
SELECT doc_id, url_norm, host, title, n_tokens,
       CASE WHEN list_reduce(
              list_transform(range(1, 14),
                x -> CAST(strpos('0123456789abcdef',
                                 substr(md5(host), x, 1)) - 1 AS DOUBLE)),
              (acc, v) -> acc * 16 + v)
            < CAST(0.9 AS DOUBLE) * 4503599627370496.0
            THEN 'train' ELSE 'eval' END AS split,
       md5(extracted) AS fp,
       md5(nfc_normalize(regexp_replace(
         'cafe' || chr(769) || chr(8203) || ' ' || extracted
           || ' ' || chr(173) || 'A' || chr(778) || chr(2),
         '[\\x00-\\x08\\x0B\\x0C\\x0E-\\x1F\\x7F-\\x9F'
           || '\\x{00AD}\\x{200B}-\\x{200D}\\x{2060}\\x{FEFF}]',
         '', 'g'))) AS norm_fp
FROM gated
"""


def q95_export_shards(spark: SparkSession, sf: str) -> SparkDataFrame:
    """Training-data shard export (operators/shards.py): deterministic
    md5-keyed shard assignment over documents (8 shards) plus the
    audit manifest — per shard: row count, payload bytes, and an
    order-independent bit_xor checksum over 60-bit content
    fingerprints (the shared snapshot_diff sentinel scheme). The
    oracle recomputes assignment, byte sums, and the XOR checksum
    from scratch in SQL, so the gate proves a DuckDB reader could
    independently audit a shard manifest this engine produced. The
    filesystem write path (partitioned parquet + within-shard hash
    order) is pinned by test_shards.py round-trips."""
    from pandasql_spark.operators.shards import assign_shards, shard_manifest

    docs = spark.read.parquet(f"{sf}/documents.parquet")
    return shard_manifest(assign_shards(docs, 8, "doc_id"), ["text", "lang"])


Q95_SQL = """
SELECT ('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 13))::BIGINT % 8
         AS shard,
       count(*) AS n_rows,
       CAST(sum(coalesce(octet_length(encode(text)), 0)
                + coalesce(octet_length(encode(lang)), 0)) AS BIGINT)
         AS n_bytes,
       bit_xor(('0x' || substr(md5(concat_ws(chr(31),
                                             coalesce(text, chr(0)),
                                             coalesce(lang, chr(0)))),
                               1, 15))::BIGINT) AS checksum
FROM documents
GROUP BY 1
ORDER BY 1
"""


def q96_video_frames(spark: SparkSession, sf: str) -> SparkDataFrame:
    """Video pipeline with REAL native AVI decode in BOTH supported
    codecs, end to end (the video analog of q80/q86/q90). Odd
    len(text) docs render uncompressed DIB AVIs whose pixel values
    follow the closed form x + 3y + 17c + 5i (all < 256, no mod
    wrap); operators/multimodal.sample_frames decodes them — RIFF
    chunk walk, BGR/bottom-up DIB unpack — samples the 500 ms grid at
    fps=4 (exactly the EVEN frame indices), re-encodes each sampled
    frame as PNG, and an independent image_meta stage PNG-decodes it
    for per-frame pixel means, which the oracle recomputes exactly
    ((w-1)/2 + 3(h-1)/2 + 17 + 5·idx). Even len(text) docs render
    MOTION-JPEG AVIs (videocodec codec="mjpg" — every frame an
    independent baseline JPEG from the q90-proven encoder) of flat
    8×8 grey tiles v = (7·doc_id + 83·tile + 29·frame) mod 256 —
    DC-only content, so decode error is bounded by the DC quant step;
    the sampled frames round-trip through PNG and a verify stage
    checks every pixel within ≤1 grey level (the q90 recipe),
    emitting err_ok which the oracle demands TRUE along with exact
    dims and the exact sampled index set. Docs with len(text) % 11
    == 0 carry garbage bytes — the corrupt-media contract (one
    decode_ok=false row, NULL stats, job survives).

    r13 fold (VERDICT r12 task 4): the host also carries the VIDEO
    perceptual signature (operators/dedup.py:
    video_signature_from_frames over the SAME persisted frames — no
    second decode pass, the single-scan discipline holds): n_frames
    is stated in closed form for every video ((nf+1)//2 sampled, 0
    for corrupt), and vhash in closed form where it is derivable:
    DIB videos have luma affine in x (slope exactly 1), so each
    dHash cell mean is (lo+hi−1)/2 over integer cell bounds
    lo=(c·w)//9, hi=max(lo+1, ((c+1)·w)//9) — the 8-bit row pattern
    p(w) repeats at every byte (all rows share the profile; the +5i
    frame shift cancels in the strict comparisons, so every frame
    votes identically), giving vhash = p(w)·0x0101010101010101 with
    signed wrap, which the oracle computes from w in HUGEINT; flat
    single-tile MJPEG videos (bw=bh=1) majority-vote to exactly 0
    (the flat contract); corrupt → NULL. Multi-tile MJPEG vhash is
    masked NULL on BOTH sides: its comparisons sit within the DC
    quant error of tile-value ties, so it is deliberately outside
    the oracle (discriminative behavior is pinned by
    test_image_dedup.py's planted re-encode pairs)."""
    from pandasql_spark.operators.dedup import video_signature_from_frames
    from pandasql_spark.operators.multimodal import image_meta, sample_frames

    d = _codec_corpus(spark, sf, "doc_id", "text")

    def render(it):
        import numpy as np
        import pandas as pd

        from pandasql_spark.functions.videocodec import encode_avi

        for pdf in it:
            payloads = []
            for did, t in zip(pdf["doc_id"], pdf["text"]):
                n = len(t)
                if n % 11 == 0:
                    payloads.append(b"\x00" * 32)
                    continue
                nf = 2 + n % 5
                if n % 2 == 0:
                    bw, bh = 1 + n % 3, 1 + (n // 2) % 2
                    tv = (
                        7 * int(did)
                        + 83 * np.arange(bh * bw).reshape(1, bh, bw)
                        + 29 * np.arange(nf).reshape(nf, 1, 1)
                    ) % 256
                    frames = np.kron(
                        tv.astype(np.uint8), np.ones((1, 8, 8), np.uint8)
                    )[..., None].repeat(3, axis=3)
                    payloads.append(encode_avi(frames, fps=4, codec="mjpg"))
                    continue
                w, h = 4 + n % 5, 3 + n % 7
                x = np.arange(w).reshape(1, 1, w, 1)
                y = np.arange(h).reshape(1, h, 1, 1)
                c = np.arange(3).reshape(1, 1, 1, 3)
                i = np.arange(nf).reshape(nf, 1, 1, 1)
                frames = (x + 3 * y + 17 * c + 5 * i).astype(np.uint8)
                payloads.append(encode_avi(frames, fps=4))
            yield pd.DataFrame(
                {
                    "media_id": pdf["doc_id"].astype("int64"),
                    "payload": payloads,
                    "n": pdf["text"].str.len().astype("int32"),
                }
            )

    # n (the codec selector) rides the render schema and sample_frames'
    # keep_cols, so no second corpus scan / corpus-sized broadcast is
    # needed to recover it downstream (ADVICE r9) — at 100 TB that
    # re-join was a full extra pass over documents.
    media = d.mapInPandas(render, "media_id long, payload binary, n int")
    # three consumers below (DIB means, MJPEG verify, corrupt rows):
    # persist the sampled frames so the render+decode pass runs once —
    # the production shape too (sampled frames are the pipeline
    # barrier; ~KBs per frame, MEMORY_AND_DISK never OOMs). The cache
    # must outlive this function (the caller collects the returned
    # lazy union), so it can't be unpersisted here; instead each call
    # unpersists the PREVIOUS call's cache, bounding a session to one
    # resident q96 cache instead of an unbounded leak (ADVICE r9).
    from ._shared import swap_session_cache

    fr = swap_session_cache(
        _Q96_FRAMES_CACHE,
        _Q96_FRAMES_LOCK,
        spark,
        sample_frames(media, every_ms=500, keep_cols=["n"]),
    )
    okdib = fr.filter(F.col("decode_ok") & (F.col("n") % 2 == 1)).withColumn(
        # composite per-frame id: frame_idx < 16 always (nf <= 6)
        "fid", F.col("media_id") * 16 + F.col("frame_idx")
    )
    meta = image_meta(
        okdib.select(
            F.col("fid").alias("media_id"), F.col("frame_png").alias("payload")
        ),
        decode_pixels=True,
    ).select(F.col("media_id").alias("fid"), "mean_px")
    good_dib = okdib.join(meta, "fid").select(
        "media_id",
        "decode_ok",
        "frame_idx",
        "frame_ms",
        "width",
        "height",
        F.round("mean_px", 6).alias("mean_px"),
        F.lit(None).cast("boolean").alias("err_ok"),
    )

    def verify_mjpg(it):
        import numpy as np
        import pandas as pd

        from pandasql_spark.functions.imagecodec import decode_png

        for pdf in it:
            oks = []
            for did, n, idx, png in zip(
                pdf["media_id"], pdf["n"], pdf["frame_idx"], pdf["frame_png"]
            ):
                did, n, idx = int(did), int(n), int(idx)
                bw, bh = 1 + n % 3, 1 + (n // 2) % 2
                tv = (
                    7 * did + 83 * np.arange(bh * bw).reshape(bh, bw) + 29 * idx
                ) % 256
                exp = np.kron(tv, np.ones((8, 8), np.int64))
                px = decode_png(bytes(png)).astype(np.int64)
                oks.append(
                    bool(
                        px.shape[:2] == exp.shape
                        and np.abs(px - exp[:, :, None]).max() <= 1
                    )
                )
            out = pdf[
                ["media_id", "frame_idx", "frame_ms", "width", "height"]
            ].copy()
            out["err_ok"] = oks
            yield out

    good_mjpg = (
        fr.filter(F.col("decode_ok") & (F.col("n") % 2 == 0))
        .select("media_id", "n", "frame_idx", "frame_ms", "width", "height",
                "frame_png")
        .mapInPandas(
            verify_mjpg,
            "media_id long, frame_idx int, frame_ms long, width int, "
            "height int, err_ok boolean",
        )
        .select(
            "media_id",
            F.lit(True).alias("decode_ok"),
            "frame_idx",
            "frame_ms",
            "width",
            "height",
            F.lit(None).cast("double").alias("mean_px"),
            "err_ok",
        )
    )
    bad = fr.filter(~F.col("decode_ok")).select(
        "media_id",
        "decode_ok",
        "frame_idx",
        "frame_ms",
        "width",
        "height",
        F.lit(None).cast("double").alias("mean_px"),
        F.lit(None).cast("boolean").alias("err_ok"),
    )
    # r13 fold: per-video signature from the SAME persisted frames
    # (no second decode pass); multi-tile MJPEG vhash masked NULL —
    # outside the oracle's closed forms (see docstring).
    vids = fr.select("media_id", "n").distinct()
    sig = (
        video_signature_from_frames(fr)
        .join(vids, "media_id")
        .select(
            "media_id",
            F.col("n_frames").cast("long").alias("n_frames"),
            F.when(
                (F.col("n") % 2 == 1)
                | ((F.col("n") % 3 == 0) & ((F.col("n") / 2).cast("long") % 2 == 0)),
                F.col("vhash"),
            ).alias("vhash"),
        )
    )
    out = good_dib.unionByName(good_mjpg).unionByName(bad)
    return (
        out.join(sig, "media_id", "left")
        .withColumn("n_frames", F.coalesce("n_frames", F.lit(0)).cast("long"))
    )


Q96_SQL = """
WITH t AS (
  SELECT doc_id, length(text) AS n FROM documents
),
p AS (
  SELECT doc_id, 4 + n % 5 AS w, 3 + n % 7 AS h, 2 + n % 5 AS nf
  FROM t WHERE n % 11 <> 0 AND n % 2 = 1
),
-- DIB vhash closed form: luma is affine in x (slope 1), so dHash cell
-- means order exactly as lo+hi over the integer cell bounds
-- lo=(c*w)//9, hi=max(lo+1, ((c+1)*w)//9); the 8-bit row pattern
-- repeats at every byte of the 64-bit hash (signed wrap via HUGEINT).
pv AS (
  SELECT *,
         list_sum(list_transform(range(8), c ->
           CASE WHEN ((c+1)*w)//9 + greatest(((c+1)*w)//9 + 1, ((c+2)*w)//9)
                   > (c*w)//9 + greatest((c*w)//9 + 1, ((c+1)*w)//9)
                THEN 1 << c ELSE 0 END))
         * CAST(72340172838076673 AS HUGEINT) AS vraw
  FROM p
),
fr AS (
  SELECT doc_id, w, h, nf,
         CAST(CASE WHEN vraw > 9223372036854775807
              THEN vraw - 18446744073709551616 ELSE vraw END AS BIGINT) AS vh,
         unnest(range((nf + 1) // 2)) AS k
  FROM pv
),
mp AS (
  SELECT doc_id, 8 * (1 + n % 3) AS w, 8 * (1 + (n // 2) % 2) AS h,
         2 + n % 5 AS nf
  FROM t WHERE n % 11 <> 0 AND n % 2 = 0
),
mfr AS (
  SELECT doc_id, w, h, nf,
         CASE WHEN w = 8 AND h = 8 THEN CAST(0 AS BIGINT) END AS vh,
         unnest(range((nf + 1) // 2)) AS k
  FROM mp
)
SELECT doc_id AS media_id, TRUE AS decode_ok,
       CAST(2 * k AS INT) AS frame_idx,
       CAST(2 * k * 250 AS BIGINT) AS frame_ms,
       CAST(w AS INT) AS width, CAST(h AS INT) AS height,
       round((3 * (w - 1) + 9 * (h - 1) + 102 + 30 * (2 * k))
             / CAST(6 AS DOUBLE), 6) AS mean_px,
       CAST(NULL AS BOOLEAN) AS err_ok,
       CAST((nf + 1) // 2 AS BIGINT) AS n_frames,
       vh AS vhash
FROM fr
UNION ALL
SELECT doc_id, TRUE, CAST(2 * k AS INT), CAST(2 * k * 250 AS BIGINT),
       CAST(w AS INT), CAST(h AS INT), CAST(NULL AS DOUBLE), TRUE,
       CAST((nf + 1) // 2 AS BIGINT), vh
FROM mfr
UNION ALL
SELECT doc_id, FALSE, NULL, NULL, NULL, NULL, NULL, NULL,
       CAST(0 AS BIGINT), NULL
FROM t WHERE n % 11 = 0
"""


def q97_stream_admission(spark: SparkSession, sf: str) -> SparkDataFrame:
    """Streaming per-key admission caps through the REAL streaming
    engine (streaming/admission.py), both budget kinds:

    - stage ``first_n`` — admit_per_key_stream
      (applyInPandasWithState, ONE counter per key, append mode): the
      first 40 events per event_type are admitted, the rest dropped
      at the door. Single-file replay = one micro-batch whose
      per-group rows sort by (ts, event_id) before admission, so the
      result equals the batch first-n pick (rank-window oracle).
    - stage ``token_budget`` — admit_tokens_per_key_stream (the r14
      fold): lifetime running sum of ``value`` per event_type, key
      closed at first overflow, replayed as THREE (ts, event_id)-
      ordered micro-batches (events.stage_time_ordered, the q99
      recipe) so the budget genuinely STRADDLES batch boundaries —
      the fractional `consumed` double state carries across batch
      edges (ADVICE r13 fix, now under the driver's oracle). The
      budget is scale-adaptive — round(Σvalue/10), ~half of each
      key's total, so every key is open after batch 1 and closes in
      batch 2 at every SF; probed: min |cum − budget| ≥ 0.6 and the
      round() boundary distance ≥ 0.08 across SFs — orders of
      magnitude beyond cross-engine float drift. With monotone
      chunking the replay equals the batch closed form the oracle's
      cumsum window recomputes. Tenth gate-checked streaming
      surface."""
    from pandasql_spark.session import scratch_dir
    from pandasql_spark.streaming.admission import (
        admit_per_key_stream,
        admit_tokens_per_key_stream,
    )
    from pandasql_spark.streaming.events import (
        EVENT_SCHEMA,
        replay_to_memory,
        stage_time_ordered,
    )

    path = f"{sf}/events.parquet"
    # ONE staging write serves both replays (staging = a full sort+write
    # of the table, the biggest fixed cost here): first_n reads the
    # staged chunks as a single micro-batch (the _replay shape,
    # intra-batch order from the operator's per-group sort), the token
    # stage streams them one per batch. The staging dir is removed once
    # the second replay ends — the memory sinks hold the rows.
    stage = scratch_dir("evchunks_")
    per_chunk = stage_time_ordered(
        spark.read.schema(EVENT_SCHEMA).parquet(path), 3, ["ts", "event_id"], stage
    )
    first_n = replay_to_memory(
        spark,
        admit_per_key_stream(
            spark.readStream.schema(EVENT_SCHEMA).parquet(stage), "event_type", 40
        ),
        "q97_admission_replay",
    )
    total = spark.read.parquet(path).agg(F.sum("value")).first()[0]
    budget = float(round(total / 10))
    tokens = replay_to_memory(
        spark,
        admit_tokens_per_key_stream(per_chunk, "event_type", budget, "value"),
        "q97_token_admission_replay",
        release=[stage],
    )
    cols = ["event_id", "ts", "user_id", "event_type", "value", "props"]
    return first_n.select(F.lit("first_n").alias("stage"), *cols).unionByName(
        tokens.select(F.lit("token_budget").alias("stage"), *cols)
    )


Q97_SQL = """
SELECT 'first_n' AS stage, event_id, ts, user_id, event_type, value, props
FROM (
  SELECT *, row_number() OVER (
    PARTITION BY event_type ORDER BY ts, event_id
  ) AS rn
  FROM events
) WHERE rn <= 40
UNION ALL
SELECT 'token_budget', event_id, ts, user_id, event_type, value, props
FROM (
  SELECT *, sum(value) OVER (
    PARTITION BY event_type ORDER BY ts, event_id
    ROWS UNBOUNDED PRECEDING
  ) AS cum
  FROM events
) WHERE cum <= (SELECT round(sum(value) / 10) FROM events)
"""


def q98_bigram_lm(spark: SparkSession, sf: str) -> SparkDataFrame:
    """Bigram conditional LM quality scoring (operators/lm.py:
    bigram_logprob_scores) — the word-ORDER-sensitive sharpening of
    q72's unigram signal: per document, the mean ln p(w2|w1) under the
    corpus's own bigram model, p(w2|w1) = c(w1,w2)/c(w1,·). One count
    pass with map-side combine (context counts reuse the pair
    exchange, not a third corpus scan), shuffle-join for the model
    (bigram vocabularies grow with the corpus — broadcast is opt-in).
    Single-token documents survive as n_bigrams=0 / NULL logprob. The
    oracle recomputes both passes in SQL via zipped list-slice
    unnests; ln/avg agree cross-engine after round-to-6 (the q72
    recipe)."""
    from pandasql_spark.operators.lm import bigram_logprob_scores

    docs = spark.read.parquet(f"{sf}/documents.parquet")
    return bigram_logprob_scores(docs)


Q98_SQL = """
WITH toks AS (
  SELECT doc_id, string_split(text, ' ') AS ts FROM documents
),
pairs AS (
  SELECT doc_id, unnest(ts[1:len(ts)-1]) AS w1, unnest(ts[2:len(ts)]) AS w2
  FROM toks WHERE len(ts) >= 2
),
pc AS (SELECT w1, w2, count(*) AS cnt FROM pairs GROUP BY w1, w2),
ctx AS (SELECT w1, sum(cnt) AS ctx FROM pc GROUP BY w1)
SELECT t.doc_id,
       CAST(count(p.w1) AS BIGINT) AS n_bigrams,
       round(avg(ln(pc.cnt / CAST(c.ctx AS DOUBLE))), 6) AS logprob
FROM toks t
LEFT JOIN pairs p USING (doc_id)
LEFT JOIN pc ON p.w1 = pc.w1 AND p.w2 = pc.w2
LEFT JOIN ctx c ON p.w1 = c.w1
GROUP BY t.doc_id
"""


def q99_crawl_ingest_stream(spark: SparkSession, sf: str) -> SparkDataFrame:
    """Streaming crawl→corpus ingestion through the REAL streaming
    engine (streaming/crawl_ingest.py): documents become messy crawl
    records (q94's page construction; URL path doc_id % 11 so
    canonical-URL collisions occur WITHIN a host's admission budget),
    staged as 3 doc_id-ordered micro-batches. The live pipeline runs
    host-keyed admission (q97's one-counter state, cap 40/host, the
    cap straddles batch boundaries), the shared extract projection
    (q92+q93), incremental URL dedup against the persisted store
    (q63's batch_id < current recipe), a 40-token gate, and the
    idempotent dynamic-partition-overwrite sink. With monotone ids the
    corpus equals the batch closed form the oracle recomputes: first
    40 per host by id → min-id per canonical URL → token gate.
    Eleventh gate-checked streaming surface."""
    from pandasql_spark.streaming.crawl_ingest import replay_crawl_ingest

    d = spark.read.parquet(f"{sf}/documents.parquet").select("doc_id", "text")
    page = F.concat(
        F.lit("<html><head><title>doc "),
        F.col("doc_id").cast("string"),
        F.lit("</title><style>p{c:red}</style></head><body>"
              "<script>var a=\"<p>decoy</p>\";</script><p>"),
        F.replace(F.col("text"), F.lit(" "), F.lit("</p> <p>")),
        F.lit("</p><!-- crawl:meta --><div>Q&amp;A&nbsp;&lt;x&gt;</div>"
              "</body></html>"),
    )
    url = F.concat(
        F.lit("HTTP://Site"),
        (F.col("doc_id") % 7).cast("string"),
        F.lit(".COM"),
        F.when(F.col("doc_id") % 3 == 0, F.lit(":80")).otherwise(F.lit("")),
        F.lit("/p/"),
        (F.col("doc_id") % 11).cast("string"),
        F.lit("?b=2&utm_source=t&a=1"),
        F.when(F.col("doc_id") % 2 == 0, F.lit("#sec")).otherwise(F.lit("")),
    )
    crawl = d.select("doc_id", url.alias("url"), page.alias("html"))
    out = replay_crawl_ingest(
        spark, crawl, n_batches=3, host_cap=40, min_tokens=40
    )
    return out.select(
        "doc_id", "url_norm", "host", "title", "n_tokens",
        F.md5(F.col("text")).alias("fp"),
    )


Q99_SQL = """
WITH t AS (
  SELECT doc_id, text,
         'doc ' || CAST(doc_id AS VARCHAR) || ' ' || text || ' Q&A <x>'
           AS extracted,
         'http://site' || CAST(doc_id % 7 AS VARCHAR) || '.com/p/'
           || CAST(doc_id % 11 AS VARCHAR) || '?a=1&b=2' AS url_norm,
         'site' || CAST(doc_id % 7 AS VARCHAR) || '.com' AS host
  FROM documents
),
admitted AS (
  SELECT * FROM (
    SELECT *, row_number() OVER (PARTITION BY host ORDER BY doc_id) AS hrn
    FROM t
  ) WHERE hrn <= 40
),
dedup AS (
  SELECT *, row_number() OVER (PARTITION BY url_norm ORDER BY doc_id) AS rn
  FROM admitted
)
SELECT doc_id, url_norm, host,
       'doc ' || CAST(doc_id AS VARCHAR) AS title,
       CAST(len(string_split(extracted, ' ')) AS BIGINT) AS n_tokens,
       md5(extracted) AS fp
FROM dedup
WHERE rn = 1 AND len(string_split(extracted, ' ')) >= 40
"""


def q100_bpe_pair_stats(spark: SparkSession, sf: str) -> SparkDataFrame:
    """BPE tokenizer-induction pair statistics (operators/bpe.py:
    pair_stats) — iteration zero of distributed BPE training: the
    top-50 adjacent character pairs across the corpus, each word's
    pairs weighted by its frequency. The scale shape is the point:
    the corpus collapses to the DISTINCT-WORD table in ONE scan
    (map-side-combined groupBy; vocabulary is language-bounded), and
    the pair explode + count runs on that small table, never on the
    corpus. The post-limit rank window is 50 rows — single-partition
    by construction. Deterministic total order (count desc, pair asc)
    makes the k-boundary tie-safe. train_bpe/encode_bpe (the driver-
    loop merge induction and the Arrow-batched encoder) are
    pytest-covered in test_bpe.py against pure-Python references —
    iterative induction is not SQL-expressible, its seed statistic
    is."""
    from pandasql_spark.operators.bpe import pair_stats

    docs = spark.read.parquet(f"{sf}/documents.parquet")
    return pair_stats(docs, "text", k=50)


Q100_SQL = """
WITH words AS (
  SELECT unnest(string_split(text, ' ')) AS w FROM documents
),
wc AS (
  SELECT w, count(*) AS cnt FROM words WHERE len(w) >= 2 GROUP BY w
),
pairs AS (
  SELECT substr(w, CAST(unnest(generate_series(1, len(w) - 1)) AS INTEGER), 2)
           AS pair,
         cnt
  FROM wc
),
pc AS (SELECT pair, CAST(sum(cnt) AS BIGINT) AS pair_count
       FROM pairs GROUP BY pair)
SELECT pair, pair_count,
       CAST(row_number() OVER (ORDER BY pair_count DESC, pair) AS INTEGER)
         AS rank
FROM pc
ORDER BY pair_count DESC, pair
LIMIT 50
"""


