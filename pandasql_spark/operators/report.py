"""Corpus observability: one call → a tall (metric, value) frame of
the statistics a curation run is steered by. Pipelines at 100 TB are
flown on these dashboards — doc/token volumes, length distribution,
duplication rate, per-domain mix — and every number here is computed
with the package's scale-shaped operators, then unioned into one
small result:

- volumes + length moments: one aggregate pass (map-side partial);
- exact length percentiles: operators/ranking.exact_percentiles
  (range-partitioned ranking, never a value-buffering percentile());
- exact-dup rate: the q19 fingerprint groupBy, reduced to a ratio;
- per-stratum mix: one groupBy over the stratum column.

The result is a metric table, not a report string — write it to a
sink and diff it between pipeline runs. Value-checked end-to-end as
q73 (the oracle recomputes every metric in SQL).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..functions.text import fingerprint, token_count, tokens
from .ranking import exact_percentiles


def corpus_report(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    stratum_col: str | None = None,
    length_quantiles: tuple[float, ...] = (0.25, 0.5, 0.75, 0.95),
    audio_col: str | None = None,
) -> DataFrame:
    """Tall (metric string, value double) corpus summary:

    - ``n_docs``, ``n_tokens``, ``avg_tokens`` (rounded to 6)
    - ``p{q}_tokens`` — EXACT token-count percentiles
    - ``exact_dup_rate`` — 1 − distinct fingerprints / docs (rounded)
    - ``docs_{stratum}={v}`` — per-stratum doc counts (optional)

    With ``audio_col`` (a binary WAV payload column), the multimodal
    surface composes with the observability surface (q81 gate): the
    payloads run through the REAL decoder (multimodal.audio_meta) and
    the report gains

    - ``n_audio_ok``, ``audio_decode_fail_rate``
    - ``audio_seconds_total``, ``avg_audio_rms`` (rounded to 6)
    - ``p{q}_audio_seconds`` — EXACT duration percentiles over the
      decodable payloads (same ranking recipe as the token lengths)
    - ``audio_seconds_{stratum}={v}`` — per-stratum decoded seconds
      (optional; the per-source duration mix a curation run caps on)

    Tie-break for the percentiles is (value, id) so the picked row is
    deterministic and engine-portable."""
    tc = token_count(tokens(text_col)).alias("__tc")
    # ONE corpus pass feeds every text-side metric (r16, the q73 REST
    # probe's own adjudication): the slim (id, token_count, fp[,
    # stratum]) base is persisted and EAGERLY filled — count() first,
    # the r15 lazy-persist-race discipline — so the volumes agg, the
    # percentile ranking, and the stratum mix all read the cache
    # instead of re-scanning the corpus (3 real reads -> 1; the audio
    # branch still reads the payload column separately — binary
    # payloads don't belong in a metrics cache).
    base_cols = [F.col(id_col), tc, fingerprint(text_col).alias("__fp")]
    if stratum_col is not None:
        base_cols.append(F.col(stratum_col))
    base = df.select(*base_cols).persist()
    base.count()

    volumes = base.agg(
        F.count(F.lit(1)).cast("double").alias("n_docs"),
        F.sum("__tc").cast("double").alias("n_tokens"),
        F.round(F.avg("__tc"), 6).alias("avg_tokens"),
        F.round(
            1 - F.count_distinct(F.col("__fp")) / F.count(F.lit(1)), 6
        ).alias("exact_dup_rate"),
    )
    tall = volumes.unpivot([], list(volumes.columns), "metric", "value")

    pctl = exact_percentiles(
        base, "__tc", list(length_quantiles), tiebreak=F.col(id_col)
    )
    pct = pctl.select(
        # round BEFORE the int cast: 0.95*100 is 94.999… in binary and
        # Spark's double→int cast truncates (DuckDB's rounds)
        F.concat(F.lit("p"), F.round(F.col("q") * 100).cast("int").cast("string"),
                 F.lit("_tokens")).alias("metric"),
        F.col("value").cast("double").alias("value"),
    )
    out = tall.unionByName(pct)

    if stratum_col is not None:
        mix = base.groupBy(stratum_col).agg(
            F.count(F.lit(1)).cast("double").alias("value")
        ).select(
            F.concat(
                F.lit(f"docs_{stratum_col}="), F.col(stratum_col).cast("string")
            ).alias("metric"),
            "value",
        )
        out = out.unionByName(mix)

    cleanups = [pctl, base]
    if audio_col is not None:
        from .multimodal import audio_meta

        # same one-pass discipline as the text base (r16): the decoded
        # METADATA (a few scalars per payload — never the payload) is
        # persisted and eagerly filled, so the volume agg, the duration
        # percentiles, and the per-stratum duration mix run ONE decode
        # pass over the corpus instead of one each (REST probe on the
        # q81 query: 5.00 -> 2.00 x documents total = text base fill +
        # this decode pass; the stratum mix joins the persisted base —
        # the floor without caching the raw input)
        am = audio_meta(df, payload_col=audio_col, id_col=id_col).select(
            "media_id", "decode_ok", "duration_s", "rms"
        ).persist()
        am.count()
        cleanups.append(am)
        avol = am.agg(
            F.sum(F.col("decode_ok").cast("double")).alias("n_audio_ok"),
            F.round(1 - F.avg(F.col("decode_ok").cast("double")), 6).alias(
                "audio_decode_fail_rate"
            ),
            F.round(F.sum("duration_s"), 6).alias("audio_seconds_total"),
            F.round(F.avg("rms"), 6).alias("avg_audio_rms"),
        )
        out = out.unionByName(
            avol.unpivot([], list(avol.columns), "metric", "value")
        )

        apctl = exact_percentiles(
            am.filter(F.col("decode_ok")).select("media_id", "duration_s"),
            "duration_s",
            list(length_quantiles),
            tiebreak=F.col("media_id"),
        )
        out = out.unionByName(
            apctl.select(
                F.concat(
                    F.lit("p"),
                    F.round(F.col("q") * 100).cast("int").cast("string"),
                    F.lit("_audio_seconds"),
                ).alias("metric"),
                F.col("value").cast("double").alias("value"),
            )
        )
        cleanups.append(apctl)

        if stratum_col is not None:
            # (id, stratum) comes off the persisted text base — joining
            # `df` here re-ran the whole upstream pass (for the q81
            # host that's a full WAV re-render) just to project two
            # columns (r16 review finding; REST probe 3.00 -> 2.00)
            amix = (
                am.join(
                    base.select(
                        F.col(id_col).alias("media_id"), F.col(stratum_col)
                    ),
                    "media_id",
                )
                .groupBy(stratum_col)
                .agg(F.round(F.sum("duration_s"), 6).alias("value"))
                .select(
                    F.concat(
                        F.lit(f"audio_seconds_{stratum_col}="),
                        F.col(stratum_col).cast("string"),
                    ).alias("metric"),
                    F.col("value").cast("double"),
                )
            )
            out = out.unionByName(amix)
    # pass the ranking recipe's persisted-frame release hooks through
    # (operators/cache.py contract) — without them the range-partitioned
    # copies could never be unpersisted by the caller
    from .cache import attach_cleanup

    return attach_cleanup(out, *cleanups)
