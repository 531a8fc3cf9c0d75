"""Image quality-filter rules — the visual counterpart of the
Gopher/C4 text gate (operators/quality_rules.py) for curating
image(-text) training corpora, in the LAION/DataComp style of published
size/aspect/content heuristics (Schuhmann et al. 2022; Gadre et al.
2023).

Rules run as pure JVM expressions over the 8-dim feature vector that
multimodal.extract_features already produced
([w, h, meanR, meanG, meanB, lum_std, edge_energy, tag]) — the
expensive decode happened once in the Arrow batch; the gate itself is
map-side column math with no Python, no shuffle, pipelined with the
scan. Quarantined rows (NULL feature) fail the ``decoded`` rule, so
one filter expresses "decodable AND worth training on".

Layers mirror the text gate:

- ``image_flags``: named per-row boolean rule struct + overall `pass`
  (min dimensions, aspect-ratio band, not-solid via luminance std,
  detail via edge energy, brightness band, decoded).
- ``filter_by_source``: per-SOURCE thresholds as a tiny broadcast dim
  with a ``"*"`` fallback row (screenshots tolerate extreme aspect;
  document scans tolerate low color variance).
- ``image_quality_report``: per-source x per-rule failure counts — the
  audit artifact reviewed before committing thresholds to a 100 TB run.

For near-duplicate IMAGES, feed the same feature vectors (or real
embeddings) to the existing vector family — semdedup / similarity /
ivf — rather than re-implementing here; the gate and the dedup compose
in either order.

No reference equivalent (the reference has no media handling); part of
the LLM-pipeline extension surface alongside operators/multimodal.py.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

__all__ = [
    "DEFAULT_THRESHOLDS",
    "DEFAULT_AUDIO_THRESHOLDS",
    "image_flags",
    "audio_flags",
    "filter_by_source",
    "image_quality_report",
]

#: LAION-style defaults; override per call or per source
DEFAULT_THRESHOLDS = {
    "min_width": 64.0,
    "min_height": 64.0,
    "max_aspect": 3.0,
    "min_lum_std": 2.0,      # a solid color has ~0 luminance spread
    "min_edge": 0.25,        # mean horizontal gradient: blank/flat floor
    "min_brightness": 8.0,   # mean of channel means
    "max_brightness": 247.0,
}

_F_W, _F_H, _F_R, _F_G, _F_B, _F_STD, _F_EDGE = 1, 2, 3, 4, 5, 6, 7


def image_flags(
    feature: Column | str, thresholds: dict | None = None,
    t: dict | None = None,
) -> Column:
    """Struct of image-quality booleans (True = rule PASSED) plus an
    overall ``pass`` field, computed from the feature vector alone.
    ``thresholds`` overrides DEFAULT_THRESHOLDS per key; ``t`` (used by
    filter_by_source) supplies them as a dict of COLUMNS instead."""
    f = F.col(feature) if isinstance(feature, str) else feature
    th = {**DEFAULT_THRESHOLDS, **(thresholds or {})}

    def lim(key: str) -> Column:
        return t[key] if t is not None else F.lit(float(th[key]))

    w = F.element_at(f, _F_W)
    h = F.element_at(f, _F_H)
    bright = (
        F.element_at(f, _F_R) + F.element_at(f, _F_G) + F.element_at(f, _F_B)
    ) / 3.0
    aspect = F.greatest(w, h) / F.least(w, h)

    decoded = f.isNotNull()
    flags = {
        "decoded": decoded,
        "min_dims": (w >= lim("min_width")) & (h >= lim("min_height")),
        "aspect": aspect <= lim("max_aspect"),
        "not_solid": F.element_at(f, _F_STD) >= lim("min_lum_std"),
        "has_detail": F.element_at(f, _F_EDGE) >= lim("min_edge"),
        "brightness": (bright >= lim("min_brightness"))
        & (bright <= lim("max_brightness")),
    }
    # NULL feature: every content rule fails closed, not NULL
    safe = {
        k: (decoded & F.coalesce(v, F.lit(False))) if k != "decoded" else v
        for k, v in flags.items()
    }
    overall = None
    for v in safe.values():
        overall = v if overall is None else (overall & v)
    return F.struct(
        *[v.alias(k) for k, v in safe.items()], overall.alias("pass")
    )


#: audio gate defaults (over the WAV feature vector
#: [duration_s, rms, zcr, peak, rate/48k, channels, 0, tag])
DEFAULT_AUDIO_THRESHOLDS = {
    "min_duration_s": 0.5,
    "max_duration_s": 3600.0,
    "min_rms": 0.001,        # digital-silence floor
    "max_peak": 0.999,       # full-scale peak ~ clipping
    "min_rate_hz": 8000.0,
}

_A_DUR, _A_RMS, _A_ZCR, _A_PEAK, _A_RATE = 1, 2, 3, 4, 5


def audio_flags(
    feature: Column | str, thresholds: dict | None = None
) -> Column:
    """Audio counterpart of image_flags over the 8-dim WAV vector:
    duration band, not-silent (RMS floor), not-clipped (peak below full
    scale), sample-rate floor, decoded. Same fail-closed NULL
    semantics."""
    f = F.col(feature) if isinstance(feature, str) else feature
    th = {**DEFAULT_AUDIO_THRESHOLDS, **(thresholds or {})}
    decoded = f.isNotNull()
    flags = {
        "decoded": decoded,
        "duration": (F.element_at(f, _A_DUR) >= F.lit(float(th["min_duration_s"])))
        & (F.element_at(f, _A_DUR) <= F.lit(float(th["max_duration_s"]))),
        "not_silent": F.element_at(f, _A_RMS) >= F.lit(float(th["min_rms"])),
        "not_clipped": F.element_at(f, _A_PEAK) <= F.lit(float(th["max_peak"])),
        "sample_rate": F.element_at(f, _A_RATE) * 48000.0
        >= F.lit(float(th["min_rate_hz"])) - 0.5,
    }
    safe = {
        k: (decoded & F.coalesce(v, F.lit(False))) if k != "decoded" else v
        for k, v in flags.items()
    }
    overall = None
    for v in safe.values():
        overall = v if overall is None else (overall & v)
    return F.struct(
        *[v.alias(k) for k, v in safe.items()], overall.alias("pass")
    )


def filter_by_source(
    df: DataFrame, per_source: dict | None = None,
    feature_col: str = "feature", source_col: str = "source",
    keep_flags: bool = False,
) -> DataFrame:
    """Gate rows with per-source thresholds: ``per_source`` maps a
    source name to threshold overrides; the ``"*"`` key adjusts the
    default every unmatched source falls back to. Defaults are plan-time
    literals and named sources a tiny broadcast dim — a map-side gate,
    no shuffle of ``df``."""
    per_source = per_source or {}
    default = {**DEFAULT_THRESHOLDS, **per_source.get("*", {})}
    th_cols = sorted(DEFAULT_THRESHOLDS)
    rows = [
        (src, *[float({**default, **over}[k]) for k in th_cols])
        for src, over in per_source.items()
        if src != "*"
    ]
    joined = df
    if rows:
        dim = df.sparkSession.createDataFrame(rows, ["__th_source"] + th_cols)
        joined = df.join(
            F.broadcast(dim), F.col(source_col) == F.col("__th_source"), "left"
        )
        t = {
            c: F.coalesce(F.col(c), F.lit(float(default[c]))) for c in th_cols
        }
        drop = ["__th_source", *th_cols]
    else:
        t = {c: F.lit(float(default[c])) for c in th_cols}
        drop = []
    flagged = joined.withColumn(
        "quality", image_flags(feature_col, t=t)
    ).drop(*drop)
    kept = flagged.where(F.col("quality.pass"))
    return kept if keep_flags else kept.drop("quality")


def image_quality_report(
    df: DataFrame, feature_col: str = "feature", source_col: str = "source",
    thresholds: dict | None = None,
) -> DataFrame:
    """Per-source rule-failure counts + pass rate — one partial-agg
    shuffle over booleans, the audit run before a full filter."""
    flagged = df.withColumn("q", image_flags(feature_col, thresholds))
    rule_names = [
        "decoded", "min_dims", "aspect", "not_solid", "has_detail",
        "brightness",
    ]
    aggs = [
        F.sum((~F.col(f"q.{r}")).cast("long")).alias(f"fail_{r}")
        for r in rule_names
    ]
    return (
        flagged.groupBy(F.coalesce(F.col(source_col), F.lit("*")).alias("source"))
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(F.col("q.pass").cast("long")).alias("n_pass"),
            *aggs,
        )
        .withColumn("pass_rate", F.col("n_pass") / F.col("n"))
    )
