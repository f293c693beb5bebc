"""The single-pass vectorized kernel must equal the declarative flagship
plan exactly (the fused-loop twin proof)."""

import pytest

from feature_extractor_mbo_lob_spark.config import PipelineConfig
from feature_extractor_mbo_lob_spark.plans import flagship_pipeline
from feature_extractor_mbo_lob_spark.plans.vectorized import vectorized_flagship
from feature_extractor_mbo_lob_spark.sources import synth_transcripts

CFG = PipelineConfig(window_sizes=(4, 8), warmup_turns=4, session_gap_s=600.0)


def _rows(df):
    return sorted(
        (tuple(r) for r in df.collect()),
        key=lambda t: (t[0], t[1]),
    )


def _with_null_keys(t):
    """Adds rows with a null conv_id, ts or turn_idx — both plans must drop
    them (plans.pipeline.clean_input)."""
    import pyspark.sql.functions as F

    row = t.filter(F.col("turn_idx") == 3)
    return t.unionByName(row.withColumn("conv_id", F.lit(None).cast("string"))) \
        .unionByName(row.withColumn("ts", F.lit(None).cast(t.schema["ts"].dataType))) \
        .unionByName(row.withColumn("turn_idx", F.lit(None).cast("int")))


def test_vectorized_equals_declarative(spark):
    t = _with_null_keys(synth_transcripts(spark, n_convs=15, min_turns=5, max_turns=40,
                                          n_mega_convs=1, mega_turns=200, seed=7)).cache()
    a = _rows(flagship_pipeline(t, CFG, price_col="char_len"))
    b = _rows(vectorized_flagship(t, CFG, price_col="char_len"))
    assert len(a) == len(b)
    diffs = [(x, y) for x, y in zip(a, b) if x != y]
    assert not diffs, f"{len(diffs)} differing rows, e.g. {diffs[:1]}"


def test_vectorized_all_rows_equal_declarative_export(spark):
    """labeled_only=False (the production job's export): every clean row,
    equal to the declarative features + TLOB labels rounded with r6, with
    both label columns null on the same rows."""
    import pyspark.sql.functions as F

    from feature_extractor_mbo_lob_spark.labeling import tlob_labels
    from feature_extractor_mbo_lob_spark.plans import build_features
    from feature_extractor_mbo_lob_spark.plans.pipeline import r6

    t = _with_null_keys(synth_transcripts(spark, n_convs=12, min_turns=3, max_turns=30,
                                          seed=5)).cache()
    feats = build_features(t, CFG, narrow=True).withColumn("_p", F.col("char_len"))
    a = _rows(tlob_labels(feats, CFG, price_col="_p").select(
        "conv_id", "turn_idx", "ts", *[r6(F.col(c)).alias(c) for c in CFG.feature_columns()],
        F.col("label").cast("tinyint"), r6(F.col("label_pct_change"))))
    b = _rows(vectorized_flagship(t, CFG, labeled_only=False))
    assert len(b) == t.dropna(subset=["conv_id", "ts", "turn_idx"]).count()
    assert a == b
    assert any(r[-1] is None and r[-2] is None for r in b)


def test_vectorized_partition_independence(spark):
    t = synth_transcripts(spark, n_convs=10, seed=11).cache()
    a = _rows(vectorized_flagship(t, CFG))
    b = _rows(vectorized_flagship(t.repartition(13), CFG))
    assert a == b


def test_acf_exact_known_series(spark, cfg):
    """Perfect linear series: ACF(k) = 1 at every lag (exact Pearson)."""
    import pyspark.sql.functions as F
    from feature_extractor_mbo_lob_spark.operators.volatility import acf_exact
    from feature_extractor_mbo_lob_spark.sources import synth_transcripts

    t = synth_transcripts(spark, n_convs=1, min_turns=12, max_turns=12, seed=3)
    t = t.withColumn("value", F.col("turn_idx").cast("double") * 2.0 + 1.0)
    out = {r.lag: r for r in acf_exact(t, cfg, "value", lags=(1, 2)).collect()}
    assert out[1].acf == 1.0 and out[2].acf == 1.0
    assert out[1].n_pairs == 11 and out[2].n_pairs == 10


def test_acf_exact_constant_series_guard(spark, cfg):
    import pyspark.sql.functions as F
    from feature_extractor_mbo_lob_spark.operators.volatility import acf_exact
    from feature_extractor_mbo_lob_spark.sources import synth_transcripts

    t = synth_transcripts(spark, n_convs=1, min_turns=8, max_turns=8, seed=3)
    t = t.withColumn("value", F.lit(4.25))
    out = acf_exact(t, cfg, "value", lags=(1,)).collect()
    assert out[0].acf == 0.0  # zero variance -> guarded


def test_acf_exact_alternating_series(spark, cfg):
    """x = +1,-1,+1,... -> ACF(1) = -1, ACF(2) = +1."""
    import pyspark.sql.functions as F
    from feature_extractor_mbo_lob_spark.operators.volatility import acf_exact
    from feature_extractor_mbo_lob_spark.sources import synth_transcripts

    t = synth_transcripts(spark, n_convs=1, min_turns=10, max_turns=10, seed=3)
    t = t.withColumn("value", F.when(F.col("turn_idx") % 2 == 0, 1.0).otherwise(-1.0))
    out = {r.lag: r for r in acf_exact(t, cfg, "value", lags=(1, 2)).collect()}
    assert out[1].acf == -1.0 and out[2].acf == 1.0
