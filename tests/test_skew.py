"""Chunked (skew-salted) feature computation must equal the straight plan
bit-for-bit — the carry-in correctness proof."""

import pyspark.sql.functions as F
import pytest

from feature_extractor_mbo_lob_spark.config import PipelineConfig
from feature_extractor_mbo_lob_spark.operators.skew import add_chunks, build_features_skewed
from feature_extractor_mbo_lob_spark.plans import build_features
from feature_extractor_mbo_lob_spark.sources import synth_transcripts

CFG = PipelineConfig(window_sizes=(4, 8), warmup_turns=4, session_gap_s=600.0)


@pytest.fixture(scope="module")
def corpus(spark):
    # mega conversation (300 turns) + normal ones; chunk size 50 forces many
    # chunk boundaries
    df = synth_transcripts(spark, n_convs=6, min_turns=5, max_turns=40,
                           n_mega_convs=1, mega_turns=300, seed=3)
    df.cache().count()
    return df


def _grid(df, cfg):
    cols = [cfg.key_col, "turn_idx"] + cfg.feature_columns() + ["dt_seconds", "char_len"]
    cols = list(dict.fromkeys(cols))
    return {
        (r[cfg.key_col], r["turn_idx"]): [r[c] for c in cols[2:]]
        for r in df.select(*cols).collect()
    }


def test_chunked_equals_straight(corpus):
    plain = _grid(build_features(corpus, CFG), CFG)
    chunked = _grid(build_features_skewed(corpus, CFG, chunk_turns=50), CFG)
    assert plain.keys() == chunked.keys()
    diffs = {
        k: (plain[k], chunked[k])
        for k in plain
        if plain[k] != chunked[k]
    }
    assert not diffs, f"{len(diffs)} mismatching rows, e.g. {list(diffs.items())[:2]}"


def test_chunked_row_count_and_no_dup(corpus):
    out = build_features_skewed(corpus, CFG, chunk_turns=50)
    assert out.count() == corpus.count()
    assert out.groupBy("conv_id", "turn_idx").count().filter(F.col("count") > 1).count() == 0


def test_add_chunks_context_layout(spark):
    cfg = PipelineConfig(window_sizes=(4,))
    df = synth_transcripts(spark, n_convs=1, min_turns=30, max_turns=30, seed=9)
    n = df.count()
    ch = add_chunks(df, cfg, chunk_turns=10, back_context=3)
    # 30 turns -> chunks 0,1,2; context copied into chunks 1 and 2 only
    assert ch.filter(F.col("_ctx") == 0).count() == n
    assert ch.filter(F.col("_ctx") == 1).count() == 2 * 3
    # context rows are the last 3 turns of the previous chunk
    rows = sorted(
        (r["_chunk"], r.turn_idx) for r in ch.filter(F.col("_ctx") == 1).collect()
    )
    assert rows == [(1, 7), (1, 8), (1, 9), (2, 17), (2, 18), (2, 19)]


def test_chunk_size_must_exceed_window(corpus):
    with pytest.raises(ValueError, match="chunk_turns"):
        build_features_skewed(corpus, CFG, chunk_turns=8)


def _boundary_corpus(spark, corpus):
    """The shared corpus plus conversations of exactly 2*50 and 2*50+1
    turns, and one whose session gap falls on a chunk boundary (turn 100)."""
    def conv(name, turns, seed, gap_at=None):
        d = synth_transcripts(spark, n_convs=0, n_mega_convs=1, mega_turns=turns, seed=seed)
        d = d.withColumn("conv_id", F.lit(name))
        if gap_at is not None:  # > session_gap_s between turns gap_at-1 and gap_at
            d = d.withColumn("ts", F.when(F.col("turn_idx") >= gap_at,
                                          F.col("ts") + F.expr("INTERVAL 2 HOURS"))
                             .otherwise(F.col("ts")))
        return d

    extra = [conv("even", 100, 11), conv("odd", 101, 12), conv("gap", 150, 13, gap_at=100)]
    for d in extra:
        corpus = corpus.unionByName(d)
    return corpus.cache()


def test_flagship_auto_skew_routing_identical(spark, corpus):
    """flagship_pipeline / vectorized_flagship with a skew threshold the long
    conversations exceed must route through their chunked paths and still
    return bit-identical rows (labels included) to the unrouted plans —
    including conversations ending exactly on or one past a chunk boundary
    and a session gap on a boundary."""
    import dataclasses

    from feature_extractor_mbo_lob_spark.plans import flagship_pipeline
    from feature_extractor_mbo_lob_spark.plans.pipeline import flagship_skewed, max_conv_turns
    from feature_extractor_mbo_lob_spark.plans.vectorized import vectorized_flagship

    assert max_conv_turns(corpus) == 300
    df = _boundary_corpus(spark, corpus)
    cfg = dataclasses.replace(CFG, skew_max_turns_per_task=50)

    def grid(df):
        cols = df.columns
        return {(r["conv_id"], r["turn_idx"]): [r[c] for c in cols[2:]]
                for r in df.collect()}

    plain = grid(flagship_pipeline(df, CFG, auto_skew=False))
    routed = grid(flagship_pipeline(df, cfg))               # probe trips
    direct = grid(flagship_skewed(df, cfg))
    vec = grid(vectorized_flagship(df, cfg))                # chunked kernel
    vec_plain = grid(vectorized_flagship(df, cfg, auto_skew=False))
    assert plain == routed
    assert plain == direct
    assert plain == vec
    assert plain == vec_plain
    full = vectorized_flagship(df, cfg, labeled_only=False)
    assert grid(full) == grid(vectorized_flagship(df, CFG, labeled_only=False))
    gap = {r.turn_idx: r for r in full.filter(
        (F.col("conv_id") == "gap") & F.col("turn_idx").isin(99, 100)).collect()}
    assert gap[100].is_session_start == 1.0
    assert gap[100].session_id == gap[99].session_id + 1.0


def test_chunked_kernel_groups_are_bounded(spark, corpus):
    """No Arrow group of a chunked conversation holds more than
    skew_max_turns_per_task + context rows, or rows of two chunks."""
    import dataclasses

    from feature_extractor_mbo_lob_spark.plans.vectorized import _kernel_groups

    S = 50
    cfg = dataclasses.replace(CFG, skew_max_turns_per_task=S)
    grouped, carries = _kernel_groups(_boundary_corpus(spark, corpus), cfg,
                                      "char_len", None, True)
    assert {conv for conv, _ in carries} == {"c6", "even", "odd", "gap"}
    ctx = max(max(cfg.window_sizes), cfg.labels.smoothing_k) + cfg.labels.horizon
    groups = (
        grouped.filter(F.col("conv_id").isin("c6", "even", "odd", "gap"))
        .groupBy("_vb")
        .agg(F.count(F.lit(1)).alias("n"), F.sum(1 - F.col("_ctx")).alias("real"),
             F.countDistinct("conv_id", "_chunk").alias("chunks"))
        .collect()
    )
    # one group per chunk: 300, 100, 101 and 150 turns (plus context-only
    # groups past a last chunk, which the kernel drops)
    assert sum(1 for g in groups if g.real) == 6 + 2 + 3 + 3
    assert max(g.n for g in groups) <= S + ctx
    assert all(g.chunks == 1 and g.real <= S for g in groups)


def test_add_chunks_forward_context(spark):
    cfg = PipelineConfig(window_sizes=(4,))
    df = synth_transcripts(spark, n_convs=1, min_turns=30, max_turns=30, seed=9)
    ch = add_chunks(df, cfg, chunk_turns=10, back_context=3, fwd_context=2)
    fwd = sorted(
        (r["_chunk"], r.turn_idx)
        for r in ch.filter((F.col("_ctx") == 1)
                           & (F.pmod(F.col("turn_idx"), F.lit(10)) < 2)).collect()
    )
    # first 2 turns of chunks 1 and 2 copied back into chunks 0 and 1
    assert fwd == [(0, 10), (0, 11), (1, 20), (1, 21)]
