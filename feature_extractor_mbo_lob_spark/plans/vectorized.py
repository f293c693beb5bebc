"""Single-pass vectorized pipeline — the reference's fused loop, distributed.

The reference computes all features in ONE pass over the ordered stream with
zero allocations (src/pipeline.rs:606-736, extract_into buffer reuse). The
declarative plan (plans/pipeline.py) expresses the same thing as a Window
cascade; this module is its compiled twin: one shuffle to conversation
buckets, one Arrow batch per bucket, and a numpy kernel that computes EVERY
contract feature + TLOB labels with segment-aware prefix sums — all
conversations in a bucket processed in single vectorized operations, no
Python loop at any granularity.

Output is bit-identical to flagship_pipeline (tested in
tests/test_vectorized.py): sums are exact integer arithmetic, all float
expressions use the same formulas in the same order.

Scale: each executor core processes buckets independently in an Arrow-fed
numpy kernel — no shared-JVM sort-buffer bandwidth contention, which is what
caps Window-cascade scaling on many-core nodes. Conversations longer than
cfg.skew_max_turns_per_task are split into (conv, chunk) groups inside the
same kernel pass (see _chunk_layout), so no group holds a whole
mega-conversation.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ..config import PipelineConfig
from ..contract import (
    DIVISION_GUARD_EPS,
    MIN_DURATION_S,
    MIN_STD,
    SCHEMA_VERSION,
    feature_columns,
)
from ..operators.order_stats import _bucket_order_stats, flow_vol_from_sig
from ..operators.ordering import epoch_us
from .pipeline import clean_input, max_conv_turns

# carry-in fields of a chunk, in the order _chunk_carries stores them:
# per-chunk sums, then session starts
_SUMS = ("turns", "user", "assistant", "tool", "chars")
_CARRY = (*_SUMS, "starts")


def _segments(keys: np.ndarray, chunks: np.ndarray | None = None
              ) -> tuple[np.ndarray, np.ndarray, np.ndarray, np.ndarray]:
    n = len(keys)
    change = np.empty(n, dtype=bool)
    change[0] = True
    change[1:] = keys[1:] != keys[:-1]
    if chunks is not None:
        change[1:] |= chunks[1:] != chunks[:-1]
    starts = np.flatnonzero(change)
    sizes = np.diff(np.append(starts, n))
    conv_idx = np.repeat(np.arange(len(starts)), sizes)
    pos = np.arange(n) - starts[conv_idx]
    return starts, sizes, conv_idx, pos


def _seg_sliding_sum(vals: np.ndarray, gstart: np.ndarray, w: int) -> np.ndarray:
    """Trailing-w sum per row, clipped at the conversation start — exact
    prefix-sum algebra (CS[i+1] - CS[max(i-w+1, gstart)])."""
    n = len(vals)
    cs = np.concatenate([[0.0], np.cumsum(vals)])
    lo = np.maximum(np.arange(n) - w + 1, gstart)
    return cs[np.arange(n) + 1] - cs[lo]


def _kernel(pdf: pd.DataFrame, cfg: PipelineConfig, price_from_char_len: bool,
            labeled_only: bool = True, carries: dict | None = None) -> pd.DataFrame:
    """All features + TLOB labels for one Arrow group of whole conversations
    or, on the chunked route, (conv, chunk) segments laid out by
    _chunk_layout: context rows (_ctx == 1) feed the frames of the chunk's
    real rows and are dropped from the output; cumulative state adds the
    chunk's carry-in from ``carries`` (_chunk_carries)."""
    k, h, theta = cfg.labels.smoothing_k, cfg.labels.horizon, cfg.labels.threshold
    chunked = "_chunk" in pdf.columns
    sort_cols = [cfg.key_col, *(["_chunk"] if chunked else []), *cfg.order_cols]
    pdf = pdf.sort_values(sort_cols, kind="mergesort").reset_index(drop=True)
    n = len(pdf)
    keys = pdf[cfg.key_col].to_numpy()
    # robust to pandas datetime64[ns] vs [us] backing
    us = pdf[cfg.ts_col].to_numpy(dtype="datetime64[us]").astype(np.int64)
    x = pdf["char_len"].to_numpy(dtype=np.float64)
    role = pdf["role"].to_numpy()
    chunk = pdf["_chunk"].to_numpy() if chunked else None
    real = pdf["_ctx"].to_numpy() == 0 if chunked else np.ones(n, dtype=bool)

    starts, sizes, conv_idx, pos = _segments(keys, chunk)
    gstart = starts[conv_idx]
    gend = (starts + sizes)[conv_idx]  # exclusive
    rows = np.arange(n)

    # carry-in per segment: zero, and the segment's own first timestamp,
    # except for chunks after a conversation's first
    carry = np.zeros((len(_CARRY), len(starts)))
    first_us = us[starts]
    if carries:
        seg_chunk = chunk[starts]
        for s in np.flatnonzero(seg_chunk > 0):
            c = carries.get((keys[starts[s]], int(seg_chunk[s])))
            if c is not None:  # None: context-only group past the last chunk
                carry[:, s], first_us[s] = c[:-1], c[-1]
    carry = carry[:, conv_idx]
    first_us = first_us[conv_idx]

    out: dict[str, np.ndarray] = {}

    is_user = (role == "user").astype(np.float64)
    is_assistant = (role == "assistant").astype(np.float64)
    is_tool = (role == "tool").astype(np.float64)

    # --- cumulative state (matches operators/state.py expressions) ----------
    # context rows are masked out; every sum is integer-valued, so the
    # chunked sums plus carries equal the unchunked ones exactly
    realf = real.astype(np.float64)

    def seg_cumsum(v, field):
        cs = np.cumsum(v * realf)
        base = np.where(gstart > 0, cs[gstart - 1], 0.0)
        return cs - base + carry[_CARRY.index(field)]

    turns = seg_cumsum(1.0, "turns")
    u = seg_cumsum(is_user, "user")
    a = seg_cumsum(is_assistant, "assistant")
    t_ = seg_cumsum(is_tool, "tool")
    out["turn_pos"] = turns - 1.0
    out["turns_so_far"] = turns
    out["user_turns_so_far"] = u
    out["assistant_turns_so_far"] = a
    out["tool_turns_so_far"] = t_
    out["chars_so_far"] = seg_cumsum(x, "chars")

    prev_us = np.empty(n, dtype=np.int64)
    prev_us[1:] = us[:-1]
    prev_us[0] = us[0]
    first_row = pos == 0
    dt = np.where(first_row, 0.0, (us - prev_us) / 1e6)
    out["dt_seconds"] = dt
    out["secs_since_start"] = (us - first_us) / 1e6

    out["net_role_flow"] = (u - a) / (u + a + DIVISION_GUARD_EPS)
    out["net_tool_flow"] = (t_ - (u + a)) / (turns + DIVISION_GUARD_EPS)
    out["session_ready"] = (turns >= float(cfg.warmup_turns)).astype(np.float64)
    out["schema_version"] = np.full(n, float(SCHEMA_VERSION))

    gap_us = int(cfg.session_gap_s * 1e6)
    is_start = (first_row | ((us - prev_us) > gap_us)).astype(np.float64)
    out["is_session_start"] = is_start
    out["session_id"] = seg_cumsum(is_start, "starts") - 1.0

    hr = (us // 3_600_000_000) % 24  # UTC hour (session tz pinned to UTC)
    out["time_regime"] = np.select(
        [hr < 6, hr < 12, hr < 17, hr < 21], [0.0, 1.0, 2.0, 3.0], 4.0
    )

    # --- per-row role flip (lag within conversation) -------------------------
    flip = np.zeros(n)
    same = np.empty(n, dtype=bool)
    same[0] = False
    same[1:] = role[1:] != role[:-1]
    flip[~first_row & same] = 1.0
    out["role_flip"] = flip

    # signed role stream for feature 58 (shared kernel with the pandas
    # order-stats stage — operators/order_stats.flow_vol_from_sig)
    s_sig = is_user - is_assistant

    # --- rolling frames (matches operators/rolling.py prefix-sum algebra) ---
    for w in cfg.window_sizes:
        cnt = np.minimum(rows - gstart + 1, w).astype(np.float64)
        lo = np.maximum(rows - w + 1, gstart)
        dur = np.maximum((us - us[lo]) / 1e6, MIN_DURATION_S)
        sum_x = _seg_sliding_sum(x, gstart, w)
        sum_x2 = _seg_sliding_sum(x * x, gstart, w)
        sum_x3 = _seg_sliding_sum(x * x * x, gstart, w)
        n_user = _seg_sliding_sum(is_user, gstart, w)
        n_assistant = _seg_sliding_sum(is_assistant, gstart, w)
        n_tool = _seg_sliding_sum(is_tool, gstart, w)
        n_flip = _seg_sliding_sum(flip, gstart, w)

        mean = sum_x / cnt
        var = np.maximum(sum_x2 / cnt - mean * mean, 0.0)
        std = np.sqrt(var)
        m3 = sum_x3 / cnt - 3 * mean * (sum_x2 / cnt) + 2 * mean * mean * mean
        skew = np.divide(m3, std * std * std, out=np.zeros(n),
                         where=(cnt >= 3) & (std >= MIN_STD))
        ssum_sq = sum_x * sum_x
        hhi = np.divide(sum_x2, ssum_sq, out=np.zeros(n), where=sum_x > 0)

        sfx = f"_w{w}"
        out["turn_rate" + sfx] = cnt / dur
        out["user_frac" + sfx] = n_user / cnt
        out["assistant_frac" + sfx] = n_assistant / cnt
        out["tool_rate" + sfx] = n_tool / dur
        out["role_flip_rate" + sfx] = n_flip / cnt
        out["char_mean" + sfx] = mean
        out["char_std" + sfx] = std
        out["char_zscore" + sfx] = (x - mean) / (std + DIVISION_GUARD_EPS)
        out["char_skew" + sfx] = skew
        out["char_hhi" + sfx] = hhi

        stats = _bucket_order_stats(x, starts, starts + sizes, w)
        for name, arr in stats.items():
            out[f"{name}_w{w}"] = arr

        # feature 58 (flow_features.rs:86-146) via the shared kernel
        out["flow_volatility" + sfx] = flow_vol_from_sig(s_sig, gstart, w)

    # --- TLOB labels (matches labeling/tlob.py) ------------------------------
    p = x if price_from_char_len else pdf["_p"].to_numpy(dtype=np.float64)
    csp = np.concatenate([[0.0], np.cumsum(p)])
    # trailing smoother avg(p[t-k..t]) with completeness n_minus == k+1
    lo_m = rows - k
    ok_minus = lo_m >= gstart
    w_minus = np.where(ok_minus, (csp[rows + 1] - csp[np.maximum(lo_m, 0)]) / (k + 1), np.nan)
    # leading smoother avg(p[t+h-k..t+h]) complete iff t+h <= end-1 and t+h-k >= start
    hi_p = rows + h
    lo_p = rows + h - k
    ok_plus = (hi_p <= gend - 1) & (lo_p >= gstart)
    hi_c = np.minimum(hi_p, n - 1)
    lo_c = np.clip(lo_p, 0, n - 1)
    w_plus = np.where(ok_plus, (csp[hi_c + 1] - csp[lo_c]) / (k + 1), np.nan)
    complete = ok_minus & ok_plus & (w_minus != 0)
    with np.errstate(divide="ignore", invalid="ignore"):
        l = (w_plus - w_minus) / w_minus
    label = np.where(l > theta, 1, np.where(l < -theta, -1, 0)).astype(np.float64)
    label[~complete] = np.nan
    l[~complete] = np.nan

    def r6_np(v):
        # same float algebra as plans/pipeline.r6 — bit-identical rounding
        return np.where(v >= 0, np.floor(v * 1e6 + 0.5) / 1e6,
                        -(np.floor(-v * 1e6 + 0.5) / 1e6))

    res = pd.DataFrame({cfg.key_col: pdf[cfg.key_col], "turn_idx": pdf["turn_idx"],
                        cfg.ts_col: pdf[cfg.ts_col]})
    fcols = feature_columns(cfg.window_sizes)
    for c in fcols:
        res[c] = r6_np(out[c])
    _mask = np.isnan(label)
    res["label"] = pd.arrays.IntegerArray(
        np.where(_mask, 0, label).astype(np.int8), _mask
    )
    res["label_pct_change"] = r6_np(l)  # NaN reaches Spark as null
    keep = real & complete if labeled_only else real
    return res[keep].reset_index(drop=True)


def kernel_schema(cfg: PipelineConfig, ts_type: T.DataType) -> T.StructType:
    """Output schema of the kernel: key, turn_idx, ts, the r6-rounded
    contract features, label and label_pct_change."""
    return T.StructType(
        [T.StructField(cfg.key_col, T.StringType()),
         T.StructField("turn_idx", T.IntegerType()),
         T.StructField(cfg.ts_col, ts_type)]
        + [T.StructField(c, T.DoubleType()) for c in feature_columns(cfg.window_sizes)]
        + [T.StructField("label", T.ByteType()),
           T.StructField("label_pct_change", T.DoubleType())]
    )


def _chunk_carries(long_rows: DataFrame, cfg: PipelineConfig) -> dict:
    """Carry-in state of every chunk of the long conversations in
    ``long_rows``: {(conv, chunk): (turns, user, assistant, tool, chars,
    starts, first_us)} with exclusive prefix sums over the conversation's
    earlier chunks (operators/skew.py's partial table). Each chunk's session
    starts are its in-chunk gaps plus, at its first row, the gap to the
    previous chunk's last row (the conversation's first row for chunk 0) —
    no window over the conversation. One aggregation; the collect holds one
    row per chunk, at most rows / skew_max_turns_per_task.
    """
    S = cfg.skew_max_turns_per_task
    gap_us = int(cfg.session_gap_s * 1e6)
    key, role = cfg.key_col, F.col("role")
    # (turn_idx, us) pairs sort in the kernel's stable order (turn_idx, ts)
    pts = F.array_sort(F.collect_list(F.struct("turn_idx", epoch_us(cfg.ts_col).alias("us"))))
    n = F.size("pts") - 1
    steps = F.zip_with(F.slice("pts", 2, n), F.slice("pts", 1, n),
                       lambda b, a: b["us"] - a["us"] > gap_us)
    parts = (
        long_rows.groupBy(key, (F.col("turn_idx") / S).cast("long").alias("chunk"))
        .agg(F.count(F.lit(1)).alias("turns"),
             *[F.sum((role == r).cast("long")).alias(r) for r in ("user", "assistant", "tool")],
             F.sum("char_len").alias("chars"), pts.alias("pts"))
        .select(key, "chunk", *_SUMS,
                F.size(F.filter(steps, lambda g: g)).alias("gaps"),
                F.col("pts")[0]["us"].alias("first_us"),
                F.element_at("pts", -1)["us"].alias("last_us"))
        .collect()
    )
    carries, acc, first_us, last_us = {}, {}, {}, {}
    for r in sorted(parts, key=lambda r: (r[key], r["chunk"])):
        conv, c = r[key], r["chunk"]
        if c == 0:
            acc[conv], first_us[conv] = [0.0] * len(_CARRY), r["first_us"]
            boundary = 1  # the conversation's first row
        else:
            boundary = int(r["first_us"] - last_us[conv] > gap_us)
        carries[(conv, c)] = (*acc[conv], first_us[conv])
        step = [r[f] for f in _SUMS] + [r["gaps"] + boundary]
        acc[conv] = [x + float(y) for x, y in zip(acc[conv], step)]
        last_us[conv] = r["last_us"]
    return carries


def _chunk_context(cfg: PipelineConfig) -> tuple[int, int]:
    """Rows of back context (frames and lags) and forward context (label
    horizon) each chunk needs from its neighbours."""
    back = max(max(cfg.window_sizes), cfg.labels.smoothing_k)
    fwd = cfg.labels.horizon
    if cfg.skew_max_turns_per_task <= max(back, fwd):
        raise ValueError("skew_max_turns_per_task must exceed the largest "
                         "rolling window and the label horizon")
    return back, fwd


def _chunk_layout(narrow: DataFrame, cfg: PipelineConfig, long_convs: list,
                  bucket) -> DataFrame:
    """Rows of the long conversations become (conv, chunk) groups with
    chunk = turn_idx // skew_max_turns_per_task, as operators/skew.add_chunks
    lays them out: the last max(max(window_sizes), k) rows of chunk c-1 and
    the first h rows of chunk c+1 are copied into chunk c as context
    (_ctx = 1), so every frame and label horizon of a real row is exact.
    Each such chunk is its own Arrow group (at most skew_max_turns_per_task
    + context rows); every other conversation keeps its ``bucket`` group."""
    S = cfg.skew_max_turns_per_task
    back, fwd = _chunk_context(cfg)
    is_long = F.col(cfg.key_col).isin(long_convs)
    chunk = (F.col("turn_idx") / S).cast("long")
    m = F.pmod(F.col("turn_idx"), F.lit(S))

    def into(c, ctx):
        return F.struct(c.alias("_chunk"), F.lit(ctx).alias("_ctx"))

    copies = F.when(is_long, F.array_compact(F.array(
        into(chunk, 0),
        F.when(m >= S - back, into(chunk + 1, 1)),
        F.when((m < fwd) & (chunk > 0), into(chunk - 1, 1)),
    ))).otherwise(F.array(into(F.lit(0).cast("long"), 0)))
    return narrow.select("*", F.inline(copies)).withColumn(
        "_vb", F.when(is_long, F.xxhash64(cfg.key_col, "_chunk")).otherwise(bucket)
    )


def vectorized_flagship(df: DataFrame, cfg: PipelineConfig | None = None,
                        price_col: str = "char_len",
                        n_buckets: int | None = None,
                        auto_skew: bool = True,
                        labeled_only: bool = True) -> DataFrame:
    """Single-pass compiled twin of flagship_pipeline(strategy='fused').
    Returns identical rows (tested).

    labeled_only=False keeps every clean input row (label and
    label_pct_change null where the forward frame is incomplete) — the
    production job's export.

    auto_skew=True probes the longest conversation (parquet footers, else
    one map-side max). If it exceeds cfg.skew_max_turns_per_task, the
    conversations that do are split into (conv, chunk) groups of the same
    kernel pass (_chunk_layout), with cumulative state carried in from a
    small per-chunk table (_chunk_carries): bit-identical rows, and no
    Arrow group holds a whole mega-conversation.
    """
    cfg = cfg or PipelineConfig()
    grouped, carries = _kernel_groups(df, cfg, price_col, n_buckets, auto_skew)
    schema = kernel_schema(cfg, grouped.schema[cfg.ts_col].dataType)
    price_from_char_len = price_col == "char_len"

    def fn(pdf: pd.DataFrame) -> pd.DataFrame:
        return _kernel(pdf.drop(columns=["_vb"]), cfg, price_from_char_len,
                       labeled_only, carries)

    return grouped.groupBy("_vb").applyInPandas(fn, schema=schema)


def _kernel_groups(df: DataFrame, cfg: PipelineConfig, price_col: str,
                   n_buckets: int | None, auto_skew: bool) -> tuple[DataFrame, dict]:
    """The kernel's input — clean rows, narrow columns, Arrow group key _vb —
    and the chunk carries (empty unless the skew route is taken)."""
    df = clean_input(df, cfg)
    cols = [cfg.key_col, *cfg.order_cols, "role",
            F.coalesce(F.length("text"), F.lit(0)).cast("double").alias("char_len")]
    if price_col != "char_len":
        cols.append(F.col(price_col).alias("_p"))
    narrow = df.select(*cols)

    if n_buckets is None:
        sp = int(df.sparkSession.conf.get("spark.sql.shuffle.partitions", "32"))
        n_buckets = max(sp * 4, 64)
    bucket = F.pmod(F.xxhash64(cfg.key_col), F.lit(n_buckets))
    S = cfg.skew_max_turns_per_task
    long_convs = []
    if auto_skew and max_conv_turns(df) > S:
        _chunk_context(cfg)  # fail before any job if chunks cannot hold it
        # one row per conversation longer than S turns: at most rows / S
        long_convs = sorted({r[0] for r in narrow.filter(F.col("turn_idx") == S)
                             .select(cfg.key_col).collect()})
    if not long_convs:
        return narrow.withColumn("_vb", bucket.cast("int")), {}
    carries = _chunk_carries(narrow.filter(F.col(cfg.key_col).isin(long_convs)), cfg)
    return _chunk_layout(narrow, cfg, long_convs, bucket), carries
