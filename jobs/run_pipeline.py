#!/usr/bin/env python
"""Production entrypoint — the spark-submit path (north rule).

Cluster launch:

    python tools/make_pyfiles.py                      # -> dist/engine.zip
    spark-submit \
        --master <cluster> \
        --py-files dist/engine.zip \
        --conf spark.sql.adaptive.enabled=true \
        --conf spark.sql.shuffle.partitions=<2-3x total cores> \
        jobs/run_pipeline.py \
        --input /path/or/iceberg.table --input-format parquet \
        --output /path/features --config config.json \
        --buckets 256 --resume

Local smoke:

    python jobs/run_pipeline.py --input /root/testdata/sf0.001 \
        --input-format events --output /tmp/fex_out --buckets 4

Reads the transcript table and runs the vectorized flagship kernel
(plans.vectorized) ONCE: features, TLOB labels, NaN/Inf/null gate and the
partitioned parquet write are one pass, so a bad value aborts the write
before it commits. Conversations longer than cfg.skew_max_turns_per_task
are chunked inside that pass. Per-bucket lineage manifests (rows, keys,
checksum read back from the written files) are written after the commit.

Export: one row per clean input row (null conv_id / ts / turn_idx rows are
dropped) with the kernel's columns — conv_id, turn_idx, ts, the contract
features (63 at the default windows) rounded to 6 decimals, label and
label_pct_change (both null where the forward label frame is incomplete)
— partitioned by part_bucket = pmod(xxhash64(conv_id), --buckets).

--resume skips buckets whose manifests match config + input snapshot +
export schema: their input rows are filtered out before the kernel, and
when every bucket is valid no feature work runs at all.

Emits one JSON line of run metrics to stdout: rows_in and chunked_convs
(conversations on the kernel's chunked route), observed on the input;
rows_out, written/skipped buckets, wall, throughput.
"""

from __future__ import annotations

import argparse
import json
import sys
import time
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parent.parent))


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--input", required=True)
    ap.add_argument("--input-format", default="parquet",
                    choices=["parquet", "iceberg", "events", "jsonl"])
    ap.add_argument("--quarantine", default=None,
                    help="path for corrupt JSONL lines (jsonl input only)")
    ap.add_argument("--output", required=True)
    ap.add_argument("--config", default=None, help="PipelineConfig JSON file")
    ap.add_argument("--buckets", type=int, default=64)
    ap.add_argument("--resume", action="store_true")
    ap.add_argument("--master", default=None)
    args = ap.parse_args()

    from feature_extractor_mbo_lob_spark import PipelineConfig, get_spark
    from feature_extractor_mbo_lob_spark.export import (
        bucket_col,
        export_with_manifests,
        input_fingerprint_for_path,
        schema_digest,
        valid_buckets,
    )
    from feature_extractor_mbo_lob_spark.plans.vectorized import (
        kernel_schema,
        vectorized_flagship,
    )
    from feature_extractor_mbo_lob_spark.sources import (
        read_transcripts,
        transcripts_from_events,
    )
    from feature_extractor_mbo_lob_spark import validation as val
    from pyspark.sql import Observation
    from pyspark.sql import functions as F

    # .json or .toml, by extension (reference: export_dataset.rs:178-180)
    cfg = PipelineConfig.from_file(args.config) if args.config else PipelineConfig()
    spark = get_spark(app_name="fex-pipeline", master=args.master)
    spark.sparkContext.setLogLevel("WARN")

    from feature_extractor_mbo_lob_spark.batch import JobHandle

    handle = JobHandle(spark, "fex-pipeline", "feature extraction run")
    handle.activate()  # whole run is cancellable via cancelJobGroup

    t0 = time.time()
    if args.input_format == "events":
        df = transcripts_from_events(spark, args.input)
    elif args.input_format == "jsonl":
        from feature_extractor_mbo_lob_spark.sources import TRANSCRIPT_SCHEMA, read_jsonl

        df, bad = read_jsonl(spark, args.input, TRANSCRIPT_SCHEMA)
        if args.quarantine:
            bad.write.mode("overwrite").text(args.quarantine)
    else:
        df = read_transcripts(spark, args.input, fmt=args.input_format)

    fp = input_fingerprint_for_path(spark, args.input)
    # resume filters the INPUT: filters do not push through the kernel
    schema = kernel_schema(cfg, df.schema[cfg.ts_col].dataType)
    done = (valid_buckets(args.output, cfg.config_hash(), fp, schema_digest(schema))
            if args.resume else set())
    report = {"rows": 0, "written_buckets": [], "skipped_buckets": sorted(done)}
    seen = {"rows": 0, "chunked_convs": 0}
    if len(done) < args.buckets:
        if done:
            df = df.filter(~bucket_col(cfg, args.buckets).isin(sorted(done)))
        # no scan of its own: filled by the first action that reads the
        # input — the export write, or a route job of the kernel (long-
        # conversation ids; skew probe on non-parquet inputs), same rows
        inputs = Observation("fex-input")
        df = df.observe(
            inputs, F.count(F.lit(1)).alias("rows"),
            # conversations the kernel splits into chunks (dense turn_idx)
            F.count_if(F.col("turn_idx") == cfg.skew_max_turns_per_task).alias("chunked_convs"),
        )
        features = vectorized_flagship(df, cfg, labeled_only=False)
        val.assert_feature_contract(features, cfg)
        report = export_with_manifests(
            features, cfg, args.output, input_fingerprint=fp,
            n_buckets=args.buckets, resume=args.resume,
            gate_cols=cfg.feature_columns(),
        )
        seen = inputs.get
    wall = time.time() - t0
    print(json.dumps({
        "rows_in": seen["rows"],
        "rows_out": report["rows"],
        "written_buckets": len(report["written_buckets"]),
        "skipped_buckets": len(report["skipped_buckets"]),
        "chunked_convs": seen["chunked_convs"],
        "wall_sec": round(wall, 2),
        "turns_per_sec": round(seen["rows"] / wall, 1),
        "config_hash": cfg.config_hash(),
        "input_fingerprint": fp,
    }))
    spark.stop()


if __name__ == "__main__":
    main()
