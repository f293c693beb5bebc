"""The benchmark's workloads: ``flagship`` and ``pipeline_job``.

Load model: closed loop, one client. One operation runs at a time and the
next starts only after the previous returned; Spark runs local[nproc] and
nothing else is launched meanwhile. Every input is generated from the seed
by ``sources.synth_transcripts`` into the run's work dir.

Each workload returns a Record: end-to-end metrics with their samples,
layer metrics (traced runs only), output checks, and the counts of
operations attempted and failed. An operation is one timed run, one job
launch or one output check.
"""

from __future__ import annotations

import contextlib
import json
import os
import statistics
import subprocess
import sys
import time
import traceback
from pathlib import Path

import eventlog
import spans
from box import NPROC, ROOT, PeakRss, WorkDir, event_log_conf

# flagship corpus: ~35K turns in conversations of 5-64 turns plus two
# 6K-turn conversations (below skew_max_turns_per_task, so the skew route
# stays off and one kernel pass does the work)
FLAGSHIP_CONVS, FLAGSHIP_MEGA = 1_000, (2, 6_000)
# pipeline_job corpus: ~12K turns plus one 4K-turn conversation, with
# skew_max_turns_per_task lowered below it so skew routing is in play.
# The job's cost is mostly fixed per launch (about 27 s of its 37 s at 8K
# turns on 4 cores), so a larger corpus buys little but run time.
PIPELINE_CONVS, PIPELINE_MEGA, PIPELINE_SKEW_MAX = 350, (1, 4_000), 2_000
BUCKETS = 16
MIN_RUNS = 3
LAUNCH_TIMEOUT_S = 150
JOB = ROOT / "jobs" / "run_pipeline.py"
LAUNCHER = Path(__file__).resolve().parent / "launch.py"


class Record:
    def __init__(self) -> None:
        self.e2e: dict[str, dict] = {}
        self.layers: dict[str, float] = {}
        self.checks: dict[str, bool] = {}
        self.attempted = 0
        self.failed = 0
        self.notes: list[str] = []
        self.phases: dict[str, float] = {}

    @contextlib.contextmanager
    def phase(self, name: str):
        """Wall time of one step of the run, kept in the record."""
        t0 = time.time()
        try:
            yield
        finally:
            self.phases[name] = self.phases.get(name, 0.0) + time.time() - t0

    def metric(self, name: str, samples: list[float], unit: str) -> None:
        self.e2e[name] = {"value": statistics.median(samples), "unit": unit,
                          "n": len(samples), "samples": samples}

    def operation(self, fn, *args, **kwargs):
        """Run one counted operation; returns None if it raised."""
        self.attempted += 1
        try:
            return fn(*args, **kwargs)
        except Exception:
            self.failed += 1
            self.notes.append(traceback.format_exc(limit=3))
            return None

    def check(self, name: str, fn) -> None:
        """Run one output check; an exception or a False result fails it."""
        ok = self.operation(fn)
        self.checks[name] = bool(ok)
        self.failed += ok is False

    def as_dict(self) -> dict:
        return {"e2e": self.e2e, "layers": self.layers, "checks": self.checks,
                "attempted": self.attempted, "failed": self.failed,
                "notes": self.notes, "phases": self.phases}


def start_session(work: WorkDir, cores: int = NPROC, event_log: Path | None = None):
    """A session as the engine's jobs get it (``get_spark`` defaults: one
    shuffle partition per core, so the flagship's pandas stage runs in one
    wave and its time does not hinge on which wave the long conversations
    land in), with the run's scratch dirs and, if given, an event log."""
    from feature_extractor_mbo_lob_spark import get_spark

    conf = work.session_conf()
    if event_log:
        conf.update(event_log_conf(event_log))
    spark = get_spark(app_name="perfbench", master=f"local[{cores}]", extra_conf=conf)
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def stop_jvm() -> None:
    """End the JVM this process started (pyspark's gateway exits when its
    stdin closes) and wait for it, so nothing outlives the run."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    if gateway is None:
        return
    gateway.shutdown()
    gateway.proc.stdin.close()
    gateway.proc.wait(timeout=60)
    SparkContext._gateway = SparkContext._jvm = None


def make_corpus(spark, path: Path, seed: int, n_convs: int, mega: tuple[int, int]) -> int:
    from feature_extractor_mbo_lob_spark.sources import synth_transcripts

    df = synth_transcripts(spark, n_convs=n_convs, min_turns=5, max_turns=64,
                           seed=seed, n_mega_convs=mega[0], mega_turns=mega[1])
    df.write.parquet(str(path))
    return parquet_rows(Path(path))


def parquet_rows(path: Path) -> int:
    """Rows in a parquet dir, from the file footers (no Spark job)."""
    import pyarrow.parquet as pq

    return sum(pq.ParquetFile(f).metadata.num_rows for f in path.rglob("*.parquet"))


def digest(df) -> tuple[int, int]:
    """Row count and order-insensitive sum of per-row xxhash64."""
    from pyspark.sql import functions as F

    h = F.xxhash64(*sorted(df.columns)).cast("decimal(38,0)")
    row = df.agg(F.count(F.lit(1)).alias("n"), F.sum(h).alias("s")).collect()[0]
    return int(row["n"]), int(row["s"] or 0)


def timed_loop(rec: Record, seconds: float, op) -> list[float]:
    """Repeat ``op`` for ``seconds`` (at least MIN_RUNS times); returns the
    wall times of the operations that succeeded."""
    walls: list[float] = []
    end = time.time() + seconds
    while len(walls) < MIN_RUNS or time.time() < end:
        wall = rec.operation(op)
        if wall is not None:
            walls.append(wall)
        elif rec.failed >= MIN_RUNS:
            raise RuntimeError("timed operations keep failing")
    return walls


# --- flagship ---------------------------------------------------------------

def flagship(seed: int, seconds: float, trace: bool, work: WorkDir) -> Record:
    """One operation: ``vectorized_flagship(read_transcripts(corpus), CFG)``
    into the noop sink, in one long-lived session."""
    rec = Record()
    t = time.time()
    os.environ.update(work.env())  # heap size and scratch dirs for the JVM
    from feature_extractor_mbo_lob_spark.plans import flagship_pipeline
    from feature_extractor_mbo_lob_spark.plans.driver_queries import CFG
    from feature_extractor_mbo_lob_spark.plans.vectorized import vectorized_flagship
    from feature_extractor_mbo_lob_spark.sources import read_transcripts

    import_s = time.time() - t
    t = time.time()
    spark = start_session(work)
    session_s = time.time() - t
    corpus = work.sub("corpus")
    with rec.phase("corpus"):
        n_turns = make_corpus(spark, corpus, seed, FLAGSHIP_CONVS, FLAGSHIP_MEGA)
    corpus = str(corpus)
    rec.notes.append(f"input turns: {n_turns}")

    def run(spark, tracer: spans.Tracer | None = None) -> float:
        span = tracer.span if tracer else lambda _name: contextlib.nullcontext()
        t0 = time.time()
        with span("sources.read"):
            df = read_transcripts(spark, corpus)
        with span("plans.build"):
            out = vectorized_flagship(df, CFG, price_col="char_len")
        with span("plans.execute"):
            out.write.format("noop").mode("overwrite").save()
        return time.time() - t0

    # The warm-up execution digests the output for the check below, so the
    # kernel runs once less per invocation. The first noop execution after
    # it still reads ~20% slow, so it is left untimed as well.
    t = time.time()
    vectorized = digest(vectorized_flagship(read_transcripts(spark, corpus), CFG,
                                            price_col="char_len"))
    rec.metric("setup_s", [import_s + session_s + time.time() - t], "s")
    run(spark)
    with rec.phase("timed"):
        walls = timed_loop(rec, seconds, lambda: run(spark))
    rec.metric("wall_s", walls, "s")
    rec.metric("turns_per_s", [n_turns / w for w in walls], "turns/s")

    def same_as_declarative() -> bool:
        declarative = digest(flagship_pipeline(read_transcripts(spark, corpus), CFG,
                                               price_col="char_len"))
        rec.notes.append(f"flagship digest vectorized={vectorized} declarative={declarative}")
        return vectorized == declarative and vectorized[0] > 0

    with rec.phase("check"):
        rec.check("flagship_equals_declarative", same_as_declarative)
    spark.stop()
    if trace:
        with rec.phase("traced"):
            trace_flagship(rec, work, run, seconds, n_turns, session_s)
    return rec


def trace_flagship(rec: Record, work: WorkDir, run, seconds: float, n_turns: int,
                   session_s: float) -> None:
    """Repeat the timed loop in a new context with the event log on and
    spans around each call; each layer metric is the median over the runs.
    Then time one execution at local[1]."""
    log_dir = work.sub("eventlog")
    spark = start_session(work, event_log=log_dir)
    run(spark)  # warm the new context's Python workers, outside the windows
    run(spark)
    tracer, traced = spans.Tracer(), []
    end = time.time() + seconds
    with PeakRss(os.getpid()) as rss:
        while len(traced) < MIN_RUNS or time.time() < end:
            with tracer.span("run") as r:
                run(spark, tracer)
            traced.append(r)
    spark.stop()
    apps = eventlog.load(log_dir)
    per_run = []
    for r in traced:
        layers = eventlog.summarize(apps, tracer.spans, r["start"], r["end"], n_turns)
        for name in ("sources.read", "plans.build", "plans.execute"):
            layers[f"{name}_s"] = sum(s["end"] - s["start"] for s in tracer.spans
                                      if s["name"] == name and r["start"] <= s["start"] <= r["end"])
        per_run.append(layers)
    rec.layers = {k: statistics.median(d.get(k, 0) for d in per_run)
                  for k in set().union(*per_run)}
    untraced = rec.e2e["wall_s"]["value"]
    rec.layers.update({
        "session.start_s": session_s,
        "peak_rss_mb": rss.peak_mb,
        "trace.overhead": statistics.median(r["end"] - r["start"] for r in traced) / untraced,
    })
    spark = start_session(work, cores=1)
    t1 = run(spark)
    spark.stop()
    rec.layers["spark.parallel_speedup"] = t1 / untraced
    rec.notes.append(f"flagship at local[1]: {t1:.3f} s")


# --- pipeline_job -----------------------------------------------------------

def launch(work: WorkDir, args: list[str], tag: str, trace: bool = False) -> dict:
    """One launch of jobs/run_pipeline.py in its own process. Returns its
    wall time, set-up time (process start until ``get_spark`` returned),
    spans and the job's JSON line; traced, also the event log dir and the
    peak memory of the launch's process tree."""
    span_file = work.sub(f"spans-{tag}.json")
    log_dir = work.sub(f"eventlog-{tag}") if trace else None
    cmd = [sys.executable, str(LAUNCHER), str(span_file), "1" if trace else "0",
           str(JOB), *args]
    with open(work.sub(f"stderr-{tag}.log"), "w") as err:
        t0 = time.time()
        proc = subprocess.Popen(cmd, cwd=ROOT, env=work.env(log_dir),
                                stdout=subprocess.PIPE, stderr=err, text=True)
        with PeakRss(proc.pid) if trace else contextlib.nullcontext() as rss:
            try:
                out, _ = proc.communicate(timeout=LAUNCH_TIMEOUT_S)
            finally:
                if proc.poll() is None:
                    proc.kill()
                    proc.wait()
        wall = time.time() - t0
    if proc.returncode != 0:
        tail = work.sub(f"stderr-{tag}.log").read_text()[-2000:]
        raise RuntimeError(f"launch {tag} exited {proc.returncode}: {tail}")
    tracer = spans.Tracer()
    tracer.spans = json.loads(span_file.read_text())
    session = next(s for s in tracer.spans if s["name"] == "session.start")
    return {"wall": wall, "setup": session["end"] - t0,
            "session": session["end"] - session["start"],
            "peak_mb": rss.peak_mb if trace else None, "tracer": tracer,
            "log_dir": log_dir, "report": json.loads(out.strip().splitlines()[-1])}


def pipeline_job(seed: int, seconds: float, trace: bool, work: WorkDir) -> Record:
    """One operation: a launch of ``jobs/run_pipeline.py`` over a parquet
    corpus into a fresh output dir. The benchmark's own session makes the
    corpus and runs the checks; it stays idle while the job runs."""
    rec = Record()
    os.environ.update(work.env())
    spark = start_session(work)
    corpus, cfg_file = work.sub("corpus"), work.sub("cfg.json")
    with rec.phase("corpus"):
        n_turns = make_corpus(spark, corpus, seed, PIPELINE_CONVS, PIPELINE_MEGA)
    rec.notes.append(f"input turns: {n_turns}")
    cfg_file.write_text(json.dumps({"skew_max_turns_per_task": PIPELINE_SKEW_MAX}))

    def job_args(out: Path) -> list[str]:
        return ["--input", str(corpus), "--input-format", "parquet",
                "--output", str(out), "--buckets", str(BUCKETS),
                "--config", str(cfg_file)]

    full: list[dict] = []
    end = time.time() + seconds
    with rec.phase("timed"):
        while not full or time.time() < end:
            res = rec.operation(launch, work, job_args(work.sub(f"out-{len(full)}")),
                                f"full-{len(full)}")
            if res is None:
                return rec
            full.append(res)
    rec.metric("setup_s", [r["setup"] for r in full], "s")
    rec.metric("wall_s", [r["wall"] for r in full], "s")
    rec.metric("turns_per_s", [n_turns / r["wall"] for r in full], "turns/s")
    rec.notes.append(f"job report: {full[-1]['report']}")

    if trace:
        with rec.phase("traced"):
            traced = rec.operation(launch, work, job_args(work.sub("out-traced")),
                                   "traced", trace=True)
        if traced:
            rec.layers = pipeline_layers(traced, n_turns, work.sub("out-traced"))
            rec.layers["trace.overhead"] = traced["wall"] / rec.e2e["wall_s"]["value"]

    with rec.phase("check"):
        check_pipeline(rec, spark, corpus, cfg_file, work.sub(f"out-{len(full) - 1}"),
                       full[-1]["report"])
    spark.stop()
    return rec


def pipeline_layers(res: dict, n_turns: int, out: Path) -> dict[str, float]:
    tracer = res["tracer"]
    apps = [a for a in eventlog.load(res["log_dir"]) if a["name"] == "fex-pipeline"]
    layers = eventlog.summarize(apps, tracer.spans, 0, float("inf"), n_turns)
    layers["session.start_s"] = res["session"]
    layers["peak_rss_mb"] = res["peak_mb"]
    for span, key in (("sources.read", "sources.read_s"), ("plans.build", "plans.build_s"),
                      ("validation.gate", "validation.wall_s"),
                      ("export.write", "export.wall_s")):
        layers[key] = tracer.total(span)
    files = [p for p in out.rglob("*") if p.is_file()]
    layers["export.files_written"] = len(files)
    layers["export.bytes_written"] = sum(p.stat().st_size for p in files)
    return layers


def check_pipeline(rec: Record, spark, corpus: Path, cfg_file: Path, out: Path,
                   report: dict) -> None:
    from pyspark.sql import functions as F

    from feature_extractor_mbo_lob_spark import PipelineConfig
    from feature_extractor_mbo_lob_spark.export import BUCKET_COL, MANIFEST_DIR
    from feature_extractor_mbo_lob_spark.plans.pipeline import r6
    from feature_extractor_mbo_lob_spark.plans.vectorized import vectorized_flagship
    from feature_extractor_mbo_lob_spark.sources import read_transcripts

    cfg = PipelineConfig.from_file(str(cfg_file))
    cols = [cfg.key_col, "turn_idx", cfg.ts_col,
            *[r6(F.col(c)).alias(c) for c in cfg.feature_columns()],
            "label", r6(F.col("label_pct_change")).alias("label_pct_change")]
    exported = spark.read.parquet(str(out))

    def manifests_cover_output() -> bool:
        buckets = {int(p.name.split("=")[1]) for p in out.glob(f"{BUCKET_COL}=*")}
        manifests = {int(p.stem.split("=")[1]): json.loads(p.read_text())
                     for p in (out / MANIFEST_DIR).glob("bucket=*.json")}
        rows = sum(m["rows"] for m in manifests.values())
        return (buckets == set(manifests) and len(buckets) == report["written_buckets"]
                and rows == parquet_rows(out) == report["rows_out"])

    def labeled_rows_equal_flagship() -> bool:
        a = digest(exported.filter(F.col("label").isNotNull()).select(*cols))
        # The reference is the vectorized twin of flagship_pipeline, which
        # the flagship workload checks equal to the declarative plan on every
        # run: the declarative plan costs ~13 s cold here against ~5 s, and
        # a run of this workload must stay within its time budget. auto_skew
        # is off because the job builds the cascade without a skew probe.
        b = digest(vectorized_flagship(read_transcripts(spark, str(corpus)), cfg,
                                       auto_skew=False))
        rec.notes.append(f"pipeline digest exported={a} vectorized_flagship={b}")
        return a == b and a[0] > 0

    rec.check("manifests_cover_output", manifests_cover_output)
    rec.check("labeled_rows_equal_flagship", labeled_rows_equal_flagship)


WORKLOADS = {"flagship": flagship, "pipeline_job": pipeline_job}
