"""Run one job script the way ``python <script> <args>`` would, and record
when its Spark session came up.

    python perfbench/launch.py RECORD TRACE SCRIPT [ARGS...]

The script runs as ``__main__`` in this process (runpy), so the launch
still pays interpreter start, imports and JVM start. ``get_spark`` is
wrapped to time the session start; with TRACE=1 the engine's public
functions the job imports are wrapped in spans too. The spans are written
to RECORD as JSON when the script returns or raises.
"""

from __future__ import annotations

import json
import runpy
import sys
from pathlib import Path

import spans


def main() -> None:
    record, trace, script, *args = sys.argv[1:]
    sys.path.insert(0, str(Path(__file__).resolve().parent.parent))
    tracer = spans.Tracer()
    calls = spans.PIPELINE_CALLS if trace == "1" else {
        "session.start": spans.PIPELINE_CALLS["session.start"]}
    tracer.wrap(calls)
    sys.argv = [script, *args]
    try:
        with tracer.span("jobs.main"):
            runpy.run_path(script, run_name="__main__")
    finally:
        Path(record).write_text(json.dumps(tracer.spans))


if __name__ == "__main__":
    main()
