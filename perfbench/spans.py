"""Spans around calls into the engine's public functions.

The benchmark wraps the functions a workload calls, from its own files; the
engine itself is not instrumented. Span times come from ``time.time()``, the
wall clock Spark stamps its event log with, so every Spark job can be
placed inside the span that was open when it was submitted.
"""

from __future__ import annotations

import contextlib
import functools
import importlib
import time

PKG = "feature_extractor_mbo_lob_spark"

# Public functions jobs/run_pipeline.py imports, by the span (layer.step)
# that a call to them opens. The job imports them inside main(), so
# patching the module attribute before the script runs is enough.
PIPELINE_CALLS = {
    "session.start": [(PKG, "get_spark")],
    "sources.read": [(f"{PKG}.sources", "read_transcripts")],
    "plans.build": [(f"{PKG}.plans", "build_features"), (f"{PKG}.labeling", "tlob_labels")],
    "validation.gate": [
        (f"{PKG}.validation", "assert_feature_contract"),
        (f"{PKG}.validation", "assert_no_nan_inf"),
    ],
    "export.write": [
        (f"{PKG}.export", "export_with_manifests"),
        (f"{PKG}.export", "input_fingerprint_for_path"),
    ],
}


class Tracer:
    """Collects spans ``{name, start, end, parent}``; ``parent`` is the index
    of the enclosing span in ``spans``."""

    def __init__(self) -> None:
        self.spans: list[dict] = []
        self._open: list[int] = []

    @contextlib.contextmanager
    def span(self, name: str):
        rec = {"name": name, "start": time.time(), "end": None,
               "parent": self._open[-1] if self._open else None}
        self.spans.append(rec)
        self._open.append(len(self.spans) - 1)
        try:
            yield rec
        finally:
            rec["end"] = time.time()
            self._open.pop()

    def wrap(self, calls: dict[str, list[tuple[str, str]]]) -> None:
        """Replace each ``module.attr`` with a wrapper that opens a span,
        for the rest of the process."""
        for name, targets in calls.items():
            for modname, attr in targets:
                mod = importlib.import_module(modname)
                fn = getattr(mod, attr)

                @functools.wraps(fn)
                def traced(*args, _fn=fn, _name=name, **kwargs):
                    with self.span(_name):
                        return _fn(*args, **kwargs)

                setattr(mod, attr, traced)

    def total(self, name: str) -> float:
        """Wall time under spans called ``name``, nested ones counted once."""
        return sum(
            s["end"] - s["start"]
            for s in self.spans
            if s["name"] == name and name not in self.ancestors(s)
        )

    def ancestors(self, span: dict) -> list[str]:
        names, i = [], span["parent"]
        while i is not None:
            names.append(self.spans[i]["name"])
            i = self.spans[i]["parent"]
        return names
