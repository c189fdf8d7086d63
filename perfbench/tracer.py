"""Span recording for the traced run, done from outside the program.

The tracer lives in each Spark Python worker. It is installed through the
public model seam: ``extract_turns(detector=..., recognizer=...)`` takes
``(cache_key, loader)`` pairs, and each worker runs the loader once per key.
The loaders below wrap the default detector and recognizer and, on first
use in a worker, replace the fused stage's per-batch function and the layer
functions it calls (looked up as module attributes at call time) with
timing wrappers. Nothing in the program is edited.

Tracing cannot be switched off in a worker once installed, so a run times
its untraced jobs before its first traced job.

A span is ``{name, id, parent, batch, start, end, **counts}``; times are
``time.perf_counter()`` seconds. Spans are kept in memory and appended to
the job's span file at the end of each Arrow batch, because Spark gives a
worker no hook at exit.
"""

from __future__ import annotations

import functools
import json
import os
import time
from pathlib import Path

BATCH = "pipeline.batch"  # one call of the fused stage's per-batch function
OCR = "pipeline.ocr"  # the OCR chain of one turn, artefact gate included


class Tracer:
    """The spans of one worker process."""

    def __init__(self) -> None:
        self.path: Path | None = None
        self.spans: list[dict] = []
        self.stack: list[int] = []
        self.next_id = 0
        self.batch: str | None = None
        self.seen_words: set[str] = set()
        self.installed = False

    def wrap(self, name: str, fn, counts=None):
        """``fn`` recording a span named ``name``; ``counts(args, result)``
        returns the work counts attached to it."""

        @functools.wraps(fn)
        def traced(*args, **kwargs):
            sid = self.next_id
            self.next_id += 1
            parent = self.stack[-1] if self.stack else None
            if name == BATCH:
                self.batch = f"{os.getpid()}-{sid}"
            self.stack.append(sid)
            start = time.perf_counter()
            try:
                out = fn(*args, **kwargs)
            finally:
                end = time.perf_counter()
                self.stack.pop()
            span = {"name": name, "id": sid, "parent": parent, "batch": self.batch,
                    "start": start, "end": end}
            if counts is not None:
                span.update(counts(args, out))
            self.spans.append(span)
            if name == BATCH:
                self.flush()
            return out

        return traced

    def flush(self) -> None:
        with open(self.path, "a") as f:
            f.writelines(json.dumps(s) + "\n" for s in self.spans)
        self.spans.clear()

    def count_repeats(self, args, preds) -> dict:
        words = [p[0] for p in preds]
        repeats = sum(w in self.seen_words for w in words)
        self.seen_words.update(words)
        return {"crops": len(words), "repeats": repeats}


# one per worker process: the pickled loaders reach it by import path
_TRACER = Tracer()


def _install(span_dir: str) -> None:
    """Point the worker's tracer at a job's span directory, patching the
    layer functions on first use. Spans recorded outside any batch span are
    dropped: they come from a task whose batch function was deserialized
    before the patch, which is why a run primes every worker with one
    traced job before the measured one."""
    _TRACER.path = Path(span_dir) / f"spans-{os.getpid()}.jsonl"
    _TRACER.spans.clear()
    if _TRACER.installed:
        return
    from doctr_spark.operators import artefacts
    from doctr_spark.plans import pipeline as P

    w = _TRACER.wrap
    P._extract_batch = w(BATCH, P._extract_batch, lambda a, out: {"rows": len(a[0])})
    P.extract_turn_ocr = w(OCR, P.extract_turn_ocr)
    P.parse_tool_envelope = w("payloads", P.parse_tool_envelope)
    P.decode_page_bundle = w(
        "payloads", P.decode_page_bundle, lambda a, out: {"pages": len(out[0]), "bytes": len(a[0])}
    )
    P.extract_crops = w("geometry", P.extract_crops, lambda a, out: {"crops": len(out)})
    artefacts.classify_artefact = w("artefacts", artefacts.classify_artefact, lambda a, out: {"gated": 1})
    P.build_page = w("builder", P.build_page, lambda a, out: {"words": out.n_words})
    P.extract_main_text = w(
        "html", P.extract_main_text, lambda a, out: {"turns": 1, "bytes_in": len(a[0].encode())}
    )
    _TRACER.installed = True


def _load_detector(span_dir: str):
    from doctr_spark.plans.models import DEFAULT_DETECTOR, resolve_model

    _install(span_dir)
    return _TRACER.wrap(
        "detection", resolve_model(*DEFAULT_DETECTOR), lambda a, out: {"pages": 1, "boxes": len(out)}
    )


def _load_recognizer(span_dir: str):
    from doctr_spark.plans.models import DEFAULT_RECOGNIZER, resolve_model

    _install(span_dir)
    # the default instance from the worker's model cache, memo state included
    return _TRACER.wrap("recognition", resolve_model(*DEFAULT_RECOGNIZER), _TRACER.count_repeats)


def traced_models(span_dir: Path) -> dict:
    """``extract_turns`` keyword arguments that trace one job into
    ``span_dir``; a new directory gives new cache keys, so every worker
    re-points its tracer at it."""
    return {
        "detector": (f"perfbench-det:{span_dir}", functools.partial(_load_detector, str(span_dir))),
        "recognizer": (f"perfbench-rec:{span_dir}", functools.partial(_load_recognizer, str(span_dir))),
    }


# ---------------------------------------------------------------- analysis


def read_spans(span_dir: Path) -> list[dict]:
    spans = []
    for p in sorted(span_dir.glob("spans-*.jsonl")):
        pid = p.stem.split("-", 1)[1]
        with open(p) as f:
            for line in f:
                s = json.loads(line)
                s["pid"] = pid
                spans.append(s)
    return spans


def self_times(spans: list[dict]) -> dict[str, dict]:
    """Per span name: calls, total and self seconds, and summed counts.
    Self time is a span's duration minus the time its direct children
    cover (children of one span never overlap: a worker is one thread)."""
    child_time: dict[tuple[str, int], float] = {}
    for s in spans:
        if s["parent"] is not None:
            key = (s["pid"], s["parent"])
            child_time[key] = child_time.get(key, 0.0) + s["end"] - s["start"]
    table: dict[str, dict] = {}
    for s in spans:
        dur = s["end"] - s["start"]
        row = table.setdefault(s["name"], {"calls": 0, "total_s": 0.0, "self_s": 0.0})
        row["calls"] += 1
        row["total_s"] += dur
        row["self_s"] += dur - child_time.get((s["pid"], s["id"]), 0.0)
        for k, v in s.items():
            if k not in ("name", "id", "parent", "batch", "start", "end", "pid"):
                row[k] = row.get(k, 0) + v
    return table


def format_table(table: dict[str, dict]) -> str:
    stage = table.get(BATCH, {}).get("total_s", 0.0) or float("nan")
    lines = [f"{'layer':<16}{'calls':>8}{'total_ms':>12}{'self_ms':>12}{'share':>8}  counts"]
    for name, row in sorted(table.items(), key=lambda kv: -kv[1]["self_s"]):
        counts = {k: v for k, v in row.items() if k not in ("calls", "total_s", "self_s")}
        lines.append(
            f"{name:<16}{row['calls']:>8}{row['total_s'] * 1e3:>12.1f}{row['self_s'] * 1e3:>12.1f}"
            f"{row['self_s'] / stage:>8.3f}  {counts}"
        )
    return "\n".join(lines)
