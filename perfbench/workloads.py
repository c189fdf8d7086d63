"""Seeded, cached inputs for the benchmark's workloads.

A workload's input is a list of *slices*. Slice 0 is the warm-up input and
slices 1.. are read by timed or traced jobs. A slice is a fixed number of
similar-size parquet files (a multiple of the 4 local cores; Spark packs
them into 4 read tasks of about equal bytes, the same for every job)
holding exactly the six input columns, plus an ``expected.parquet`` with
the expected text of every turn, keyed by (conv_id, turn_idx). The
program only ever reads the six input columns.

Everything is a pure function of (workload, seed, slice): each generated
unit draws from its own RNG stream, so the output does not depend on how
generation is split over processes. Slices are cached on disk by seed, and
each carries a content fingerprint over its rows; the fingerprint of a
workload's input (slices 0 and 1) is recorded with every result, so a change
to the renderers in ``doctr_spark.sources`` shows up as a changed workload,
not as a speed change.
"""

from __future__ import annotations

import datetime as dt
import hashlib
import itertools
import multiprocessing
import os
import shutil
from dataclasses import dataclass
from pathlib import Path

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

INPUT_COLUMNS = ("conv_id", "turn_idx", "role", "text", "tool", "ts")
INPUT_SCHEMA = pa.schema(
    [
        ("conv_id", pa.string()),
        ("turn_idx", pa.int32()),
        ("role", pa.string()),
        ("text", pa.string()),
        ("tool", pa.string()),
        ("ts", pa.timestamp("us", tz="UTC")),
    ]
)
EXPECTED_SCHEMA = pa.schema(
    [("conv_id", pa.string()), ("turn_idx", pa.int32()), ("expected_text", pa.string())]
)
FINGERPRINT_SLICES = (0, 1)
SEEDS_CACHED = 4  # per workload; older seed directories are evicted

_ALNUM = "ABCDEFGHIJKLMNOPQRSTUVWXYZ0123456789"
_LETTERS, _DIGITS = _ALNUM[:26], _ALNUM[26:]
_TURNS_PER_CONV = 8
_ROLES = ("user", "assistant", "tool")
_BASE_TS = dt.datetime(2026, 1, 1, tzinfo=dt.timezone.utc)


@dataclass(frozen=True)
class Workload:
    name: str
    why: str
    units: int  # generated units per timed slice: OCR turns or conversations
    warm_units: int  # units of the warm-up slice
    fresh_slices: bool  # every extraction job must read a slice no job read before
    files: int  # parquet files per slice


WORKLOADS = {
    w.name: w
    for w in (
        Workload(
            "ocr_wide_vocab",
            "every turn is an OCR page bundle of seeded random words, so the OCR "
            "chain does the work and the recognizer memo misses",
            units=450,
            warm_units=450,
            fresh_slices=True,
            files=8,  # uniform turns: 2 files per task are balanced
        ),
        Workload(
            "transcript_mix",
            "the bench corpus mix of plain, HTML and OCR turns with hot-key "
            "conversations: many cheap rows and a hot recognizer memo",
            units=700,
            warm_units=350,
            fresh_slices=False,
            # uneven turns: 8 files per task let Spark balance the tasks'
            # bytes, where 2 per task made every pass wait for the slowest
            # task (pass times spread twice as much)
            files=32,
        ),
    )
}


@dataclass(frozen=True)
class Slice:
    index: int
    dir: Path  # the parquet input files
    expected: Path  # expected.parquet
    turns: int
    fingerprint: str


# ------------------------------------------------------------- generation


def _wide_vocab_turn(seed: int, slice_idx: int, unit: int) -> dict:
    """One OCR turn of 1-2 pages of random 4-8 character words. Timed
    slices start every word with a letter and the warm-up slice with a digit,
    so warm-up never puts a timed word into the recognizer memo."""
    from doctr_spark.functions.render import PAGE_SEP
    from doctr_spark.sources.corpus import _append_artefact
    from doctr_spark.sources.font import DEFAULT_SCALE, expected_page_lines, render_page
    from doctr_spark.sources.payloads import encode_page_bundle, tool_envelope

    rng = np.random.default_rng([seed, slice_idx, unit])
    first = _DIGITS if slice_idx == 0 else _LETTERS
    pages, texts = [], []
    for _ in range(1 + int(rng.integers(2))):
        words = [
            first[rng.integers(len(first))]
            + "".join(_ALNUM[i] for i in rng.integers(len(_ALNUM), size=int(rng.integers(3, 8))))
            for _ in range(int(rng.integers(4, 14)))
        ]
        img = render_page(words, scale=DEFAULT_SCALE)[0]
        if rng.random() < 0.2:  # a minority of pages carry an artefact block
            img = _append_artefact(img, int(rng.integers(1 << 30)), DEFAULT_SCALE)
        pages.append(img)
        texts.append("\n".join(expected_page_lines(words, scale=DEFAULT_SCALE)))
    conv, turn = divmod(unit, _TURNS_PER_CONV)
    return {
        "conv_id": f"wide-{slice_idx}-{conv:06d}",
        "turn_idx": turn,
        "role": _ROLES[turn % 3],
        "text": f"[attachment: {len(pages)} page(s)]",
        "tool": tool_envelope("page_bundle", encode_page_bundle(pages, DEFAULT_SCALE)),
        "ts": _BASE_TS + dt.timedelta(minutes=unit),
        "expected_text": PAGE_SEP.join(texts),
    }


def _conversation(seed: int, slice_idx: int, unit: int) -> list[dict]:
    """One conversation of the bench corpus shape (``sources.corpus``), its
    id offset by the seed and the slice."""
    from doctr_spark.sources.corpus import gen_conversation

    rows = gen_conversation(
        seed * 10**6 + slice_idx * 10**4 + unit,
        long_every=200, long_turns=96, ocr_ratio=0.2, html_ratio=0.3,
    )
    for r in rows:
        del r["payload_kind"]
    return rows


def _gen_units(name: str, seed: int, slice_idx: int, lo: int, hi: int) -> list[dict]:
    if name == "ocr_wide_vocab":
        return [_wide_vocab_turn(seed, slice_idx, u) for u in range(lo, hi)]
    return [r for u in range(lo, hi) for r in _conversation(seed, slice_idx, u)]


def generate_rows(name: str, seed: int, slice_idx: int, pool=None) -> list[dict]:
    """All rows of one slice, in order, with ``expected_text``."""
    w = WORKLOADS[name]
    n = w.warm_units if slice_idx == 0 else w.units
    step = -(-n // 16)
    tasks = [(name, seed, slice_idx, lo, min(n, lo + step)) for lo in range(0, n, step)]
    chunks = pool.starmap(_gen_units, tasks) if pool is not None else itertools.starmap(_gen_units, tasks)
    return [r for chunk in chunks for r in chunk]


def fingerprint_rows(rows: list[dict]) -> str:
    h = hashlib.sha256()
    for r in rows:
        for c in (*INPUT_COLUMNS, "expected_text"):
            v = r[c].isoformat() if c == "ts" else str(r[c])
            h.update(v.encode())
            h.update(b"\x1f")
        h.update(b"\x1e")
    return h.hexdigest()[:16]


def input_fingerprint(slices: list[Slice]) -> str:
    """Fingerprint of a workload's input: its warm-up and first timed slice."""
    by_idx = {s.index: s.fingerprint for s in slices}
    return hashlib.sha256("/".join(by_idx[i] for i in FINGERPRINT_SLICES).encode()).hexdigest()[:16]


# ------------------------------------------------------------------ cache


def _code_key() -> str:
    """Hash of the code that renders inputs; part of the cache key."""
    root = Path(__file__).resolve().parent.parent
    h = hashlib.sha256()
    files = sorted((root / "doctr_spark" / "sources").glob("*.py"))
    files += [root / "doctr_spark" / "functions" / "render.py", Path(__file__).resolve()]
    for p in files:
        h.update(p.read_bytes())
    return h.hexdigest()[:12]


def _write_slice(rows: list[dict], dest: Path, files: int) -> None:
    tmp = dest.with_name(f"{dest.name}.tmp-{os.getpid()}")
    shutil.rmtree(tmp, ignore_errors=True)
    (tmp / "input").mkdir(parents=True)
    per_file = -(-len(rows) // files)
    for k in range(files):
        part = rows[k * per_file : (k + 1) * per_file]
        table = pa.Table.from_pylist([{c: r[c] for c in INPUT_COLUMNS} for r in part], INPUT_SCHEMA)
        pq.write_table(table, tmp / "input" / f"part-{k:05d}.parquet")
    expected = pa.Table.from_pylist(
        [{c: r[c] for c in ("conv_id", "turn_idx", "expected_text")} for r in rows], EXPECTED_SCHEMA
    )
    pq.write_table(expected, tmp / "expected.parquet")
    (tmp / "FINGERPRINT").write_text(f"{fingerprint_rows(rows)} {len(rows)}\n")
    os.rename(tmp, dest)


def _load_slice(index: int, d: Path) -> Slice:
    fp, turns = (d / "FINGERPRINT").read_text().split()
    return Slice(index, d / "input", d / "expected.parquet", int(turns), fp)


def prepare(name: str, seed: int, n_slices: int, cache_root: Path, procs: int) -> list[Slice]:
    """Slices 0..n_slices-1 of a workload, generated on a cache miss with a
    pool of ``procs`` processes."""
    wdir = cache_root / name
    sdir = wdir / f"seed-{seed}-{_code_key()}"
    sdir.mkdir(parents=True, exist_ok=True)
    os.utime(sdir)
    missing = [k for k in range(n_slices) if not (sdir / f"slice-{k}").exists()]
    if missing:
        with multiprocessing.get_context("spawn").Pool(procs) as pool:
            for k in missing:
                _write_slice(generate_rows(name, seed, k, pool), sdir / f"slice-{k}", WORKLOADS[name].files)
            pool.close()
            pool.join()
    for old in sorted(wdir.iterdir(), key=lambda p: p.stat().st_mtime)[:-SEEDS_CACHED]:
        shutil.rmtree(old, ignore_errors=True)
    return [_load_slice(k, sdir / f"slice-{k}") for k in range(n_slices)]
