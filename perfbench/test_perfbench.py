"""Tests of the benchmark itself: ``python -m pytest perfbench -q``."""

from __future__ import annotations

import pyarrow as pa
import pyarrow.parquet as pq
import pytest

from perfbench import tracer, workloads
from perfbench.run import count_failures

# input fingerprints (warm-up + first timed slice) at the default seed 0;
# a change here means the workloads changed, and results are not comparable
PINNED = {
    "ocr_wide_vocab": "a29254d364830ef8",
    "transcript_mix": "591157f9c63f1a2f",
}


@pytest.mark.parametrize("name", sorted(workloads.WORKLOADS))
def test_input_fingerprint_is_pinned(name):
    slices = [
        workloads.Slice(k, None, None, 0, workloads.fingerprint_rows(workloads.generate_rows(name, 0, k)))
        for k in workloads.FINGERPRINT_SLICES
    ]
    assert workloads.input_fingerprint(slices) == PINNED[name]


def test_warm_up_words_are_disjoint_from_timed_words():
    warm = workloads.generate_rows("ocr_wide_vocab", 5, 0)
    timed = workloads.generate_rows("ocr_wide_vocab", 5, 1)
    words = lambda rows: {w for r in rows for w in r["expected_text"].split()}  # noqa: E731
    assert words(warm) and words(timed) and not words(warm) & words(timed)


def test_count_failures_catches_every_kind_of_wrong_turn(tmp_path):
    keys = [("c", i) for i in range(6)]
    expected = pa.table({
        "conv_id": [k[0] for k in keys],
        "turn_idx": pa.array([k[1] for k in keys], pa.int32()),
        "expected_text": [f"t{i}" for i in range(6)],
    })
    pq.write_table(expected, tmp_path / "expected.parquet")
    # turn 0 right, 1 wrong text, 2 quarantined, 3 missing, 4 duplicated, 5 right; one stray turn
    out = tmp_path / "out"
    out.mkdir()
    pq.write_table(pa.table({
        "conv_id": ["c"] * 7,
        "turn_idx": pa.array([0, 1, 2, 4, 4, 5, 9], pa.int32()),
        "payload_kind": ["plain", "plain", "error", "plain", "plain", "plain", "plain"],
        "extracted_text": ["t0", "nope", "", "t4", "t4", "t5", "x"],
    }), out / "part-0.parquet")
    s = workloads.Slice(1, out, tmp_path / "expected.parquet", 6, "")
    assert count_failures(out, s) == 5


def test_self_time_subtracts_children_only_from_their_parent():
    spans = [
        {"name": tracer.BATCH, "id": 0, "parent": None, "batch": "b", "start": 0.0, "end": 10.0, "rows": 4, "pid": "1"},
        {"name": "detection", "id": 1, "parent": 0, "batch": "b", "start": 1.0, "end": 4.0, "pid": "1"},
        {"name": tracer.OCR, "id": 2, "parent": 0, "batch": "b", "start": 5.0, "end": 9.0, "pid": "1"},
        {"name": "recognition", "id": 3, "parent": 2, "batch": "b", "start": 6.0, "end": 7.0, "pid": "1"},
        {"name": "detection", "id": 1, "parent": None, "batch": "c", "start": 0.0, "end": 2.0, "pid": "2"},
    ]
    table = tracer.self_times(spans)
    assert table[tracer.BATCH]["self_s"] == pytest.approx(3.0)
    assert table[tracer.OCR]["self_s"] == pytest.approx(3.0)
    assert table["detection"]["self_s"] == pytest.approx(5.0)
    assert table["detection"]["calls"] == 2
    assert table[tracer.BATCH]["rows"] == 4


def test_benchmark_json_matches_the_metrics_the_run_reports():
    import json
    from pathlib import Path

    from perfbench import run

    spec = json.loads((Path(run.__file__).resolve().parent.parent / "BENCHMARK.json").read_text())
    assert {m["name"]: m["unit"] for m in spec["end_to_end"]} == run.END_TO_END
    assert {m["name"]: m["unit"] for m in spec["per_layer"]} == run.PER_LAYER
    assert {w["name"]: w["why"] for w in spec["workloads"]} == {
        w.name: w.why for w in workloads.WORKLOADS.values()
    }


def test_timed_metrics_are_scaled_by_the_host_probe():
    from perfbench import run

    nominal = run.PROBE_NOMINAL_MS
    passes = [{"turns": 100, "wall_s": 1.0, "bytes": 500, "probe_ms": 2 * nominal}] * 3
    cycles = [{"wall_s": 4.0}] * 3
    m = run.end_to_end_metrics(passes, cycles, host_ms=2 * nominal, rss_mb=1.0, exact=1.0)
    # a host twice as slow as nominal: twice the rate and half the set-up time
    assert m["turns_per_s"] == pytest.approx(200.0)
    assert m["setup_s"] == pytest.approx(2.0)
    assert m["out_bytes_per_turn"] == pytest.approx(5.0)
