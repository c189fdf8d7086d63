"""Throughput benchmark of the transcript extraction job.

    python3 perfbench/run.py --workload NAME --seed N --seconds S --trace 0|1

Run from the root of a source checkout. One process drives Spark
``local[4]`` with the program's default session settings and runs one
closed-loop batch workload: ``extract_turns`` to a parquet sink, one job
after another, over

- ``ocr_wide_vocab``: OCR page bundles of random words; every job reads a
  slice no earlier job read, so the recognizer memo misses.
- ``transcript_mix``: the bench corpus mix of plain, HTML and OCR turns; OCR
  words come from a 37-word bank, so the memo hits.

The checkpointed sink (``run_extraction_checkpointed(grouped=True)``: an
interrupted run over half the buckets, a resume, and a resume with nothing
left to do) is timed in the traced run only. Its job mix is fixed costs
that keep falling as the JVM compiles them, and it tracks the shared host's
single-thread speed, so short runs of it spread by a third.

Inputs are generated from the seed before anything is timed (workloads.py).
The run then launches the JVM with a first session and ``LAUNCH_PASSES``
warm-up passes over the warm-up slice, so that the JVM's compiler has
settled before anything is timed; that launch is recorded but not part of
``setup_s``.
Set-up proper is ``SETUP_CYCLES`` like cycles, each stopping the session and
starting a new one (new SparkContext, fresh Python workers with empty model
caches and recognizer memo), which loads the models and makes the warm-up
pass; ``setup_s`` is their median. The timed section then runs passes until
``--seconds`` have gone by, and at least ``MIN_PASSES``; ``ocr_wide_vocab``
reads a never-read slice in every pass, so it is fixed-work instead:
``MIN_PASSES`` passes over as many fresh slices. After it, the output of
every job is compared turn by turn with the expected text.

The last line of standard output is the result:
``{"correct", "attempted", "failed", "metrics"}``; ``metrics`` holds the
end-to-end metrics with ``--trace 0`` and the per-layer metrics of a
separate traced run with ``--trace 1``. The line before it is the full
record: environment, input fingerprint, host speed and per-pass figures.

A host probe (``HostProbe``) runs at the start and end of the run and after
every set-up cycle and timed pass, outside the timed work, and scales the
two timed metrics to a nominal host speed: a shared host drifts by up to 2x
between minutes, and its drift moves the probe and the jobs alike.

End-to-end metrics (medians over the timed passes):
  turns_per_s         turns extracted per wall second of a pass, scaled to
                      the nominal host speed
  setup_s             median set-up cycle (see above), scaled the same way;
                      input generation and the JVM launch excluded
  worker_rss_mb       peak resident memory of the largest Python worker
  out_bytes_per_turn  bytes of result files written per turn
  exact_turn_ratio    share of turns whose extracted text equals the expected
                      text (quarantined, missing or duplicated turns fail)

Per-layer metrics (``--trace 1``) come from timing calls into the layers'
public functions (tracer.py) and from differencing Spark jobs over one
slice: scan only, identity ``mapInPandas``, extraction to the noop sink and
extraction to parquet. Layers a workload bypasses read 0. The run writes a
span file and a self-time table under ``.perfbench/traces/``. The CPU time
of the JVM and the Python workers per turn is a per-layer metric: on a
shared machine it drifts with the other tenants' load as much as wall time
does, by up to a quarter between runs.
"""

from __future__ import annotations

import argparse
import json
import math
import multiprocessing
import os
import platform
import shutil
import signal
import statistics
import subprocess
import sys
import time
import traceback
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent
sys.path.insert(0, str(ROOT))

from perfbench import tracer, workloads  # noqa: E402

CORES = 4
SETUP_CYCLES = 3
LAUNCH_PASSES = 2  # warm-up passes of the JVM launch, so that its JIT has settled
BUCKETS = 8
SCAN_REPEATS = 3
PROBE_ROUNDS = 3  # kernel runs per core in one host probe sample
PROBE_NOMINAL_MS = 30.0  # scale of the timed metrics: about the probe's time on a quiet 4-vCPU Xeon VM
MIN_PASSES = 6
WORK = ROOT / ".perfbench"

END_TO_END = {
    "turns_per_s": "turns/s",
    "setup_s": "s",
    "worker_rss_mb": "MB",
    "out_bytes_per_turn": "B/turn",
    "exact_turn_ratio": "ratio",
}
PER_LAYER = {
    "host.ref_ms": "ms",
    "cpu.ms_per_turn": "ms/turn",
    "session.start_s": "s",
    "scan.s": "s",
    "scan.rows": "count",
    "arrow.roundtrip_s": "s",
    "pipeline.stage_s": "s",
    "pipeline.batches": "count",
    "pipeline.rows_per_batch": "count",
    "pipeline.batch_ms_p50": "ms",
    "pipeline.batch_ms_p99": "ms",
    "pipeline.batch_samples": "count",
    "pipeline.self_ms": "ms",
    "pipeline.ocr_self_ms": "ms",
    "payloads.decode_ms": "ms",
    "payloads.pages": "count",
    "payloads.bytes": "B",
    "detection.ms": "ms",
    "detection.pages": "count",
    "detection.boxes": "count",
    "geometry.crop_ms": "ms",
    "geometry.crops": "count",
    "artefacts.ms": "ms",
    "artefacts.gated": "count",
    "recognition.ms": "ms",
    "recognition.crops": "count",
    "recognition.repeat_word_share": "ratio",
    "builder.ms": "ms",
    "builder.words": "count",
    "html.ms": "ms",
    "html.turns": "count",
    "html.bytes_in": "B",
    "sink.write_s": "s",
    "sink.files": "count",
    "sink.bytes": "B",
    "checkpoint.run_s": "s",
    "checkpoint.resume_s": "s",
    "checkpoint.resume_noop_s": "s",
    "checkpoint.result_files": "count",
    "checkpoint.manifest_rows": "count",
    "trace.coverage": "ratio",
    "trace.overhead": "ratio",
}


class RunFailed(Exception):
    """The program produced a wrong result or an unexpected job outcome."""


# ------------------------------------------------------------------ host


def _probe_kernel(_: int) -> float:
    """Milliseconds of one run of a fixed Python + numpy kernel."""
    import numpy as np

    t0 = time.perf_counter()
    page = np.random.default_rng(0).random((600, 800)) > 0.9
    for _ in range(6):
        int(np.cumsum(page, axis=1).sum())
        sum(i * i % 7 for i in range(20_000))
    return (time.perf_counter() - t0) * 1e3


class HostProbe:
    """The host's speed: the median time of a fixed kernel run on every core
    at once, sampled between Spark jobs.

    On a shared 4-vCPU VM the host's speed drifted by up to 2x over minutes,
    and the drift slowed the kernel and the jobs alike: over four minutes,
    the median times of windows of 8 ``ocr_wide_vocab`` passes spread 0.29
    (IQR/median), and 0.05 once divided by the kernel's median time. The
    two timed metrics are scaled by the probe, so that they read what a
    host on which the kernel takes ``PROBE_NOMINAL_MS`` would show. A pass
    is scaled by the mean of the probes just before and after it, which
    follows the host within a run: over 10 seeds, ``transcript_mix``'s
    ``turns_per_s`` spread 0.06 this way and 0.13 when scaled by the run's
    median probe. A set-up cycle is scaled by the run's median probe, as the
    probe right after a new session often reads high."""

    def __init__(self, procs: int):
        self.procs = procs
        self.pool = multiprocessing.get_context("spawn").Pool(procs)
        self.pool.map(_probe_kernel, range(procs))  # imports numpy in every process
        self.samples: list[float] = []

    def sample(self) -> float:
        ms = statistics.median(self.pool.map(_probe_kernel, range(PROBE_ROUNDS * self.procs)))
        self.samples.append(ms)
        return ms

    def close(self) -> None:
        self.pool.close()
        self.pool.join()


def become_subreaper() -> None:
    """Make processes this run starts, however deep, re-parent to it when
    their parent exits, so that ``reap_children`` can wait for them: the
    Python worker daemon and its workers outlive the JVM that forked them."""
    import ctypes

    PR_SET_CHILD_SUBREAPER = 36
    if ctypes.CDLL(None, use_errno=True).prctl(PR_SET_CHILD_SUBREAPER, 1, 0, 0, 0) != 0:
        raise OSError(ctypes.get_errno(), "prctl(PR_SET_CHILD_SUBREAPER)")


def reap_children(grace_s: float = 30.0) -> None:
    """Return once every process the run started has exited and been
    reaped. The multiprocessing resource tracker, which would live until
    this process exits, is stopped; children still alive ``grace_s`` after
    the call are sent SIGTERM, and SIGKILL 5 s later."""
    from multiprocessing import resource_tracker

    resource_tracker._resource_tracker._stop()
    deadline = time.monotonic() + grace_s
    sig = None
    while True:
        try:
            pid, _ = os.waitpid(-1, os.WNOHANG)
        except ChildProcessError:  # no children left, not even re-parented ones
            return
        if pid:
            continue
        if time.monotonic() > deadline:
            sig = signal.SIGKILL if sig == signal.SIGTERM else signal.SIGTERM
            for child, (ppid, _) in _proc_table().items():
                if ppid == os.getpid():
                    try:
                        os.kill(child, sig)
                    except ProcessLookupError:
                        pass
            deadline = time.monotonic() + 5
        time.sleep(0.05)


def _proc_table() -> dict[int, tuple[int, int]]:
    """pid -> (ppid, CPU ticks incl. reaped children) for every process."""
    table = {}
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat") as f:
                fields = f.read().rsplit(")", 1)[1].split()
        except OSError:  # exited while listing
            continue
        table[int(d)] = (int(fields[1]), sum(int(x) for x in fields[11:15]))
    return table


def _descendants(table: dict[int, tuple[int, int]], root: int) -> list[int]:
    children: dict[int, list[int]] = {}
    for pid, (ppid, _) in table.items():
        children.setdefault(ppid, []).append(pid)
    out, todo = [], [root]
    while todo:
        for c in children.get(todo.pop(), []):
            out.append(c)
            todo.append(c)
    return out


def tree_cpu_s(root: int) -> float:
    """CPU seconds of process ``root`` and its descendants (exited ones
    count through their parent's reaped-children time)."""
    table = _proc_table()
    ticks = sum(table[p][1] for p in [root, *_descendants(table, root)])
    return ticks / os.sysconf("SC_CLK_TCK")


def _cmdline(pid: int) -> str:
    try:
        with open(f"/proc/{pid}/cmdline", "rb") as f:
            return f.read().decode(errors="replace")
    except OSError:
        return ""


def worker_peak_rss_mb() -> float:
    """Largest peak RSS among live Python workers (children of the daemon)."""
    table = _proc_table()
    peak = 0.0
    for pid in _descendants(table, os.getpid()):
        ppid = table[pid][0]
        if "pyspark.daemon" in _cmdline(pid) and "pyspark.daemon" in _cmdline(ppid):
            try:
                with open(f"/proc/{pid}/status") as f:
                    for line in f:
                        if line.startswith("VmHWM:"):
                            peak = max(peak, int(line.split()[1]) / 1024)
            except OSError:
                continue
    return peak


def files_bytes(d: Path) -> tuple[int, int]:
    """(files, bytes) of the data files under ``d``, not counting
    checksums and markers."""
    n = size = 0
    for p in d.rglob("*"):
        if p.is_file() and not p.name.startswith((".", "_")):
            n += 1
            size += p.stat().st_size
    return n, size


# ----------------------------------------------------------------- jobs


class Bench:
    def __init__(
        self, workload: workloads.Workload, slices: list[workloads.Slice], tmp: Path, probe: HostProbe
    ):
        self.w = workload
        self.slices = slices
        self.tmp = tmp
        self.probe = probe
        self.spark = None
        self.outputs: list[tuple[Path, workloads.Slice]] = []  # verified after timing
        self._next_fresh = 1
        self._jobs = 0

    def timed_slice(self) -> workloads.Slice | None:
        """The slice the next extraction job reads: a new one for every job
        of a fresh-slice workload, else the first timed slice."""
        if not self.w.fresh_slices:
            return self.slices[1]
        if self._next_fresh >= len(self.slices):
            return None
        self._next_fresh += 1
        return self.slices[self._next_fresh - 1]

    def out_dir(self) -> Path:
        self._jobs += 1
        return self.tmp / "out" / f"job-{self._jobs}"

    def start_session(self):
        from doctr_spark.session import get_spark

        local = self.tmp / "spark-local"
        local.mkdir(parents=True, exist_ok=True)
        return get_spark(
            cores=CORES,
            app_name="perfbench",
            extra_conf={
                "spark.local.dir": str(local),
                "spark.sql.warehouse.dir": str(self.tmp / "warehouse"),
                "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={self.tmp} -XX:-UsePerfData",
            },
        )

    def jvm_pid(self) -> int:
        """The JVM; the Python worker daemon and its workers descend from it."""
        from pyspark import SparkContext

        return SparkContext._gateway.proc.pid

    def read(self, s: workloads.Slice):
        return self.spark.read.parquet(str(s.dir))

    def extract_pass(self, s: workloads.Slice, models: dict | None = None) -> dict:
        """One extraction job to a parquet sink; the output is kept for
        verification."""
        from doctr_spark.plans.pipeline import extract_turns

        out = self.out_dir()
        t0 = time.perf_counter()
        extract_turns(self.read(s), **(models or {})).write.mode("overwrite").parquet(str(out))
        wall = time.perf_counter() - t0
        self.outputs.append((out, s))
        files, size = files_bytes(out)
        return {"wall_s": wall, "turns": s.turns, "bytes": size, "files": files}

    def checkpoint_pass(self, s: workloads.Slice) -> dict:
        """Interrupted run over half the buckets, resume, no-op resume."""
        from doctr_spark.plans.checkpoint import run_extraction_checkpointed

        out = self.out_dir()
        df = self.read(s)
        half = BUCKETS // 2
        steps = []
        # (max_buckets_this_run, expected processed, expected remaining)
        for cap, n_processed, n_remaining in [(half, half, half), (None, half, 0), (None, 0, 0)]:
            t0 = time.perf_counter()
            summary = run_extraction_checkpointed(
                self.spark, df, str(out), buckets=BUCKETS, max_buckets_this_run=cap, grouped=True
            )
            steps.append(time.perf_counter() - t0)
            if (len(summary["processed"]), summary["remaining"]) != (n_processed, n_remaining):
                raise RunFailed(f"checkpoint step {len(steps)} returned {summary}")
        self.outputs.append((out / "results", s))
        return {
            "steps_s": steps,
            "result_files": files_bytes(out / "results")[0],
            "manifest_rows": _parquet_rows(out / "manifest"),
        }

    def setup(self) -> tuple[float, list[dict]]:
        """JVM launch (first session + warm-up passes), then ``SETUP_CYCLES``
        x (stop, new session + warm-up pass, host probe); returns the launch
        seconds and the cycles."""
        t0 = time.perf_counter()
        self.spark = self.start_session()
        for _ in range(LAUNCH_PASSES):
            self.extract_pass(self.slices[0])
        launch = time.perf_counter() - t0
        cycles = []
        for _ in range(SETUP_CYCLES):
            self.spark.stop()
            t0 = time.perf_counter()
            self.spark = self.start_session()
            start = time.perf_counter() - t0
            self.extract_pass(self.slices[0])
            wall = time.perf_counter() - t0
            cycles.append({"wall_s": wall, "session_start_s": start, "probe_ms": self.probe.sample()})
        return launch, cycles

    def noop_job(self, df) -> float:
        t0 = time.perf_counter()
        df.write.format("noop").mode("overwrite").save()
        return time.perf_counter() - t0

    def verify(self) -> tuple[int, int]:
        """(turns attempted, turns failed) over every job that wrote output."""
        attempted = failed = 0
        for out, s in self.outputs:
            attempted += s.turns
            failed += count_failures(out, s)
        return attempted, failed

    def stop(self) -> None:
        """Stop the session and wait for the JVM to exit."""
        if self.spark is None:
            return
        from pyspark import SparkContext

        gateway = SparkContext._gateway
        self.spark.stop()
        self.spark = None
        if gateway is not None:
            proc = gateway.proc
            gateway.shutdown()
            proc.stdin.close()
            try:
                proc.wait(timeout=60)
            except subprocess.TimeoutExpired:
                proc.kill()
                proc.wait()
            SparkContext._gateway = None
            SparkContext._jvm = None


def _parquet_rows(d: Path) -> int:
    import pyarrow.parquet as pq

    return pq.read_table(d).num_rows if d.exists() else 0


def count_failures(out: Path, s: workloads.Slice) -> int:
    """Turns of ``s`` that are missing from ``out``, duplicated, quarantined
    (payload_kind 'error') or whose extracted text differs from the expected
    text."""
    import pyarrow.parquet as pq

    expected = pq.read_table(s.expected).to_pydict()
    want = dict(zip(zip(expected["conv_id"], expected["turn_idx"]), expected["expected_text"]))
    got = pq.read_table(out, columns=["conv_id", "turn_idx", "payload_kind", "extracted_text"]).to_pydict()
    good: dict[tuple, int] = {}
    extra = 0
    for key, kind, text in zip(
        zip(got["conv_id"], got["turn_idx"]), got["payload_kind"], got["extracted_text"]
    ):
        if key not in want:
            extra += 1
        elif key in good:
            good[key] = 0  # duplicated turn
        else:
            good[key] = int(kind != "error" and text == want[key])
    return len(want) - sum(good.values()) + extra


# --------------------------------------------------------------- phases


def timed_section(b: Bench, seconds: float) -> list[dict]:
    """Passes, each followed by a host probe (its time is not counted); a
    pass's ``probe_ms`` is the mean of the probes just before and after it."""
    passes = []
    t_end = time.perf_counter() + seconds
    while time.perf_counter() < t_end or len(passes) < MIN_PASSES:
        s = b.timed_slice()
        if s is None:
            break
        before = b.probe.samples[-1]
        t = time.perf_counter()
        passes.append(b.extract_pass(s))
        passes[-1]["probe_ms"] = (before + b.probe.sample()) / 2
        t_end += time.perf_counter() - t - passes[-1]["wall_s"]
    return passes


def end_to_end_metrics(
    passes: list[dict], cycles: list[dict], host_ms: float, rss_mb: float, exact: float
) -> dict:
    """Median pass rate and set-up cycle scaled to the nominal host speed
    (see ``HostProbe``): each pass by the probes around it, the set-up
    cycles by the run's median probe ``host_ms``."""
    med = statistics.median
    return {
        "turns_per_s": med([p["turns"] / p["wall_s"] * p["probe_ms"] for p in passes]) / PROBE_NOMINAL_MS,
        "setup_s": med([c["wall_s"] for c in cycles]) * PROBE_NOMINAL_MS / host_ms,
        "worker_rss_mb": rss_mb,
        "out_bytes_per_turn": med([p["bytes"] / p["turns"] for p in passes]),
        "exact_turn_ratio": exact,
    }


def traced_section(b: Bench, trace_dir: Path) -> tuple[dict, dict]:
    """Per-layer metrics from job differencing and one traced pass."""
    from doctr_spark.plans.pipeline import extract_turns
    from doctr_spark.sources.corpus import TRANSCRIPT_SCHEMA

    m = {k: 0.0 for k in PER_LAYER}
    b.checkpoint_pass(b.slices[0])  # compiles the checkpoint jobs' plans
    c = b.checkpoint_pass(b.timed_slice())
    m.update({
        "checkpoint.run_s": c["steps_s"][0], "checkpoint.resume_s": c["steps_s"][1],
        "checkpoint.resume_noop_s": c["steps_s"][2],
        "checkpoint.result_files": c["result_files"], "checkpoint.manifest_rows": c["manifest_rows"],
    })

    # the untraced extraction job runs just before the traced one, so that
    # trace.overhead compares jobs of a JVM equally warm
    s = b.timed_slice()
    df = b.read(s)
    scan = statistics.median(b.noop_job(df) for _ in range(SCAN_REPEATS))
    ident = statistics.median(
        b.noop_job(df.mapInPandas(lambda it: it, schema=TRANSCRIPT_SCHEMA)) for _ in range(SCAN_REPEATS)
    )
    stage = b.noop_job(extract_turns(df))
    cpu0 = tree_cpu_s(b.jvm_pid())
    untraced = b.extract_pass(b.timed_slice())
    m["cpu.ms_per_turn"] = (tree_cpu_s(b.jvm_pid()) - cpu0) * 1e3 / untraced["turns"]
    m.update({
        "scan.s": scan, "scan.rows": s.turns, "arrow.roundtrip_s": ident - scan,
        "pipeline.stage_s": stage - ident, "sink.write_s": untraced["wall_s"] - stage,
        "sink.files": untraced["files"], "sink.bytes": untraced["bytes"],
    })
    detail = {"jobs_s": {"scan": scan, "identity": ident, "extract_noop": stage,
                         "extract_parquet": untraced["wall_s"]}}

    # the tracer's repeat-word set starts empty: prime it on the warm-up
    # slice, as set-up primed the recognizer memo
    prime = b.tmp / "spans-prime"
    prime.mkdir()
    b.noop_job(extract_turns(b.read(b.slices[0]), **tracer.traced_models(prime)))
    spans_dir = b.tmp / "spans"
    spans_dir.mkdir()
    t = b.extract_pass(b.timed_slice(), tracer.traced_models(spans_dir))
    spans = tracer.read_spans(spans_dir)
    table = tracer.self_times(spans)
    stray = [x for x in spans if x["parent"] is None and x["name"] != tracer.BATCH]
    if table.get(tracer.BATCH, {}).get("rows") != t["turns"] or stray:
        raise RunFailed(f"traced job left {len(stray)} spans outside a batch or missed rows")
    m.update(layer_metrics(spans, table))
    m["trace.overhead"] = 1 - (t["turns"] / t["wall_s"]) / (untraced["turns"] / untraced["wall_s"])

    trace_dir.mkdir(parents=True, exist_ok=True)
    with open(trace_dir / "spans.jsonl", "w") as f:
        f.writelines(json.dumps(x) + "\n" for x in spans)
    text = tracer.format_table(table)
    (trace_dir / "self_time.txt").write_text(text + "\n")
    print(text, file=sys.stderr)
    detail["self_time"] = table
    return m, detail


def layer_metrics(spans: list[dict], table: dict[str, dict]) -> dict:
    def row(name: str) -> dict:
        return table.get(name, {"calls": 0, "total_s": 0.0, "self_s": 0.0})

    ms = lambda name: row(name)["self_s"] * 1e3  # noqa: E731
    batch = row(tracer.BATCH)
    batch_ms = sorted((s["end"] - s["start"]) * 1e3 for s in spans if s["name"] == tracer.BATCH)
    reco = row("recognition")
    stage_ms = batch["total_s"] * 1e3
    return {
        "pipeline.batches": batch["calls"],
        "pipeline.batch_ms_p50": statistics.median(batch_ms) if batch_ms else 0.0,
        "pipeline.batch_ms_p99": batch_ms[min(len(batch_ms) - 1, math.ceil(0.99 * len(batch_ms)) - 1)] if batch_ms else 0.0,
        "pipeline.batch_samples": len(batch_ms),
        "pipeline.rows_per_batch": batch.get("rows", 0) / max(batch["calls"], 1),
        "pipeline.self_ms": ms(tracer.BATCH),
        "pipeline.ocr_self_ms": ms(tracer.OCR),
        "payloads.decode_ms": ms("payloads"),
        "payloads.pages": row("payloads").get("pages", 0),
        "payloads.bytes": row("payloads").get("bytes", 0),
        "detection.ms": ms("detection"),
        "detection.pages": row("detection").get("pages", 0),
        "detection.boxes": row("detection").get("boxes", 0),
        "geometry.crop_ms": ms("geometry"),
        "geometry.crops": row("geometry").get("crops", 0),
        "artefacts.ms": ms("artefacts"),
        "artefacts.gated": row("artefacts").get("gated", 0),
        "recognition.ms": ms("recognition"),
        "recognition.crops": reco.get("crops", 0),
        "recognition.repeat_word_share": reco.get("repeats", 0) / max(reco.get("crops", 0), 1),
        "builder.ms": ms("builder"),
        "builder.words": row("builder").get("words", 0),
        "html.ms": ms("html"),
        "html.turns": row("html").get("turns", 0),
        "html.bytes_in": row("html").get("bytes_in", 0),
        "trace.coverage": 1 - ms(tracer.BATCH) / stage_ms if stage_ms else 0.0,
    }


# ------------------------------------------------------------------ main


def environment(b: Bench, slices: list[workloads.Slice]) -> dict:
    import pyspark

    commit = "unknown"
    if (ROOT / ".git").exists():
        commit = subprocess.run(
            ["git", "-C", str(ROOT), "rev-parse", "HEAD"], capture_output=True, text=True, check=False
        ).stdout.strip() or "unknown"
    return {
        "nproc": os.cpu_count(),
        "spark_master": b.spark.sparkContext.master,
        "pyspark": pyspark.__version__,
        "java": b.spark.sparkContext._jvm.System.getProperty("java.version"),
        "python": platform.python_version(),
        "commit": commit,
        "input_fingerprint": workloads.input_fingerprint(slices),
        "slice_turns": [s.turns for s in slices],
    }


def run(args: argparse.Namespace, tmp: Path) -> tuple[dict, dict, int, int]:
    import doctr_spark  # noqa: F401  the program under test, from this checkout

    w = workloads.WORKLOADS[args.workload]
    if args.trace:
        n_slices = 5 if w.fresh_slices else 2
    else:
        n_slices = 1 + MIN_PASSES if w.fresh_slices else 2
    t0 = time.perf_counter()
    slices = workloads.prepare(w.name, args.seed, n_slices, WORK / "cache", CORES)
    gen_s = time.perf_counter() - t0

    probe = HostProbe(CORES)
    b = Bench(w, slices, tmp, probe)
    try:
        probe.sample()
        launch, cycles = b.setup()
        record = {"workload": w.name, "seed": args.seed, "trace": args.trace, "generate_s": gen_s,
                  "launch_s": launch, "setup_cycles": cycles}
        record["env"] = environment(b, slices)
        if args.trace:
            metrics, detail = traced_section(b, WORK / "traces" / f"{w.name}-seed{args.seed}")
            metrics["session.start_s"] = statistics.median(c["session_start_s"] for c in cycles)
            record.update(detail)
        else:
            passes = timed_section(b, args.seconds)
            rss = worker_peak_rss_mb()
            record["passes"] = passes
        b.stop()
        attempted, failed = b.verify()
        probe.sample()
    finally:
        b.stop()
        probe.close()
    host_ms = statistics.median(probe.samples)
    record["env"]["host_ref_ms"] = {"start": probe.samples[0], "end": probe.samples[-1], "median": host_ms}
    if args.trace:
        metrics["host.ref_ms"] = host_ms
    else:
        metrics = end_to_end_metrics(passes, cycles, host_ms, rss, 1 - failed / attempted)
    return metrics, record, attempted, failed


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(workloads.WORKLOADS))
    ap.add_argument("--seed", type=int, default=0)
    ap.add_argument("--seconds", type=float, default=10.0)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)
    # a terminated run still stops the JVM, waits for every process it
    # started and removes its directory
    signal.signal(signal.SIGTERM, lambda signum, frame: sys.exit(128 + signum))
    become_subreaper()

    tmp = WORK / f"run-{os.getpid()}"
    shutil.rmtree(tmp, ignore_errors=True)
    tmp.mkdir(parents=True)
    # everything Spark, the JVM and the workers write stays in the checkout;
    # workers import perfbench and doctr_spark from it
    os.environ.update({
        "TMPDIR": str(tmp),
        "SPARK_LOCAL_DIRS": str(tmp / "spark-local"),
        "PYTHONPATH": os.pathsep.join(filter(None, [str(ROOT), os.environ.get("PYTHONPATH")])),
    })
    try:
        metrics, record, attempted, failed = run(args, tmp)
    except Exception:
        traceback.print_exc()
        return 1
    finally:
        reap_children()
        shutil.rmtree(tmp, ignore_errors=True)
    units = PER_LAYER if args.trace else END_TO_END
    record["metrics"] = metrics
    print(json.dumps({"record": record}, default=float))
    print(json.dumps({
        "correct": failed == 0,
        "attempted": attempted,
        "failed": failed,
        "metrics": {k: {"value": float(metrics[k]), "unit": u} for k, u in units.items()},
    }))
    return 0 if failed == 0 else 1


if __name__ == "__main__":
    sys.exit(main())
