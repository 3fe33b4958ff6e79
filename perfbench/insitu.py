"""In-situ workload: simulation ranks stream per-timestep chunks through
``SparkBridge`` into an ``InSituEngine``; a windowed callback analyzes
each step and publishes one feedback value.

The loop is closed and lockstep, in this one process: the simulation
sends K timesteps, then waits for one ``drain_available`` pass before
sending more (an enforced ``max_simulation_ahead=K``). An operation is
one timestep, from the end of its sends to the return of its callback.
"""

from __future__ import annotations

import os
import time
from dataclasses import dataclass, field

import numpy as np

from perfbench import checks
from perfbench.spans import Tracer, growth, median, self_times


@dataclass(frozen=True)
class Shape:
    ranks: tuple[int, int]  # rank grid
    chunk: tuple[int, int]  # per-rank chunk shape (float64)
    arrays: tuple[str, ...]
    window: int  # callback window size W
    k: int  # timesteps per drain pass
    reduce_every: int  # distributed mean/std of the first array every this many steps
    warmup_rounds: int

    @property
    def global_shape(self) -> tuple[int, int]:
        return (self.ranks[0] * self.chunk[0], self.ranks[1] * self.chunk[1])

    @property
    def lag(self) -> int:
        # The control plane closes a step only when a newer one
        # assembles, so a pass after step t dispatches up to t-1; the
        # newest step dispatched before step t's own pass is t-K-1.
        return self.k + 1


# K is odd: step latency depends on the step's place in its round, so
# the K places form K groups of equal size, and with K odd the median
# lands inside the middle group instead of between two groups.
# The warm-up is the first 35 steps of the same stream. Spark lists a
# directory with more than 32 subdirectories (one per timestep here)
# through a Spark job instead of on the driver, which makes every pass
# after step 32 slower at once; starting the timed phase past that point
# keeps the jump out of it, so that a run's figures do not depend on
# how many of its rounds fell on either side.
FEEDBACK_LOOP = Shape(
    ranks=(3, 3), chunk=(32, 32), arrays=("a", "b"), window=3, k=7,
    reduce_every=25, warmup_rounds=5,
)


def field_at(shape: Shape, seed: int, arr_index: int, t: int) -> np.ndarray:
    """The global array ``arr_index`` at step ``t``, from the seed alone."""
    rng = np.random.default_rng([seed, arr_index, t])
    return rng.standard_normal(shape.global_shape)


@dataclass
class Record:
    """What the benchmark observed of the stream."""

    send_end: dict[int, float] = field(default_factory=dict)
    cb_end: dict[int, float] = field(default_factory=dict)
    dispatched: list[int] = field(default_factory=list)
    windows: dict[int, dict[str, list[int]]] = field(default_factory=dict)
    published: dict[int, float] = field(default_factory=dict)
    means: dict[int, float] = field(default_factory=dict)
    stds: dict[int, float] = field(default_factory=dict)
    reads: list[tuple[int, object]] = field(default_factory=list)
    payload_bytes: int = 0
    assembled_bytes: int = 0  # newest frame of each array, once per step
    last_t: int = -1


class Stream:
    """The simulation's bridges and the engine, over fresh directories."""

    def __init__(self, spark, shape: Shape, seed: int, root: str, tracer: Tracer) -> None:
        from deisa_ray_spark.streaming.bridge import SparkBridge, metadata_for_grid
        from deisa_ray_spark.streaming.engine import ArrayWindow, InSituEngine

        self.shape, self.seed, self.tr = shape, seed, tracer
        self.chunk_dir = os.path.join(root, "chunks")
        self.feedback_dir = os.path.join(root, "feedback")
        self.checkpoint = os.path.join(root, "checkpoint")
        px, py = shape.ranks
        self.bridges = [
            SparkBridge(
                i * py + j,
                metadata_for_grid(shape.arrays, shape.global_shape, shape.chunk, (i, j)),
                self.chunk_dir,
                self.feedback_dir,
            )
            for i in range(px)
            for j in range(py)
        ]
        self.engine = InSituEngine(spark, self.chunk_dir, self.feedback_dir)
        self.engine.register_callback(
            self._callback, *(ArrayWindow(a, shape.window) for a in shape.arrays)
        )
        self.rec = Record()

    # -- analytics side ---------------------------------------------------

    def _callback(self, **windows) -> None:
        shape, tr, rec = self.shape, self.tr, self.rec
        newest = windows[shape.arrays[0]][-1]
        t = newest.t
        with tr.span("callback", t):
            rec.dispatched.append(t)
            rec.windows[t] = {a: [f.t for f in w] for a, w in windows.items()}
            total = 0.0
            for a in shape.arrays:
                frames = windows[a]
                with tr.span("frame.to_numpy", t):
                    cur = frames[-1].to_numpy()
                rec.assembled_bytes += cur.nbytes
                total += float(cur.sum())
            if t % shape.reduce_every == 0:
                with tr.span("frame.reduce", t):
                    rec.means[t] = newest.mean().compute()
                with tr.span("frame.reduce", t):
                    rec.stds[t] = newest.std().compute()
            rec.published[t] = total
            with tr.span("feedback.set", t):
                self.engine.set("total", total, t)
        rec.cb_end[t] = time.perf_counter()

    # -- simulation side --------------------------------------------------

    def _step(self, t: int) -> None:
        shape, tr, rec = self.shape, self.tr, self.rec
        cx, cy = shape.chunk
        fields = [field_at(shape, self.seed, k, t) for k in range(len(shape.arrays))]
        for b in self.bridges:
            i, j = b.metadata[shape.arrays[0]]["chunk_position"]
            for name, g in zip(shape.arrays, fields):
                chunk = g[i * cx : (i + 1) * cx, j * cy : (j + 1) * cy]
                with tr.span("bridge.send", t):
                    b.send(name, chunk, t)
                rec.payload_bytes += chunk.nbytes
        rec.send_end[t] = time.perf_counter()
        rec.last_t = t
        read_t = t - shape.lag
        if read_t >= 0:
            with tr.span("bridge.get", t):
                v = self.bridges[0].get("total", read_t)
            rec.reads.append((read_t, v))

    def _drain(self) -> None:
        with self.tr.span("engine.drain", self.rec.last_t):
            self.engine.drain_available(self.checkpoint, max_files_per_trigger=None)

    def run_rounds(self, rounds: int | None = None, seconds: float | None = None) -> None:
        """Whole rounds of K steps plus one pass each, until ``rounds``
        are done or ``seconds`` have passed, continuing the stream."""
        start = time.perf_counter()
        n = 0
        while (rounds is not None and n < rounds) or (
            seconds is not None and time.perf_counter() - start < seconds
        ):
            for _ in range(self.shape.k):
                self._step(self.rec.last_t + 1)
            self._drain()
            n += 1

    def finish(self) -> None:
        """End-of-stream sentinel; its pass dispatches the final step."""
        self.bridges[0].close(self.rec.last_t)
        self._drain()

    # -- checks (after the stream has ended) --------------------------------

    def check(self) -> list[str]:
        shape, rec = self.shape, self.rec
        steps = list(range(rec.last_t + 1))
        errs = checks.check_dispatch_order(rec.dispatched, steps)
        errs += checks.check_windows(rec.windows, shape.window)
        sums, means, stds = {}, {}, {}
        for t in steps:
            gs = [field_at(shape, self.seed, k, t) for k in range(len(shape.arrays))]
            sums[t] = sum(float(g.sum()) for g in gs)
            if t % shape.reduce_every == 0:
                means[t] = float(gs[0].mean())
                stds[t] = float(gs[0].std())
        errs += checks.check_values(rec.published, sums, "feedback value", rel_tol=1e-12)
        errs += checks.check_feedback_reads(rec.reads, sums)
        errs += checks.check_values(rec.means, means, "mean", abs_tol=1e-9)
        errs += checks.check_values(rec.stds, stds, "std", rel_tol=1e-9)
        errs += checks.check_bytes(rec.payload_bytes, rec.assembled_bytes)
        return errs

    def layer_metrics(self) -> dict[str, float]:
        """Per-layer numbers from the spans of the timed phase, plus
        sizes read off the directories at the end of the run."""
        tr, rec = self.tr, self.rec
        sends = [s.duration for s in tr.named("bridge.send")]
        gets = [s.duration for s in tr.named("bridge.get")]
        drain_spans = tr.named("engine.drain")
        selfs = self_times(tr.spans)
        drains = [s.duration for s in drain_spans]
        to_np = [s.duration for s in tr.named("frame.to_numpy")]
        reduces = [s.duration for s in tr.named("frame.reduce")]
        _, disk = _tree_size(self.chunk_dir, lambda p: p.endswith(".parquet"))
        _, ckpt = _tree_size(self.checkpoint)
        fb_files, _ = _tree_size(self.feedback_dir, lambda p: p.endswith(".parquet"))
        _, sentinel_disk = _tree_size(
            self.chunk_dir, lambda p: p.endswith(".parquet") and "arr___" in p
        )
        return {
            "bridge.send_s": sum(sends),
            "bridge.send_ms_p50": 1e3 * median(sends),
            "bridge.disk_bytes_per_payload_byte": (disk - sentinel_disk) / rec.payload_bytes,
            "bridge.get_s": sum(gets),
            "bridge.get_ms_p50": 1e3 * median(gets),
            "engine.drain_s": sum(drains),
            "engine.drain_self_s": sum(selfs[s.id] for s in drain_spans),
            "engine.drain_ms_p50": 1e3 * median(drains),
            "engine.drain_growth": growth(drains[:-1]),
            "engine.files_per_drain": len(sends) / len(drain_spans),
            "engine.dispatches": float(len(tr.named("callback"))),
            "engine.checkpoint_bytes": float(ckpt),
            "frame.to_numpy_s": sum(to_np),
            "frame.to_numpy_mb_per_s": rec.assembled_bytes / 1e6 / sum(to_np) if to_np else 0.0,
            "frame.reduce_s": sum(reduces),
            "frame.reduce_ms_p50": 1e3 * median(reduces),
            "callback_s": sum(s.duration for s in tr.named("callback")),
            "feedback.set_s": sum(s.duration for s in tr.named("feedback.set")),
            "feedback.files": float(fb_files),
        }


def _tree_size(root: str, keep=lambda p: True) -> tuple[int, int]:
    files = size = 0
    for d, _dirs, names in os.walk(root):
        for n in names:
            p = os.path.join(d, n)
            if keep(p):
                files += 1
                size += os.path.getsize(p)
    return files, size


def run(run_ctx, shape: Shape, seed: int, seconds: float, tracer: Tracer, t_proc0: float):
    """Set-up (session + the stream's first ``warmup_rounds`` rounds),
    the timed rounds, the end of the stream, checks over all of it.

    Returns (setup_s, ops, failed, latencies_s, ops_per_s, errors, layers)."""
    with tracer.span("session.start"):
        spark = run_ctx.start_session()
    stream = Stream(spark, shape, seed, run_ctx.path("stream"), Tracer(False))
    with tracer.span("session.warmup"):
        stream.run_rounds(rounds=shape.warmup_rounds)
    setup_s = time.perf_counter() - t_proc0

    stream.tr = tracer
    first = stream.rec.last_t + 1
    t0 = time.perf_counter()
    stream.run_rounds(seconds=seconds)
    stream.finish()
    elapsed = time.perf_counter() - t0
    rec = stream.rec
    timed = range(first, rec.last_t + 1)
    latencies = [rec.cb_end[t] - rec.send_end[t] for t in timed if t in rec.cb_end]
    failed = sum(1 for t in timed if t not in rec.cb_end)
    errors = stream.check()
    layers = stream.layer_metrics() if tracer.enabled else {}
    return setup_s, len(timed), failed, latencies, len(latencies) / elapsed, errors, layers
