"""`pos_live`: the POS pipeline as a continuous medallion pipeline on Delta
storage, fed by an open loop.

Set-up generates a seeded history, backfills it, and stages the event
files and snapshot CSVs that arrive later. During the run a lander thread
renames one staged event file into `events/` every `interval_s` seconds
(the first landing, and every `SNAPSHOT_EVERY`-th after it, also drops a
snapshot file) while the main thread runs `run_once` back to back. Each
update carries a few small files, so the per-update fixed cost dominates:
runner orchestration, stream start and commit, the Delta log, and the dims
and gold recomputes.

Freshness of a file runs from its scheduled land time to the end of the
first update that started after it landed.
"""

from __future__ import annotations

import glob
import json
import os
import shutil
import statistics
import threading
import time
from dataclasses import dataclass

from pos_dlt_spark.generator import PosFixtures
from pos_dlt_spark.pipeline import PipelineRunner
from pos_dlt_spark.pos_pipeline import build_pos_pipeline

from perfbench import host, oracle
from perfbench.common import Outcome, RunContext, quantile
from perfbench.trace import STREAM_UNITS, ProgressListener, dir_diff, dir_files, stream_metrics

# pipeline table -> the layer that computes it
FLOW_LAYER = {
    "store": "sources.csv",
    "item": "sources.csv",
    "inventory_change_type": "sources.csv",
    "raw_inventory_change": "sources.text_stream",
    "inventory_snapshot": "sources.files",
    "inventory_change": "operators.silver",
    "latest_inventory_snapshot": "operators.cdc",
    "inventory_current": "operators.gold",
}
LAYERS = sorted(set(FLOW_LAYER.values()))
LAYER_UNITS = {
    **{f"{name}.self_s": "s" for name in LAYERS + ["pipeline.runner"]},
    **{f"{name}.rows": "rows" for name in LAYERS},
    **STREAM_UNITS,
    "sources.delta.commits": "count",
    "storage.bytes_written": "bytes",
    "storage.files_written": "count",
}
# A snapshot landing roughly doubles that update (CDC merge). It lands with
# the first file of the window, whose update also pays the pipeline's
# first-incremental-update cost, and then once per 20 files (16 s at the
# default rate, so once in a 15 s run): every other update is a plain one,
# and the median update is a plain one whenever a window holds three.
SNAPSHOT_EVERY = 20
# days of history the generator spreads the transactions over
DAYS = 30


@dataclass(frozen=True)
class Sizes:
    n_items: int = 200
    n_trans: int = 4000
    history_files: int = 60
    # one event file lands per interval. On a quiet 4-core host an update
    # costs about 0.16 s per new file on top of its fixed cost; at this
    # rate the backlog stays flat even when a busy host makes every update
    # three times slower (at 0.5 s it then grows without bound)
    interval_s: float = 0.8
    setups: int = 3


class Lander(threading.Thread):
    """Moves staged files into the pipeline's input directories on a fixed
    schedule, whatever the pipeline is doing (an open loop)."""

    def __init__(self, events, snaps, events_dir, snaps_dir, interval, t0, t_end):
        super().__init__(name="lander", daemon=True)
        self.events, self.snaps = list(events), list(snaps)
        self.events_dir, self.snaps_dir = events_dir, snaps_dir
        self.interval = interval
        self.t0, self.t_end = t0, t_end
        self.landings: list[tuple[float, float, int]] = []  # (due, landed, files)
        self._halt = threading.Event()

    def run(self) -> None:
        # the first file is due at the start, so the first update has data
        for k, path in enumerate(self.events):
            due = self.t0 + k * self.interval
            if due > self.t_end or self._halt.wait(max(0.0, due - time.time())):
                return
            files = [land(path, self.events_dir)]
            if k % SNAPSHOT_EVERY == 0 and self.snaps:
                files.append(land(self.snaps.pop(0), self.snaps_dir))
            self.landings.append((due, time.time(), len(files)))

    def stop(self) -> list[tuple[float, float, int]]:
        """Stop landing; the landings list is read only after the join."""
        self._halt.set()
        self.join()
        return self.landings


def land(path: str, into: str) -> str:
    dest = os.path.join(into, os.path.basename(path))
    os.rename(path, dest)
    os.utime(dest)
    return dest


def prepare(root: str, seed: int, sizes: Sizes, n_live: int):
    """Generate the history plus `n_live` later event files and move the
    later files, and the newest recount files that land with them (one per
    `SNAPSHOT_EVERY` event files, the first with the first), into
    `root/staged`."""
    fx = PosFixtures(
        os.path.join(root, "in"),
        n_items=sizes.n_items,
        n_trans=sizes.n_trans,
        n_event_files=sizes.history_files + n_live,
        seed=seed,
        days=DAYS,
    ).generate()
    staged = os.path.join(root, "staged")
    os.makedirs(staged)
    events = sorted(glob.glob(os.path.join(fx.root, "events", "*.json")))[sizes.history_files :]
    # the generator's last snapshot file is an out-of-order older recount;
    # it stays in the history. Staging no more recounts than the lander
    # drops keeps the final update a plain one.
    regular = sorted(glob.glob(os.path.join(fx.root, "snapshots", "*.csv")))[:-1]
    n_snaps = min(-(-n_live // SNAPSHOT_EVERY), len(regular))
    snaps = regular[len(regular) - n_snaps :]
    return fx, [land(p, staged) for p in events], [land(p, staged) for p in snaps]


def read_gold(spark, pipe):
    return pipe.read(spark, "inventory_current").toPandas()


def run(ctx: RunContext, sizes: Sizes = Sizes()) -> Outcome:
    out = Outcome()
    spark, tracer = ctx.spark, ctx.tracer
    n_live = int(ctx.seconds / sizes.interval_s) + 2

    # -- set-up, repeated; the median is the reported set-up time --------
    setup_times, state = [], None
    for k in range(sizes.setups):
        if state is not None:
            shutil.rmtree(state[0], ignore_errors=True)
        root = os.path.join(ctx.work, f"pos{k}")
        t = time.perf_counter()
        with tracer.span("setup", k=k):
            fx, staged_events, staged_snaps = prepare(root, ctx.seed, sizes, n_live)
            pipe = build_pos_pipeline(
                os.path.join(root, "storage"), fx.root, storage_format="delta"
            )
            runner = PipelineRunner(pipe)
            runner.run_once(spark)
        setup_times.append(time.perf_counter() - t)
        state = (root, fx, staged_events, staged_snaps, pipe, runner)
    root, fx, staged_events, staged_snaps, pipe, runner = state
    storage = os.path.join(root, "storage")

    if tracer.enabled:
        run_table = runner.run_table

        def traced_run_table(spark_, name):
            with tracer.span(FLOW_LAYER[name], table=name):
                run_table(spark_, name)

        runner.run_table = traced_run_table
        listener = ProgressListener()
        spark.streams.addListener(listener)

    # -- the measured window ---------------------------------------------
    t0 = time.time()
    t_end = t0 + ctx.seconds
    lander = Lander(
        staged_events, staged_snaps,
        os.path.join(fx.root, "events"), os.path.join(fx.root, "snapshots"),
        sizes.interval_s, t0, t_end,
    )
    updates: list[tuple[float, float]] = []
    storage_diffs = []
    host.reset_peak_rss()
    lander.start()
    try:
        while time.time() < t_end:
            before = dir_files(storage) if tracer.enabled else None
            start = time.time()
            out.attempted += 1
            try:
                with tracer.span("pipeline.runner"):
                    runner.run_once(spark)
                updates.append((start, time.time()))
            except Exception as exc:  # an update that raises is a failed op
                out.fail("update", exc)
            if before is not None:
                storage_diffs.append(dir_diff(before, dir_files(storage)))
    finally:
        landings = lander.stop()
    window_end = time.time()
    driver_rss = host.peak_rss_mb()

    # -- freshness and backlog --------------------------------------------
    freshness, late = [], []
    for due, landed, _ in landings:
        late.append(landed - due)
        ends = [e for s, e in updates if s >= landed]
        if ends:
            freshness.append(min(ends) - due)
    backlog, prev = [], float("-inf")
    for s, _ in updates:
        backlog.append(sum(n for _, landed, n in landings if prev < landed <= s))
        prev = s

    times = [e - s for s, e in updates]
    if not times or not freshness:
        raise RuntimeError(
            f"window of {ctx.seconds}s gave {len(times)} updates and {len(freshness)} "
            "freshness samples; run longer"
        )
    out.window, out.n_ops = (t0, window_end), len(times)
    out.metrics = {
        "setup_s": (statistics.median(setup_times), "s"),
        "op_s.p50": (quantile(times, 0.5), "s"),
        "latency_s.p50": (quantile(freshness, 0.5), "s"),
        # the Python driver's peak resident set within the window
        "driver_rss_mb.peak": (driver_rss, "MB"),
    }
    out.detail = {
        "setup_s.all": setup_times,
        "update_s.p50": quantile(times, 0.5),
        "update_s.p90": quantile(times, 0.9),
        "update_s.mean": statistics.fmean(times),
        "freshness_s.p50": quantile(freshness, 0.5),
        "freshness_s.p90": quantile(freshness, 0.9),
        "lander_late_s.max": max(late, default=0.0),
        "backlog_files.max": max(backlog, default=0),
        "update_s.all": times,
        "backlog_files.all": backlog,
        "updates": len(times),
        "landings": len(landings),
        "freshness_samples": len(freshness),
        "rate_files_per_s": 1.0 / sizes.interval_s,
        "sizes": sizes.__dict__,
        "snapshot_every": SNAPSHOT_EVERY,
    }
    if tracer.enabled:
        time.sleep(0.5)  # listener delivery is asynchronous
        spark.streams.removeListener(listener)
        runner.run_table = run_table
        out.layers = pipeline_layers(
            ctx, pipe, len(times), storage_diffs, listener.drain(t0, time.time()), t0, window_end
        )

    # -- final update over every remaining staged file, then the check ----
    for p in staged_events[len(landings):]:
        land(p, os.path.join(fx.root, "events"))
    for p in lander.snaps:
        land(p, os.path.join(fx.root, "snapshots"))
    out.attempted += 1
    try:
        runner.run_once(spark)
        errs = oracle.gold_errors(read_gold(spark, pipe), fx)
        if errs:
            out.fail("gold check: " + "; ".join(errs))
    except Exception as exc:
        out.fail("final update", exc)
    return out


def pipeline_layers(ctx, pipe, n_updates, storage_diffs, progress, t0, t1) -> dict:
    """Per-update self time and rows of each flow layer, the runner's own
    time, streaming phases, and storage writes."""
    tracer, n = ctx.tracer, max(n_updates, 1)
    own = tracer.self_times()
    self_s = dict.fromkeys(LAYERS + ["pipeline.runner"], 0.0)
    for s in tracer.spans:
        if s["name"] in self_s and t0 <= s["start"] <= t1:
            self_s[s["name"]] += own[s["id"]] / n
    rows = dict.fromkeys(LAYERS, 0.0)
    log = pipe.event_log(ctx.spark).filter(
        f"event_type = 'flow_complete' AND ts >= {t0} AND ts <= {t1}"
    )
    for r in log.select("table_name", "details").collect():
        d = json.loads(r["details"])
        rows[FLOW_LAYER[r["table_name"]]] += (d.get("rows_written", d.get("num_source_rows")) or 0) / n

    layers = {f"{k}.self_s": v for k, v in self_s.items()}
    layers.update({f"{k}.rows": v for k, v in rows.items()})
    layers.update(stream_metrics(progress, n))
    m = max(len(storage_diffs), 1)
    layers["sources.delta.commits"] = sum(d["delta_commits"] for d in storage_diffs) / m
    layers["storage.bytes_written"] = sum(d["bytes"] for d in storage_diffs) / m
    layers["storage.files_written"] = sum(d["files"] for d in storage_diffs) / m
    return layers
