"""`corpus_curate`: the LLM-data gates as a closed loop with one client.

Each round runs the seven curation and ANN gates once, in an order the
seed permutes. A gate call is build (the query function, including its
eager driver-side work: checkpoints, collects, model fits) then exec (a
`noop` write of the returned frame, which plans and runs its jobs). A
traced run adds a plan layer between the two: Catalyst analysis,
optimization and physical planning of the returned frame, timed apart
from the write, which plans again. Untraced calls skip it, so the
end-to-end figures hold no planning pass the program would not make.

Set-up writes the seeded tables and runs one round, outside the window, that collects
every gate and compares it with its DuckDB oracle; that round is also the
JIT warm-up.
"""

from __future__ import annotations

import random
import statistics
import time
from dataclasses import dataclass

from perfbench import host, oracle
from perfbench.common import Outcome, RunContext, quantile
from perfbench.data import write_gate_tables

GATES = [
    "corpus_clean_pipeline",
    "corpus_curation_pipeline",
    "corpus_training_set_pipeline",
    "corpus_pipeline_audit",
    "ann_cosine_topk_vectorized",
    "ann_ivf_topk",
    "ann_ivfpq_topk",
]
PARTS = ["build", "plan", "exec", "analysis", "optimization", "planning"]
# per-round layer totals: the sum over gates of each gate's mean
LAYER_KEYS = {
    "queries.build_s": "build",
    "queries.plan_s": "plan",
    "plan.analysis_s": "analysis",
    "plan.optimization_s": "optimization",
    "plan.planning_s": "planning",
    "queries.exec_s": "exec",
}
LAYER_UNITS = {**dict.fromkeys(LAYER_KEYS, "s"), **{f"gate.{g}.s": "s" for g in GATES}}


@dataclass(frozen=True)
class Sizes:
    n_docs: int = 500
    n_vectors: int = 500


def registry():
    from pos_dlt_spark.queries import REGISTRY
    import pos_dlt_spark.queries_corpus  # noqa: F401  (registers corpus gates)
    import pos_dlt_spark.queries_ml  # noqa: F401  (registers ANN and curation gates)

    return REGISTRY


def plan_phases(df) -> dict[str, float]:
    """Force physical planning of `df` and return Catalyst's phase times
    (seconds) from the query execution's tracker."""
    qe = df._jdf.queryExecution()
    qe.executedPlan()
    phases = qe.tracker().phases()
    out = {}
    for name in ("analysis", "optimization", "planning"):
        opt = phases.get(name)
        out[name] = opt.get().durationMs() / 1000 if opt.isDefined() else 0.0
    return out


def run(ctx: RunContext, sizes: Sizes = Sizes()) -> Outcome:
    out = Outcome()
    spark, tracer = ctx.spark, ctx.tracer
    reg = registry()
    data = f"{ctx.work}/gate_tables"
    rng = random.Random(ctx.seed)

    # -- set-up: table generation, then the oracle round -----------------
    t = time.perf_counter()
    with tracer.span("setup"):
        write_gate_tables(data, ctx.seed, sizes.n_docs, sizes.n_vectors)
    gen = time.perf_counter() - t
    con = oracle.duckdb_tables(data, ["documents", "embeddings"])
    warm = 0.0
    try:
        for name in rng.sample(GATES, len(GATES)):
            out.attempted += 1
            try:
                t = time.perf_counter()
                got = reg[name].fn(spark, data).toPandas()
                warm += time.perf_counter() - t
                errs = oracle.frame_errors(got, con.execute(reg[name].oracle).fetchdf())
                if errs:
                    out.fail(f"{name} oracle: " + "; ".join(errs))
            except Exception as exc:
                out.fail(name, exc)
    finally:
        con.close()

    # -- the measured window: gate calls back to back, round after round;
    # none starts after the deadline unless the first round is incomplete,
    # so the window overruns by at most one gate call -------------------
    calls: dict[str, list[float]] = {g: [] for g in GATES}
    parts: dict[str, dict[str, list[float]]] = {g: {p: [] for p in PARTS} for g in GATES}
    rounds: list[float] = []
    host.reset_peak_rss()
    t0 = time.time()
    deadline = t0 + ctx.seconds
    while time.time() < deadline or not rounds:
        r0 = time.perf_counter()
        for name in rng.sample(GATES, len(GATES)):
            if rounds and time.time() >= deadline:
                break
            out.attempted += 1
            try:
                with tracer.span("gate", gate=name):
                    g0 = time.perf_counter()
                    with tracer.span("queries.build"):
                        df = reg[name].fn(spark, data)
                    g1 = time.perf_counter()
                    phases = {}
                    if tracer.enabled:
                        with tracer.span("queries.plan"):
                            phases = plan_phases(df)
                    g2 = time.perf_counter()
                    with tracer.span("queries.exec"):
                        df.write.format("noop").mode("overwrite").save()
                    g3 = time.perf_counter()
            except Exception as exc:
                out.fail(name, exc)
                continue
            calls[name].append(g3 - g0)
            for p, v in zip(("build", "plan", "exec"), (g1 - g0, g2 - g1, g3 - g2)):
                parts[name][p].append(v)
            for p, v in phases.items():
                parts[name][p].append(v)
        else:  # a complete round
            rounds.append(time.perf_counter() - r0)
    window_end = time.time()
    driver_rss = host.peak_rss_mb()

    gate_s = {g: statistics.median(v) for g, v in calls.items() if v}
    all_calls = [v for vs in calls.values() for v in vs]
    out.window, out.n_ops = (t0, window_end), len(all_calls) / len(GATES)
    out.metrics = {
        "setup_s": (gen + warm, "s"),
        # one operation is a round, one call of each gate, taken as the
        # sum of the per-gate medians
        "op_s.p50": (sum(gate_s.values()), "s"),
        # one client waiting on each round: a round's latency is its wall
        # time, taken over the complete rounds
        "latency_s.p50": (quantile(rounds, 0.5), "s"),
        # the Python driver's peak resident set within the window
        "driver_rss_mb.peak": (driver_rss, "MB"),
    }
    out.detail = {
        "rounds": len(rounds),
        "gate_s.p50": quantile(all_calls, 0.5),
        "gate_calls": len(all_calls),
        "gate_s.p90": quantile(all_calls, 0.9),
        "setup_gen_s": gen,
        "setup_warm_round_s": warm,
        "sizes": sizes.__dict__,
    }
    if tracer.enabled:
        out.layers = {
            key: sum(statistics.fmean(parts[g][p]) for g in GATES if parts[g][p])
            for key, p in LAYER_KEYS.items()
        }
        out.layers.update({f"gate.{g}.s": v for g, v in gate_s.items()})
    return out
