"""Stream expectation and row totals cover EVERY micro-batch, not only the
ones a query's ``recentProgress`` still holds. Spark keeps the last
``spark.sql.streaming.numRecentProgressUpdates`` entries (100 by
default); these tests lower it to 2, so a 12-batch stream meets the same
truncation a 101-batch stream meets at the default. The violations sit
in the first batch, which is the one a truncated list drops."""

import json
import os
import sys
import threading
from types import SimpleNamespace

import pytest

from pos_dlt_spark import pipeline
from pos_dlt_spark.pipeline import (
    ExpectationDef,
    ExpectationFailed,
    Pipeline,
    PipelineRunner,
)

N_FILES, ROWS, BAD = 12, 10, 3  # BAD violating rows, all in the first file
CASES = ["parquet_table", "delta_table", "append_flow"]


@pytest.fixture
def short_progress(spark):
    key = "spark.sql.streaming.numRecentProgressUpdates"
    old = spark.conf.get(key)
    spark.conf.set(key, "2")
    yield
    spark.conf.set(key, old)


def _pipe(tmp_path, case, action):
    src = str(tmp_path / "src")
    os.makedirs(src)
    for f in range(N_FILES):
        with open(os.path.join(src, f"{f:03d}.json"), "w") as fh:
            for i in range(ROWS):
                qty = -1 if f == 0 and i < BAD else 1
                fh.write(json.dumps({"id": f * ROWS + i, "qty": qty}) + "\n")

    def t(s):  # one file per micro-batch
        return (
            s.readStream.schema("id BIGINT, qty BIGINT")
            .option("maxFilesPerTrigger", "1")
            .json(src)
        )

    fmt = "delta" if case == "delta_table" else "parquet"
    pipe = Pipeline("totals", str(tmp_path / "p"), storage_format=fmt)
    if case == "append_flow":
        exp = ExpectationDef("positive_qty", "qty > 0", action)
        pipe.create_streaming_table("t", expectations=[exp])
        pipe.append_flow(target="t", name="f")(t)
    else:
        expect = {"drop": pipe.expect_or_drop, "fail": pipe.expect_or_fail}[action]
        pipe.table(kind="stream")(expect("positive_qty", "qty > 0")(t))
    return pipe


@pytest.mark.parametrize("case", CASES)
def test_drop_totals_cover_every_batch(spark, tmp_path, short_progress, case):
    pipe = _pipe(tmp_path, case, "drop")
    runner = PipelineRunner(pipe)
    runner.run_once(spark)
    flow = "t/flow_f" if case == "append_flow" else "t"
    commits = os.listdir(os.path.join(pipe.checkpoint_path(flow), "commits"))
    assert len([c for c in commits if not c.startswith(".")]) == N_FILES

    kept = N_FILES * ROWS - BAD
    label = "t:f" if case == "append_flow" else "t"
    m = runner.expectation_metrics[label]["positive_qty"]
    assert (m["passed"], m["failed"]) == (kept, BAD)
    done = [
        json.loads(r["details"])
        for r in pipe.event_log(spark).collect()
        if r["event_type"] == "flow_complete"
    ]
    assert done == [{"rows_written": kept}]
    assert pipe.read(spark, "t").count() == kept
    # every finished query's totals were taken off the listener
    assert not pipeline._flow_totals(spark)._sums


@pytest.mark.parametrize("case", CASES)
def test_fail_in_first_batch_raises(spark, tmp_path, short_progress, case):
    pipe = _pipe(tmp_path, case, "fail")
    with pytest.raises(ExpectationFailed) as ei:
        PipelineRunner(pipe).run_once(spark)
    assert ei.value.metrics["positive_qty"]["failed"] == BAD


def test_missing_terminated_event_raises(monkeypatch):
    monkeypatch.setattr(pipeline, "_TERMINATED_WAIT_S", 0.05)
    with pytest.raises(RuntimeError, match="QueryTerminatedEvent"):
        pipeline._FlowTotals().take("no-such-query")


class _JEvent:
    """The py4j shape of a JVM streaming listener event."""

    def __init__(self, qid, name=None, metrics=None):
        self._qid, self._name = qid, name
        self._json = json.dumps({"id": qid, "observedMetrics": metrics or {}})

    def id(self):
        return SimpleNamespace(toString=lambda: self._qid)

    def name(self):
        return self._name

    def progress(self):
        return SimpleNamespace(json=lambda: self._json)


def test_listener_totals_concurrent_progress():
    """Progress events arrive on listener threads while the runner waits
    in take(): no update is lost, and take() returns only once the
    terminated event (sent last, from another thread) has arrived."""
    totals = pipeline._FlowTotals()
    totals.onQueryStarted(_JEvent("q", name="pos_dlt:p:t"))
    totals.onQueryStarted(_JEvent("other"))
    n_threads, n_events = 8, 500
    progress = _JEvent("q", metrics={pipeline._ROWS_OBS: {"n": 1}, "user": {"n": 7}})

    def send():
        for _ in range(n_events):
            totals.onQueryProgress(progress)

    def run_query():
        senders = [threading.Thread(target=send) for _ in range(n_threads)]
        for t in senders:
            t.start()
        for t in senders:
            t.join(timeout=60)
        totals.onQueryTerminated(_JEvent("q"))
        totals.onQueryTerminated(_JEvent("other"))

    old = sys.getswitchinterval()
    sys.setswitchinterval(1e-6)
    try:
        query = threading.Thread(target=run_query)
        query.start()
        got = totals.take("q")
        query.join(timeout=60)
    finally:
        sys.setswitchinterval(old)
    assert not query.is_alive()
    assert got == {pipeline._ROWS_OBS: {"n": n_threads * n_events}}
    # untracked queries and names are never kept
    assert not totals._sums and not totals._done
