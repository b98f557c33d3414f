"""Transient/permanent retry taxonomy (the reference's RetryConfig +
is_transient/is_permanent split, src/retry.rs:36-62, src/error.rs:221-245)."""

from __future__ import annotations

import os

import pytest

from pg_walstream_spark.protocol.pyparser import ProtocolError
from pg_walstream_spark.retry import (
    PermanentError,
    RetryConfig,
    RetryExhausted,
    TransientError,
    classify_error,
    retry_call,
)


def test_classification_mirrors_reference_split():
    # reference is_transient: Io / TransientConnection / Timeout / Backend
    assert classify_error(OSError("disk io")) == "transient"
    assert classify_error(TimeoutError("read timeout")) == "transient"
    assert classify_error(ConnectionResetError("reset")) == "transient"
    assert classify_error(TransientError("backend hiccup")) == "transient"
    assert classify_error(
        Exception("Py4JJavaError: ExecutorLostFailure slave lost")
    ) == "transient"
    assert classify_error(
        Exception("FetchFailed: shuffle block missing")
    ) == "transient"
    # reference is_permanent: PermanentConnection / Authentication / Slot
    assert classify_error(PermanentError("bad slot")) == "permanent"
    assert classify_error(ProtocolError("truncated tuple")) == "permanent"
    assert classify_error(
        Exception("AnalysisException: column not found")
    ) == "permanent"
    # unknown errors must NOT retry (only enumerated failures do)
    assert classify_error(ValueError("who knows")) == "permanent"


def test_retry_transient_then_succeed():
    calls = {"n": 0}
    naps = []

    def fn():
        calls["n"] += 1
        if calls["n"] < 3:
            raise TransientError(f"flake {calls['n']}")
        return "ok"

    cfg = RetryConfig(max_attempts=5, initial_delay_s=0.01, jitter=False)
    out = retry_call(fn, cfg, sleep=naps.append)
    assert out == "ok" and calls["n"] == 3
    assert len(naps) == 2 and naps[1] == pytest.approx(0.02)


def test_permanent_raises_immediately():
    calls = {"n": 0}

    def fn():
        calls["n"] += 1
        raise ProtocolError("garbage frame")

    with pytest.raises(ProtocolError):
        retry_call(fn, RetryConfig(max_attempts=5, initial_delay_s=0.01),
                   sleep=lambda _: None)
    assert calls["n"] == 1


def test_budget_exhaustion():
    def fn():
        raise TransientError("always")

    cfg = RetryConfig(max_attempts=3, initial_delay_s=0.001, jitter=False)
    with pytest.raises(RetryExhausted) as ei:
        retry_call(fn, cfg, sleep=lambda _: None)
    assert ei.value.attempts == 3
    assert isinstance(ei.value.last, TransientError)


def test_backoff_delays_capped_and_monotone():
    cfg = RetryConfig(max_attempts=6, initial_delay_s=1.0, max_delay_s=4.0,
                      multiplier=2.0, jitter=False)
    ds = list(cfg.delays())
    assert ds == [1.0, 2.0, 4.0, 4.0, 4.0]


def test_engine_replay_retries_transient_batches(spark, tmp_path,
                                                 monkeypatch):
    """A batch whose first two apply attempts fail transiently must still
    land exactly once (the LSN fence absorbs any partial first attempt),
    and the retry shows up in the replay record."""
    from pg_walstream_spark.engine import ReplayEngine
    from pg_walstream_spark.fixtures import wal_gen as wg
    from pg_walstream_spark.golden import golden_final_state

    base, b = wg.gen_basic(n_base=20, n_txns=4, ops_per_txn=3)
    frames = b.to_table()
    fd = os.path.join(str(tmp_path), "frames")
    wg.write_frames(frames, fd)
    eng = ReplayEngine(
        spark, os.path.join(str(tmp_path), "wh"),
        retry_config=RetryConfig(max_attempts=4, initial_delay_s=0.001,
                                 jitter=False),
    )
    bp = os.path.join(str(tmp_path), "base.parquet")
    wg.write_base(base, bp)
    eng.bootstrap_table("repos", spark.read.parquet(bp), ["repo", "path"], 4)

    real = ReplayEngine.process_batch
    fails = {"n": 0}

    def flaky(self, *a, **kw):
        if fails["n"] < 2:
            fails["n"] += 1
            raise OSError("simulated fs hiccup")
        return real(self, *a, **kw)

    monkeypatch.setattr(ReplayEngine, "process_batch", flaky)
    out = eng.replay_frames(fd)
    assert out["batches"] == 1
    assert len(out["records"][0]["retries"]) == 2
    grows, glsn = golden_final_state({"repos": base}, frames, "repos")
    got = sorted((r["repo"], r["path"], r["content"])
                 for r in eng.table("repos").read(spark).collect())
    want = sorted((r["repo"], r["path"], r["content"]) for r in grows)
    assert got == want
    assert eng.table("repos").applied_lsn() == glsn


def test_retry_after_state_update_restarts_from_batch_start(spark, tmp_path):
    """A transient failure after a batch has updated the in-memory engine
    state (here: snapshot expiry, which runs after the state save) must
    retry the batch from the state it began with. Retrying on top of the
    batch's end state replays its frames against their own open-txn carry
    and loses the rows of the transaction the batch cut."""
    from pg_walstream_spark.engine import ReplayEngine
    from pg_walstream_spark.fixtures import wal_gen as wg
    from pg_walstream_spark.golden import golden_final_state

    base, b = wg.gen_basic(n_base=40, n_txns=4, ops_per_txn=30)
    frames = b.to_table()
    fd = os.path.join(str(tmp_path), "frames")
    wg.write_frames(frames, fd)
    calls = {"n": 0}

    class FlakyExpiry(ReplayEngine):
        def _maybe_expire(self, batch_idx):
            calls["n"] += 1
            if calls["n"] == 2:
                raise OSError("simulated fs hiccup after the state save")

    eng = FlakyExpiry(
        spark, os.path.join(str(tmp_path), "wh"),
        retry_config=RetryConfig(max_attempts=3, initial_delay_s=0.001,
                                 jitter=False),
    )
    bp = os.path.join(str(tmp_path), "base.parquet")
    wg.write_base(base, bp)
    eng.bootstrap_table("repos", spark.read.parquet(bp), ["repo", "path"], 8)
    out = eng.replay_frames(fd, batch_frames=25)
    assert [bool(r.get("retries")) for r in out["records"]][:2] == [
        False, True]
    grows, glsn = golden_final_state({"repos": base}, frames, "repos")
    got = sorted((r["repo"], r["path"], r["content"])
                 for r in eng.table("repos").read(spark).collect())
    want = sorted((r["repo"], r["path"], r["content"]) for r in grows)
    assert got == want
    assert eng.table("repos").applied_lsn() == glsn


def test_engine_replay_fails_fast_on_permanent(spark, tmp_path, monkeypatch):
    from pg_walstream_spark.engine import ReplayEngine
    from pg_walstream_spark.fixtures import wal_gen as wg

    base, b = wg.gen_basic(n_base=10, n_txns=2, ops_per_txn=2)
    fd = os.path.join(str(tmp_path), "frames")
    wg.write_frames(b.to_table(), fd)
    eng = ReplayEngine(spark, os.path.join(str(tmp_path), "wh"))
    bp = os.path.join(str(tmp_path), "base.parquet")
    wg.write_base(base, bp)
    eng.bootstrap_table("repos", spark.read.parquet(bp), ["repo", "path"], 4)

    calls = {"n": 0}

    def corrupt(self, *a, **kw):
        calls["n"] += 1
        raise ProtocolError("frame stream corrupt")

    monkeypatch.setattr(ReplayEngine, "process_batch", corrupt)
    with pytest.raises(ProtocolError):
        eng.replay_frames(fd)
    assert calls["n"] == 1  # no retry burn on an unrecoverable stream


def test_classify_walks_cause_chain():
    """The common Spark wrapper shape — `SparkException: Exception thrown
    in awaitResult:` whose TimeoutException lives only in the cause — must
    classify transient (root-cause-only matching would call it permanent
    and kill the stream on a recoverable hiccup)."""
    from pg_walstream_spark.retry import classify_error

    try:
        try:
            raise TimeoutError("Futures timed out after [300 seconds]")
        except TimeoutError as t:
            raise RuntimeError("Exception thrown in awaitResult:") from t
    except RuntimeError as e:
        assert classify_error(e) == "transient"


def test_classify_ignores_implicit_context_chain():
    """An unrelated exception that was merely in flight when the real
    error was raised (implicit __context__, no `raise ... from`) must not
    inject transient/permanent markers into the classification — only
    explicit __cause__ chains are walked (ADVICE r4, retry.py)."""
    from pg_walstream_spark.retry import classify_error

    try:
        try:
            raise ValueError("connection reset by peer")  # transient text
        except ValueError:
            raise RuntimeError("unrecognized engine failure")
    except RuntimeError as e:
        assert e.__context__ is not None and e.__cause__ is None
        assert classify_error(e) == "permanent"
