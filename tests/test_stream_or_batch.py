"""The streaming gate rows' fallback (streaming.stream_or_batch): a drain
that raises a StreamingQueryException, or returns nothing, is answered by
the batch twin with one logged warning — or raises under
NEURONDB_STRICT_STREAM=1. No Spark job runs here."""

import logging

import pytest
from pyspark.errors import StreamingQueryException

from neurondb_spark.streaming import stream_or_batch


def _raises():
    raise StreamingQueryException("boom")


def _batch():
    return "twin"


def _warnings(caplog):
    return [r for r in caplog.records
            if r.name == "neurondb_spark" and r.levelno == logging.WARNING]


@pytest.mark.parametrize("drain", [_raises, lambda: None, lambda: False],
                         ids=["raises", "none", "falsy"])
def test_non_strict_falls_back_with_one_warning(drain, monkeypatch, caplog):
    monkeypatch.delenv("NEURONDB_STRICT_STREAM", raising=False)
    with caplog.at_level(logging.WARNING, logger="neurondb_spark"):
        assert stream_or_batch("row_x", drain, _batch) == "twin"
    (w,) = _warnings(caplog)
    assert "row_x" in w.getMessage()


def test_strict_reraises_the_drain_failure(monkeypatch, caplog):
    monkeypatch.setenv("NEURONDB_STRICT_STREAM", "1")
    with pytest.raises(StreamingQueryException, match="boom"):
        stream_or_batch("row_x", _raises, _batch)
    assert not _warnings(caplog)


def test_strict_raises_on_an_empty_drain(monkeypatch, caplog):
    monkeypatch.setenv("NEURONDB_STRICT_STREAM", "1")
    with pytest.raises(RuntimeError, match="row_x"):
        stream_or_batch("row_x", lambda: None, _batch)
    assert not _warnings(caplog)


@pytest.mark.parametrize("strict", [None, "1"])
def test_a_drained_result_is_returned_untouched(strict, monkeypatch, caplog):
    if strict:
        monkeypatch.setenv("NEURONDB_STRICT_STREAM", strict)
    else:
        monkeypatch.delenv("NEURONDB_STRICT_STREAM", raising=False)
    batch_calls = []
    out = stream_or_batch("row_x", lambda: "streamed",
                          lambda: batch_calls.append(1))
    assert out == "streamed" and not batch_calls
    assert not _warnings(caplog)


def test_other_drain_errors_are_not_caught(monkeypatch):
    """An operator bug is not an infra wobble: it fails the row even
    outside strict mode."""
    monkeypatch.delenv("NEURONDB_STRICT_STREAM", raising=False)

    def bug():
        raise ValueError("operator bug")

    with pytest.raises(ValueError, match="operator bug"):
        stream_or_batch("row_x", bug, _batch)
