"""``python -m olkg.pipeline``: flags reach the pipeline entry point.

The session and the pipeline are replaced with recorders, so these tests
check only the argument plumbing of :func:`olkg.pipeline.main`.
"""

import pytest

from olkg import pipeline


class _FakeSession:
    stopped = False

    def stop(self):
        self.stopped = True


@pytest.fixture
def calls(monkeypatch):
    rec: dict = {}
    session = _FakeSession()

    def fake_build_session(**kwargs):
        rec["session"] = kwargs
        return session

    def recorder(name):
        def run(spark, pages, out, **kwargs):
            assert spark is session
            rec[name] = {"pages": pages, "out": out, **kwargs}
            return {"mode": name}
        return run

    monkeypatch.setattr(pipeline, "build_session", fake_build_session)
    monkeypatch.setattr(pipeline, "run_pipeline", recorder("run_pipeline"))
    yield rec
    assert session.stopped


def test_fast_postwrite(calls, capsys):
    pipeline.main(["--pages", "p", "--out", "o", "--fast",
                   "--dedup-postwrite"])
    run = calls["run_pipeline"]
    assert (run["pages"], run["out"]) == ("p", "o")
    assert run["durable"] is False and run["dedup_postwrite"] is True
    assert '"mode": "run_pipeline"' in capsys.readouterr().out


def test_bare_invocation_runs_durable_with_resume(calls):
    pipeline.main(["--pages", "p", "--out", "o"])
    durable = calls["run_pipeline"]
    assert durable["durable"] is True
    assert durable["resume"] is True
    assert durable["dedup_postwrite"] is False


@pytest.mark.parametrize("flag", [
    ["--dedup-strategy", "partial"],
    ["--dedup-partitions", "8"],
    ["--dedup-detect", "hashagg"],
    ["--no-keep-raw"],
    ["--keep-raw"],
])
def test_removed_flags_are_rejected(monkeypatch, flag):
    def no_session(**kwargs):
        raise AssertionError("argument parsing should have failed first")
    monkeypatch.setattr(pipeline, "build_session", no_session)
    with pytest.raises(SystemExit) as exc:
        pipeline.main(["--pages", "p", "--out", "o", *flag])
    assert exc.value.code == 2
