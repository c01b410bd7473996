"""job.py argument handling: conflicting modes and orphaned sub-flags are
rejected by argparse before any Spark session starts."""

from __future__ import annotations

import pytest

from pdf_extractor_spark import job, session


class _SessionStarted(Exception):
    pass


@pytest.fixture
def no_session(monkeypatch):
    """Make ``build_session`` raise instead of starting Spark (job.main
    stops the session it builds, which would stop the shared one)."""

    def refuse(*args, **kwargs):
        raise _SessionStarted

    monkeypatch.setattr(session, "build_session", refuse)


@pytest.mark.parametrize(
    "argv",
    [
        ["--refresh", "--repair", "2"],
        ["--curate", "--refresh"],
        ["--curate", "--repair", "1"],
        ["--band-index"],
        ["--curate", "--band-index"],
        ["--rates", '{"en": 0.5}'],
        ["--refresh", "--rates", '{"en": 0.5}'],
    ],
)
def test_conflicting_flags_exit_before_session(no_session, tmp_path, argv):
    with pytest.raises(SystemExit) as exc:
        job.main(["--synth", "5", "--output", str(tmp_path), *argv])
    assert exc.value.code == 2


@pytest.mark.parametrize(
    "argv",
    [
        [],
        ["--refresh", "--band-index"],
        ["--curate", "--rates", '{"en": 0.5}'],
        ["--repair", "2", "--min-content-chars", "10"],
    ],
)
def test_valid_flags_reach_session(no_session, tmp_path, argv):
    with pytest.raises(_SessionStarted):
        job.main(["--synth", "5", "--output", str(tmp_path), *argv])
