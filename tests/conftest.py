from __future__ import annotations

import pandas as pd
import pytest


@pytest.fixture(scope="session")
def spark():
    from skewer_spark.session import get_spark

    s = get_spark(app_name="skewer-tests", master="local[4]", shuffle_partitions=8, silence_window_warn=True)
    yield s
    s.stop()


@pytest.fixture(scope="session")
def sf_dir() -> str:
    return "/root/testdata/sf0.001"


@pytest.fixture(scope="session")
def transcripts_pdf(sf_dir):
    import pyarrow.parquet as pq

    from skewer_spark.datagen import ensure_transcripts

    return pq.read_table(ensure_transcripts(sf_dir)).to_pandas()


def parse_one(line: str, ingest_us: int = 1_700_000_000_000_000) -> dict:
    """Parse a single line via the pandas reference; return a plain dict.
    The production Arrow kernel parses the same line and must agree on
    every column (compared as str, like the differential tests)."""
    from skewer_spark.parsing.arrowparse import parse_batch_arrow
    from skewer_spark.parsing.syslog import parse_batch

    text, ing = pd.Series([line]), pd.Series([ingest_us])
    ref = parse_batch(text, ing).iloc[0].to_dict()
    got = parse_batch_arrow(text, ing).iloc[0].to_dict()
    for col, want in ref.items():
        assert str(got[col]) == str(want), (line, col, want, got[col])
    return ref


def drain(q, timeout: float) -> None:
    """Wait for a finite (availableNow/once) stream query to finish and
    fail loudly if it timed out or died, so a slow host shows up as a
    timeout rather than as a partial-rows mismatch downstream."""
    assert q.awaitTermination(timeout), f"stream {q.name or q.id} still running after {timeout}s"
    assert q.exception() is None, q.exception()
