"""Driver-contract smoke tests: entry(), queries()/oracle_sql() pairing."""

from __future__ import annotations

import pytest

import __spark_entry__ as E


def test_queries_and_oracles_paired():
    q = E.queries()
    o = E.oracle_sql()
    assert len(q) >= 39
    # every oracle key must have a query; rows-only queries are allowed
    assert set(o) <= set(q)
    # everything is oracle-checked except ops with no ANSI-SQL counterpart,
    # which are pytest-golden-gated instead (each one documented in its
    # query docstring) — keep this set EXPLICIT so a forgotten oracle fails
    rows_only = {"t_compression_ratio"}  # zlib DEFLATE: no DuckDB scalar
    assert set(q) - set(o) == rows_only


def test_driver_window_first_50():
    """The driver grades CORRECTNESS for exactly the first 50 queries()
    entries. R5 rotation policy (VERDICT r4 items 1/2/4/6): canary first,
    the r4 red row second, no slot wasted on a green-driver-checked query,
    and every never-checked query left outside the window is justified by
    name in COVERAGE.md."""
    from pdf_extractor_spark.queries import _DRIVER_WINDOW

    names = list(E.queries())
    assert len(_DRIVER_WINDOW) == 50
    assert len(set(_DRIVER_WINDOW)) == 50
    assert names[:50] == _DRIVER_WINDOW
    # environment fingerprint leads; the only-ever red driver row is re-checked
    assert names[0] == "a_protocol_canary"
    assert "m_mixture_epochs" in _DRIVER_WINDOW[:3]
    assert "mm_phash_dedup_reps" in _DRIVER_WINDOW
    # Derive the green-driver-checked set from the committed CORRECTNESS
    # files (r1..r4), not a pin. A row is GREEN only if rows+schema matched,
    # the value hash did not mismatch, and the run didn't error — the r4
    # m_mixture_epochs hash_match:false row therefore stays eligible.
    import json
    import os

    repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    green: set[str] = set()
    for n in (1, 2, 3, 4):
        path = os.path.join(repo, f"CORRECTNESS_r0{n}.json")
        if not os.path.exists(path):
            continue
        with open(path) as fh:
            for qname, row in json.load(fh).items():
                if (
                    row.get("rows_match")
                    and row.get("schema_match")
                    and row.get("hash_match") is not False
                    and not row.get("err")
                ):
                    green.add(qname)
    wasted = set(_DRIVER_WINDOW) & green
    assert not wasted, (
        f"window slots wasted on green-driver-checked queries: {sorted(wasted)}"
    )
    # every never-green-checked query NOT in the window must be justified by
    # name in COVERAGE.md's round-5 left-out table (sibling coverage /
    # property-test pin / oracle-less by design)
    left_out = {n for n in names if n not in green} - set(_DRIVER_WINDOW)
    with open(os.path.join(repo, "COVERAGE.md")) as fh:
        coverage = fh.read()
    unjustified = sorted(n for n in left_out if n not in coverage)
    assert not unjustified, (
        f"never-driver-checked queries outside the window with no COVERAGE.md "
        f"justification: {unjustified}"
    )
    # oracles, where present, follow the same order as queries
    o = list(E.oracle_sql())
    assert o == [n for n in names if n in set(o)]


def test_entry_runs_and_returns_rows(spark):
    df = E.entry(spark)
    rows = df.limit(5).collect()
    assert len(rows) > 0
    assert set(df.columns) == {"doc_id", "extracted", "n_blocks", "ok"}


@pytest.mark.parametrize("name", ["q1_pricing_summary", "d_lsh_pairs", "x_extract_pipeline"])
def test_sample_queries_run_at_sf0001(spark, name):
    df = E.queries()[name](spark, "/root/testdata/sf0.001")
    assert df.count() >= 0  # materializes without error
