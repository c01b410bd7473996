#!/usr/bin/env python3
"""Self-test of the benchmark's correctness checks.

    python3 perfbench/selftest.py

Runs each workload once, small, in one local[2] session, and shows that
its checks pass on the real output. Then it corrupts a copy of that
output in one way at a time (one committed text changed, one lineage
row dropped, one repaired url left ok=false, ...) and requires the
matching check to report it. A check that stays silent on its
corruption fails the self-test. Exit code 0 when every case behaves.
"""

from __future__ import annotations

import copy
import os
import sys

import run

SMALL = {"MIX_DOCS": 60, "REPORTS": 12, "REPAIR_DOCS": 60}
SEED = 5


def _first(rows: list[dict], pred) -> dict:
    return next(r for r in rows if pred(r))


def corruptions(wl) -> list[tuple[str, str, object]]:
    """(case, text the failure message must contain, in-place mutation)."""
    import workloads

    failed = getattr(wl, "failed", set())

    def text(out):
        r = _first(out["rows"], lambda r: r["_snapshot"] != 1 or not failed)
        r["text"] += " corrupted"

    def lineage(out):
        out["lineage"].pop()

    def duplicate(out):
        rows = out.get("latest", out["rows"])
        rows.append(dict(rows[0]))

    cases = [
        ("corrupt one committed text", "differs from the reference", text),
        ("drop one lineage row", "lineage doc_count", lineage),
        ("commit one url twice", "committed 2 times", duplicate),
    ]
    if wl.name == "fresh-mixed":
        boiler = {r["url"] for r in wl.rows if int(r["url"].rsplit("/", 1)[1]) % 20 == 18}

        payloads = {r["url"]: r["html"] for r in wl.rows}

        def script(out):
            r = _first(out["rows"], lambda r: r["kind"] == "html" and r["text"])
            body = workloads._SCRIPT_RE.search(payloads[r["url"]]).group(2)
            r["text"] += body.decode("utf-8")

        def boilerplate(out):
            _first(out["rows"], lambda r: r["url"] in boiler)["text"] = "Home About"

        def spans(out):
            r = _first(out["rows"], lambda r: len(r["spans"]) > 1)
            r["spans"].reverse()

        cases += [
            ("script body in text", "raw-text body", script),
            ("boilerplate-only page with text", "boilerplate-only page gave", boilerplate),
            ("spans out of order", "after", spans),
        ]
    if wl.name == "repair-refetch":

        def still_failed(out):
            r = _first(out["latest"], lambda r: r["url"] in failed)
            r["ok"], r["error"] = False, "empty payload"

        def other_changed(out):
            _first(out["latest"], lambda r: r["url"] not in failed)["n_blocks"] += 1

        def extra_snapshot(out):
            out["snapshots"] += 1

        def repair_lineage(out):
            new = _first(out["rows"], lambda r: r["_snapshot"] != 1)["_snapshot"]
            row = dict(out["lineage"][0], checkpoint_marker=f"snap_{new}", doc_count=0)
            out["lineage"].append(row)

        def stray_lineage(out):
            out["lineage"].append(dict(out["lineage"][0], checkpoint_marker="snap_9"))

        cases += [
            ("leave one repaired url ok=false", "still ok=false", still_failed),
            ("change a url that had not failed", "changed although", other_changed),
            ("two new snapshots", "new snapshots", extra_snapshot),
            ("repair lineage that does not sum", "lineage doc_count sums to 0", repair_lineage),
            ("lineage of no snapshot", "expected snap_1 or the repair's", stray_lineage),
        ]
    return cases


def main() -> int:
    run.prepare_workdir()
    sys.path.insert(1, run.ROOT)
    import workloads
    from pdf_extractor_spark.session import build_session

    for name, value in SMALL.items():
        setattr(workloads, name, value)
    bad = 0
    spark = build_session(
        app_name="perfbench-selftest", master="local[2]", extra_conf=run._conf("selftest", False)
    )
    try:
        for name, cls in workloads.WORKLOADS.items():
            wl = cls(SEED, os.path.join(run.WORK, name))
            wl.prepare(spark)
            table = wl.before_call()
            wl.call(spark, wl.input_df(spark), table)
            out = wl.collect(spark, table)
            base = wl.check(out)
            print(f"{'ok  ' if not base else 'FAIL'} {name}: checks pass on real output {base}")
            bad += bool(base)
            for case, needle, mutate in corruptions(wl):
                broken = copy.deepcopy(out)
                mutate(broken)
                found = wl.check(broken)
                caught = any(needle in f for f in found)
                print(f"{'ok  ' if caught else 'FAIL'} {name}: {case} -> {found[:2]}")
                bad += not caught
    finally:
        spark.stop()
        run.shutdown_jvm()
        run.cleanup_workdir()
    return 1 if bad else 0


if __name__ == "__main__":
    sys.exit(main())
