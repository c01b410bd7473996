"""Correctness checks over what a job call committed.

Each check takes plain Python rows read back from the committed table and
references computed by the benchmark itself, and returns a list of
failure messages (empty = pass). ``selftest.py`` shows that each one
fails on a corrupted copy of real output.
"""

from __future__ import annotations

from collections import Counter

_SHOW = 5  # failure messages kept per check


def committed_once(rows: list[dict], urls: list[str]) -> list[str]:
    """Every input url is committed exactly once, and nothing else is."""
    seen = Counter(r["url"] for r in rows)
    want = set(urls)
    out = [f"{u}: committed {n} times" for u, n in seen.items() if n != 1]
    out += [f"{u}: not committed" for u in sorted(want - set(seen))]
    out += [f"{u}: committed but not in the input" for u in sorted(set(seen) - want)]
    return out[:_SHOW]


def texts_equal(rows: list[dict], expected: dict) -> list[str]:
    """Committed text equals the reference text for each row's url."""
    out = []
    for r in rows:
        want = expected.get(r["url"])
        if r["text"] != want:
            got = r["text"] if r["text"] is None else r["text"][:60]
            out.append(f"{r['url']}: text differs from the reference ({got!r}...)")
    return out[:_SHOW]


def lineage_sums(
    lineage: list[dict], marker: str, doc_count: int, bytes_in: int, bytes_out: int
) -> list[str]:
    """Per-partition lineage rows sum to the run's own totals."""
    got = {
        "doc_count": sum(r["doc_count"] for r in lineage),
        "bytes_in": sum(r["bytes_in"] for r in lineage),
        "bytes_out": sum(r["bytes_out"] for r in lineage),
    }
    want = {"doc_count": doc_count, "bytes_in": bytes_in, "bytes_out": bytes_out}
    out = [
        f"lineage {k} sums to {got[k]}, expected {want[k]}"
        for k in want
        if got[k] != want[k]
    ]
    markers = {r["checkpoint_marker"] for r in lineage}
    if markers != {marker}:
        out.append(f"lineage markers {sorted(markers)}, expected [{marker!r}]")
    return out


def spans_inside(rows: list[dict], pages: dict) -> list[str]:
    """HTML spans are ordered, non-overlapping and inside the decoded page."""
    out = []
    for r in rows:
        end_of_page = len(pages[r["url"]])
        prev = 0
        for s in r["spans"]:
            if not prev <= s["start"] <= s["end"] <= end_of_page:
                out.append(f"{r['url']}: span {s} after {prev} of {end_of_page}")
                break
            prev = s["end"]
    return out[:_SHOW]


def no_raw_text(rows: list[dict], bodies: dict) -> list[str]:
    """No script or style element body appears in the extracted text."""
    out = []
    for r in rows:
        for body in bodies[r["url"]]:
            if body.strip() and body in r["text"]:
                out.append(f"{r['url']}: raw-text body {body[:40]!r} in text")
    return out[:_SHOW]


def boilerplate_empty(rows: list[dict], urls: set) -> list[str]:
    """Boilerplate-only pages yield empty text, as ok rows."""
    got = {r["url"]: r for r in rows if r["url"] in urls}
    out = [f"{u}: boilerplate-only page not committed" for u in sorted(urls - set(got))]
    out += [
        f"{u}: boilerplate-only page gave {r['text'][:40]!r} ok={r['ok']}"
        for u, r in got.items()
        if r["text"] != "" or not r["ok"]
    ]
    return out[:_SHOW]


_ROW_FIELDS = ("text", "spans", "n_blocks", "kind", "ok", "error")


def repaired(latest: list[dict], before: dict, failed: set) -> list[str]:
    """Every previously failed url now reads ok=true; no other url changed."""
    out = [
        f"{u}: pre-repair ok={r['ok']} does not match the broken-input set"
        for u, r in before.items()
        if r["ok"] == (u in failed)
    ]
    for r in latest:
        u = r["url"]
        if u in failed:
            if not r["ok"]:
                out.append(f"{u}: still ok=false after repair ({r['error']})")
        elif any(r[k] != before[u][k] for k in _ROW_FIELDS):
            out.append(f"{u}: changed although it had not failed")
    return out[:_SHOW]
