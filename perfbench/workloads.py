"""The benchmark's three workloads: inputs, the job-path call, and checks.

Every input is a pure function of the seed, generated in this process.
Expected outputs are computed outside the engine: single-process
``extract_one`` for the web mix, the rendering rule for the PDF reports.
"""

from __future__ import annotations

import gzip
import os
import random
import re
import shutil
from collections import defaultdict

import checks

# One explicit repartition width for every workload and core level, so the
# N and 4N calls run the same plan.
PARTITIONS = 8
INPUT_FILES = 8

# fresh-mixed: the fixture bench mix (~90% HTML, ~10% small PDFs, Zipf hosts)
MIX_DOCS = 800
MIX_SCALE = 3
# pdf-reports: multi-page reports rendered by the x_extract_pdf rule
REPORTS = 160
REPORT_PAGES = (2, 6)
CHARS_PER_LINE = 60
LINES_PER_PAGE = 40
# repair-refetch: the bench mix as gzip bodies, one url in FAILED_EVERY broken
REPAIR_DOCS = 200
FAILED_EVERY = 10

_VOCAB = (
    "revenue margin quarter growth segment outlook capital market region "
    "product customer supply demand forecast budget audit board report "
    "operating income expense asset liability equity cash flow risk plan"
).split()
_SCRIPT_RE = re.compile(rb"<(script|style)\b[^>]*>(.*?)</\1>", re.S | re.I)


def _write_input(rows: list[dict], path: str) -> None:
    import pyarrow as pa
    import pyarrow.parquet as pq

    os.makedirs(path)
    for k in range(INPUT_FILES):
        part = rows[k::INPUT_FILES]
        table = pa.table(
            {
                "url": [r["url"] for r in part],
                "warc_ts": pa.array(
                    [r["warc_ts"].replace(tzinfo=None) for r in part],
                    type=pa.timestamp("us"),
                ),
                "html": pa.array([r["html"] for r in part], type=pa.binary()),
                "lang": [r["lang"] for r in part],
            }
        )
        pq.write_table(table, os.path.join(path, f"part-{k:02d}.parquet"))


def _mix_rows(seed: int, n: int) -> list[dict]:
    from pdf_extractor_spark.fixtures.synth import make_document_row

    rows = []
    for i in range(n):
        r = make_document_row(i, seed, scale=MIX_SCALE)
        rows.append({k: r[k] for k in ("url", "warc_ts", "html", "lang")})
    return rows


def _report(rng: random.Random, report_id: int) -> tuple[bytes, str, int]:
    """One report rendered with the x_extract_pdf rule, its expected text
    and its page count: 60-char lines, 40 lines a page, a header and a
    footer in the margin bands of every page."""
    from pdf_extractor_spark.fixtures.synth import make_pdf

    n_pages = rng.randint(*REPORT_PAGES)
    n_lines = n_pages * LINES_PER_PAGE - rng.randrange(LINES_PER_PAGE)
    words: list[str] = []
    length = 0
    while length < n_lines * CHARS_PER_LINE:
        words.append(rng.choice(_VOCAB))
        length += len(words[-1]) + 1
    text = " ".join(words)[: n_lines * CHARS_PER_LINE]
    lines = [
        text[i : i + CHARS_PER_LINE] for i in range(0, len(text), CHARS_PER_LINE)
    ]
    pages, expected = [], []
    for p in range(0, len(lines), LINES_PER_PAGE):
        body = lines[p : p + LINES_PER_PAGE]
        page = [(72.0, 762.0, "Report %d Annual Review" % report_id)]
        page += [(72.0, 700.0 - 14.0 * i, s) for i, s in enumerate(body)]
        page.append((72.0, 25.0, "Page %d" % (p // LINES_PER_PAGE + 1)))
        pages.append(page)
        expected.append("\n".join(s.strip() for s in body))
    return make_pdf(pages), "\n\n".join(expected), len(pages)


def _n_pages(payload: bytes) -> int:
    return payload.count(b"/Type /Page /")


class Workload:
    """Inputs of one workload and the job-path call the benchmark times.

    ``call_inputs`` are the rows a timed call extracts. ``expected`` maps
    url -> committed text, filled lazily because it is the check's
    reference, not part of set-up."""

    name = ""
    job = "run_extraction_job"
    # (cores, warm-up calls, timed) per session, in order; a job-path call
    # made in prepare() counts as a warm-up call. local[1] first: its
    # session launches the JVM, JIT compilation runs on the three idle
    # cores, and pass times are level from the third call on. local[4] then
    # reuses the warm JVM and needs only the call that starts its Python
    # workers (README.md has the per-pass series behind the counts).
    sessions = ((1, 2, True), (4, 1, True))

    def __init__(self, seed: int, work: str):
        self.seed = seed
        self.work = work
        self.rows = self._rows()
        self.input_path = os.path.join(work, "input")
        _write_input(self.rows, self.input_path)
        self._expected: dict | None = None
        self._calls = 0

    # -- inputs --------------------------------------------------------
    def _rows(self) -> list[dict]:
        raise NotImplementedError

    @property
    def call_inputs(self) -> list[dict]:
        return self.rows

    @property
    def docs_per_call(self) -> int:
        return len(self.call_inputs)

    def pages(self, row: dict) -> int:
        return _n_pages(row["html"])

    def expected(self) -> dict:
        if self._expected is None:
            self._expected = self._expected_texts()
        return self._expected

    def _expected_texts(self) -> dict:
        from pdf_extractor_spark.extract.udfs import extract_one

        return {r["url"]: extract_one(r["html"])[0] for r in self.call_inputs}

    # -- the timed call ------------------------------------------------
    def prepare(self, spark) -> int:
        """Per-session set-up beyond the input files. Returns the number of
        job-path calls it made: they warm the session like warm-up calls."""
        return 0

    def before_call(self) -> str:
        """Untimed: give the next call a table to write into."""
        previous = os.path.join(self.work, f"table_{self._calls}")
        if os.path.isdir(previous):
            shutil.rmtree(previous)
        self._calls += 1
        return os.path.join(self.work, f"table_{self._calls}")

    def call(self, spark, input_df, table: str) -> int:
        """One job-path call; returns the number of docs it committed."""
        from pdf_extractor_spark import pipeline

        m = pipeline.run_extraction_job(
            spark, input_df, table, n_partitions=PARTITIONS
        )
        return m["rows"]

    def input_df(self, spark):
        return spark.read.parquet(self.input_path)

    # -- checks --------------------------------------------------------
    def collect(self, spark, table: str) -> dict:
        """Read back what the last call committed (engine readers)."""
        from pdf_extractor_spark.sources import catalog

        def rows(df) -> list[dict]:  # None: nothing committed
            return [] if df is None else [r.asDict(recursive=True) for r in df.collect()]

        return {
            "rows": rows(catalog.read_committed(spark, table)),
            "lineage": rows(catalog.read_committed(spark, os.path.join(table, "_lineage"))),
        }

    def check(self, out: dict) -> list[str]:
        inputs = self.call_inputs
        urls = [r["url"] for r in inputs]
        failures = checks.committed_once(out["rows"], urls)
        failures += checks.texts_equal(out["rows"], self.expected())
        failures += checks.lineage_sums(
            out["lineage"],
            marker=f"snap_{out['rows'][0]['_snapshot']}" if out["rows"] else "",
            doc_count=len(urls),
            bytes_in=sum(len(r["html"]) for r in inputs),
            bytes_out=sum(len(r["text"]) for r in out["rows"]),
        )
        return failures


class FreshMixed(Workload):
    name = "fresh-mixed"

    def _rows(self) -> list[dict]:
        return _mix_rows(self.seed, MIX_DOCS)

    def check(self, out: dict) -> list[str]:
        failures = super().check(out)
        payloads = {r["url"]: r["html"] for r in self.rows}
        html = [r for r in out["rows"] if r["kind"] == "html"]
        failures += checks.spans_inside(
            html, {u: p.decode("utf-8", "replace") for u, p in payloads.items()}
        )
        failures += checks.no_raw_text(
            html,
            {
                u: [m.group(2).decode("utf-8", "replace") for m in _SCRIPT_RE.finditer(p)]
                for u, p in payloads.items()
            },
        )
        # the fixture's layout case 18 is a boilerplate-only page
        failures += checks.boilerplate_empty(
            out["rows"],
            {r["url"] for r in self.rows if int(r["url"].rsplit("/", 1)[1]) % 20 == 18},
        )
        return failures


class PdfReports(Workload):
    name = "pdf-reports"

    def _rows(self) -> list[dict]:
        from pdf_extractor_spark.fixtures.synth import EPOCH_BASE

        import datetime

        rng = random.Random(self.seed)
        rows, self._rule_texts, self._pages = [], {}, {}
        for i in range(REPORTS):
            payload, text, n_pages = _report(rng, i)
            url = f"https://reports{rng.randrange(8)}.example/annual/{i}.pdf"
            rows.append(
                {
                    "url": url,
                    "warc_ts": EPOCH_BASE + datetime.timedelta(seconds=i * 53),
                    "html": payload,
                    "lang": "en",
                }
            )
            self._rule_texts[url] = text
            self._pages[url] = n_pages
        return rows

    def pages(self, row: dict) -> int:
        return self._pages[row["url"]]

    def _expected_texts(self) -> dict:
        return dict(self._rule_texts)

    def check(self, out: dict) -> list[str]:
        failures = super().check(out)
        failures += [
            f"{r['url']}: kind={r['kind']} ok={r['ok']}"
            for r in out["rows"]
            if r["kind"] != "pdf" or not r["ok"]
        ][:5]
        return failures


class RepairRefetch(Workload):
    """A committed snapshot in which one url in FAILED_EVERY failed (empty
    or cut-off gzip body); the timed call is ``rerun_failed`` over the
    refetched input, where every url carries its intact gzip body."""

    name = "repair-refetch"
    job = "rerun_failed"
    # Planning, not data, dominates these calls, and the JVM keeps
    # compiling that code for many calls. An untimed local[4] session warms
    # it first, where a call costs least; the timed local[1] and local[4]
    # sessions follow, each with the call that starts its Python workers.
    sessions = ((4, 2, False), (1, 1, True), (4, 1, True))

    def _rows(self) -> list[dict]:
        rows = _mix_rows(self.seed, REPAIR_DOCS)
        for r in rows:
            r["html"] = gzip.compress(r["html"], mtime=0)
        rng = random.Random(self.seed)
        self.failed = set(
            r["url"] for r in rng.sample(rows, REPAIR_DOCS // FAILED_EVERY)
        )
        self.broken = []
        for k, r in enumerate(sorted(rows, key=lambda r: r["url"])):
            b = dict(r)
            if r["url"] in self.failed:
                # alternate the two ways a failed fetch leaves a body
                b["html"] = b"" if k % 2 else r["html"][: len(r["html"]) // 2]
            self.broken.append(b)
        self.broken_path = os.path.join(self.work, "input_broken")
        _write_input(self.broken, self.broken_path)
        self.pristine = os.path.join(self.work, "pre_repair")
        self._before: dict | None = None
        return rows

    @property
    def call_inputs(self) -> list[dict]:
        return [r for r in self.rows if r["url"] in self.failed]

    def pages(self, row: dict) -> int:
        return _n_pages(gzip.decompress(row["html"]))

    def prepare(self, spark) -> int:
        """Commit the pre-repair snapshot once; every call restores it."""
        if os.path.isdir(self.pristine):
            return 0
        from pdf_extractor_spark import pipeline

        pipeline.run_extraction_job(
            spark,
            spark.read.parquet(self.broken_path),
            self.pristine,
            n_partitions=PARTITIONS,
        )
        return 1

    def before_call(self) -> str:
        table = super().before_call()
        shutil.copytree(self.pristine, table)
        return table

    def call(self, spark, input_df, table: str) -> int:
        from pdf_extractor_spark import pipeline

        rounds = pipeline.rerun_failed(
            spark, input_df, table, n_partitions=PARTITIONS
        )
        return sum(r["fixed"] for r in rounds)

    @staticmethod
    def _latest(spark, table: str) -> list[dict]:
        from pdf_extractor_spark import pipeline

        return [r.asDict(recursive=True) for r in pipeline.read_latest(spark, table).collect()]

    def collect(self, spark, table: str) -> dict:
        from pdf_extractor_spark.sources import catalog

        if self._before is None:  # the reference for "no other url changed"
            self._before = {r["url"]: r for r in self._latest(spark, self.pristine)}
        out = super().collect(spark, table)
        out["latest"] = self._latest(spark, table)
        out["snapshots"] = catalog.list_snapshots(spark, table).count()
        return out

    def check(self, out: dict) -> list[str]:
        urls = [r["url"] for r in self.rows]
        pre = [r for r in out["rows"] if r["_snapshot"] == 1]
        new = [r for r in out["rows"] if r["_snapshot"] != 1]
        failures = checks.committed_once(out["latest"], urls)
        failures += checks.committed_once(new, sorted(self.failed))
        failures += checks.texts_equal(new, self.expected())
        failures += checks.repaired(out["latest"], self._before, self.failed)
        if out["snapshots"] != 2:
            failures.append(f"{out['snapshots'] - 1} new snapshots, expected 1")
        lineage = defaultdict(list)
        for r in out["lineage"]:
            lineage[r["checkpoint_marker"]].append(r)
        failures += checks.lineage_sums(
            lineage.pop("snap_1", []),
            marker="snap_1",
            doc_count=len(urls),
            bytes_in=sum(len(r["html"]) for r in self.broken),
            bytes_out=sum(len(r["text"]) for r in pre),
        )
        # rerun_failed writes no lineage for its snapshot yet; when it does,
        # the rows must sum to the repaired rows and their refetched bodies
        repair = lineage.pop(f"snap_{new[0]['_snapshot']}" if new else "", None)
        if repair is not None:
            failures += checks.lineage_sums(
                repair,
                marker=repair[0]["checkpoint_marker"],
                doc_count=len(self.failed),
                bytes_in=sum(len(r["html"]) for r in self.call_inputs),
                bytes_out=sum(len(r["text"]) for r in new),
            )
        failures += [f"lineage rows marked {m!r}, expected snap_1 or the repair's" for m in lineage]
        return failures


WORKLOADS = {w.name: w for w in (FreshMixed, PdfReports, RepairRefetch)}
