"""Once-per-worker set-up of the Python workers (``udfs.prepare_worker``).

``udfs.install_lazy_zip_invalidation`` stops every task from re-reading the
central directory of each zip on ``sys.path`` (``pyspark.zip`` included);
these tests pin that an unchanged archive is not re-read, that a zip
rewritten in place or added with ``addPyFile`` is still seen, and that the
engine's UDFs install the patch in a reused Spark worker. They also pin
that the engine's UDFs freeze the worker's heap, so the daemon's
``gc.collect()`` after each task skips it, while cycles made by later tasks
are still collected.
"""
from __future__ import annotations

import importlib
import json
import os
import subprocess
import sys
import textwrap
import zipfile
import zipimport
from pathlib import Path

import pytest

from pdf_extractor_spark.extract import udfs

REPO = Path(__file__).resolve().parents[1]


def _write_zip(path: Path, module: str, source: str) -> None:
    tmp = path.with_suffix(".tmp")
    with zipfile.ZipFile(tmp, "w") as zf:
        zf.writestr(f"{module}.py", source)
    os.replace(tmp, path)


@pytest.fixture
def eager_zipimporter(monkeypatch):
    """Start from the interpreter's own ``invalidate_caches`` and put back
    whatever was installed before when the test ends."""
    cls = zipimport.zipimporter
    current = cls.invalidate_caches
    monkeypatch.setattr(
        cls, "invalidate_caches", getattr(current, "__wrapped__", current)
    )
    return cls


def test_unchanged_zip_is_not_reread_and_rewrite_is_seen(
    tmp_path, monkeypatch, eager_zipimporter
):
    mod = "zipcache_probe_m"
    archive = tmp_path / "probe.zip"
    _write_zip(archive, mod, "VALUE = 1\n")
    monkeypatch.syspath_prepend(str(archive))
    monkeypatch.delitem(sys.modules, mod, raising=False)
    assert importlib.import_module(mod).VALUE == 1

    reads = []
    real_read = zipimport._read_directory

    def counting_read(path):
        reads.append(path)
        return real_read(path)

    monkeypatch.setattr(zipimport, "_read_directory", counting_read)
    udfs.install_lazy_zip_invalidation()
    reads.clear()

    importlib.invalidate_caches()
    importlib.invalidate_caches()
    assert reads == []

    # in-place rewrite with a different size: the stamp changes, so the
    # next invalidation re-reads and a fresh import sees the new module
    _write_zip(archive, mod, "VALUE = 2  # v2, a longer file\n")
    importlib.invalidate_caches()
    assert str(archive) in reads
    del sys.modules[mod]
    assert importlib.import_module(mod).VALUE == 2

    reads.clear()
    importlib.invalidate_caches()
    assert reads == []

    lazy = zipimport.zipimporter.invalidate_caches
    udfs.install_lazy_zip_invalidation()
    assert zipimport.zipimporter.invalidate_caches is lazy  # idempotent


def test_unstatable_archive_is_reread(tmp_path, monkeypatch, eager_zipimporter):
    archive = tmp_path / "gone.zip"
    _write_zip(archive, "zipcache_probe_gone", "VALUE = 1\n")
    importer = zipimport.zipimporter(str(archive))
    udfs.install_lazy_zip_invalidation()
    archive.unlink()
    importer.invalidate_caches()
    # the eager path ran: a vanished archive leaves the importer empty
    assert importer._files == {}


def test_noop_on_python_313(monkeypatch, eager_zipimporter):
    before = eager_zipimporter.invalidate_caches
    monkeypatch.setattr(sys, "version_info", (3, 13, 0, "final", 0))
    udfs.install_lazy_zip_invalidation()
    assert eager_zipimporter.invalidate_caches is before


_SPARK_PROBE = textwrap.dedent(
    """
    import json, os, sys, zipfile
    from pyspark.sql import functions as F
    from pyspark.sql.types import StringType
    from pdf_extractor_spark.extract.udfs import make_extract_udf
    from pdf_extractor_spark.session import build_session

    def probe(_):
        import zipimport
        lazy = hasattr(zipimport.zipimporter.invalidate_caches, "__wrapped__")
        try:
            import zipcache_added
            value = zipcache_added.VALUE
        except ImportError:
            value = None
        return json.dumps([os.getpid(), lazy, value])

    def probe_udf():
        # a UDF's Python includes are fixed when it first runs, so each job
        # builds its own to pick up files added since
        return F.pandas_udf(lambda s: s.map(probe), StringType())

    spark = build_session(master="local[1]")
    df = spark.createDataFrame(
        [(b"<p>a paragraph long enough to be kept as content</p>",)],
        "payload binary",
    ).coalesce(1)
    first = df.select(
        make_extract_udf()("payload").alias("r"), probe_udf()("payload").alias("p")
    ).collect()[0]
    added = os.path.join(sys.argv[1], "zipcache_added.zip")
    with zipfile.ZipFile(added, "w") as zf:
        zf.writestr("zipcache_added.py", "VALUE = 42\\n")
    spark.sparkContext.addPyFile(added)
    second = df.select(probe_udf()("payload").alias("p")).collect()[0]
    print(json.dumps({"ok": first.r.ok, "first": json.loads(first.p),
                      "second": json.loads(second.p)}))
    spark.stop()
    """
)


def test_reused_spark_worker_is_patched_and_sees_added_zip(tmp_path):
    """One local[1] session: the engine's extraction UDF installs the patch
    in the worker; a zip added afterwards with ``addPyFile`` imports in the
    next task, in the same worker process."""
    env = dict(os.environ)
    env["PYTHONPATH"] = os.pathsep.join(
        p for p in (str(REPO), env.get("PYTHONPATH")) if p
    )
    env.setdefault("SPARK_DRIVER_MEM", "1g")
    proc = subprocess.run(
        [sys.executable, "-c", _SPARK_PROBE, str(tmp_path)],
        cwd=REPO, env=env, capture_output=True, text=True, timeout=600,
    )
    assert proc.returncode == 0, proc.stderr[-4000:]
    out = json.loads(proc.stdout.strip().splitlines()[-1])
    lazy = sys.version_info < (3, 13)
    assert out["ok"] is True
    pid, _, before = out["first"]
    assert before is None
    assert out["second"] == [pid, lazy, 42]


_FREEZE_PROBE = textwrap.dedent(
    """
    import gc, json, os, sys, weakref
    from pyspark.sql import functions as F
    from pyspark.sql.types import StringType
    from pdf_extractor_spark.extract.udfs import make_extract_udf
    from pdf_extractor_spark.session import build_session

    class Node:
        pass

    def probe(_):
        # report whether the cycles of earlier probes are gone, then make a
        # new one that only a weak reference on a long-lived module keeps
        refs = sys.__dict__.setdefault("_freeze_probe_refs", [])
        alive = sum(r() is not None for r in refs)
        a, b = Node(), Node()
        a.peer, b.peer = b, a
        refs.append(weakref.ref(a))
        return json.dumps([os.getpid(), gc.get_freeze_count(), len(refs) - 1, alive])

    spark = build_session(master="local[1]")
    df = spark.createDataFrame(
        [(b"<p>a paragraph long enough to be kept as content</p>",)],
        "payload binary",
    ).coalesce(1)
    probe_udf = F.pandas_udf(lambda s: s.map(probe), StringType())
    engine = df.select(make_extract_udf()("payload").alias("r")).collect()[0]
    later = [json.loads(df.select(probe_udf("payload")).collect()[0][0])
             for _ in range(2)]
    print(json.dumps({"ok": engine.r.ok, "later": later}))
    spark.stop()
    """
)


def test_reused_spark_worker_heap_is_frozen_and_later_cycles_collected():
    """One local[1] session: after an engine task the worker's heap is
    frozen; a reference cycle made in a later task on the same worker is
    collected by the time the next task runs."""
    env = dict(os.environ)
    env["PYTHONPATH"] = os.pathsep.join(
        p for p in (str(REPO), env.get("PYTHONPATH")) if p
    )
    env.setdefault("SPARK_DRIVER_MEM", "1g")
    proc = subprocess.run(
        [sys.executable, "-c", _FREEZE_PROBE],
        cwd=REPO, env=env, capture_output=True, text=True, timeout=600,
    )
    assert proc.returncode == 0, proc.stderr[-4000:]
    out = json.loads(proc.stdout.strip().splitlines()[-1])
    assert out["ok"] is True
    (pid, frozen, earlier, _), (pid2, _, earlier2, alive) = out["later"]
    assert pid2 == pid
    assert frozen > 0
    assert (earlier, earlier2) == (0, 1)
    assert alive == 0  # the cycle made in the earlier task was collected
