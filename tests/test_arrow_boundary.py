"""The one Arrow boundary (operators/rowmap.py).

Every Python batch pass goes through ``rowmap.map_batches`` (or its
per-row adapter ``map_rows``, or the grouped ``map_groups``); the one
other ``mapInArrow`` is the WARC writer, whose output chunks carry
records across input batches.  The guards parse the library source (no
JVM): that one ``mapInArrow``, no pandas pass outside the streaming
state operator, and a type on every ``pa.array`` / ``pa.scalar`` call.

No batch-pass worker imports pandas (``rowmap.no_pandas``).  That is
checked in a separate Spark process (tests/worker_probe.py), so that each
pass starts in a fresh worker, and so is the one trade-off it makes: a
pandas pass in a worker that a guarded pass left behind returns the same
types and values as in a fresh worker.

Each worker-side entry (``map_batches``, ``map_groups``, the WARC
writer) first installs ``rowmap._lazy_zip_rereads``, so a reused worker's
later tasks do not re-read every unchanged zip archive on its path.  The
guard checks each entry calls it; the helper itself is checked here on
archives of its own, and in the worker probe by counting the directory
reads before each of three tasks in one worker.

``map_batches`` skips empty input batches, so no kernel sees one: the
numpy kernels in ``similarity`` divide by a batch's row count.  Each
operator that runs a batch pass is checked on an empty input and on one
row spread over four partitions (three of them empty).
"""

import ast
import importlib
import json
import os
import subprocess
import sys
import zipfile
import zipimport
from pathlib import Path

import pytest
from pyspark.sql import functions as F

from tests.conftest import SF_DIR

LIB = Path(__file__).resolve().parents[1] / "image_ocr_spark"

# (module file, top-level def) allowed to call .mapInArrow(; None = any def
ALLOWED = {("rowmap.py", None), ("warcsource.py", "pages_to_warc")}


def test_map_in_arrow_only_at_the_boundary():
    found = []
    for path in sorted(LIB.rglob("*.py")):
        for top in ast.parse(path.read_text(), str(path)).body:
            name = getattr(top, "name", None)
            for n in ast.walk(top):
                if (
                    isinstance(n, ast.Call)
                    and isinstance(n.func, ast.Attribute)
                    and n.func.attr == "mapInArrow"
                    and (path.name, None) not in ALLOWED
                    and (path.name, name) not in ALLOWED
                ):
                    found.append(f"{path.relative_to(LIB)}:{name}")
    assert not found, (
        f"mapInArrow outside rowmap.map_batches: {found}; "
        "route the pass through rowmap.map_batches or map_rows"
    )


# the one pandas pass left: streaming state (applyInPandasWithState; its
# Arrow successor transformWithState needs protobuf, not installed here)
PANDAS_ALLOWED = {Path("streaming/stateful.py")}


def test_pandas_only_in_the_streaming_state_operator():
    found = []
    for path in sorted(LIB.rglob("*.py")):
        rel = path.relative_to(LIB)
        for n in ast.walk(ast.parse(path.read_text(), str(path))):
            if isinstance(n, ast.Import):
                hit = any(a.name.split(".")[0] == "pandas" for a in n.names)
            elif isinstance(n, ast.ImportFrom):
                hit = (n.module or "").split(".")[0] == "pandas"
            else:
                hit = isinstance(n, ast.Attribute) and n.attr in (
                    "applyInPandas",
                    "mapInPandas",
                )
            if hit and rel not in PANDAS_ALLOWED:
                found.append(f"{rel}:{n.lineno}")
    assert not found, (
        f"pandas outside streaming/stateful.py: {found}; "
        "use rowmap.map_batches, map_rows or map_groups"
    )


def _worker_entries():
    """(module.def, entry) for every function the library hands to Spark's
    Python workers: the first argument of each ``.mapInArrow(`` /
    ``.applyInArrow(``, a nested def of the calling function, or the def a
    module-level factory called there returns."""
    for path in sorted(LIB.rglob("*.py")):
        tops = {
            n.name: n
            for n in ast.parse(path.read_text(), str(path)).body
            if isinstance(n, ast.FunctionDef)
        }
        for top in tops.values():
            for n in ast.walk(top):
                if not (
                    isinstance(n, ast.Call)
                    and isinstance(n.func, ast.Attribute)
                    and n.func.attr in ("mapInArrow", "applyInArrow")
                ):
                    continue
                arg, scope = n.args[0], top
                if isinstance(arg, ast.Call):
                    scope = tops[arg.func.id]
                    arg = [r.value for r in scope.body if isinstance(r, ast.Return)][-1]
                entry = next(
                    d for d in ast.walk(scope)
                    if isinstance(d, ast.FunctionDef) and d.name == arg.id
                )
                yield f"{path.stem}.{top.name}", entry


def test_worker_entries_install_lazy_zip_rereads():
    """Every worker-side entry calls ``_lazy_zip_rereads()`` before
    anything else it runs."""
    entries = dict(_worker_entries())
    assert set(entries) == {
        "rowmap.map_batches", "rowmap.map_groups", "warcsource.pages_to_warc"
    }
    missing = [
        name
        for name, entry in entries.items()
        if ast.unparse(entry.body[0]) != "_lazy_zip_rereads()"
    ]
    assert not missing, f"worker entries that do not start with _lazy_zip_rereads(): {missing}"


@pytest.fixture
def zip_reads(monkeypatch, tmp_path):
    """(archive, reads): a zip on ``sys.path`` holding module ``zm_a``, and
    the directory reads of that archive since the fixture began.  The
    stdlib ``invalidate_caches`` and ``sys.path`` come back afterwards."""
    archive = tmp_path / "mods.zip"
    with zipfile.ZipFile(archive, "w") as z:
        z.writestr("zm_a.py", "VALUE = 1\n")
    monkeypatch.setattr(
        zipimport.zipimporter, "invalidate_caches", zipimport.zipimporter.invalidate_caches
    )
    reads = []
    read = zipimport._read_directory

    def counted(path):
        reads.append(path)
        return read(path)

    monkeypatch.setattr(zipimport, "_read_directory", counted)
    monkeypatch.syspath_prepend(str(archive))
    yield archive, reads
    for name in ("zm_a", "zm_b"):
        sys.modules.pop(name, None)


@pytest.mark.skipif(sys.version_info >= (3, 13), reason="the stdlib re-read is lazy")
def test_lazy_zip_rereads_skip_an_unchanged_archive(zip_reads):
    from image_ocr_spark.operators.rowmap import _lazy_zip_rereads

    archive, reads = zip_reads
    assert importlib.import_module("zm_a").VALUE == 1
    importlib.invalidate_caches()
    assert reads.count(str(archive)) >= 1  # the stdlib re-reads it
    _lazy_zip_rereads()
    _lazy_zip_rereads()
    reads.clear()
    importlib.invalidate_caches()
    importlib.invalidate_caches()
    assert reads.count(str(archive)) == 0


@pytest.mark.skipif(sys.version_info >= (3, 13), reason="the stdlib re-read is lazy")
def test_lazy_zip_rereads_reread_a_rewritten_archive(zip_reads):
    from image_ocr_spark.operators.rowmap import _lazy_zip_rereads

    archive, reads = zip_reads
    assert importlib.import_module("zm_a").VALUE == 1
    _lazy_zip_rereads()
    with zipfile.ZipFile(archive, "w") as z:
        z.writestr("zm_a.py", "VALUE = 1\n")
        z.writestr("zm_b.py", "VALUE = 2\n")
    reads.clear()
    importlib.invalidate_caches()
    assert reads.count(str(archive)) == 1
    assert importlib.import_module("zm_b").VALUE == 2
    reads.clear()
    importlib.invalidate_caches()
    assert reads.count(str(archive)) == 0


def test_lazy_zip_rereads_change_nothing_from_python_3_13(zip_reads, monkeypatch):
    from image_ocr_spark.operators.rowmap import _lazy_zip_rereads

    importlib.import_module("zm_a")
    stdlib = zipimport.zipimporter.invalidate_caches
    importers = [
        f for f in sys.path_importer_cache.values() if isinstance(f, zipimport.zipimporter)
    ]
    before = [vars(f).copy() for f in importers]
    monkeypatch.setattr(sys, "version_info", (3, 13, 0, "final", 0))
    _lazy_zip_rereads()
    assert zipimport.zipimporter.invalidate_caches is stdlib
    assert [vars(f) for f in importers] == before


def test_kernel_arrow_conversions_are_typed():
    """Under ``rowmap.no_pandas`` an untyped ``pa.array`` retries the
    blocked pandas import on every call; a typed one does not."""
    found = []
    for path in sorted((LIB / "operators").rglob("*.py")):
        for n in ast.walk(ast.parse(path.read_text(), str(path))):
            if (
                isinstance(n, ast.Call)
                and isinstance(n.func, ast.Attribute)
                and n.func.attr in ("array", "scalar")
                and isinstance(n.func.value, ast.Name)
                and n.func.value.id == "pa"
                and len(n.args) < 2
                and not any(k.arg == "type" for k in n.keywords)
            ):
                found.append(f"{path.relative_to(LIB)}:{n.lineno}")
    assert not found, f"pa.array / pa.scalar without a type: {found}"


@pytest.fixture(scope="module")
def probe():
    """tests/worker_probe.py's report, from its own small Spark process."""
    repo = Path(__file__).resolve().parents[1]
    env = dict(os.environ, SPARK_GRAFT_DRIVER_MEM="1g")
    out = subprocess.run(
        [sys.executable, "-m", "tests.worker_probe"],
        cwd=repo,
        env=env,
        capture_output=True,
        text=True,
        timeout=600,
    )
    assert out.returncode == 0, out.stderr[-4000:]
    return json.loads(out.stdout.strip().splitlines()[-1])


@pytest.mark.parametrize("boundary", ["map_batches", "map_rows", "map_groups"])
def test_python_workers_never_load_pandas(probe, boundary):
    got = probe[boundary]
    assert got["pandas"] and not any(got["pandas"]), got


def test_reused_worker_skips_unchanged_zip_archives(probe):
    """Three one-task passes in one worker: the 2nd and 3rd tasks' start
    re-reads no zip archive (Python 3.11's ``invalidate_caches`` re-read
    the pyspark, py4j and Spark jar directories, 16 reads, per task)."""
    got = probe["zip_rereads"]
    assert len(got["pids"]) == 1, got
    assert got["reads"] == [[-1], [0], [0]], got


def test_pandas_pass_in_a_reused_guarded_worker(probe):
    """applyInPandas in the worker a guarded map_batches pass left behind
    (same pid) returns what it returns in a worker that ran no guarded
    pass: the declared Spark types, the same values, and the same Arrow
    types for an untyped ``pa.Array.from_pandas`` inside the UDF."""
    reused, fresh = probe["reused"], probe["fresh"]
    assert reused["then"]["pids"] == reused["pids"], reused
    assert reused["then"]["schema"] == fresh["schema"]
    assert reused["then"]["rows"] == fresh["rows"]
    arrow = (
        "dictionary<values=string, indices=int8, ordered=0>"
        "|timestamp[ns, tz=Europe/Paris]"
    )
    assert fresh["rows"] == [
        ["b", "2024-03-01T11:00:00.123456", arrow],
        ["a", "2024-03-01T23:00:00.000001", arrow],
    ]


def _spread(df, rows):
    """``df`` with no rows (rows=0), or its first row over 4 partitions.
    The empty case filters at run time (a constant-false filter would let
    the optimizer drop the Python pass altogether)."""
    if rows == 0:
        return df.filter(F.rand(0) < 0)
    return df.limit(1).repartition(4)


@pytest.fixture(scope="module")
def docs(documents):
    return documents.persist()


@pytest.fixture(scope="module")
def emb(spark):
    return spark.read.parquet(f"{SF_DIR}/embeddings.parquet").persist()


def _extract_pages(spark, docs, emb, rows):
    from image_ocr_spark.operators.generate import generate_pages
    from image_ocr_spark.plans.pipeline import extract_pages

    return extract_pages(_spread(generate_pages(docs), rows))


def _simhash(spark, docs, emb, rows):
    from image_ocr_spark.operators.dedup import simhash_arrow

    return simhash_arrow(_spread(docs, rows))


def _minhash(spark, docs, emb, rows):
    from image_ocr_spark.operators.dedup import minhash_arrow

    return minhash_arrow(_spread(docs, rows))


def _assign_cells(spark, docs, emb, rows):
    from image_ocr_spark.operators.similarity import assign_cells_arrow

    dim = len(emb.first().embedding)
    vecs = _spread(
        emb.select(F.col("vec_id").alias("vid"), F.col("embedding").alias("v")), rows
    )
    return assign_cells_arrow(vecs, [(0, [1.0] * dim), (1, [-1.0] * dim)])


def _brute_force(spark, docs, emb, rows):
    from image_ocr_spark.operators.similarity import brute_force_topk

    # the queries are collected when the plan is built: keep one, so the
    # rows=0 case still runs the corpus pass on an empty input
    return brute_force_topk(_spread(emb, rows), _spread(emb, 1), k=1)


def _bloom(spark, docs, emb, rows):
    from image_ocr_spark.operators.bloom import bloom_build, flag_maybe_seen

    m_bits = 1 << 12
    bitmap = bloom_build(docs, "text", m_bits, 3)
    return flag_maybe_seen(_spread(docs, rows), bitmap, "text", m_bits, 3)


OPS = {
    "extract_pages": _extract_pages,
    "simhash_arrow": _simhash,
    "map_rows.minhash_arrow": _minhash,
    "assign_cells_arrow": _assign_cells,
    "brute_force_topk": _brute_force,
    "flag_maybe_seen": _bloom,
}


@pytest.mark.parametrize("rows", [0, 1])
@pytest.mark.parametrize("op", list(OPS))
def test_empty_and_sparse_batches(spark, docs, emb, op, rows):
    got = OPS[op](spark, docs, emb, rows).collect()
    assert len(got) == rows, got
