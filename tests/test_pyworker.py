"""pyworker: the zip-directory guard every Python worker installs, and the
rule that every Arrow kernel the engine submits goes through it."""

import ast
import importlib
import inspect
import os
import pathlib
import sys
import zipfile
import zipimport

import numpy as np
import pandas as pd
import pytest

from haskellpagerank_spark import fixtures, pyworker
from haskellpagerank_spark.operators import graph as G
from haskellpagerank_spark.operators import pagerank_async
from haskellpagerank_spark.operators.pagerank import PageRankConfig
from haskellpagerank_spark.pyworker import install_zip_guard, python_kernel
from haskellpagerank_spark.streaming import stateful
from haskellpagerank_spark.streaming.ingest import stream_edge_lists

PACKAGE = pathlib.Path(pyworker.__file__).parent
KERNEL_METHODS = {"mapInPandas", "mapInArrow", "applyInPandas",
                  "applyInPandasWithState", "applyInArrow"}

eager_only = pytest.mark.skipif(
    not pyworker._EAGER_ZIP_INVALIDATION,
    reason="zipimporter.invalidate_caches is already lazy (CPython >= 3.13)")


@pytest.fixture
def unguarded(monkeypatch):
    """Run with the stock zipimporter.invalidate_caches and no read record;
    both are put back afterwards."""
    cls = zipimport.zipimporter
    monkeypatch.setattr(cls, "invalidate_caches",
                        inspect.unwrap(cls.invalidate_caches))
    monkeypatch.setattr(pyworker, "_read_at", {})


@pytest.fixture
def zip_on_path(tmp_path, monkeypatch):
    """A zip archive on sys.path holding one module; returns a writer that
    (re)writes the archive with the given module names."""
    path = str(tmp_path / "mods.zip")
    names: list[str] = []

    def write(*mods: str) -> str:
        with zipfile.ZipFile(path, "w") as z:
            for m in mods:
                z.writestr(f"{m}.py", f"NAME = {m!r}\n")
        names.extend(mods)
        return path

    monkeypatch.syspath_prepend(path)
    yield write
    for m in names:
        sys.modules.pop(m, None)
    sys.path_importer_cache.pop(path, None)
    zipimport._zip_directory_cache.pop(path, None)


def _count_reads(monkeypatch, archive: str) -> list[str]:
    reads: list[str] = []
    real = zipimport._read_directory

    def counting(path):
        if path == archive:
            reads.append(path)
        return real(path)

    monkeypatch.setattr(zipimport, "_read_directory", counting)
    return reads


@eager_only
def test_unchanged_archive_is_not_reread(unguarded, zip_on_path, monkeypatch):
    archive = zip_on_path("hpr_zg_unchanged")
    assert importlib.import_module("hpr_zg_unchanged").NAME == "hpr_zg_unchanged"
    reads = _count_reads(monkeypatch, archive)
    importlib.invalidate_caches()
    assert len(reads) == 1  # stock behaviour: every call re-reads
    assert install_zip_guard()
    importlib.invalidate_caches()  # first guarded call: reads, records
    reads.clear()
    importlib.invalidate_caches()
    assert reads == []


@eager_only
def test_rewritten_archive_is_reread(unguarded, zip_on_path):
    zip_on_path("hpr_zg_first")
    importlib.import_module("hpr_zg_first")
    assert install_zip_guard()
    importlib.invalidate_caches()
    zip_on_path("hpr_zg_first", "hpr_zg_added")
    importlib.invalidate_caches()
    assert importlib.import_module("hpr_zg_added").NAME == "hpr_zg_added"


@eager_only
def test_install_is_idempotent(unguarded):
    stock = zipimport.zipimporter.invalidate_caches
    assert install_zip_guard()
    guarded = zipimport.zipimporter.invalidate_caches
    assert guarded is not stock
    assert install_zip_guard()
    assert zipimport.zipimporter.invalidate_caches is guarded
    assert inspect.unwrap(guarded) is stock


def test_guard_is_a_noop_where_invalidation_is_lazy(unguarded, monkeypatch):
    monkeypatch.setattr(pyworker, "_EAGER_ZIP_INVALIDATION", False)
    stock = zipimport.zipimporter.invalidate_caches
    assert not install_zip_guard()
    assert zipimport.zipimporter.invalidate_caches is stock


def test_wrapper_keeps_the_kernel_signature():
    def grouped(pdf):
        return pdf

    def keyed(key, pdf):
        return pdf

    for fn in (grouped, keyed):
        wrapped = python_kernel(fn)
        assert wrapped.__name__ == fn.__name__
        assert inspect.getfullargspec(wrapped) == inspect.getfullargspec(fn)


@eager_only
def test_reused_worker_skips_rereads(spark):
    def probe(batches):  # nested, so it is pickled by value
        import zipimport as zi

        from haskellpagerank_spark import pyworker as pw
        guarded = getattr(zi.zipimporter.invalidate_caches, pw._GUARD_FLAG,
                          False)
        for b in batches:
            yield pd.DataFrame({"id": b["id"] * 3 + 1, "pid": os.getpid(),
                                "guarded": guarded,
                                "skipped": pw.reads_skipped})

    schema = "id long, pid long, guarded boolean, skipped long"
    df = spark.range(0, 64, numPartitions=16)
    first = df.mapInPandas(python_kernel(probe), schema).toPandas()
    second = df.mapInPandas(python_kernel(probe), schema).toPandas()
    # a worker that ran the first job reaches the second with the guard
    # already in place, and its task set-up skipped directory re-reads
    before = first.groupby("pid")["skipped"].max()
    reused = second[second["pid"].isin(before.index)]
    assert len(reused)
    assert reused["guarded"].all()
    assert (reused["skipped"].to_numpy()
            > before.loc[reused["pid"]].to_numpy()).all()
    plain = df.mapInPandas(probe, schema).toPandas()
    assert sorted(second["id"]) == sorted(plain["id"])


def _kernel_calls():
    for path in sorted(PACKAGE.rglob("*.py")):
        tree = ast.parse(path.read_text(), filename=str(path))
        for node in ast.walk(tree):
            if (isinstance(node, ast.Call)
                    and isinstance(node.func, ast.Attribute)
                    and node.func.attr in KERNEL_METHODS):
                yield path.relative_to(PACKAGE.parent), node


def _through_helper(call: ast.Call) -> bool:
    args = list(call.args[:1]) + [k.value for k in call.keywords
                                  if k.arg == "func"]
    return len(args) == 1 and (
        isinstance(args[0], ast.Call)
        and isinstance(args[0].func, ast.Name)
        and args[0].func.id == "python_kernel")


def test_every_kernel_goes_through_the_helper():
    calls = list(_kernel_calls())
    assert len(calls) >= 16
    bypass = [f"{path}:{call.lineno}" for path, call in calls
              if not _through_helper(call)]
    assert bypass == []


def _spy(monkeypatch, module):
    """Record each (kernel, wrapper) pair the module submits."""
    seen = []

    def spy(fn):
        wrapped = python_kernel(fn)
        seen.append((fn, wrapped))
        return wrapped

    monkeypatch.setattr(module, "python_kernel", spy)
    return seen


def test_cogrouped_kernel_gets_the_same_arguments(spark, monkeypatch):
    pairs = fixtures.FIXTURE_EDGES["princeton"]
    cfg = PageRankConfig(damping=0.15, num_iters=2, sink_mode="reflect",
                         init_value=1.0)

    def ranks():
        res = pagerank_async.run_pagerank_async(G.from_pairs(spark, pairs),
                                                cfg, num_blocks=2)
        return res.ranks.toPandas().sort_values("id")["rank"].to_numpy()

    seen = _spy(monkeypatch, pagerank_async)
    through_helper = ranks()
    assert seen
    for fn, wrapped in seen:
        assert inspect.getfullargspec(wrapped).args == ["vpdf", "epdf"]
        assert inspect.getfullargspec(fn) == inspect.getfullargspec(wrapped)
    monkeypatch.setattr(pagerank_async, "python_kernel", lambda fn: fn)
    np.testing.assert_array_equal(through_helper, ranks())


def test_keyed_stateful_kernel_gets_the_same_arguments(spark, monkeypatch,
                                                       tmp_path):
    src = tmp_path / "in"
    src.mkdir()
    (src / "b1.txt").write_text("1 0\n2 0\n0 3\n3 0\n")

    def degrees(out):
        log, ck = str(tmp_path / out / "log"), str(tmp_path / out / "ck")
        q = (stateful.running_degrees(stream_edge_lists(spark, str(src)),
                                      hub_threshold=3)
             .writeStream.foreachBatch(
                 lambda batch, _: batch.write.mode("append").parquet(log))
             .option("checkpointLocation", ck).outputMode("update")
             .trigger(availableNow=True).start())
        q.awaitTermination(120)
        got = stateful.latest_degrees(spark.read.parquet(log)).toPandas()
        return got.sort_values("id").reset_index(drop=True)

    seen = _spy(monkeypatch, stateful)
    through_helper = degrees("helper")
    (fn, wrapped), = seen
    assert inspect.getfullargspec(wrapped).args == ["key", "pdfs", "state"]
    assert inspect.getfullargspec(fn) == inspect.getfullargspec(wrapped)
    monkeypatch.setattr(stateful, "python_kernel", lambda fn: fn)
    pd.testing.assert_frame_equal(through_helper, degrees("plain"))
    row = through_helper.set_index("id").loc[0]
    assert (row["out_deg"], row["in_deg"], row["is_hub"]) == (1, 3, True)
