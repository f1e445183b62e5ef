"""The preloading worker daemon: zip directories are re-read only when the
archive changed, the preloaded heap is frozen before the workers fork,
and a zip shipped mid-session still imports."""

from __future__ import annotations

import importlib.util
import os
import uuid
import zipfile
import zipimport

import pandas as pd
from pyspark.sql import functions as F

from datasketches_rust_spark import daemon


def _write_zip(path: str, modules: dict) -> None:
    with zipfile.ZipFile(path, "w") as z:
        for name, src in modules.items():
            z.writestr(f"{name}.py", src)


def _import_from(importer, name):
    spec = importer.find_spec(name)
    assert spec is not None, name
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod


def test_zip_reread_only_when_changed(tmp_path, monkeypatch):
    archive = str(tmp_path / "shipped.zip")
    _write_zip(archive, {"dsrs_zip_a": "X = 1\n"})
    monkeypatch.setattr(zipimport, "_zip_directory_cache",
                        dict(zipimport._zip_directory_cache))
    first = zipimport.zipimporter(archive)
    reads = []
    stock_read = zipimport._read_directory

    def counting_read(path):
        reads.append(path)
        return stock_read(path)
    monkeypatch.setattr(zipimport, "_read_directory", counting_read)

    daemon._invalidate_if_changed(first)     # no stamp yet: one read
    assert reads == [archive]
    for _ in range(3):
        daemon._invalidate_if_changed(first)
    # a second importer over the same archive shares the last read
    second = zipimport.zipimporter(archive)
    daemon._invalidate_if_changed(second)
    assert reads == [archive]

    _write_zip(archive, {"dsrs_zip_a": "X = 1\n", "dsrs_zip_b": "Y = 2\n"})
    st = os.stat(archive)
    os.utime(archive, ns=(st.st_atime_ns, st.st_mtime_ns + 10**9))
    daemon._invalidate_if_changed(first)
    assert reads == [archive, archive]
    assert _import_from(first, "dsrs_zip_b").Y == 2
    daemon._invalidate_if_changed(second)   # adopts the new directory
    assert reads == [archive, archive]
    assert _import_from(second, "dsrs_zip_b").Y == 2

    os.remove(archive)                      # gone: stock behaviour
    daemon._invalidate_if_changed(first)
    assert first._files == {}


def test_workers_run_under_the_daemon_steps(spark):
    @F.pandas_udf("string")
    def report(s: pd.Series) -> pd.Series:
        import gc
        import sys
        inv = zipimport.zipimporter.invalidate_caches
        ours = inv is getattr(sys.modules["__main__"],
                              "_invalidate_if_changed", None)
        return pd.Series([f"{ours}|{gc.get_freeze_count()}"] * len(s))

    got = {r[0] for r in
           spark.range(0, 64, numPartitions=4)
           .select(report("id")).distinct().collect()}
    assert len(got) >= 1
    for line in got:
        ours, frozen = line.split("|")
        assert ours == "True"
        assert int(frozen) > 0


def test_zip_added_mid_session_imports(spark, tmp_path):
    name = f"dsrs_shipped_{uuid.uuid4().hex}"
    archive = str(tmp_path / f"{name}.zip")
    _write_zip(archive, {name: "ANSWER = 42\n"})
    spark.range(0, 8, numPartitions=4).select(  # workers already forked
        F.pandas_udf(lambda s: s, "long")("id")).collect()
    spark.sparkContext.addPyFile(archive)

    @F.pandas_udf("long")
    def answer(s: pd.Series) -> pd.Series:
        mod = importlib.import_module(name)
        return s * 0 + mod.ANSWER

    got = {r[0] for r in
           spark.range(0, 64, numPartitions=4).select(answer("id")).collect()}
    assert got == {42}
