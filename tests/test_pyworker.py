"""The Python worker daemon (makinage_spark.pyworker): a zip archive's
directory is re-read only when the archive changed on disk."""

import importlib
import os
import subprocess
import sys
import textwrap
import zipfile
import zipimport

import pyarrow as pa
import pytest


def _write_zip(path, modules):
    with zipfile.ZipFile(path, "w") as z:
        for name in modules:
            z.writestr(f"{name}.py", f"NAME = {name!r}\n")


@pytest.mark.skipif(sys.version_info >= (3, 12), reason="CPython 3.12+ reads zip directories lazily itself")
def test_unchanged_archive_is_not_reread_and_a_rewritten_one_is(tmp_path, monkeypatch):
    from makinage_spark import pyworker

    archive = str(tmp_path / "mods.zip")
    _write_zip(archive, ["a"])
    monkeypatch.setattr(zipimport.zipimporter, "invalidate_caches", pyworker.invalidate_caches)
    monkeypatch.syspath_prepend(archive)
    try:
        import a

        assert a.__loader__.archive == archive
        importlib.invalidate_caches()  # stamps every archive in the process
        reads = []
        read = zipimport._read_directory
        monkeypatch.setattr(zipimport, "_read_directory", lambda path: reads.append(path) or read(path))
        importlib.invalidate_caches()
        assert reads == []

        _write_zip(archive, ["a", "b"])
        importlib.invalidate_caches()
        assert reads == [archive]
        import b

        assert b.NAME == "b"
    finally:
        sys.modules.pop("a", None)
        sys.modules.pop("b", None)


def test_python_workers_fork_from_the_daemon_module(spark):
    def probe(batches):
        import importlib
        import os
        import zipimport

        reads = []
        read = zipimport._read_directory
        zipimport._read_directory = lambda path: reads.append(path) or read(path)
        try:
            importlib.invalidate_caches()  # the task's own setup already made one call
        finally:
            zipimport._read_directory = read
        with open(f"/proc/{os.getppid()}/cmdline", "rb") as f:
            parent = f.read().decode().split("\0")
        for _ in batches:
            pass
        yield pa.RecordBatch.from_pylist([{
            "method_file": zipimport.zipimporter.invalidate_caches.__code__.co_filename,
            "rereads": len(reads),
            "parent": " ".join(parent),
        }])

    rows = (
        spark.range(0, 400, numPartitions=4)
        .mapInArrow(probe, "method_file string, rereads long, parent string")
        .collect()
    )
    assert len(rows) == 4
    for row in rows:
        if sys.version_info < (3, 12):
            assert row.method_file.endswith(os.path.join("makinage_spark", "pyworker.py"))
        assert row.rereads == 0
        assert "-m makinage_spark.pyworker " in row.parent


def test_a_driver_that_finds_the_package_only_on_sys_path_runs_python_udfs(tmp_path):
    # another working directory and no PYTHONPATH naming the package: the
    # daemon still imports makinage_spark through the session's
    # spark.executorEnv.PYTHONPATH
    root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    script = tmp_path / "outside.py"
    script.write_text(textwrap.dedent(f"""
        import sys
        sys.path.insert(0, {root!r})
        import pandas as pd
        from pyspark.sql import functions as F
        import makinage_spark as mk

        spark = mk.get_spark(master="local[1]", shuffle_partitions=1, extra_confs={{
            "spark.ui.enabled": "false",
            "spark.driver.memory": "1g",
            "spark.sql.warehouse.dir": {str(tmp_path / "wh")!r},
        }})

        @F.pandas_udf("long")
        def plus_one(v: pd.Series) -> pd.Series:
            return v + 1

        print("SUM", spark.range(0, 10, numPartitions=2).select(plus_one("id").alias("v")).agg(F.sum("v")).first()[0])
        spark.stop()
    """))
    path = [p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep)
            if p and not os.path.isdir(os.path.join(p, "makinage_spark"))]
    env = {k: v for k, v in os.environ.items() if k != "PYTHONPATH"}
    if path:
        env["PYTHONPATH"] = os.pathsep.join(path)
    proc = subprocess.run(
        [sys.executable, str(script)], cwd=tmp_path, env=env, capture_output=True, text=True, timeout=600,
    )
    assert proc.returncode == 0, proc.stderr[-3000:]
    assert "SUM 55" in proc.stdout.splitlines()
