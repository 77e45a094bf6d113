"""The Python worker daemon hook (``distributedvectordatabase_spark._daemon``).

Workers start from the package's daemon module, whose stat-keyed
``zipimporter.invalidate_caches`` skips re-reading an unchanged zip on
every task. These tests pin that it still re-reads a zip that changed,
that Spark workers really run it, that a zip shipped with ``addPyFile``
after the first task still imports, and that workers find the package
whatever the driver's working directory.
"""

import importlib
import os
import subprocess
import sys
import textwrap
import types
import uuid
import zipfile
import zipimport

import pandas as pd
import pytest
from pyspark.sql.functions import pandas_udf

from distributedvectordatabase_spark import _daemon

PKG_PARENT = os.path.dirname(os.path.dirname(os.path.abspath(_daemon.__file__)))


def _write_zip(path, files: dict) -> None:
    with zipfile.ZipFile(path, "w") as z:
        for name, src in files.items():
            z.writestr(name, src)


def test_zip_importer_rereads_only_a_changed_archive(tmp_path, monkeypatch):
    tag = uuid.uuid4().hex[:8]
    m, n = f"dvdb_zm_{tag}", f"dvdb_zn_{tag}"
    arc = str(tmp_path / "mods.zip")
    _write_zip(arc, {f"{m}.py": "V = 1\n"})
    monkeypatch.setattr(zipimport.zipimporter, "invalidate_caches", _daemon.invalidate_caches)
    monkeypatch.syspath_prepend(arc)
    reads = []
    read_directory = zipimport._read_directory

    def counting_read(archive):
        reads.append(archive)
        return read_directory(archive)

    monkeypatch.setattr(zipimport, "_read_directory", counting_read)
    try:
        mod = importlib.import_module(m)
        assert mod.V == 1
        importlib.invalidate_caches()  # the first call reads and records each key
        before = reads.count(arc)
        for _ in range(3):
            importlib.invalidate_caches()
        assert reads.count(arc) == before, "an unchanged archive was re-read"

        _write_zip(arc, {f"{m}.py": "V = 2\n", f"{n}.py": "W = 7\n"})
        importlib.invalidate_caches()
        assert reads.count(arc) == before + 1
        assert importlib.import_module(n).W == 7
        assert importlib.reload(mod).V == 2
    finally:
        sys.modules.pop(m, None)
        sys.modules.pop(n, None)


def test_workers_run_the_daemon_and_import_a_late_py_file(spark, tmp_path):
    @pandas_udf("string")
    def hook_file(s: pd.Series) -> pd.Series:
        import zipimport

        return s.map(lambda _: zipimport.zipimporter.invalidate_caches.__code__.co_filename)

    first = spark.range(4).select(hook_file("id").alias("f")).collect()
    assert {os.path.basename(r.f) for r in first} == {"_daemon.py"}

    name = f"dvdb_late_{uuid.uuid4().hex[:8]}"
    arc = tmp_path / f"{name}.zip"
    _write_zip(arc, {f"{name}.py": "def triple(x):\n    return 3 * x\n"})
    spark.sparkContext.addPyFile(str(arc))

    @pandas_udf("long")
    def triple(s: pd.Series) -> pd.Series:
        return importlib.import_module(name).triple(s)

    got = sorted(r.t for r in spark.range(8).select(triple("id").alias("t")).collect())
    assert got == [3 * i for i in range(8)]


_FROM_ANY_CWD = """
import sys
sys.path.insert(0, {parent!r})
import pandas as pd
from pyspark.sql.functions import pandas_udf
from distributedvectordatabase_spark import get_spark

spark = get_spark(master="local[1]", shuffle_partitions=1,
                  extra_conf={{"spark.ui.showConsoleProgress": "false"}})

@pandas_udf("long")
def plus_one(s: pd.Series) -> pd.Series:
    return s + 1

print("RESULT", spark.range(1).select(plus_one("id")).first()[0])
spark.stop()
"""


def test_workers_find_the_package_from_any_working_directory(tmp_path):
    """The daemon module is imported before any task, even a UDF that
    never touches the package; get_spark must put the package on the
    workers' path itself, not rely on the driver's cwd or PYTHONPATH."""
    env = {k: v for k, v in os.environ.items() if k != "PYTHONPATH"}
    env.update(PYSPARK_PYTHON=sys.executable, DVDB_DRIVER_MEM="1g")
    proc = subprocess.run(
        [sys.executable, "-c", textwrap.dedent(_FROM_ANY_CWD.format(parent=PKG_PARENT))],
        cwd=tmp_path, env=env, capture_output=True, text=True, timeout=600,
    )
    assert "RESULT 1" in proc.stdout, proc.stderr[-3000:]


@pytest.mark.parametrize("caller", [None, "/srv/extra-libs"])
def test_get_spark_merges_the_workers_pythonpath(monkeypatch, caller):
    """The package's parent joins any PYTHONPATH the caller passes,
    after it; a caller's daemon module wins like any extra_conf."""
    from distributedvectordatabase_spark import session

    seen = {}

    class Builder:
        def appName(self, _):
            return self

        master = appName

        def config(self, k, v):
            seen[k] = v
            return self

        def getOrCreate(self):
            return seen

    monkeypatch.setattr(session, "SparkSession", types.SimpleNamespace(builder=Builder()))
    extra = {"spark.python.daemon.module": "pyspark.daemon"}
    if caller:
        extra["spark.executorEnv.PYTHONPATH"] = caller
    conf = session.get_spark(master="local[1]", extra_conf=extra)
    want = [caller, PKG_PARENT] if caller else [PKG_PARENT]
    assert conf["spark.executorEnv.PYTHONPATH"] == os.pathsep.join(want)
    assert conf["spark.python.daemon.module"] == "pyspark.daemon"
