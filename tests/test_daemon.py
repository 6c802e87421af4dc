"""The Python worker daemon (knowledge_graph_builder_spark/daemon.py): a
zipimporter re-reads its archive only when the archive changed, a zip
added mid-application still imports in a reused worker, and get_spark
selects the daemon only when it starts its own JVM."""

from __future__ import annotations

import importlib
import os
import shutil
import subprocess
import sys
import textwrap
import uuid
import zipfile
import zipimport

import pytest

from knowledge_graph_builder_spark import daemon
from knowledge_graph_builder_spark.session import WORKER_DAEMON

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def _write_zip(path: str, module: str, source: str) -> None:
    tmp = f"{path}.tmp"
    with zipfile.ZipFile(tmp, "w") as zf:
        zf.writestr(f"{module}.py", source)
    os.replace(tmp, path)


def test_zip_reread_only_when_changed(tmp_path, monkeypatch):
    reads, reread = [], daemon._reread

    def counting_reread(self):
        reads.append(self.archive)
        reread(self)

    monkeypatch.setattr(daemon, "_reread", counting_reread)
    monkeypatch.setattr(zipimport.zipimporter, "invalidate_caches", daemon._invalidate_if_changed)

    module = f"kgb_zip_probe_{uuid.uuid4().hex}"
    archive = str(tmp_path / "probe.zip")
    _write_zip(archive, module, "VALUE = 1\n")
    monkeypatch.syspath_prepend(archive)
    try:
        assert importlib.import_module(module).VALUE == 1

        importlib.invalidate_caches()  # first call reads and records
        importlib.invalidate_caches()  # unchanged archive: no re-read
        assert reads.count(archive) == 1

        _write_zip(archive, module, "VALUE = 'rewritten'\n")
        del sys.modules[module]
        importlib.invalidate_caches()
        assert reads.count(archive) == 2
        assert importlib.import_module(module).VALUE == "rewritten"
    finally:
        sys.modules.pop(module, None)


def test_tier1_workers_run_the_daemon(spark):
    assert spark.sparkContext.getConf().get("spark.python.daemon.module") == WORKER_DAEMON[
        "spark.python.daemon.module"
    ]

    def probe(batches):
        import zipimport

        import pyarrow as pa

        for _ in batches:
            name = zipimport.zipimporter.invalidate_caches.__name__
            yield pa.RecordBatch.from_pylist([{"name": name}])

    names = {r.name for r in spark.range(2, numPartitions=2).mapInArrow(probe, "name string").collect()}
    assert names == {"_invalidate_if_changed"}


def test_add_py_file_imports_in_reused_worker(spark, tmp_path):
    def pids(batches):
        import os

        import pyarrow as pa

        for _ in batches:
            yield pa.RecordBatch.from_pylist([{"pid": os.getpid()}])

    before = {r.pid for r in spark.range(4, numPartitions=4).mapInArrow(pids, "pid long").collect()}

    module = f"kgb_pyfile_probe_{uuid.uuid4().hex}"
    archive = str(tmp_path / f"{module}.zip")
    _write_zip(archive, module, "VALUE = 'shipped'\n")
    spark.sparkContext.addPyFile(archive)

    def use(batches):
        import importlib
        import os

        import pyarrow as pa

        for _ in batches:
            value = importlib.import_module(module).VALUE
            yield pa.RecordBatch.from_pylist([{"pid": os.getpid(), "value": value}])

    rows = spark.range(1, numPartitions=1).mapInArrow(use, "pid long, value string").collect()
    assert [r.value for r in rows] == ["shipped"]
    assert rows[0].pid in before, "the task ran in a fresh worker, not a reused one"


_REPORT = textwrap.dedent(
    """
    import sys
    sys.path[:0] = sys.argv[1:]
    from knowledge_graph_builder_spark.session import get_spark
    spark = get_spark(master="local[1]", shuffle_partitions=1)
    print("daemon=" + spark.sparkContext.getConf().get("spark.python.daemon.module", ""))
    spark.stop()
    """
)


@pytest.mark.parametrize("how", ["own-jvm", "spark-submit", "zip-on-own-sys-path"])
def test_get_spark_sets_daemon_only_when_workers_can_start_it(tmp_path, how):
    """Own JVM with the package in the working directory: the daemon is
    set. A launcher's JVM, or a package this process imports from a zip put
    on its own sys.path (a worker started with -m would not find it):
    pyspark's daemon stays."""
    env = {k: v for k, v in os.environ.items() if k not in ("PYSPARK_GATEWAY_PORT", "PYTHONPATH")}
    env.update(SPARK_GRAFT_DRIVER_MEM="1g", PYSPARK_PYTHON=sys.executable)
    cwd = REPO
    if how == "spark-submit":
        script = tmp_path / "report.py"
        script.write_text(_REPORT)
        submit = shutil.which("spark-submit") or os.path.join(os.environ["SPARK_HOME"], "bin", "spark-submit")
        cmd = [submit, "--master", "local[1]", "--conf", "spark.ui.enabled=false", str(script)]
        env.update(PYTHONPATH=REPO, PYSPARK_DRIVER_PYTHON=sys.executable)
    elif how == "zip-on-own-sys-path":
        sys.path.insert(0, os.path.join(REPO, "tools"))
        import make_pyfiles

        cmd = [sys.executable, "-c", _REPORT, make_pyfiles.build(str(tmp_path / "kgb.zip"))]
        cwd = str(tmp_path)
    else:
        cmd = [sys.executable, "-c", _REPORT]  # the package imports from the working directory
    proc = subprocess.run(cmd, capture_output=True, text=True, timeout=300, cwd=cwd, env=env)
    assert proc.returncode == 0, proc.stderr[-2000:]
    got = [ln for ln in proc.stdout.splitlines() if ln.startswith("daemon=")]
    want = WORKER_DAEMON["spark.python.daemon.module"] if how == "own-jvm" else ""
    assert got == [f"daemon={want}"], proc.stdout[-2000:]
