"""The session's Python worker daemon (``worker_daemon``), driven in fresh
sessions: one with worker reuse off, so every task runs in a newly forked
worker, and one launched by ``spark-submit --py-files`` outside the repo."""

from __future__ import annotations

import json
import os
import subprocess
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

SCRIPT = r"""
import json, os, sys, zipfile

from cuda_float_compress_spark.localio import read_table_local
from cuda_float_compress_spark.operators.decode import decode_table
from cuda_float_compress_spark.operators.direct import encode_table_direct
from cuda_float_compress_spark.operators.verify import verify_roundtrip
from cuda_float_compress_spark.session import get_spark
from cuda_float_compress_spark.table import generate_webpages_df

tmp = sys.argv[1]
spark = get_spark(app="worker_daemon", cores=2, shuffle_partitions=2,
                  driver_memory="1g",
                  extra={"spark.python.worker.reuse": "false"})
sc = spark.sparkContext
out = {"reuse": sc.getConf().get("spark.python.worker.reuse"),
       "daemon": sc.getConf().get("spark.python.daemon.module")}


def probe(it):
    import zipimport

    import pyarrow as pa
    for _ in it:
        code = zipimport.zipimporter.invalidate_caches.__code__
        yield pa.RecordBatch.from_pylist([{"f": code.co_filename}])


out["patched_in"] = sorted({r["f"] for r in spark.range(
    4, numPartitions=4).mapInArrow(probe, "f string").collect()})

# modules shipped after the session (and its daemon) started
with zipfile.ZipFile(os.path.join(tmp, "cfc_zipped.zip"), "w") as z:
    z.writestr("cfc_zipped.py", "VALUE = 'from zip'\n")
with open(os.path.join(tmp, "cfc_plain.py"), "w") as f:
    f.write("VALUE = 'from py'\n")
sc.addPyFile(os.path.join(tmp, "cfc_zipped.zip"))
sc.addPyFile(os.path.join(tmp, "cfc_plain.py"))


def shipped(it):
    import cfc_plain
    import cfc_zipped

    import pyarrow as pa
    for _ in it:
        yield pa.RecordBatch.from_pylist(
            [{"v": cfc_zipped.VALUE + "/" + cfc_plain.VALUE}])


out["shipped"] = sorted({r["v"] for r in spark.range(
    2, numPartitions=2).mapInArrow(shipped, "v string").collect()})

src, enc = os.path.join(tmp, "src"), os.path.join(tmp, "enc")
generate_webpages_df(spark, 1200, partitions=2).write.parquet(src)
out["rows"] = encode_table_direct(spark, src, enc, resume=False,
                                  target_rows_per_split=400)["rows"]
out["roundtrip_ok"] = all(r["ok"] for r in verify_roundtrip(
    spark.read.parquet(src), decode_table(spark, enc), "url").collect())
out["local_rows"] = read_table_local(enc).num_rows
spark.stop()
print("RESULT " + json.dumps(out))
"""


def test_worker_daemon_without_worker_reuse(tmp_path):
    """A task runs in a worker forked from ``worker_daemon`` and sees its
    no-op ``zipimporter.invalidate_caches``; a ``.zip`` and a ``.py`` added
    with ``addPyFile`` after the session started still import in a task;
    and a direct encode -> ``decode_table`` round trip is bit-identical.
    The package is importable to the workers from the driver's working
    directory, as ``get_spark`` documents."""
    proc = subprocess.run(
        [sys.executable, "-c", SCRIPT, str(tmp_path)], cwd=ROOT,
        capture_output=True, text=True, timeout=600)
    lines = [ln for ln in proc.stdout.splitlines() if ln.startswith("RESULT ")]
    assert proc.returncode == 0 and lines, proc.stderr[-4000:]
    out = json.loads(lines[-1][len("RESULT "):])
    assert out["reuse"] == "false"
    assert out["daemon"] == "cuda_float_compress_spark.worker_daemon"
    assert len(out["patched_in"]) == 1
    assert out["patched_in"][0].endswith(
        os.path.join("cuda_float_compress_spark", "worker_daemon.py"))
    assert out["shipped"] == ["from zip/from py"]
    assert out["rows"] == out["local_rows"] == 1200
    assert out["roundtrip_ok"]


JOB = r"""
import json, sys

import pyarrow as pa

from cuda_float_compress_spark import cli
from cuda_float_compress_spark.session import get_spark
from cuda_float_compress_spark.table import generate_webpages_df

src, enc = sys.argv[1], sys.argv[2]
spark = get_spark(app="pyfiles", cores=2, shuffle_partitions=2,
                  driver_memory="1g")


def probe(it):
    import zipimport

    import cuda_float_compress_spark
    for _ in it:
        yield pa.RecordBatch.from_pylist([{
            "pkg": cuda_float_compress_spark.__file__,
            "patch": zipimport.zipimporter.invalidate_caches.__code__.co_filename,
        }])


rows = spark.range(2, numPartitions=2).mapInArrow(
    probe, "pkg string, patch string").collect()
print("WORKER " + json.dumps(sorted({(r["pkg"], r["patch"]) for r in rows})))
generate_webpages_df(spark, 600, partitions=2).write.parquet(src)
# the session is already active, so the cli joins it and leaves it running
rc = (cli.main(["encode", "--input", src, "--out", enc, "--mode", "direct"])
      or cli.main(["verify", "--input", src, "--out", enc]))
spark.stop()
sys.exit(rc)
"""


def test_pyfiles_package_runs_under_spark_submit(tmp_path):
    """The documented deployment: ``spark-submit --py-files`` with the
    packaged zip, from a directory outside the repo and with no
    ``PYTHONPATH``. The workers' daemon imports from the zip, and the cli's
    direct encode -> verify round trip passes."""
    import pyspark

    sys.path.insert(0, ROOT)
    from tools.package_pyfiles import build

    zip_path = build(str(tmp_path / "cfc_spark.zip"))
    (tmp_path / "job.py").write_text(JOB)
    home = os.environ.get("SPARK_HOME") or os.path.dirname(pyspark.__file__)
    env = {k: v for k, v in os.environ.items() if k != "PYTHONPATH"}
    env["PYSPARK_PYTHON"] = env["PYSPARK_DRIVER_PYTHON"] = sys.executable
    proc = subprocess.run(
        [os.path.join(home, "bin", "spark-submit"), "--py-files", zip_path,
         "job.py", str(tmp_path / "src"), str(tmp_path / "enc")],
        cwd=tmp_path, env=env, capture_output=True, text=True, timeout=600)
    assert proc.returncode == 0, proc.stderr[-4000:]
    lines = [ln for ln in proc.stdout.splitlines() if ln.startswith("WORKER ")]
    pkg = os.path.join(zip_path, "cuda_float_compress_spark")
    assert json.loads(lines[-1][len("WORKER "):]) == [
        [os.path.join(pkg, "__init__.py"), os.path.join(pkg, "worker_daemon.py")]]
    report = json.loads(proc.stdout.splitlines()[-1])
    assert report and all(r["ok"] for r in report)
