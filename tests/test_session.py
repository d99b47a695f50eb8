"""Session defaults sized to the host; spark-submit keeps its own master."""

import os
import subprocess
import sys

import pyspark

_JOB = """\
import pcornet_data_curation_spark as pkg
from pcornet_data_curation_spark.operators.score import with_doc_stats
from pcornet_data_curation_spark.session import get_spark

assert ".zip" in pkg.__file__, pkg.__file__
spark = get_spark()
print("master", spark.sparkContext.master)
try:
    get_spark(cores=2)
except ValueError:
    print("cores refused")
df = spark.createDataFrame([("u", "one two three four")], "url string, text string")
print("n_tokens", with_doc_stats(df).collect()[0]["n_tokens"])
spark.stop()
"""


def test_driver_memory_fits_the_host(spark):
    conf = spark.sparkContext.getConf().get("spark.driver.memory")
    driver = spark._jvm.org.apache.spark.network.util.JavaUtils.byteStringAsBytes(conf)
    assert driver <= os.sysconf("SC_PHYS_PAGES") * os.sysconf("SC_PAGE_SIZE")
    cores = int(os.environ.get("SPARK_GRAFT_CPUS", "0")) or len(os.sched_getaffinity(0))
    assert spark.sparkContext.master == f"local[{cores}]"


def test_spark_submit_keeps_its_master_and_workers_import_the_zip(tmp_path):
    """Under spark-submit the session runs on the launcher's master, and
    Python workers import the package from the --py-files zip alone:
    no PYTHONPATH, and a working directory outside the repo."""
    sys.path.insert(0, os.path.join(os.path.dirname(__file__), "..", "tools"))
    import build_pyfiles

    zip_path = build_pyfiles.build(str(tmp_path / "pkg.zip"))
    (tmp_path / "job.py").write_text(_JOB)
    submit = os.path.join(os.path.dirname(pyspark.__file__), "bin", "spark-submit")
    env = {k: v for k, v in os.environ.items() if k != "PYTHONPATH"}
    out = subprocess.run(
        [submit, "--master", "local[2]", "--py-files", zip_path, "job.py"],
        cwd=str(tmp_path), env=env, capture_output=True, text=True, timeout=600,
    )
    assert out.returncode == 0, out.stderr[-4000:]
    lines = out.stdout.splitlines()
    assert "master local[2]" in lines
    assert "cores refused" in lines
    assert "n_tokens 4" in lines
