"""spark-submit --py-files launch path (the north rule's deployment shape).

Packages deusu_spark/ into a zip exactly like bench/submit.sh, then launches
a real `spark-submit --py-files deusu_spark.zip job.py` from a directory that
does NOT contain the package — so every import must resolve from the zip, as
it would on a multi-executor cluster. The submitted job builds a tiny index
end-to-end and asserts rank-identity against the in-zip pure-Python oracle.
"""

import os
import shutil
import subprocess
import sys
import tempfile
import textwrap
import zipfile

import pytest

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

JOB = textwrap.dedent(
    """
    import os, sys

    import deusu_spark
    from deusu_spark import synth
    from deusu_spark.build import build_index
    from deusu_spark.oracle import oracle
    from deusu_spark.query import SearchEngine
    from deusu_spark.session import get_spark

    # imports must come from the --py-files zip, not a repo checkout
    assert ".zip" in deusu_spark.__file__, deusu_spark.__file__

    spark = get_spark(app="deusu-submit-smoke", master="local[2]",
                      shuffle_partitions=2)
    spark.sparkContext.setLogLevel("ERROR")
    convs = synth.gen_transcripts(60)
    idx = sys.argv[1]
    build_index(spark, spark.createDataFrame(convs), idx,
                fancy_threshold=300, seg_size=256, n_salts=2)
    oidx = oracle.build_index(convs, fancy_threshold=300)
    eng = SearchEngine(spark, idx)
    for q in ["linux", "linux ubuntu", "linux -google", "w0042"]:
        got = eng.search(q, k=10)
        want = oracle.search(oidx, q, k=10)
        assert got == want, (q, got, want)
    print("SUBMIT_OK rank_identical=4 from=" + deusu_spark.__file__)
    """
)


@pytest.mark.skipif(
    shutil.which("spark-submit") is None, reason="spark-submit not on PATH"
)
def test_spark_submit_py_files_end_to_end():
    tmp = tempfile.mkdtemp(prefix="deusu_submit_")
    try:
        zpath = os.path.join(tmp, "deusu_spark.zip")
        with zipfile.ZipFile(zpath, "w") as z:
            for root, _dirs, files in os.walk(os.path.join(REPO, "deusu_spark")):
                for f in files:
                    if f.endswith(".pyc") or "__pycache__" in root:
                        continue
                    p = os.path.join(root, f)
                    z.write(p, os.path.relpath(p, REPO))
        job = os.path.join(tmp, "job.py")
        with open(job, "w") as f:
            f.write(JOB)
        idx = os.path.join(tmp, "idx")
        env = {
            k: v
            for k, v in os.environ.items()
            if k not in ("PYTHONPATH", "SPARK_GRAFT_CPUS", "SPARK_GRAFT_SHUFFLE")
        }
        # the tests' interpreter drives both driver and workers
        env["PYSPARK_PYTHON"] = env["PYSPARK_DRIVER_PYTHON"] = sys.executable
        out = subprocess.run(
            [
                "spark-submit",
                "--master",
                "local[2]",
                "--py-files",
                zpath,
                job,
                idx,
            ],
            cwd=tmp,  # no deusu_spark/ here: imports MUST come from the zip
            env=env,
            capture_output=True,
            text=True,
            timeout=600,
        )
        assert out.returncode == 0, out.stdout[-4000:] + out.stderr[-4000:]
        assert "SUBMIT_OK rank_identical=4" in out.stdout, out.stdout[-4000:]
    finally:
        shutil.rmtree(tmp, ignore_errors=True)
