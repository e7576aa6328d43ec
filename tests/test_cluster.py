"""Real multi-executor launch (the north rule's deployment shape): boot a
Spark STANDALONE cluster — one master + two workers, i.e. two separate
executor JVMs with network shuffle between them — on localhost, then
`spark-submit --py-files deusu_spark.zip` a build→query job at it and assert

  (a) the application was granted an executor on BOTH workers, and
  (b) the distributed build → SearchEngine results are rank-identical to
      the in-zip pure-Python oracle (the same contract the local[N] submit
      test pins in test_submit.py).

This is the closest a single sandbox host can get to "N executors": the
executors are real separate JVMs scheduled by a real master, not threads of
one local[N] JVM. Skips (not fails) if the full Spark distribution is absent
or the cluster cannot boot (port contention on a shared host).
"""

import os
import shutil
import socket
import subprocess
import sys
import tempfile
import textwrap
import time

import pytest

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

JOB = textwrap.dedent(
    """
    import sys

    import deusu_spark
    from deusu_spark import synth
    from deusu_spark.build import build_index
    from deusu_spark.oracle import oracle
    from deusu_spark.query import SearchEngine
    from deusu_spark.session import get_spark

    # imports must come from the --py-files zip, not a repo checkout
    assert ".zip" in deusu_spark.__file__, deusu_spark.__file__

    master_url, idx = sys.argv[1], sys.argv[2]
    spark = get_spark(
        app="deusu-cluster-smoke",
        master=master_url,
        shuffle_partitions=4,
        extra={
            "spark.executor.cores": "2",
            "spark.executor.memory": "2g",
            "spark.cores.max": "4",
        },
    )
    spark.sparkContext.setLogLevel("ERROR")
    convs = synth.gen_transcripts(60)
    build_index(spark, spark.createDataFrame(convs), idx,
                fancy_threshold=300, seg_size=256, n_salts=2)
    oidx = oracle.build_index(convs, fancy_threshold=300)
    eng = SearchEngine(spark, idx)
    for q in ["linux", "linux ubuntu", "linux -google", "w0042"]:
        got = eng.search(q, k=10)
        want = oracle.search(oidx, q, k=10)
        assert got == want, (q, got, want)
    print("CLUSTER_OK rank_identical=4")
    """
)


def _spark_home():
    sub = shutil.which("spark-submit")
    if not sub:
        return None
    home = os.path.dirname(os.path.dirname(os.path.realpath(sub)))
    cls = os.path.join(home, "bin", "spark-class")
    return home if os.path.exists(cls) else None


def _free_port():
    s = socket.socket()
    s.bind(("127.0.0.1", 0))
    port = s.getsockname()[1]
    s.close()
    return port


def _wait_for(pred, timeout_s, what):
    t0 = time.time()
    while time.time() - t0 < timeout_s:
        if pred():
            return True
        time.sleep(1.0)
    raise RuntimeError(f"timed out waiting for {what}")


@pytest.mark.skipif(_spark_home() is None, reason="no full Spark dist")
def test_standalone_cluster_two_executors_rank_identity():
    home = _spark_home()
    spark_class = os.path.join(home, "bin", "spark-class")
    tmp = tempfile.mkdtemp(prefix="deusu_cluster_")
    mport = _free_port()
    env = dict(
        os.environ,
        SPARK_LOCAL_IP="127.0.0.1",
        PYSPARK_PYTHON=sys.executable,
    )
    mlog = open(os.path.join(tmp, "master.log"), "wb")
    procs = []
    try:
        procs.append(
            subprocess.Popen(
                [spark_class, "org.apache.spark.deploy.master.Master",
                 "--host", "127.0.0.1", "--port", str(mport),
                 "--webui-port", str(_free_port())],
                stdout=mlog, stderr=subprocess.STDOUT, env=env,
            )
        )

        def _master_up():
            try:
                socket.create_connection(("127.0.0.1", mport), 1).close()
                return True
            except OSError:
                return False

        try:
            _wait_for(_master_up, 60, "master RPC port")
        except RuntimeError:
            pytest.skip("standalone master failed to boot (shared host)")

        for i in (1, 2):
            procs.append(
                subprocess.Popen(
                    [spark_class, "org.apache.spark.deploy.worker.Worker",
                     f"spark://127.0.0.1:{mport}",
                     "--cores", "2", "--memory", "2g",
                     "--webui-port", str(_free_port()),
                     "--work-dir", os.path.join(tmp, f"work{i}")],
                    stdout=subprocess.DEVNULL,
                    stderr=subprocess.DEVNULL,
                    env=env,
                )
            )

        def _mlog():
            with open(os.path.join(tmp, "master.log"), "rb") as f:
                return f.read().decode(errors="replace")

        _wait_for(
            lambda: _mlog().count("Registering worker") >= 2,
            90,
            "2 workers to register",
        )

        zpath = os.path.join(tmp, "deusu_spark.zip")
        subprocess.run(
            [sys.executable, "-m", "zipfile", "-c", zpath, "deusu_spark/"],
            cwd=REPO, check=True,
        )
        job = os.path.join(tmp, "job.py")
        with open(job, "w") as f:
            f.write(JOB)
        out = subprocess.run(
            [os.path.join(home, "bin", "spark-submit"),
             "--master", f"spark://127.0.0.1:{mport}",
             "--py-files", zpath, job,
             f"spark://127.0.0.1:{mport}", os.path.join(tmp, "idx")],
            cwd=tmp,  # NOT the repo: imports must resolve from the zip
            capture_output=True, text=True, timeout=420, env=env,
        )
        assert "CLUSTER_OK rank_identical=4" in out.stdout, (
            out.stdout[-2000:] + out.stderr[-3000:]
        )
        # the app must have been granted an executor on BOTH workers
        launches = [
            ln for ln in _mlog().splitlines() if "Launching executor" in ln
        ]
        workers = {ln.rsplit(" on worker ", 1)[-1] for ln in launches}
        assert len(workers) >= 2, launches
    finally:
        for p in reversed(procs):
            p.terminate()
        for p in procs:
            try:
                p.wait(timeout=20)
            except subprocess.TimeoutExpired:
                p.kill()
        mlog.close()
        shutil.rmtree(tmp, ignore_errors=True)
