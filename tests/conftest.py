import shutil
import tempfile

import pytest

from deusu_spark import synth
from deusu_spark.session import get_spark

TINY_CONVS = 200
TINY_FANCY_THRESHOLD = 300
TINY_SEG_SIZE = 256  # small so multi-segment + block-max paths are exercised


@pytest.fixture(scope="session")
def spark():
    s = get_spark(app="deusu-tests", master="local[4]", shuffle_partitions=4)
    yield s
    s.stop()


@pytest.fixture(scope="session")
def tiny_corpus():
    return synth.gen_transcripts(TINY_CONVS)


@pytest.fixture(scope="session")
def tiny_index_dir(spark, tiny_corpus):
    from deusu_spark.build import build_index

    d = tempfile.mkdtemp(prefix="deusu_idx_")
    sdf = spark.createDataFrame(tiny_corpus)
    build_index(
        spark,
        sdf,
        d,
        fancy_threshold=TINY_FANCY_THRESHOLD,
        seg_size=TINY_SEG_SIZE,
        n_salts=4,
    )
    yield d
    shutil.rmtree(d, ignore_errors=True)


@pytest.fixture(scope="session")
def oracle_index(tiny_corpus):
    from deusu_spark.oracle import oracle

    return oracle.build_index(tiny_corpus, fancy_threshold=TINY_FANCY_THRESHOLD)


@pytest.fixture(scope="session")
def engine(spark, tiny_index_dir):
    from deusu_spark.query import SearchEngine

    return SearchEngine(spark, tiny_index_dir)
