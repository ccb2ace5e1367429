import sys
from pathlib import Path

import pytest

# this checkout's package, wherever the checkout lives
sys.path.insert(0, str(Path(__file__).resolve().parents[1]))

SF_SMALL = "/root/testdata/sf0.001"


@pytest.fixture(scope="session")
def spark():
    from grenad_spark.session import get_spark

    s = get_spark("pytest", cpus=8, shuffle_partitions=8)
    yield s


@pytest.fixture(scope="session")
def docs_small(spark):
    from grenad_spark.corpus import load_documents

    return load_documents(spark, SF_SMALL).cache()


@pytest.fixture(scope="session")
def index_small(spark, docs_small, tmp_path_factory):
    from grenad_spark.index.build import build_index

    out = str(tmp_path_factory.mktemp("idx") / "index")
    return build_index(spark, docs_small, out, n_shards=3)
