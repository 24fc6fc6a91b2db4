"""Seed determinism of the generated inputs: the same seed gives the same
digest, another seed another one."""

import pytest

from perfbench import inputs


def test_corpus_digest_follows_the_seed(tmp_path):
    digests = []
    for name, seed in (("a", 1), ("b", 1), ("c", 2)):
        path = str(tmp_path / name / "documents.parquet")
        inputs.write_corpus(path, 500, seed)
        digests.append(inputs.digest(path, "doc_id"))
    assert digests[0] == digests[1] != digests[2]


@pytest.fixture(scope="module")
def spark(tmp_path_factory):
    from pyspark.sql import SparkSession

    root = tmp_path_factory.mktemp("spark")
    s = (
        SparkSession.builder.master("local[2]")
        .config("spark.ui.enabled", "false")
        .config("spark.sql.warehouse.dir", str(root / "warehouse"))
        .config("spark.local.dir", str(root / "local"))
        .config("spark.driver.extraJavaOptions", f"-Djava.io.tmpdir={root}")
        .getOrCreate()
    )
    yield s
    s.stop()


def test_table_digest_follows_the_seed(spark, tmp_path):
    digests = []
    for name, seed in (("a", 1), ("b", 1), ("c", 2)):
        path = str(tmp_path / name)
        inputs.write_table(spark, path, 2_000, seed, batches=2)
        digests.append(inputs.digest(path, "id"))
    assert digests[0] == digests[1] != digests[2]
