import shutil

import pytest

from kgp import oracle, schemas, synth
from kgp.session import get_spark

TINY_CONVS, TINY_ENTS = 100, 50
SMALL_CONVS, SMALL_ENTS = 600, 200


@pytest.fixture(scope="session")
def spark():
    s = get_spark(master="local[4]", app_name="kgp-tests",
                  extra_conf={"spark.sql.shuffle.partitions": "8"})
    yield s
    s.stop()


@pytest.fixture(scope="session")
def tiny_vocab():
    return synth.gen_entity_vocab(TINY_ENTS)


@pytest.fixture(scope="session")
def tiny_transcripts(tiny_vocab):
    return synth.gen_transcripts_pandas(TINY_CONVS, tiny_vocab)


@pytest.fixture(scope="session")
def tiny_oracle(tiny_transcripts, tiny_vocab):
    return oracle.run_pipeline(tiny_transcripts, tiny_vocab)


@pytest.fixture(scope="session")
def small_vocab():
    return synth.gen_entity_vocab(SMALL_ENTS)


@pytest.fixture(scope="session")
def small_transcripts(small_vocab):
    return synth.gen_transcripts_pandas(SMALL_CONVS, small_vocab)


@pytest.fixture(scope="session")
def small_oracle(small_transcripts, small_vocab):
    return oracle.run_pipeline(small_transcripts, small_vocab)


@pytest.fixture(scope="session")
def tiny_spark_inputs(spark, tiny_transcripts, tiny_vocab):
    t = spark.createDataFrame(tiny_transcripts, schema=schemas.TRANSCRIPTS)
    v = spark.createDataFrame(tiny_vocab, schema=schemas.ENTITY_VOCAB)
    return t, v


@pytest.fixture(scope="session")
def small_spark_inputs(spark, small_transcripts, small_vocab):
    t = spark.createDataFrame(small_transcripts, schema=schemas.TRANSCRIPTS)
    v = spark.createDataFrame(small_vocab, schema=schemas.ENTITY_VOCAB)
    return t, v


@pytest.fixture(scope="session")
def small_run(spark, small_spark_inputs, tmp_path_factory):
    """Full pipeline run on the small corpus, shared across test modules."""
    from kgp.pipeline import run_pipeline

    out = str(tmp_path_factory.mktemp("warehouse"))
    shutil.rmtree(out, ignore_errors=True)
    t, v = small_spark_inputs
    return run_pipeline(spark, t, v, out, "pytest:small")
