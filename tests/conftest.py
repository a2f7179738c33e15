import pytest

from mistral_ocr_app_spark.fixtures.transcripts import write_fixture
from mistral_ocr_app_spark.session import get_spark


@pytest.fixture(scope="session")
def spark():
    s = get_spark(shuffle_partitions=16, app_name="tests")
    yield s


@pytest.fixture(scope="session")
def fixture_paths(tmp_path_factory):
    out = tmp_path_factory.mktemp("transcripts_small")
    return write_fixture(str(out), n_convs=40, seed=42, heavy_convs=2, heavy_turns=150)
