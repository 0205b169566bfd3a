import os
from pathlib import Path

import pytest

os.environ.setdefault("SPARK_GRAFT_CPUS", "8")  # keep test JVM light

# Checkout of the reference repository whose golden files some tests
# read; by default a sibling of this repository named ``reference``.
REFERENCE_DIR = Path(
    os.environ.get(
        "CYCLEGRAPH_REFERENCE_DIR", Path(__file__).resolve().parents[2] / "reference"
    )
)


def reference_path(rel: str) -> Path:
    """``REFERENCE_DIR / rel``, or a FileNotFoundError that names the
    missing file and the variable that relocates the checkout."""
    path = REFERENCE_DIR / rel
    if not path.exists():
        raise FileNotFoundError(
            f"reference file {path} not found; set CYCLEGRAPH_REFERENCE_DIR "
            "to a checkout of the reference repository"
        )
    return path


@pytest.fixture(scope="session")
def spark():
    from cyclegraph_spark.session import get_spark

    s = get_spark(app_name="cyclegraph_spark_tests")
    yield s


@pytest.fixture(scope="session")
def sf_dir():
    return os.environ.get("SPARK_GRAFT_TEST_SF_DIR", "/root/testdata/sf0.001")
