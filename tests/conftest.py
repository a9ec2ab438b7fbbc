import os

import pytest

# The reference implementation and its shipped corpora, read-only.
REFERENCE_TREE = "/root/reference"


@pytest.fixture(scope="session")
def spark():
    from searchengine_spark.session import get_spark

    s = get_spark(app_name="pytest", cores=4, shuffle_partitions=4)
    yield s


@pytest.fixture(scope="session")
def reference_tree() -> str:
    """Path of the reference tree. The parity tests that execute the
    reference's own code or read its corpora fail here, with one clear
    message, when it is absent — they are never skipped."""
    if not os.path.isdir(REFERENCE_TREE):
        pytest.fail(f"reference tree missing at {REFERENCE_TREE}",
                    pytrace=False)
    return REFERENCE_TREE
