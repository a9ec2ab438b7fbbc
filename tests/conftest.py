import contextlib
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
def uncoalesced(spark):
    """``with uncoalesced(): ...`` turns AQE partition coalescing off for
    the writes inside it and restores the setting afterwards, so a
    small ``publish_segments`` keeps one file per range partition of
    its count-less bucket clustering — enough files for the manifest's
    per-file stats to plan some away."""
    key = "spark.sql.adaptive.coalescePartitions.enabled"

    @contextlib.contextmanager
    def scope():
        old = spark.conf.get(key)
        spark.conf.set(key, "false")
        try:
            yield
        finally:
            spark.conf.set(key, old)

    return scope


@pytest.fixture(scope="session")
def reference_tree() -> str:
    """Path of the reference tree. The parity tests that execute the
    reference's own code or read its corpora fail here, with one clear
    message, when it is absent — they are never skipped."""
    if not os.path.isdir(REFERENCE_TREE):
        pytest.fail(f"reference tree missing at {REFERENCE_TREE}",
                    pytrace=False)
    return REFERENCE_TREE
