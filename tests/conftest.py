import pytest

from deduce_spark.kernel.engine import Engine


@pytest.fixture(scope="session")
def engine() -> Engine:
    """Full engine from the repository's own pipeline config and pinned
    lookup structures (or the sources ``DEDUCE_SPARK_LOOKUP`` names)."""
    return Engine()
