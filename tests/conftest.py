import pytest

from graph_loom_spark.graph import PropertyGraph
from graph_loom_spark.interface import CypherSession
from graph_loom_spark.session import get_spark


@pytest.fixture(scope="session")
def spark():
    # small local session: tiny fixtures want few partitions, not 32,
    # and small Tungsten pages. The page size defaults to a share of the
    # (48g) heap, i.e. 64 MB, and every broadcast hash join on string
    # keys pins one page until the cleaner sees its Broadcast collected;
    # with a heap far above the host's memory that collection does not
    # come, and broadcast-heavy fixtures (tiny JVM-local graphs) grow the
    # JVM past the host's memory.
    s = get_spark(
        app_name="graph-loom-tests",
        master="local[4]",
        shuffle_partitions=4,
        extra_conf={"spark.buffer.pageSize": "2m"},
    )
    yield s


@pytest.fixture()
def session(spark):
    """Fresh empty graph per test (the reference tests start from an empty
    GraphDatabase)."""
    return CypherSession(PropertyGraph.empty(spark))
