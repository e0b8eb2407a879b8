import os

import pytest

os.environ.setdefault("SPARK_GRAFT_CPUS", "8")  # fast test startup


@pytest.fixture(scope="session")
def spark():
    from geobuf_cpp_spark.session import get_spark

    s = get_spark("tests", shuffle_partitions=8)
    yield s
    s.stop()


@pytest.fixture
def loop_paths(monkeypatch):
    """Iterate a test body over both paths of the bounded graph loops
    (pagerank, bfs_hops, kcore, dedup_clusters, grid_cluster): first the
    default cutoff, under which small test graphs run on the driver,
    then a cutoff of 0, which sends every graph through the distributed
    rounds. Yields the cutoff in force."""
    import geobuf_cpp_spark.operators.graph as G

    def paths():
        for cap in (G.DRIVER_LOOP_MAX_EDGES, 0):
            monkeypatch.setattr(G, "DRIVER_LOOP_MAX_EDGES", cap)
            yield cap

    return paths
