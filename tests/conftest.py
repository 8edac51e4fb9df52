import pytest


@pytest.fixture(scope="session")
def spark():
    from geo_spark.session import get_spark

    s = get_spark(app="geo_spark_tests", master="local[4]", shuffle_partitions=4)
    s.sparkContext.setLogLevel("ERROR")
    yield s
    s.stop()


@pytest.fixture(scope="session")
def as_distributed():
    """``as_distributed(layer)``: the same layer with its closure map
    dropped, which forces the blob-join refine tier that a layer above
    ``Layer.MAX_CLOSURE_GEOMS`` gets by construction."""
    from geo_spark.operators.spatial_join import Layer

    def drop_closure(layer):
        return Layer(
            layer.geoms,
            layer.covering,
            layer.levels,
            None,
            covering_rows=layer.covering_rows,
            n_geoms=layer.n_geoms,
            radius_rad=layer.radius_rad,
        )

    return drop_closure
