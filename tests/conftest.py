import pytest

from pyrosar_spark.session import get_spark


@pytest.fixture(scope="session")
def spark():
    s = get_spark("pyrosar_spark_tests", cpus=8, shuffle_partitions=8, driver_memory="8g")
    yield s


@pytest.fixture(scope="session")
def docs(spark):
    from pyrosar_spark.datagen import generate_documents

    return generate_documents(spark, 300, seed=42).cache()


@pytest.fixture(scope="session")
def scenes(docs):
    from pyrosar_spark.operators.ingest import docs_to_scenes

    return docs_to_scenes(docs).cache()


@pytest.fixture(scope="session")
def sat_expected():
    """The convex-AOI SAT refine's contract for one row, decided by the
    numpy ``geom`` kernel: the convex hull of the row's points
    intersects the AOI. NULL or empty geometry and rows with more
    vertices than the unrolled SAT holds (after a closing point that
    repeats the first) are not selected."""
    import numpy as np

    from pyrosar_spark import geom

    def expected(points, aoi, max_vertices: int) -> bool:
        if not points:
            return False
        pts = [tuple(p) for p in points]
        if len(pts) >= 2 and pts[0] == pts[-1]:
            pts = pts[:-1]
        if len(pts) > max_vertices:
            return False
        hull = geom.convex_hull_ring(np.array(pts, dtype=np.float64))
        return bool(geom.flat_batch_intersects([hull.ravel()], aoi)[0])

    return expected
