import pytest

from linkgraph.session import get_spark


@pytest.fixture(scope="session")
def spark():
    s = get_spark(
        app_name="linkgraph-tests",
        cores=4,
        shuffle_partitions=4,
        driver_memory="4g",
        extra_conf={"spark.sql.autoBroadcastJoinThreshold": str(8 * 1024 * 1024)},
    )
    yield s
    s.stop()


@pytest.fixture(scope="session")
def tiny_plan():
    from linkgraph.datagen import plan_graph

    return plan_graph(n=120, seed=42)


@pytest.fixture(scope="session")
def tiny_edges(spark, tiny_plan):
    """vid-level edge DataFrame straight from the plan (graph algo tests).
    Its cache is filled here, so no test that counts caches sees it
    appear during its own calls."""
    rows = sorted(tiny_plan.edge_vids())
    df = spark.createDataFrame(rows, "src bigint, dst bigint").persist()
    df.count()
    return df


@pytest.fixture(scope="session")
def tiny_pages(spark):
    from linkgraph.datagen import pages_spark

    df, plan = pages_spark(spark, n=60, seed=42)
    return df.persist(), plan
