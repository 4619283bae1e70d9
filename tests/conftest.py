import pytest
from pyspark.sql import SparkSession


@pytest.fixture(scope="session")
def spark():
    s = (SparkSession.builder.master("local[4]")
         .appName("howto_mongo_bulk_update_from_parquet_spark-tests")
         .config("spark.sql.shuffle.partitions", "4")
         .config("spark.sql.session.timeZone", "UTC")
         .config("spark.ui.enabled", "false")
         .getOrCreate())
    yield s


@pytest.fixture(scope="session")
def catalog_frames(spark):
    """{query name: DataFrame} for EVERY catalog query over the catalog
    tests' data root, built once per session. The catalog-wide sweeps
    (laziness, plan hazards, tiny-key windows) all read these frames
    instead of each rebuilding ~241 queries; cycle-lane queries run
    their commits at build time, so a rebuild is not cheap."""
    from howto_mongo_bulk_update_from_parquet_spark.plans import all_queries
    from test_catalog import SF
    return {name: fn(spark, SF) for name, fn in all_queries().items()}


@pytest.fixture(autouse=True)
def _restore_shuffle_partitions(request):
    """Keep the shared session's parallelism deterministic across the
    suite: any test that routes through `session.get_spark` (every CLI
    test) silently flips spark.sql.shuffle.partitions 4 -> cpu_count
    for all later tests, because getOrCreate applies builder runtime
    confs to the EXISTING session. Plan-shape tests then see different
    Exchange decisions depending on test order (burned once in r10:
    the bucketed-scan pin flipped when run after test_config). Restore
    the conf after every test that touched an active session."""
    yield
    active = SparkSession.getActiveSession()
    if active is not None:
        active.conf.set("spark.sql.shuffle.partitions", "4")
