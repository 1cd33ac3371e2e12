"""Connector layer: Spark 4 Python DataSources.

The reference talks to two HTTP APIs from driver-side Python
(Facebook Ads Insights, reference main.py:161-181; currencylayer,
reference main.py:117-127). Here each is a ``pyspark.sql.datasource``
DataSource so the *executors* pull pages in parallel — one input
partition per (account × day) — and Catalyst's column pruning /
filter pushdown reach the API parameters.
"""

from .bigquery_local import BigQueryLocalDataSource
from .currencylayer import CurrencyLayerDataSource
from .facebook_insights import FacebookInsightsDataSource
from .transport import (
    FixtureTransport,
    SyntheticTransport,
    Transport,
    TransportError,
    with_retries,
)


def register_all(spark) -> None:
    """Register the connectors a session does not hold yet (idempotent).

    The DataSource class is cloudpickled to Spark's Python worker
    processes, which do NOT inherit the driver's ``sys.path`` — a
    session built outside this repo would hit ModuleNotFoundError on
    deserialization. Registering the package for pickle-BY-VALUE makes
    the connectors self-contained (pure-Python, no binary deps), so
    they run on any executor without shipping the repo.

    A registration pickles the class and costs tens of py4j round trips,
    and Spark logs a WARN when it replaces a name, so a connector the
    session already holds (every event after a session's first) is
    left as it is; a new session (``spark.newSession()``) holds none.
    """
    import facebook_ads_bigquery_etl_spark as pkg
    from pyspark import cloudpickle

    cloudpickle.register_pickle_by_value(pkg)
    # A reader implementing pushFilters() is REJECTED outright when
    # Python-source filter pushdown is off (the default on a vanilla
    # session) — enable it here so every entry path (ETL runner, query
    # library, user session) gets the same pushdown-capable connector.
    spark.conf.set("spark.sql.python.filterPushdown.enabled", "true")
    held = spark._jsparkSession.sessionState().dataSourceManager()
    missing = [
        source
        for source in (FacebookInsightsDataSource, CurrencyLayerDataSource, BigQueryLocalDataSource)
        if not held.dataSourceExists(source.name())
    ]
    if not missing:
        return
    # Spark checks a new name against the sources the JVM's ACTIVE
    # session can look up, so registering on any other session (one
    # from newSession(), say) fails as DATA_SOURCE_ALREADY_EXISTS
    jvm_session = spark._jvm.org.apache.spark.sql.SparkSession
    previous = jvm_session.getActiveSession()
    jvm_session.setActiveSession(spark._jsparkSession)
    try:
        for source in missing:
            spark.dataSource.register(source)
    finally:
        if previous.isDefined():
            jvm_session.setActiveSession(previous.get())
        else:
            jvm_session.clearActiveSession()


__all__ = [
    "BigQueryLocalDataSource",
    "CurrencyLayerDataSource",
    "FacebookInsightsDataSource",
    "FixtureTransport",
    "SyntheticTransport",
    "Transport",
    "TransportError",
    "register_all",
    "with_retries",
]
