"""Session defaults set by ``session.get_spark``."""


def test_dataframe_debugging_is_off(spark):
    # pyspark caches this flag on the first Column call of the process;
    # pinning it off keeps Column ops at one py4j round trip whichever
    # thread makes that call
    assert spark.conf.get("spark.python.sql.dataFrameDebugging.enabled") == "false"
