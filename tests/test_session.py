"""Session factory: deployment JVM options survive the engine's defaults."""

from __future__ import annotations

from file_standardization_etl_spark.session import CODE_CACHE_OPT, driver_java_options


def test_driver_java_options_appends_to_deployment_options():
    assert driver_java_options(None) == CODE_CACHE_OPT
    assert driver_java_options("") == CODE_CACHE_OPT
    assert (
        driver_java_options("-Dlog4j.configuration=file:ops.properties -Xss4m")
        == f"-Dlog4j.configuration=file:ops.properties -Xss4m {CODE_CACHE_OPT}"
    )
    # a deployment that sizes the code cache itself keeps its own value
    assert (
        driver_java_options("-XX:ReservedCodeCacheSize=1g")
        == "-XX:ReservedCodeCacheSize=1g"
    )
