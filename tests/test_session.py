"""Session factory: deployment JVM options survive the engine's defaults."""

from __future__ import annotations

from pyspark import SparkConf

from file_standardization_etl_spark.session import (
    CODE_CACHE_OPT,
    CODEGEN_CACHE_KEY,
    JAVA_OPTIONS_KEY,
    driver_java_options,
    resident_conf,
)


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


def test_codegen_cache_default_yields_to_deployment_value():
    conf = resident_conf(None, {})
    assert conf[CODEGEN_CACHE_KEY] == "2000"
    assert conf[JAVA_OPTIONS_KEY] == CODE_CACHE_OPT
    # a value passed through extra_conf is kept, and so are the caller's
    # other keys
    conf = resident_conf({CODEGEN_CACHE_KEY: "500", "spark.x": "1"}, {})
    assert conf[CODEGEN_CACHE_KEY] == "500" and conf["spark.x"] == "1"
    # a deployment value (spark-submit --conf, read through SparkConf()) too
    deployment = SparkConf(loadDefaults=False).setAll(
        [(CODEGEN_CACHE_KEY, "300"), (JAVA_OPTIONS_KEY, "-Xss4m")]
    )
    conf = resident_conf(None, deployment)
    assert conf[CODEGEN_CACHE_KEY] == "300"
    assert conf[JAVA_OPTIONS_KEY] == f"-Xss4m {CODE_CACHE_OPT}"
    # extra_conf wins over the deployment
    assert resident_conf({CODEGEN_CACHE_KEY: "500"}, deployment)[CODEGEN_CACHE_KEY] == "500"
