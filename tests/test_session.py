"""The session factory's driver JVM launch flags."""

TIER4_FLAGS = (
    "-XX:Tier4InvocationThreshold=50000",
    "-XX:Tier4MinInvocationThreshold=6000",
    "-XX:Tier4CompileThreshold=150000",
    "-XX:Tier4BackEdgeThreshold=400000",
)


def test_driver_jvm_runs_with_raised_c2_thresholds(spark):
    jvm = spark.sparkContext._jvm
    args = list(
        jvm.java.lang.management.ManagementFactory.getRuntimeMXBean().getInputArguments()
    )
    for flag in TIER4_FLAGS:
        assert flag in args, f"{flag} missing from the driver JVM's arguments {args}"
    conf = spark.sparkContext.getConf()
    assert set(TIER4_FLAGS) <= set(conf.get("spark.driver.defaultJavaOptions", "").split())
    # extraJavaOptions holds only what Spark itself adds (module opens): the
    # factory leaves it to callers
    extra_opts = conf.get("spark.driver.extraJavaOptions", "")
    assert "Tier4" not in extra_opts, extra_opts
