"""session.get_spark defaults: the values every plan shape, oracle
sweep and bench number in this repo was measured with. They are
constants (extra_conf is the one override route), so changing one
changes the engine's plans."""


def test_local_session_defaults(spark):
    # the SparkConf the session was created with: later per-test
    # spark.conf.set calls do not change it
    conf = spark.sparkContext.getConf()
    assert spark.sparkContext.master.startswith("local")
    assert conf.get("spark.sql.shuffle.partitions") == "32"
    assert conf.get("spark.sql.files.maxPartitionBytes") == "1m"
