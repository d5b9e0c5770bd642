"""Session defaults (wcdimportbot_spark/session.py)."""


def test_accumulator_noise_filter_is_scoped_and_installed_once(spark):
    """The DENY filter for DAGScheduler's late-accumulator noise sits on
    a dedicated DAGScheduler logger config, never on the root config
    (where it would filter every logger), and a second ``get_spark()``
    does not install it again."""
    from wcdimportbot_spark import session

    again = session.get_spark(app_name="wcdimportbot-tests")
    assert again is spark
    ctx = spark.sparkContext._jvm.org.apache.logging.log4j.LogManager.getContext(
        False
    )
    config = ctx.getConfiguration()
    assert session.ACCUMULATOR_NOISE not in str(
        config.getRootLogger().getFilter()
    )
    dag = config.getLoggerConfig(session.DAG_SCHEDULER_LOGGER)
    assert dag.getName() == session.DAG_SCHEDULER_LOGGER
    assert dag.isAdditive()
    assert str(dag.getFilter()).count(session.ACCUMULATOR_NOISE) == 1
