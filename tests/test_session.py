"""Session construction: runtime confs and their env tunables."""

from __future__ import annotations

from ozone_spark import session


def test_env_tunable_set_after_import_takes_effect(spark, monkeypatch):
    """SPARK_GRAFT_AQE_* are read when a session is built or handed in,
    not when ozone_spark.session is imported."""
    conf = "spark.sql.adaptive.advisoryPartitionSizeInBytes"
    try:
        with monkeypatch.context() as m:
            m.setenv("SPARK_GRAFT_AQE_ADVISORY", "32m")
            m.setenv("SPARK_GRAFT_AQE_PARALLELISM_FIRST", "false")
            session.apply_runtime_confs(spark)
            assert spark.conf.get(conf) == "32m"
            assert spark.conf.get("spark.sql.adaptive.coalescePartitions"
                                  ".parallelismFirst") == "false"
    finally:
        session.apply_runtime_confs(spark)  # back to the shared defaults
    assert spark.conf.get(conf) == session.runtime_confs()[conf]
