"""get_spark leaves the host process alone when it reuses a session."""

import os

from pi2spark.session import get_spark


def test_get_spark_reuse_leaves_pythonpath_alone(spark, monkeypatch):
    """With a SparkContext already active the JVM, and the environment
    its Python workers inherit, already exist, so get_spark must not
    touch the process environment."""
    # the fixture's own arguments: a reused session still takes the
    # builder's runtime SQL confs, which must not change under later tests
    again = dict(app_name="pi2spark-tests", cores=8, shuffle_partitions=8)
    monkeypatch.setenv("PYTHONPATH", "/elsewhere")
    assert get_spark(**again) is spark
    assert os.environ["PYTHONPATH"] == "/elsewhere"
    monkeypatch.delenv("PYTHONPATH")
    get_spark(**again)
    assert "PYTHONPATH" not in os.environ
