"""materialize(): the lineage-cut pin behind every intermediate-frame
checkpoint in the engine, with the cluster-safe 'reliable' mode."""

import pytest

from biocypher_spark.materialize import MATERIALIZE_CONF, materialize


@pytest.fixture
def conf_guard(spark):
    yield spark
    spark.conf.unset(MATERIALIZE_CONF)


def test_default_local_mode(spark):
    df = materialize(spark.range(10).withColumnRenamed("id", "x"))
    assert df.count() == 10
    assert df.columns == ["x"]


def test_reliable_requires_checkpoint_dir(conf_guard):
    spark = conf_guard
    spark.conf.set(MATERIALIZE_CONF, "reliable")
    if spark.sparkContext.getCheckpointDir() is not None:
        pytest.skip("session already has a checkpoint dir")
    with pytest.raises(ValueError, match="setCheckpointDir"):
        materialize(spark.range(3))


def test_reliable_mode_checkpoints(conf_guard, tmp_path):
    spark = conf_guard
    spark.conf.set(MATERIALIZE_CONF, "reliable")
    spark.sparkContext.setCheckpointDir(str(tmp_path / "ckpt"))
    df = materialize(spark.range(7))
    assert df.count() == 7
    # the eager checkpoint must have landed in the configured dir
    assert any((tmp_path / "ckpt").rglob("*"))


def test_unknown_mode_rejected(conf_guard):
    spark = conf_guard
    spark.conf.set(MATERIALIZE_CONF, "persist")
    with pytest.raises(ValueError, match="persist"):
        materialize(spark.range(3))


def test_read_table_rejects_unknown_mode(spark, tmp_path):
    # a mode outside plain / rebalance / pin must fail, not fall back to
    # one of them silently
    from biocypher_spark.queries import _t

    with pytest.raises(ValueError, match="materialize"):
        _t(spark, str(tmp_path), "documents", mode="materialize")
