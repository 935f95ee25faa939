"""``llm.ckpt``: where lineage cuts are stored (the session's
``ckpt.LOCATION_KEY``) and who the pool threads' jobs belong to."""

from __future__ import annotations

import contextlib
import sys

from pyspark.sql import functions as F

from peskas_timor_data_pipeline_spark import obs
from peskas_timor_data_pipeline_spark.llm import ckpt


@contextlib.contextmanager
def _located(spark, path):
    spark.conf.set(ckpt.LOCATION_KEY, str(path))
    try:
        yield
    finally:
        spark.conf.unset(ckpt.LOCATION_KEY)


def _files(path) -> set:
    return {p for p in path.rglob("*") if p.is_file()}


def _agg(spark, mod: int):
    return (spark.range(0, 2000, 1, 4)
            .groupBy((F.col("id") % mod).alias("k"))
            .agg(F.sum("id").alias("s")))


def test_each_location_receives_its_own_checkpoint_files(spark, tmp_path):
    """Two successive locations in one session: each cut's files land
    under the location set when it ran, never under an earlier one; with
    the key unset the cut is local again and writes no files. Eight
    concurrent ``materialize_many`` cuts point the context at the first
    location once, so it holds one checkpoint directory."""
    a, b = tmp_path / "a", tmp_path / "b"
    interval = sys.getswitchinterval()
    sys.setswitchinterval(1e-6)
    try:
        with _located(spark, a):
            got_a = ckpt.materialize_many([_agg(spark, m) for m in range(2, 10)])
    finally:
        sys.setswitchinterval(interval)
    assert len(list(a.iterdir())) == 1
    in_a = _files(a)
    assert in_a
    with _located(spark, b):
        got_b = ckpt.materialize(_agg(spark, 11))
    assert _files(a) == in_a
    in_b = _files(b)
    assert in_b
    local = ckpt.materialize(_agg(spark, 13))
    assert _files(a) == in_a and _files(b) == in_b
    assert [g.count() for g in got_a] == list(range(2, 10))
    assert got_b.count() == 11 and local.count() == 13


def test_lazy_cut_is_eager_and_reliable_with_a_location(spark, tmp_path):
    """The per-round CC cut (``ckpt.cut(df, eager=False)``) is a lazy
    local checkpoint without a location. With the key set it checkpoints
    at once: its files are under the key's path before any action runs on
    the returned frame."""
    loc = tmp_path / "loc"
    lazy = ckpt.cut(_agg(spark, 5), eager=False)
    with _located(spark, loc):
        cut = ckpt.cut(_agg(spark, 5), eager=False)
    assert _files(loc)
    assert sorted(cut.collect()) == sorted(lazy.collect())


def test_materialize_many_jobs_carry_the_callers_job_tag(spark):
    """Every job ``materialize_many`` submits from its pool threads
    carries a tag the caller set with ``addJobTag`` before the call."""
    sc = spark.sparkContext
    start = obs.cursor(spark)
    sc.addJobTag("ckpt-pool-tag")
    try:
        ckpt.materialize_many([_agg(spark, m) for m in (3, 5, 7)])
    finally:
        sc.removeJobTag("ckpt-pool-tag")
    jsc = sc._jsc.sc()
    jsc.listenerBus().waitUntilEmpty()
    end = obs.cursor(spark)
    assert end[0] - start[0] >= 3
    store = jsc.statusStore()
    for jid in range(start[0], end[0]):
        tags = store.job(jid).jobTags().mkString(",").split(",")
        assert "ckpt-pool-tag" in tags, (jid, tags)
