"""Expression-cache behavior: static Column fragments are built
once per session and reused (pelinker_spark/exprcache.py), and the cached
builders feed the same operators the parity/oracle tests already gate
(generate_mentions == HOF frame equality in test_textnorm_mentions;
oracle q53/q21/q22/q39)."""

from __future__ import annotations

from pyspark.sql import functions as F


def test_session_cached_returns_same_object(spark):
    from pelinker_spark.exprcache import session_cached

    calls = []

    @session_cached
    def frag(x):
        calls.append(x)
        return (F.lit(x).alias("a"),)

    a1 = frag(7)
    a2 = frag(7)
    b = frag(8)
    assert a1 is a2, "same args must hit the cache"
    assert b is not a1
    assert calls == [7, 8], "builder runs once per distinct args"


def test_session_cached_rebuilds_for_restarted_context(spark, monkeypatch):
    """A restarted SparkContext may reuse the old Python object's address;
    the cache must still treat it as a new context and re-run the builder."""
    from pyspark import SparkContext

    from pelinker_spark.exprcache import session_cached

    calls = []

    @session_cached
    def frag(x):
        calls.append(x)
        return object()

    first = frag(1)
    started = spark.sparkContext.startTime
    # same Python object, new context identity
    monkeypatch.setattr(SparkContext, "startTime", property(lambda sc: started + 1))
    second = frag(1)
    assert second is not first
    assert frag(1) is second
    assert calls == [1, 1]


def test_mention_fragments_cached_and_reusable(spark):
    from pelinker_spark.mentions import _mention_plan_cols, generate_mentions

    f1 = _mention_plan_cols((1, 2, 3), ())
    f2 = _mention_plan_cols((1, 2, 3), ())
    assert f1 is f2
    # reusing the cached fragments across DataFrames yields identical rows
    pages = spark.createDataFrame(
        [("u1", "Alpha beta gamma. Delta epsilon.", "en")],
        ["url", "text", "lang"],
    )
    r1 = generate_mentions(pages).collect()
    r2 = generate_mentions(pages).collect()
    assert sorted(map(tuple, r1)) == sorted(map(tuple, r2))
    assert len(r1) > 0


def test_gated_jw_udf_object_cached(spark):
    from pelinker_spark.scoring import make_gated_jw_udf

    u1 = make_gated_jw_udf(0.95)
    u2 = make_gated_jw_udf(0.95)
    u3 = make_gated_jw_udf(0.75)
    assert u1 is u2
    assert u3 is not u1
    df = spark.createDataFrame([("martha", "marhta")], ["a", "b"])
    (val,) = df.select(u1(F.col("a"), F.col("b")).alias("jw")).collect()[0]
    from pelinker_spark.scoring import _jaro_winkler

    assert abs(val - _jaro_winkler("martha", "marhta")) < 1e-12
