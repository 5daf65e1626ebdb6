"""§2F UDF surface: the Arrow paths agree with their built-in equivalents."""

from __future__ import annotations

import math

from pyspark.sql import functions as F
from pyspark.sql.window import Window as W

from machinelearningalgomapreduce_spark.functions import udfs
from machinelearningalgomapreduce_spark.functions.vectors import norm
from machinelearningalgomapreduce_spark.sources.catalog import load_tables


def test_pandas_udf_norm_matches_builtin(spark, sf_dir):
    emb = load_tables(spark, sf_dir).embeddings.limit(50)
    got = emb.select(
        udfs.l2_norm_udf("embedding").alias("u"), norm(F.col("embedding")).alias("b")
    ).collect()
    for r in got:
        assert math.isclose(r.u, r.b, rel_tol=1e-9)


def test_token_entropy_bounds(spark, sf_dir):
    docs = load_tables(spark, sf_dir).documents.limit(20)
    rows = docs.select(
        udfs.token_entropy_udf("text").alias("h"),
        F.log2(F.size(F.split("text", " ")).cast("double")).alias("hmax"),
    ).collect()
    for r in rows:
        assert -1e-9 <= r.h <= r.hmax + 1e-9  # 0 ≤ H ≤ log2(n_tokens)


def test_applyinpandas_zscore_matches_window_builtin(spark, sf_dir):
    events = load_tables(spark, sf_dir).events
    got = {r.event_id: r.zscore for r in udfs.zscore_per_user(events).collect()}
    w = W.partitionBy("user_id")
    expected = {
        r.event_id: r.z
        for r in events.select(
            "event_id",
            (
                (F.col("value") - F.avg("value").over(w))
                / F.stddev_pop("value").over(w)
            ).alias("z"),
        ).collect()
    }
    assert set(got) == set(expected)
    for k, v in expected.items():
        assert math.isclose(got[k], v, rel_tol=1e-9, abs_tol=1e-12), k


def test_explode_tokens_shape(spark, sf_dir):
    docs = load_tables(spark, sf_dir).documents
    out = udfs.explode_tokens(docs)
    n_tokens = docs.select(F.sum(F.size(F.split("text", " ")))).first()[0]
    assert out.count() == n_tokens
    assert out.columns == ["doc_id", "pos", "token"]


def test_observe_counters_ride_the_pass(spark, sf_dir):
    """with_quality_counters surfaces row/null tallies from the SAME pass
    that computed the query result — no extra scan (SURVEY §2A counters)."""
    from pyspark.sql import functions as F

    from machinelearningalgomapreduce_spark.functions.metrics import (
        with_quality_counters,
    )
    from machinelearningalgomapreduce_spark.sources.catalog import load_tables

    ev = load_tables(spark, sf_dir).events
    observed, obs = with_quality_counters(ev, "user_id", "props")
    out = observed.groupBy("event_type").count().collect()
    assert len(out) > 0
    got = obs.get
    assert got["n_rows"] == ev.count()
    assert got["n_null_user_id"] == 0
    assert got["n_null_props"] == 0


def test_python_udtf_matches_jvm_explode(spark, sf_dir):
    """The Spark-4 Python UDTF fan-out equals the JVM posexplode twin on
    the fixture corpus (both 0-based positions, char trigrams)."""
    from pyspark.sql import functions as F

    from machinelearningalgomapreduce_spark.functions.storage import materialize_once
    from machinelearningalgomapreduce_spark.functions.udfs import (
        CharNgramsUDTF,
        char_ngrams_jvm,
    )
    from machinelearningalgomapreduce_spark.sources.catalog import load_tables

    docs = materialize_once(load_tables(spark, sf_dir).documents.limit(50))
    spark.udtf.register("char_ngrams", CharNgramsUDTF)
    docs.createOrReplaceTempView("udtf_docs")
    got = spark.sql(
        "SELECT d.doc_id, t.pos, t.ngram FROM udtf_docs d, "
        "LATERAL char_ngrams(d.text) t"
    )
    want = char_ngrams_jvm(docs)
    assert got.count() == want.count()
    assert got.exceptAll(want).count() == 0
    assert want.exceptAll(got).count() == 0


def test_char_ngrams_jvm_short_text_emits_nothing(spark):
    """Degenerate inputs: texts shorter than 3 chars must emit ZERO rows
    from both the UDTF and the JVM twin. Guards the sequence(1, 0) pitfall
    (negative default step yields [1, 0], i.e. two spurious rows)."""
    from machinelearningalgomapreduce_spark.functions.udfs import (
        CharNgramsUDTF,
        char_ngrams_jvm,
    )

    docs = spark.createDataFrame(
        [(1, ""), (2, "a"), (3, "ab"), (4, "abc"), (5, "abcd")],
        "doc_id long, text string",
    )
    jvm = char_ngrams_jvm(docs)
    assert jvm.filter("doc_id <= 3").count() == 0
    assert [tuple(r) for r in jvm.filter("doc_id = 4").collect()] == [(4, 0, "abc")]
    assert jvm.filter("doc_id = 5").count() == 2

    spark.udtf.register("char_ngrams_short", CharNgramsUDTF)
    docs.createOrReplaceTempView("short_docs")
    udtf = spark.sql(
        "SELECT d.doc_id, t.pos, t.ngram FROM short_docs d, "
        "LATERAL char_ngrams_short(d.text) t"
    )
    assert udtf.exceptAll(jvm).count() == 0
    assert jvm.exceptAll(udtf).count() == 0
