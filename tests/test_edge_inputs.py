"""Edge inputs for the closing-addition operators: empty and
single-row frames must produce well-formed (usually empty) results,
not exceptions — the failure mode that surfaces at 100 TB as one
empty partition-slice killing a 10-hour job."""

from __future__ import annotations

from pyspark.sql import functions as F

from stream_processing_system_spark.operators import curation
from stream_processing_system_spark.operators.bloom import bloom_build, bloom_prune_join
from stream_processing_system_spark.operators.graph import bfs_hops
from stream_processing_system_spark.operators.text_analysis import (
    corpus_card,
    inverted_index,
    ngram_diversity,
)


def _empty_docs(spark):
    return spark.createDataFrame([], "doc_id long, source string, lang string, text string")


def test_bloom_on_empty_build_side(spark):
    keys = spark.createDataFrame([], "k long")
    fact = spark.range(0, 100).select(F.col("id").alias("k"))
    bm = bloom_build(keys, "k", n_bits=1 << 10)
    rows = bm.collect()
    assert len(rows) == 1 and all(w == 0 for w in rows[0]["_bloom"])
    assert bloom_prune_join(fact, keys, "k", n_bits=1 << 10).count() == 0


def test_domain_cap_empty_and_single(spark):
    empty = _empty_docs(spark).select("doc_id", "source", F.length("text").alias("n_chars"))
    assert curation.domain_cap(empty, "source", 5, [F.col("n_chars").desc()], "doc_id").count() == 0
    one = spark.createDataFrame([(1, "s", 10)], ["doc_id", "source", "n_chars"])
    got = curation.domain_cap(one, "source", 5, [F.col("n_chars").desc()], "doc_id").collect()
    assert len(got) == 1 and got[0]["rk"] == 1


def test_inverted_index_and_diversity_empty(spark):
    docs = _empty_docs(spark)
    assert inverted_index(docs).count() == 0
    assert ngram_diversity(docs).count() == 0
    assert corpus_card(docs).count() == 0


def test_corpus_card_single_token_docs(spark):
    docs = spark.createDataFrame(
        [(1, "w", "en", "x"), (2, "w", "en", "y")],
        ["doc_id", "source", "lang", "text"],
    )
    row = corpus_card(docs).collect()[0]
    assert row["n_docs"] == 2 and row["sum_tokens"] == 2 and row["avg_tokens"] == 1.0


def test_bfs_single_edge_and_negative_sample_empty_pairs(spark):
    got = {r["node"]: r["hops"] for r in bfs_hops(
        spark.createDataFrame([(7, 9)], ["src", "dst"]), max_hops=3
    ).collect()}
    assert got == {7: 0, 9: 1}
    corpus = spark.createDataFrame([(1, "a b c")], ["doc_id", "text"])
    pairs = spark.createDataFrame([], "w1 string, w2 string")
    assert curation.negative_sample(corpus, pairs, k_neg=3).count() == 0


def test_bfs_empty_graph_and_domain_cap_validation(spark):
    import pytest

    assert bfs_hops(
        spark.createDataFrame([], "src long, dst long"), max_hops=2
    ).count() == 0
    df = spark.createDataFrame([(1, "s", 2)], ["doc_id", "source", "n_chars"])
    with pytest.raises(ValueError, match="cap must be"):
        curation.domain_cap(df, "source", 0, [F.col("n_chars").desc()], "doc_id")


def test_expectations_report_planted_violations(spark):
    """Planted nulls, domain breaks, duplicate keys, and orphan FKs
    must each be counted by exactly their rule."""
    import pandas as pd
    from pyspark.sql import functions as F

    from stream_processing_system_spark.operators import expectations as ex

    df = spark.createDataFrame(
        pd.DataFrame(
            {
                "k": [1, 2, 2, 3, 4],
                "status": ["O", "X", "F", None, "O"],
                "price": [10.0, -5.0, 3.0, 1.0, 0.0],
                "fk": [100, 100, 200, 999, 100],
            }
        )
    )
    parent = spark.createDataFrame(pd.DataFrame({"pk": [100, 200]}))
    out = ex.check(
        df,
        [
            ex.Rule("domain:status", F.col("status").isin("O", "F", "P")),
            ex.Rule("range:price_positive", F.col("price") > 0),
        ],
        unique_keys=["k"],
        references={"fk": (parent, "pk")},
    )
    got = {r["rule"]: (r["n_violations"], r["pass"]) for r in out.collect()}
    assert got["domain:status"] == (1, False)       # 'X' (NULL not counted)
    assert got["range:price_positive"] == (2, False)  # -5.0 and 0.0
    assert got["unique:k"] == (1, False)            # one extra 2
    assert got["references:fk"] == (1, False)       # 999


def test_skyline_rule_on_planted_points(spark):
    """Hand-checkable 2D skyline: dominated points drop, frontier
    stays, exact tie keeps the first key."""
    import pandas as pd
    from pyspark.sql import Window
    from pyspark.sql import functions as F

    pts = pd.DataFrame(
        {
            "k": [1, 2, 3, 4, 5],
            "cost": [1.0, 2.0, 2.0, 3.0, 3.0],
            "delay": [5.0, 3.0, 9.0, 3.0, 1.0],
        }
    )
    df = spark.createDataFrame(pts)
    w = Window.orderBy("cost", "delay", "k").rowsBetween(
        Window.unboundedPreceding, -1
    )
    out = (
        df.withColumn("_pm", F.min("delay").over(w))
        .where(F.col("_pm").isNull() | (F.col("delay") < F.col("_pm")))
        .select("k")
    )
    # 1 (cheapest), 2 (faster than 1), 5 (fastest); 3 dominated by 2,
    # 4 ties 2 on delay at higher cost -> dominated
    assert sorted(r["k"] for r in out.collect()) == [1, 2, 5]


def test_range_frame_shrinks_over_calendar_gaps(spark):
    """RANGE 6-PRECEDING over day ordinals: a gap in the calendar
    shrinks the trailing window (the property a ROWS frame lacks)."""
    import pandas as pd
    from pyspark.sql import Window
    from pyspark.sql import functions as F

    daily = spark.createDataFrame(
        pd.DataFrame({"day_ord": [0, 1, 2, 20, 21], "rev": [1, 1, 1, 1, 1]})
    )
    w = Window.orderBy("day_ord").rangeBetween(-6, 0)
    out = {
        r["day_ord"]: r["n"]
        for r in daily.select(
            "day_ord", F.count(F.lit(1)).over(w).alias("n")
        ).collect()
    }
    assert out == {0: 1, 1: 2, 2: 3, 20: 1, 21: 2}


def test_table_profile_keeps_all_null_column(spark, sf_dir, tmp_path):
    """An all-NULL column has no value to count distinct, so it has no
    row in the NDV frame; its profile row must survive with NDV 0."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    from stream_processing_system_spark.plans.analytics import orders_table_profile

    t = pq.read_table(f"{sf_dir}/orders.parquet")
    i = t.schema.get_field_index("o_orderpriority")
    t = t.set_column(i, "o_orderpriority", pa.nulls(t.num_rows, pa.string()))
    pq.write_table(t, tmp_path / "orders.parquet")
    rows = {r["col_name"]: r for r in orders_table_profile(spark, str(tmp_path)).collect()}
    assert len(rows) == 6
    prio = rows["o_orderpriority"]
    assert prio["n_distinct"] == 0 and prio["n_nulls"] == t.num_rows
    assert prio["min_str"] is None and prio["max_str"] is None
    assert rows["o_orderstatus"]["n_distinct"] > 0
