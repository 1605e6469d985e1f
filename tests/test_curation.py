"""Curation operators: Gopher quality rules, repetition stats, sequence
packing, mixture weights, and the bucketed range join."""

from __future__ import annotations

import pyspark.sql.functions as F
import pytest

from phoebe_spark.operators import curation
from phoebe_spark.timeseries import core as ts_core


def _docs(spark, rows):
    return spark.createDataFrame(rows, "doc_id long, source string, text string")


def test_gopher_flags_reject_paths(spark):
    rows = [
        (1, "s", "the cat sat of the mat and went to a shop for the day today"),  # clean
        (2, "s", "## ## ## ## the a of"),  # symbol spam + too short
        (3, "s", "one...\ntwo...\nthe a of and to more words here to pad it out"),  # ellipsis lines
        (4, "s", "1 2 3 4 5 6 7 8 9 10 11 12 13 14 15"),  # no alpha, no stopwords
    ]
    out = {
        r["doc_id"]: r
        for r in curation.gopher_quality_flags(_docs(spark, rows), min_words=10).collect()
    }
    assert out[1]["passes_quality"]
    assert not out[2]["ok_symbol_ratio"] and not out[2]["ok_word_count"]
    assert not out[3]["ok_ellipsis_lines"]
    assert not out[4]["ok_alpha_words"] and not out[4]["ok_stopwords"]


def test_gopher_flags_no_shuffle(spark):
    d = _docs(spark, [(1, "s", "the a of and to")])
    plan = curation.gopher_quality_flags(d)._jdf.queryExecution().executedPlan().toString()
    assert "Exchange" not in plan  # pure column exprs: evaluates inside the scan


def test_repetition_stats_crafted(spark):
    rows = [
        (1, "s", "a b a b a b"),  # dup tokens; top bigram 'a b' = 3/5
        (2, "s", "u v w x y z"),  # all distinct
    ]
    out = {r["doc_id"]: r for r in curation.repetition_stats(_docs(spark, rows)).collect()}
    assert out[1]["dup_token_frac"] == pytest.approx(1 - 2 / 6, abs=1e-6)
    assert out[1]["top_gram_frac"] == pytest.approx(3 / 5, abs=1e-6)
    assert out[2]["dup_token_frac"] == 0.0
    assert out[2]["top_gram_frac"] == pytest.approx(1 / 5, abs=1e-6)


def test_pack_sequences_contiguous(spark):
    rows = [(i, "s", i * 100) for i in range(10)]  # 0,100,...,900 tokens
    df = spark.createDataFrame(rows, "doc_id long, source string, token_count long")
    out = curation.pack_sequences(df, ctx_tokens=1000).orderBy("doc_id").collect()
    # offsets are the running sum of everything before
    offs = [r["pack_off"] for r in out]
    assert offs == [0, 0, 100, 300, 600, 1000, 1500, 2100, 2800, 3600]
    # pack_id = floor(offset / ctx) and is non-decreasing in stream order
    assert all(r["pack_id"] == r["pack_off"] // 1000 for r in out)
    ids = [r["pack_id"] for r in out]
    assert ids == sorted(ids)


def test_mixture_weights_properties(spark):
    rows = [(i, f"src{i % 3}", "x") for i in range(60)] + [(100 + i, "rare", "x") for i in range(3)]
    out = curation.mixture_weights(_docs(spark, rows), alpha=0.5).collect()
    w = {r["source"]: r for r in out}
    assert sum(r["weight"] for r in out) == pytest.approx(1.0, abs=1e-4)
    # alpha<1 upsamples the rare source relative to proportional sampling
    assert w["rare"]["rel_epochs"] > 1.0 > min(w[f"src{i}"]["rel_epochs"] for i in range(3))
    # alpha=1 is exactly proportional: rel_epochs == 1 everywhere
    prop = curation.mixture_weights(_docs(spark, rows), alpha=1.0).collect()
    assert all(r["rel_epochs"] == pytest.approx(1.0, abs=1e-6) for r in prop)


def test_range_join_matches_naive(spark):
    import random

    rng = random.Random(7)
    left = [(i, rng.randrange(3), rng.randrange(0, 500)) for i in range(80)]
    right = [(1000 + i, rng.randrange(3), rng.randrange(0, 500)) for i in range(200)]
    l = spark.createDataFrame(left, "id long, k long, t long")
    r = spark.createDataFrame(right, "id long, k long, t long")
    got = {
        (row["id"], row["id_r"])
        for row in ts_core.range_join_bucketed(l, r, on="t", by=["k"], lower=0, upper=45).collect()
    }
    want = {
        (li, ri)
        for (li, lk, lt) in left
        for (ri, rk, rt) in right
        if lk == rk and lt < rt <= lt + 45
    }
    assert got == want


def test_range_join_no_cartesian(spark):
    l = spark.createDataFrame([(1, 1, 10)], "id long, k long, t long")
    r = spark.createDataFrame([(2, 1, 20)], "id long, k long, t long")
    plan = (
        ts_core.range_join_bucketed(l, r, on="t", by=["k"], lower=0, upper=60)
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "CartesianProduct" not in plan and "BroadcastNestedLoopJoin" not in plan


def test_boilerplate_stats_planted(spark):
    boiler = "all rights reserved"
    rows = [(i, "s", f"unique words {i} here {boiler}") for i in range(10)]
    rows.append((100, "s", "totally fresh content nothing shared"))
    rows.append((101, "s", ""))  # zero-gram doc still present with zeros
    out = {r["doc"]: r for r in curation.boilerplate_stats(
        _docs(spark, rows), n=3, min_df_frac=0.5).collect()}
    assert len(out) == 12
    # the planted gram appears in 10/12 docs (> 50%): flagged in each
    assert all(out[i]["n_boiler"] >= 1 for i in range(10))
    assert out[100]["n_boiler"] == 0 and out[100]["boiler_ratio"] == 0.0
    assert out[101]["n_grams"] == 0 and out[101]["boiler_ratio"] == 0.0
    for i in range(10):
        r = out[i]
        assert r["boiler_ratio"] == pytest.approx(r["n_boiler"] / r["n_grams"])


def test_event_funnel_ordering_rules(spark, tmp_path):
    """Strict-order funnel: click before any view must not count; a
    purchase only counts after a counted click."""
    import os
    rows = [
        # u1: full ordered funnel
        (1, "2024-01-01 00:00:00", "view"), (1, "2024-01-01 00:00:05", "click"),
        (1, "2024-01-01 00:00:09", "purchase"),
        # u2: click precedes the first view -> stops at step 1
        (2, "2024-01-01 00:00:00", "click"), (2, "2024-01-01 00:00:04", "view"),
        (2, "2024-01-01 00:00:02", "purchase"),
        # u3: view+click, purchase BEFORE the click -> stops at step 2
        (3, "2024-01-01 00:00:00", "view"), (3, "2024-01-01 00:00:06", "purchase"),
        (3, "2024-01-01 00:00:08", "click"),
        # u4: purchase only -> no steps
        (4, "2024-01-01 00:00:00", "purchase"),
    ]
    src = str(tmp_path / "funnel_events")
    spark.createDataFrame(rows, "user_id long, ts string, event_type string").select(
        F.col("user_id"),
        (F.col("ts").cast("timestamp").cast("long") * 1_000_000_000).alias("ts"),
        "event_type",
        F.lit(0).cast("long").alias("event_id"), F.lit(0.0).alias("value"),
        F.lit("{}").alias("props"),
    ).write.mode("overwrite").parquet(os.path.join(src, "events.parquet"))
    from phoebe_spark.queries import QUERIES
    got = {r["step"]: r["n_users"] for r in QUERIES["q71_event_funnel"](spark, src).collect()}
    assert got == {1: 3, 2: 2, 3: 1}


def test_column_profile_odd_names(spark):
    """Column names with spaces, dots, and quotes must not break the
    generated aggregation or the stack() unpivot."""
    from phoebe_spark.operators.curation import column_profile

    df = spark.createDataFrame([(1, "a"), (2, None)], ["my col", "o'brien.x"])
    rows = column_profile(df, ["my col", "o'brien.x"]).collect()
    got = {r["col_name"]: (r["n_nulls"], r["n_distinct"], r["n_rows"]) for r in rows}
    assert got == {"my col": (0, 2, 2), "o'brien.x": (1, 1, 2)}


def test_importance_weights_direction_and_totals(spark):
    """Docs made of target-only vocabulary must score higher than docs of
    off-target vocabulary; weights must match a hand-computed add-1 model."""
    import math

    rows = [
        (1, "en", "alpha alpha beta"),
        (2, "en", "alpha beta beta"),
        (3, "de", "gamma gamma delta"),
        (4, "de", "gamma delta delta"),
    ]
    d = spark.createDataFrame(rows, "doc_id long, lang string, text string")
    out = {
        r["doc_id"]: r
        for r in curation.importance_weights(d, F.col("lang") == "en").collect()
    }
    assert all(out[i]["n_tokens"] == 3 for i in (1, 2, 3, 4))
    # target (en) docs must out-rank the off-target (de) docs
    assert min(out[1]["log_importance"], out[2]["log_importance"]) > max(
        out[3]["log_importance"], out[4]["log_importance"]
    )
    # hand check doc 1: corpus totals 12 tokens, vocab 4; en totals 6.
    # alpha: n_raw=3 n_tgt=3; beta: n_raw=3 n_tgt=3
    lr = (math.log((3 + 1) / (6 + 4)) - math.log((3 + 1) / (12 + 4)))
    assert abs(out[1]["log_importance"] - 3 * lr) < 1e-9


def test_importance_weights_smoothing_covers_oov_target(spark):
    """A token absent from the target subset still gets finite weight."""
    import math

    rows = [(1, "en", "alpha"), (2, "de", "omega omega")]
    d = spark.createDataFrame(rows, "doc_id long, lang string, text string")
    out = {
        r["doc_id"]: r["log_importance"]
        for r in curation.importance_weights(d, F.col("lang") == "en").collect()
    }
    assert all(math.isfinite(v) for v in out.values())
