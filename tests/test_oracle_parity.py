"""Replicates the driver's correctness gate locally: every query in the
registry with an oracle must match DuckDB on row count, column names, and
order-insensitive values (sorted by column name, rounded floats)."""

from __future__ import annotations

import math

import duckdb
import pytest

from phoebe_spark.plans.guard import (
    capture_checkpoints,
    explain_formatted,
    single_partition_sort_violations,
)
from phoebe_spark.queries import ORACLE, QUERIES

TABLES = "region nation customer supplier part orders lineitem events documents embeddings".split()

# Queries whose plan contains an unpartitioned Sort over an AGGREGATED
# support frame (the documented distinct-value / bucket-offset / rollup
# exception class — domain-bounded by contract, not by plan shape).
# Adding a name here is a conscious, reviewed act; the guard below fails
# any query with such a window that is NOT listed, and fails EVERY query
# with one over raw (un-aggregated) corpus rows — the round-8 q321
# escape shape, which an eager localCheckpoint can no longer hide.
AGG_WINDOW_ALLOWLIST = {
    "q105_wow_growth",          # weekly rollup: O(weeks) rows
    "q131_zipf_slope",          # rank-frequency: vocabulary support
    "q144_skyline_users",       # survivor set after local dominance prune
    "q159_token_budget_curve",  # quality-bin curve: O(bins)
    "q178_quality_dup_curve",   # quality-bin curve: O(bins)
    "q183_source_length_ks",    # pooled distinct-length support (global cum)
    "q224_quantile_normalize",  # global-histogram cum over the distinct-score
                                # support (the ONLY unpartitioned window left;
                                # within-source ranks are two-phase bucketed)
    "q227_token_waterfill",     # per-source frame: O(sources)
    "q231_eval_apportionment",  # per-source remainder ranks: O(sources)
    "q236_length_bucket_batches",  # length-bucket frame: O(buckets)
    "q238_changepoint",         # hourly rollup: O(hours) — windows order by hr
    "q256_token_lorenz",        # vocabulary support
    "q262_snake_sharding",      # shard-rank frame: bucket-collapsed
    "q276_slo_burn_rate",       # hourly rollup: O(hours)
    "q277_littles_law_audit",   # daily arrival/completion frame: O(days)
    "q292_quantile_hist_sketch",  # 128-bin cum + $100-bucket offsets
    "q297_mann_whitney",        # distinct-value support ranks
    "q29_simpson_integral",     # timeseries grid: O(timesteps)
    "q300_streaming_hist_drain",  # same assembly as q292
    "q302_isotonic_calibration",  # calibration-bin frame: O(bins)
    "q303_sprt_monitor",        # day-bucket offset frame: O(days)
    "q309_heaps_law",           # 1M-id bucket offsets: corpus/2^20
    "q317_markov_stationary",   # distinct event types: 5 rows
    "q32_response_finalizer",   # profile-config frame: O(configs)
    "q337_lift_gain_curve",     # distinct-score support (documented)
    "q339_median_ci",           # distinct-value support (documented)
    "q342_bh_fdr",              # p-value rank over m = #event-types rows
    "q358_absorbing_markov",    # type-index window: 5 distinct types
    "q360_neyman_allocation",   # remainder ranks over O(sources) rows
    "q363_kruskal_wallis",      # pooled-rank cum over the value support
    "q367_runs_test",           # sign-run lag over the O(days) rollup
    "q36_ewm_ensemble",         # timeseries grid: O(timesteps)
    "q375_energy_distance",     # CDF cum over the value support (q363 kin)
    "q378_cliffs_delta",        # doubled-U cum over the value support
    "q382_hurst_rs",            # hourly rollup positions: O(hours)
    "q383_variance_ratio",      # hourly return series: O(hours)
    "q384_theta_forecast",      # daily rollup: O(days)
    "q385_sample_entropy",      # hourly template positions: O(hours)
    "q386_average_precision",   # score support: ~100 distinct scores
    "q389_hosmer_lemeshow",     # score support deciles: ~100 rows
    "q394_forecast_scoreboard", # daily rollup: O(days)
    "q401_bradley_terry",       # type-index window: 5 distinct types (q317 kin)
    "q40_merge_overwrite",      # timeseries grid: O(timesteps)
    "q410_gini_binned",         # Lorenz cum over the fixed 256-bin frame
    "q429_nelson_aalen",        # cum-hazard over O(distinct reorder gaps) rows
    "q432_dickey_fuller",       # lag over the daily rollup: O(days), q238 kin
    "q439_weibull_hazard",      # OLS fold over O(distinct reorder gaps) rows
    "q435_anderson_darling",    # pooled cum over the 1..50 value support (q363 kin)
    "q443_acf_bartlett",        # 7-lag window over the daily rollup: O(days)
    "q451_cross_correlation",   # best-lag window over the fixed 15-lag frame
    "q456_palma_hoover",        # cent-value support cum: range-bounded (q82 kin)
    "q475_theil_sen",           # slope median: offsets window over the ~800-row
                                # floor(slope*10) bucket frame (range-bounded);
                                # intercept median over the O(days) residual frame
    "q476_moods_median",        # grand-median cum over the 1..50 value support
    "q477_ansari_bradley",      # score-block cum over the 1..50 value support
    "q481_gini_stump",          # split cum + argmin over the 1..50 value support
    "q482_gk_lambda",           # modal-flag sort-agg over the 3-row flag marginal
    "q484_kuiper_test",         # ECDF cum over the 1..50 value support (q183 kin)
    "q486_rank_instability",    # dual leaderboard ranks over the 25-row nation frame
    "q488_breakpoint_search",   # prefix cums over the daily rollup: O(days)
    "q491_mad_robust_z",        # median/MAD cums over count-value supports (q449-class)
    "q492_winsorized_corr",     # percentile cums over the 50/11-row marginal supports
    "q499_abc_xyz",             # $1000-bucket revenue offsets: price-range-bounded
                                # (q82 kin); per-part cum is bucket-PARTITIONED
    "q504_youden_threshold",    # scan cum + argmax over the 1..50 value support
    "q505_expected_shortfall",  # descending dollar-support cum: price-range-bounded
    "q458_sign_wilcoxon",       # |d| value-support cum: char-domain-bounded
    "q460_forecastability",     # centered 7-day MA over the daily rollup (q444 kin)
    "q466_granger_causality",   # lag window over the daily rollup: O(days)
    "q452_turning_points",      # lag/lead over the daily rollup: O(days)
    "q450_dft_periodogram",     # share/dominant window over the fixed
                                # 29-period frame
    "q449_hodges_lehmann",      # Walsh-sum / cross-diff value supports:
                                # count-range-bounded, SF-independent
    "q445_pacf_durbin_levinson",  # 4-lag window over the daily rollup: O(days)
    "q444_seasonal_decompose",  # centered 7-day MA over the daily rollup: O(days)
    "q82_acctbal_deciles",      # $1-bucket offsets: price-range-bounded
    "q85_spearman",             # distinct-value support ranks
    "q87_zipf_slope",           # vocabulary support
    "q90_rrf_fusion",           # cos/l2 bucket offsets: range-bounded
}


def _guard_plans(name: str, plans: list[str]) -> None:
    raw = [v for p in plans for v in single_partition_sort_violations(p) if v.startswith("raw:")]
    assert not raw, (
        f"{name}: unpartitioned sort over RAW corpus rows (dies at 100x), "
        f"including checkpointed stages: {raw}"
    )
    agg = [v for p in plans for v in single_partition_sort_violations(p) if v.startswith("agg:")]
    if agg and name not in AGG_WINDOW_ALLOWLIST:
        raise AssertionError(
            f"{name}: unpartitioned sort over an aggregated frame not in "
            f"the audited allowlist — prove the support is domain-bounded "
            f"and add it consciously: {agg}"
        )


@pytest.fixture(scope="session")
def ddb(sf_dir, tmp_path_factory):
    con = duckdb.connect()
    # Resource bounds, not a looser check: one oracle may take neither the
    # host's memory (q214 at sf0.1 ran a 15 GB host out of it unbounded)
    # nor its disk (at 2GB it spilled past 20 GB before failing).
    con.execute("SET memory_limit = '2GB'")
    con.execute(f"SET temp_directory = '{tmp_path_factory.mktemp('duckdb')}'")
    con.execute("SET max_temp_directory_size = '4GB'")
    for t in TABLES:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{sf_dir}/{t}.parquet')"
        )
    yield con
    con.close()


def _normalize(rows, cols):
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    out = []
    for r in rows:
        vals = []
        for i in order:
            v = r[i]
            if isinstance(v, float):
                if math.isnan(v):
                    v = "NaN"
                else:
                    v = round(v, 6)
            vals.append(repr(v))
        out.append("|".join(vals))
    out.sort()
    return out


def assert_matches_oracle(name, spark, sf_dir, ddb):
    """Run registry entry ``name`` and compare it with its DuckDB oracle the
    way the driver does (plan guard, columns, row count, values)."""
    with capture_checkpoints() as caps:
        sdf = QUERIES[name](spark, sf_dir)
        _guard_plans(name, list(caps) + [explain_formatted(sdf)])
    spark_cols = [c.lower() for c in sdf.columns]
    spark_rows = [tuple(r) for r in sdf.collect()]

    res = ddb.execute(ORACLE[name])
    duck_cols = [d[0].lower() for d in res.description]
    duck_rows = res.fetchall()

    assert sorted(spark_cols) == sorted(duck_cols), f"{name}: column mismatch"
    assert len(spark_rows) == len(duck_rows), (
        f"{name}: row count {len(spark_rows)} vs oracle {len(duck_rows)}"
    )
    s_norm = _normalize(spark_rows, spark_cols)
    d_norm = _normalize(duck_rows, duck_cols)
    mismatches = [
        (a, b) for a, b in zip(s_norm, d_norm) if a != b
    ]
    assert not mismatches, f"{name}: first mismatches {mismatches[:5]}"


@pytest.mark.parametrize("name", sorted(ORACLE))
def test_query_matches_oracle(name, spark, sf_dir, ddb):
    assert_matches_oracle(name, spark, sf_dir, ddb)


def test_rows_only_queries_run(spark, sf_dir):
    for name in sorted(set(QUERIES) - set(ORACLE)):
        with capture_checkpoints() as caps:
            df = QUERIES[name](spark, sf_dir)
            _guard_plans(name, list(caps) + [explain_formatted(df)])
        assert df.count() >= 0, name
