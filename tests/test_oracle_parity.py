"""Every registered query must match its DuckDB oracle at sf0.001 —
the local mirror of the driver's t2 correctness gate."""

from __future__ import annotations

import pytest

from namegraph_collections_spark.queries import DRIVER_WINDOW, REGISTRY
from tests.oracle_harness import compare

#: Registered queries allowed to emit DecimalType OUTPUT columns.
#: Round-8 rule ("decimals internal, integers on the wire"): the
#: round-7 driver run showed DECIMAL output columns are not
#: hash-stable across engines — the only two red window rows were
#: exactly the only two decimal-emitting ones, with values provably
#: equal. Driver-window rows may NEVER emit decimals (their battery
#: forms re-emit these columns as exact micro-unit BIGINTs); these
#: post-window singles keep their natural decimal shape for direct
#: users and the local sweep only.
DECIMAL_OUTPUT_ALLOWLIST = {
    "histogram_quantiles",  # est_lo/est_hi DECIMAL(18,2)
    "table_stats_profile",  # min_num/max_num DECIMAL(18,2)
    # skew_key_diagnostics left round 9: skew_ratio_micro is now a
    # direct BIGINT — no decimal anywhere on its surface.
    "salted_skew_agg",  # total/min/max_value DECIMAL(28,6)/(18,2)
}


@pytest.mark.parametrize("name", sorted(REGISTRY))
def test_query_matches_oracle(spark, sf_dir, name):
    spec = REGISTRY[name]
    result = compare(spark, sf_dir, name, spec.fn, spec.oracle)
    assert result["ok"], result
    if result["decimal_cols"]:
        assert name not in DRIVER_WINDOW, (
            f"driver-window row {name} emits DECIMAL columns "
            f"{result['decimal_cols']} — not a hash-safe surface; "
            "emit micro-unit BIGINTs instead"
        )
        assert name in DECIMAL_OUTPUT_ALLOWLIST, (
            f"{name} emits DECIMAL columns {result['decimal_cols']} "
            "but is not in DECIMAL_OUTPUT_ALLOWLIST"
        )


# stemmed_bm25's oracle stems with functions/porter_sql.py's SQL twin
# of the pandas-UDF analyzer; its full sf0.001 result is also pinned
# as a golden, a second check that does not rest on that twin.
# Regenerate deliberately if QUERY_TERMS / stemmer / BM25 constants
# change.
STEMMED_BM25_GOLDEN = [
    (206, 1.65443, 1),
    (96, 1.535825, 2),
    (440, 1.533935, 3),
    (149, 1.508929, 4),
    (87, 1.49434, 5),
    (125, 1.489385, 6),
    (106, 1.480968, 7),
    (34, 1.480705, 8),
    (136, 1.478283, 9),
    (59, 1.47565, 10),
]


def test_stemmed_bm25_golden(spark, sf_dir):
    rows = [
        (r["doc_id"], r["score"], r["rnk"])
        for r in REGISTRY["stemmed_bm25"].fn(spark, sf_dir).collect()
    ]
    assert rows == STEMMED_BM25_GOLDEN


def test_ltr_rescore_feature_columns(spark, sf_dir):
    from namegraph_collections_spark.queries.search import LTR_FEATURE_NAMES, LTR_TREES

    # the reference's 22-feature families (configure-ltr.py:92-121):
    # 6 match + 10 rank_feature saturations + 5 log-scaled + size
    assert len(LTR_FEATURE_NAMES) == 22
    assert sum(n.startswith("f_match_") for n in LTR_FEATURE_NAMES) == 6
    assert sum(n.startswith("f_sat_") for n in LTR_FEATURE_NAMES) == 10
    assert sum(n.startswith("f_log_") for n in LTR_FEATURE_NAMES) == 5
    assert "f_size_names" in LTR_FEATURE_NAMES
    # every tree splits only on declared features
    for rf, _, (lf, *_l), (gf, *_g) in LTR_TREES:
        assert {rf, lf, gf} <= set(LTR_FEATURE_NAMES)
    df = REGISTRY["search_ltr_rescore"].fn(spark, sf_dir)
    assert set(LTR_FEATURE_NAMES) <= set(df.columns)
    row = df.orderBy("rnk").first()

    # the tree ensemble reproduces ltr_score from the emitted features
    def tree_out(tree):
        rf, rt, (lf, lt, ll, lr), (gf, gt, gl, gr) = tree
        if row[rf] <= rt:
            return ll if row[lf] <= lt else lr
        return gl if row[gf] <= gt else gr

    expected = sum(tree_out(t) for t in LTR_TREES)
    assert abs(row["ltr_score"] - expected) < 1e-6
