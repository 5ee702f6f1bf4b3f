"""Semantic invariants for the late-round-3 catalog entries that have no
dedicated operator module — each asserts a MEANING-level property the
oracle comparison alone wouldn't catch (the oracle proves both engines
agree; these prove they agree on something sensible)."""

from __future__ import annotations

import math

import pytest

from alibaba_cppfeaturestore_spark.plans.catalog import QUERIES

SF = "/root/testdata/sf0.01"


@pytest.fixture(scope="module")
def run(spark):
    def _run(name):
        return QUERIES[name].spark(spark, SF).collect()

    return _run


def test_pareto_shares_monotone_and_complete(run):
    rows = sorted(run("pareto_revenue_concentration"), key=lambda r: r.decile)
    shares = [r.revenue_share for r in rows]
    assert all(b >= a for a, b in zip(shares, shares[1:]))
    assert abs(shares[-1] - 1.0) < 1e-12  # decile 10 == everyone
    assert shares[0] > 0.1  # top decile holds MORE than its uniform share


def test_tier_migration_preserves_customers(run, spark):
    rows = run("customer_tier_migration")
    total = sum(r.n_customers for r in rows)
    # every counted customer sits in exactly one (tier_a, tier_b) cell
    from alibaba_cppfeaturestore_spark.plans.views import load_table
    from pyspark.sql import functions as F

    o = load_table(spark, SF, "orders")
    both = (
        o.groupBy("o_custkey")
        .agg(F.countDistinct((F.col("o_orderkey") % 2)).alias("h"))
        .where(F.col("h") == 2)
        .count()
    )
    assert total == both
    assert all(1 <= r.tier_a <= 5 and 1 <= r.tier_b <= 5 for r in rows)


def test_ratio_to_report_sums_to_one_per_region(run):
    rows = run("agg_ratio_to_report")
    by_region = {}
    for r in rows:
        by_region.setdefault(r.region, []).append(r.share_of_region)
    for region, shares in by_region.items():
        assert abs(sum(shares) - 1.0) < 1e-9, region


def test_key_skew_report_orders_and_bounds(run):
    rows = sorted(run("dq_key_skew_report"), key=lambda r: r.rnk)
    ns = [r.n for r in rows]
    assert ns == sorted(ns, reverse=True)
    assert all(r.skew_ratio >= 1.0 for r in rows)  # max ≥ mean always


def test_attribution_matrix_counts_every_windowed_purchase(run, spark):
    rows = run("attribution_first_vs_last_touch")
    assert sum(r.n_purchases for r in rows) > 0
    assert all(
        r.first_touch in ("view", "click") and r.last_touch in ("view", "click")
        for r in rows
    )


def test_lang_confusion_covers_corpus(run, spark):
    rows = run("lang_id_confusion_matrix")
    from alibaba_cppfeaturestore_spark.plans.views import load_table

    n_docs = load_table(spark, SF, "documents").count()
    assert sum(r.n for r in rows) == n_docs


def test_ann_recall_bounds(run):
    rows = run("ann_recall_audit")
    assert len(rows) == 5
    for r in rows:
        assert 0 <= r.n_hit <= 5 and r.recall_at_5 == r.n_hit / 5.0


def test_fold_assignment_partitions_everything(run, spark):
    rows = run("ml_fold_assignment")
    from alibaba_cppfeaturestore_spark.plans.views import load_table

    n_events = load_table(spark, SF, "events").count()
    assert sum(r.n for r in rows) == n_events
    assert {r.fold for r in rows} == set(range(5))


def test_quantile_normalize_uniformity(run):
    rows = run("feature_quantile_normalize")
    assert all(0.0 <= r.pct <= 1.0 for r in rows)
    # sampled pcts should span the unit interval, not cluster
    pcts = sorted(r.pct for r in rows)
    assert pcts[0] < 0.1 and pcts[-1] > 0.9


def test_data_card_consistency(run):
    [card] = run("corpus_data_card")
    assert card.n_docs > 0
    assert card.vocab_size <= card.n_tokens_total
    assert card.p50_doc_tokens <= card.max_doc_tokens
    assert 0 <= card.n_exact_dup_docs < card.n_docs


def test_drift_js_within_information_bounds(run):
    [row] = run("corpus_drift_js_divergence")
    assert 0.0 <= row.js_divergence <= math.log(2) + 1e-12


def test_hybrid_rrf_contains_both_leg_heads(run, spark):
    rows = run("hybrid_rrf_retrieval")
    # a doc ranked #1 on either leg must appear in the fused top-10
    lex_best = min((r for r in rows if r.lex_rank is not None), key=lambda r: r.lex_rank, default=None)
    vec_best = min((r for r in rows if r.vec_rank is not None), key=lambda r: r.vec_rank, default=None)
    assert lex_best is not None or vec_best is not None


def test_id_canonicalization_cross_engine_under_duplicates(spark, tmp_path):
    """The documents_u / embeddings_u canonicalization must pick the SAME
    surviving row per duplicated id in Spark and DuckDB — the invariant
    behind the 12 dedup/ANN entries that key the custom tables by id
    (driver_sim --perturb-ids found them; this pins the fix in CI with
    hand-built collisions, including the null-ordering edge where the
    engines' ORDER BY defaults differ)."""
    import duckdb

    from alibaba_cppfeaturestore_spark.plans.catalog import (
        _DOCS_UNIQUE_SQL,
        _EMB_UNIQUE_SQL,
        _docs_unique,
        _emb_unique,
    )

    d = str(tmp_path)
    docs = [
        (1, "zebra text", "en", "web", 10),
        (1, "alpha text", "fr", "web", 10),   # same id, different text
        (2, "same body", "en", "web", 9),
        (2, "same body", "de", "web", 9),     # md5 tie -> lang breaks it
        (3, None, "en", "web", None),         # null text sorts FIRST
        (3, "present", "en", "web", 7),
        (4, "unique", "en", "web", 6),
    ]
    spark.createDataFrame(
        docs, "doc_id long, text string, lang string, source string, n_chars long"
    ).coalesce(1).write.mode("overwrite").parquet(f"{d}/documents.parquet")
    embs = [
        (1, [0.5, 0.1], 3),
        (1, [0.2, 0.9], 1),                   # same id, lexicographically smaller vec
        (2, [0.4, 0.4], 2),
        (2, [0.4, 0.4], 1),                   # vec tie -> label breaks it
        (5, [1.0, 0.0], 9),
    ]
    spark.createDataFrame(
        embs, "vec_id long, embedding array<float>, label int"
    ).coalesce(1).write.mode("overwrite").parquet(f"{d}/embeddings.parquet")

    con = duckdb.connect()
    for t in ("documents", "embeddings"):
        # Spark writes a directory; glob its part files for DuckDB
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{d}/{t}.parquet/*.parquet')"
        )

    sp_docs = {
        r.doc_id: (r.text, r.lang)
        for r in _docs_unique(spark, d).collect()
    }
    du_docs = {
        r[0]: (r[1], r[2])
        for r in con.execute(
            f"WITH {_DOCS_UNIQUE_SQL} SELECT doc_id, text, lang FROM documents_u"
        ).fetchall()
    }
    assert sp_docs == du_docs
    assert len(sp_docs) == 4
    assert sp_docs[2][1] == "de"              # lang tiebreak after md5 tie
    assert sp_docs[3][0] is None              # nulls-first on both engines

    sp_emb = {
        r.vec_id: ([round(x, 4) for x in r.embedding], r.label)
        for r in _emb_unique(spark, d).collect()
    }
    du_emb = {
        r[0]: ([round(x, 4) for x in r[1]], r[2])
        for r in con.execute(
            f"WITH {_EMB_UNIQUE_SQL} SELECT vec_id, embedding, label FROM embeddings_u"
        ).fetchall()
    }
    assert sp_emb == du_emb
    assert len(sp_emb) == 3
    assert sp_emb[1][0] == [0.2, 0.9]         # lexicographic vector order
    assert sp_emb[2][1] == 1                  # label tiebreak on vec tie


def test_id_canonicalization_null_keys(spark, tmp_path):
    """Multiple NULL-id rows with otherwise-unique ids: the NDV probe
    must NOT declare the key unique (count(col)/count_distinct both
    ignore NULLs — the advisor's degenerate-key regime), so Spark runs
    the canonicalization window and, like the DuckDB oracle, keeps
    exactly ONE row for the NULL-id partition."""
    import duckdb

    from alibaba_cppfeaturestore_spark.plans.catalog import (
        _DOCS_UNIQUE_SQL,
        _docs_unique,
        _key_is_unique,
    )

    d = str(tmp_path)
    docs = [
        (None, "zebra text", "en", "web", 10),
        (None, "alpha text", "fr", "web", 10),  # second NULL id
        (2, "body two", "en", "web", 8),
        (3, "body three", "en", "web", 10),
    ]
    spark.createDataFrame(
        docs, "doc_id long, text string, lang string, source string, n_chars long"
    ).coalesce(1).write.mode("overwrite").parquet(f"{d}/documents.parquet")

    df = spark.read.parquet(f"{d}/documents.parquet")
    assert _key_is_unique(df, d, "documents", "doc_id") is False

    con = duckdb.connect()
    con.execute(
        "CREATE VIEW documents AS SELECT * FROM "
        f"read_parquet('{d}/documents.parquet/*.parquet')"
    )
    sp = {
        r.doc_id: r.text for r in _docs_unique(spark, d).collect()
    }
    du = {
        r[0]: r[1]
        for r in con.execute(
            f"WITH {_DOCS_UNIQUE_SQL} SELECT doc_id, text FROM documents_u"
        ).fetchall()
    }
    assert sp == du
    assert len(sp) == 3                        # ONE surviving NULL-id row
    assert None in sp


def test_key_unique_memo_sees_regeneration_1ns_apart(spark, tmp_path):
    """The NDV-probe memo is stamped with st_mtime_ns: a documents table
    regenerated in place with a duplicated doc_id must re-probe even when
    the two versions' mtimes are 1 ns apart (float getmtime seconds
    collapse them to one key and kept the stale "unique" verdict,
    skipping the canonicalizing window)."""
    import os

    from alibaba_cppfeaturestore_spark.plans.catalog import _key_is_unique

    d = str(tmp_path)
    path = f"{d}/documents.parquet"
    stamp = 1_700_000_000_000_000_000

    def write(ids):
        spark.createDataFrame(
            [(i, f"text {i}") for i in ids], "doc_id long, text string"
        ).coalesce(1).write.mode("overwrite").parquet(path)
        return spark.read.parquet(path)

    df = write([1, 2, 3])
    os.utime(path, ns=(stamp, stamp))
    assert _key_is_unique(df, d, "documents", "doc_id") is True
    assert _key_is_unique(df, d, "documents", "doc_id") is True  # memo hit
    df = write([1, 2, 2])
    os.utime(path, ns=(stamp + 1, stamp + 1))
    assert _key_is_unique(df, d, "documents", "doc_id") is False


def test_pivot_zero_fills_empty_cells(run, spark, tmp_path):
    # r09 five-way-stack find (seed 71): a pivot cell with NO source rows
    # is NULL by construction in Spark (the in-agg expression never
    # runs), while SQL's FILTER aggregate always evaluates and COALESCEs
    # to 0 — so the zero-fill must sit OUTSIDE the pivot. Contract: a
    # user with no purchase rows gets purchase_value 0.0, never NULL,
    # and an all-out-of-domain cell (NaN readings) zero-fills too.
    import pyspark.sql.functions as F

    from alibaba_cppfeaturestore_spark.plans.catalog import QUERIES

    sf = str(tmp_path)
    spark.createDataFrame(
        [
            (1, "view", 2.5),
            (1, "click", 1.0),          # user 1: no purchase rows at all
            (2, "purchase", float("nan")),  # user 2: only corrupt purchases
            (2, "view", 3.0),
        ],
        "user_id long, event_type string, value double",
    ).write.parquet(f"{sf}/events.parquet")
    rows = {r.user_id: r for r in
            QUERIES["agg_pivot_user_event_values"].spark(spark, sf).collect()}
    assert rows[1].purchase_value == 0.0
    assert rows[2].purchase_value == 0.0
    assert rows[2].click_value == 0.0
    assert rows[1].view_value == 2.5


def test_event_sequence_windows_total_under_id_ts_collisions(run, spark, tmp_path):
    # r09 class closure (seed-79 twap find): ts-truncated duplicate-id
    # rows tie on (ts, event_id), and a window ordered by that pair
    # alone assigns engine-arbitrary positions. Every event-sequence
    # window now carries the consumed payload column in its order, so
    # the OUTPUT is total: permuting the physical row order of a
    # collision-bearing input must not change a single output row.
    import pyspark.sql.functions as F

    from alibaba_cppfeaturestore_spark.plans.catalog import QUERIES

    sf = str(tmp_path)
    rows = [
        # user 1: two purchases tied on (ts, event_id), different values
        (10, "2024-01-01 10:00:00", 1, "purchase", 5.0, "{}"),
        (10, "2024-01-01 10:00:00", 1, "purchase", 2.0, "{}"),
        (11, "2024-01-01 11:00:00", 1, "purchase", 9.0, "{}"),
        # user 2: tied rows with different event types
        (20, "2024-01-02 09:00:00", 2, "view", 1.0, "{}"),
        (20, "2024-01-02 09:00:00", 2, "click", 1.0, "{}"),
        (21, "2024-01-02 09:30:00", 2, "purchase", 3.0, "{}"),
    ]
    schema = ("event_id long, ts string, user_id long, event_type string, "
              "value double, props string")

    def write(order, path):
        spark.createDataFrame([rows[i] for i in order], schema).selectExpr(
            "event_id", "CAST(ts AS TIMESTAMP_NTZ) AS ts", "user_id",
            "event_type", "value", "props"
        ).coalesce(1).write.parquet(path)

    write(range(6), f"{sf}/a/events.parquet")
    write([1, 0, 4, 3, 5, 2], f"{sf}/b/events.parquet")
    for entry in ("feature_lag_rolling", "markov_event_transitions",
                  "window_running_user_spend", "latest_event_per_user"):
        q = QUERIES[entry].spark
        a = sorted(map(tuple, q(spark, f"{sf}/a").collect()))
        b = sorted(map(tuple, q(spark, f"{sf}/b").collect()))
        assert a == b, f"{entry}: output depends on physical row order"
