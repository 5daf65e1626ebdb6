"""Driver-contract invariants: queries()/oracle_sql() stay in sync."""

from __future__ import annotations

import importlib
import json
import os
from pathlib import Path

import pytest

from machinelearningalgomapreduce_spark import registry

REPO = Path(__file__).resolve().parent.parent


def test_every_query_has_an_oracle():
    # The driver ERRORS on oracle-less queries (round-1 q_distinct_users_approx
    # lesson) — every declared query must carry a SQL oracle.
    q, o = registry.queries(), registry.oracle_sql()
    assert set(q) == set(o), f"out of sync: {set(q) ^ set(o)}"


def test_oracles_are_nonempty_single_statements():
    for name, sql in registry.oracle_sql().items():
        assert sql.strip(), name
        assert ";" not in sql, f"{name}: oracle must be a single statement"


def test_queries_are_callables_with_uniform_signature():
    import inspect

    for name, fn in registry.queries().items():
        params = list(inspect.signature(fn).parameters)
        assert params[:2] == ["spark", "sf_dir"], name


def test_survey_contract_names_present():
    # SURVEY.md §2 names the declared surface; the registry must cover it.
    required = {
        # §2B relational core
        "q_scan_project", "q_filter_pred", "q_filter_agg", "q_pricing_summary",
        "q_join_inner", "q_join_broadcast", "q_join3_topk", "q_join5_region",
        "q_join_left", "q_join_semi", "q_join_anti", "q_join_asof",
        "q_distinct_users", "q_distinct_users_approx", "q_grouping_sets",
        "q_window_rank", "q_window_analytic", "q_sort_limit", "q_set_ops",
        "q_scalar_funcs", "q_json_extract", "q_array_ops",
        # §2C ML
        "q_wordcount", "q_tfidf", "q_kmeans_assign", "q_kmeans_recompute",
        "q_knn", "q_naive_bayes", "q_linreg", "q_logreg_step", "q_matmul",
        "q_pagerank", "q_apriori",
        # §2D LLM pipeline
        "q_dedup_exact", "q_dedup_minhash", "q_dedup_simhash",
        "q_dedup_ngram_jaccard", "q_dedup_embedding", "q_sim_topk", "q_sim_ann",
        "q_text_stats", "q_token_count", "q_lang_id", "q_quality_score",
        "q_doc_fingerprint", "q_multimodal", "q_multimodal_features",
        # §2E streaming-flavored
        "q_events_tumbling", "q_events_sliding", "q_sessionize",
        "q_session_stats", "q_late_data",
    }
    have = set(registry.queries())
    missing = required - have
    assert not missing, f"missing contract queries: {sorted(missing)}"


def test_every_oracle_parses_in_duckdb():
    """EXPLAIN every oracle against the fixture views: an oracle typo must
    fail a 2-second pytest, never burn a driver round (VERDICT r2 item 8)."""
    import duckdb

    from tests.conftest import SMOKE_SF_DIR

    con = duckdb.connect()
    for t in ("region", "nation", "customer", "supplier", "part", "orders",
              "lineitem", "events", "documents", "embeddings"):
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{SMOKE_SF_DIR}/{t}.parquet')"
        )
    for name, sql in registry.oracle_sql().items():
        try:
            con.execute(f"EXPLAIN {sql}")
        except Exception as e:  # pragma: no cover - the message IS the test
            raise AssertionError(f"oracle for {name} does not parse: {e}") from e


def test_every_oracle_output_column_has_standard_type():
    """DESCRIBE every oracle in DuckDB and require each output column type
    to be one of BIGINT/INTEGER/DOUBLE/VARCHAR/TIMESTAMP/DATE/BOOLEAN.

    Round-6 root cause (VERDICT r6): an uncast ``sum(BIGINT)`` output is
    HUGEINT (int128), which DuckDB surfaces as float64 via pandas and
    decimal128(38,0) via Arrow — so a driver hasher on either fetch path
    canonicalizes the cell differently from Spark's int64 even when the
    values are equal (`rows/schema match, hash_match false`). This cost
    rounds 5 AND 6 four red driver rows each (q_gbt_stump, q_hits_step,
    q_power_iter, q_kruskal_wallis). Any aggregate that can widen past
    int64 must be emitted through an explicit CAST (SURVEY §5.2)."""
    import duckdb

    from tests.conftest import SMOKE_SF_DIR

    allowed = {"BIGINT", "INTEGER", "DOUBLE", "VARCHAR", "TIMESTAMP",
               "DATE", "BOOLEAN"}
    con = duckdb.connect()
    for t in ("region", "nation", "customer", "supplier", "part", "orders",
              "lineitem", "events", "documents", "embeddings"):
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{SMOKE_SF_DIR}/{t}.parquet')"
        )
    bad = {}
    for name, sql in registry.oracle_sql().items():
        desc = con.execute(f"DESCRIBE {sql}").fetchall()
        offenders = [(col, typ) for col, typ, *_ in desc if typ not in allowed]
        if offenders:
            bad[name] = offenders
    assert not bad, (
        f"non-standard oracle output types (HUGEINT class): {bad}\n"
        "Fix: add an explicit CAST in the oracle SQL (e.g. CAST(sum(x) AS "
        "BIGINT) / AS DOUBLE) so both fetch paths canonicalize like Spark. "
        "If the column's type is genuinely correct (e.g. a deliberate "
        "SMALLINT/DECIMAL surface), extending `allowed` is acceptable — "
        "but only with a matching driver-hash rationale in SURVEY §5.2.3."
    )


def test_driver_window_covers_never_checked_modules():
    """Rounds 1-2 showed the driver checks only the FIRST 50 registry
    entries. The registry sorts never-driver-green queries first; this
    guards (a) no already-green query occupies a window slot while a
    never-green one sits outside (window slots are never wasted) and (b)
    the two-tier order is actually applied. More than 50 never-green
    queries is allowed — the overflow rotates into the window next round
    once this round's CORRECTNESS file records their greens."""
    order = list(registry.queries())
    never_green = [n for n in order if registry.sort_key(n) == 0]
    if len(never_green) > 50:
        # Window must consist ENTIRELY of never-green queries.
        wasted = [n for n in order[:50] if registry.sort_key(n) != 0]
        assert not wasted, f"green queries occupy window slots: {wasted}"
    else:
        outside = set(never_green) - set(order[:50])
        assert not outside, f"driver will not see: {sorted(outside)}"
    assert order[: len(never_green)] == never_green, "never-green tier must lead"


def test_registry_order_rotates_stalest_evidence_first():
    """VERDICT r4 item 4: with every query driver-green at least once, the
    50-entry window must now re-green the STALEST evidence — registry order
    must be non-decreasing in latest-green round, with never-green (round 0)
    leading if any ever reappear."""
    order = list(registry.queries())
    rounds = [registry.sort_key(n) for n in order]
    assert rounds == sorted(rounds), "order not oldest-green-first"
    # The stalest cohort must fill the window before any fresher row.
    window_rounds = set(rounds[:50])
    assert max(window_rounds, default=0) <= min(rounds[50:], default=99), (
        "a fresher-evidence query displaced a staler one from the window"
    )


def _write_round(directory, rnd, rows):
    (directory / f"CORRECTNESS_r{rnd:02d}.json").write_text(json.dumps(rows))


def test_latest_green_rounds_reads_one_green_rule(tmp_path):
    """The registry's one definition of a green driver row: rows and
    schema match, no hash mismatch, no err. The latest green round wins
    and a later red row does not erase it."""
    ok = {"rows_match": True, "schema_match": True, "hash_match": True, "err": None}
    assert registry.latest_green_rounds(tmp_path) == {}
    _write_round(tmp_path, 1, {
        "q_newer": ok, "q_red_later": ok,
        "q_rows_only": {"rows_match": True, "schema_match": True, "hash_match": None},
        "q_err": {**ok, "err": "no_oracle"},
        "q_hash_red": {**ok, "hash_match": False},
        "q_not_a_row": "skipped",
    })
    _write_round(tmp_path, 3, {
        "q_newer": ok, "q_red_later": {**ok, "rows_match": False}, "q_bad": [1, 2],
    })
    (tmp_path / "CORRECTNESS_r09_c8.json").write_text(json.dumps({"q_newer": ok}))
    assert registry.latest_green_rounds(tmp_path) == {
        "q_newer": 3, "q_red_later": 1, "q_rows_only": 1,
    }


def test_registry_falls_back_to_module_order_without_correctness_files(
    tmp_path, monkeypatch
):
    module_order = [
        n for m in registry._MODULES for n in importlib.import_module(m).QUERIES
    ]
    monkeypatch.setattr(registry, "_ledger", lambda: registry.latest_green_rounds(tmp_path))
    assert list(registry.queries()) == module_order
    assert list(registry.oracle_sql()) == module_order


def test_driver_window_skips_the_newest_correctness_round():
    """The r15 and r16 driver runs checked the same 50 queries because the
    registry order came from a hand-kept ledger nobody updated. The next
    window must share no name with the newest round's green rows (holds
    while 290 - 50 >= 50). A query that went red in the newest round may
    lead the window: re-checking it first is the point."""
    latest = registry.latest_green_rounds(REPO)
    if not latest:
        pytest.skip("no CORRECTNESS_r*.json next to the package")
    newest = max(latest.values())
    newest_greens = {n for n, r in latest.items() if r == newest}
    window = set(list(registry.queries())[:50])
    assert not window & newest_greens, (
        f"driver window re-checks round {newest}'s greens: "
        f"{sorted(window & newest_greens)}"
    )


def test_every_module_with_queries_is_referenced_by_a_test():
    """Landing gate: every _MODULES entry with QUERIES is referenced by at
    least one tests/*.py file (inference.py once landed with none). A
    module counts as tested if any test names it in full, imports it by
    its short name, or names any of its queries."""
    test_blob = "\n".join(p.read_text() for p in (REPO / "tests").glob("*.py"))
    untested = []
    for modname in registry._MODULES:
        mod = importlib.import_module(modname)
        if not mod.QUERIES:
            continue
        short = modname.rsplit(".", 1)[-1]
        if modname not in test_blob and not any(
            f"import {short}" in test_blob or q in test_blob for q in mod.QUERIES
        ):
            untested.append(modname)
    assert not untested, f"modules with QUERIES but zero test references: {untested}"


def test_no_query_emits_unhashable_column_types(spark):
    """Round-2 lesson: the driver's pandas canonicalizer crashes on array
    cells (TypeError: unhashable type). No checked query may emit
    array/map/struct columns — serialize to strings instead."""
    from pyspark.sql import types as T

    from tests.conftest import SMOKE_SF_DIR

    bad = {}
    for name, fn in registry.queries().items():
        schema = fn(spark, SMOKE_SF_DIR).schema
        offenders = [
            f.name
            for f in schema.fields
            if isinstance(f.dataType, (T.ArrayType, T.MapType, T.StructType))
        ]
        if offenders:
            bad[name] = offenders
    assert not bad, f"driver-unhashable output columns: {bad}"


def test_every_registered_query_is_documented_in_survey():
    """Reverse contract guard: SURVEY.md §2 is the judge-read inventory, so
    a query landing in the registry without a SURVEY mention is
    undocumented surface. Shorthand rows cover their variants (the
    left/semi/anti slash row, the exact+approx distinct row, the
    sessionize family)."""
    survey = open(os.path.join(os.path.dirname(__file__), "..", "SURVEY.md")).read()
    covered_by = {
        "q_join_semi": "`q_join_left` / semi / anti",
        "q_join_anti": "`q_join_left` / semi / anti",
        "q_distinct_users_approx": "`q_distinct_users`",
        "q_session_stats": "`q_sessionize`",
    }
    missing = []
    for name in registry.queries():
        needle = covered_by.get(name, f"`{name}`")
        if needle not in survey:
            missing.append(name)
    assert not missing, (
        f"registry queries with no SURVEY.md row/mention: {missing}\n"
        "Fix: add a §2 inventory row (or extend covered_by if an existing "
        "shorthand row genuinely documents it)."
    )
