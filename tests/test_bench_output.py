"""bench.py output contract (VERDICT r5 item 8): the driver archives only the
last ~2000 chars of stdout, so the printed line must be a bounded, parseable
summary regardless of catalog size; the full per-query detail moves to a file."""

from __future__ import annotations

import json
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from bench import compare_to_prior, summarize


def _fake_out(n_queries: int, n_regressions: int) -> dict:
    return {
        "metric": "catalog_total_wall_clock",
        "value": 206.2,
        "value_warm": 160.7,
        "unit": "sec",
        "queries": {f"q{i:03d}": 0.01 * (i + 1) for i in range(n_queries)},
        "sf": 0.1,
        "n_queries": n_queries,
        "spark_version": "4.1.2",
        "compare": {
            "prior": "BENCH_full_prior.json",
            "common": n_queries,
            "drift_median_ratio": 1.01,
            "normalized_total_ratio": 0.98,
            "regressions": {
                f"reg{i:03d}": {"prior_sec": 1.0, "now_sec": 3.0, "normalized_ratio": 3.0}
                for i in range(n_regressions)
            },
            "new_queries": ["new_a", "new_b"],
        },
    }


def test_summary_fits_driver_tail_and_parses():
    s = summarize(_fake_out(226, 5), "/tmp/full.json")
    line = json.dumps(s)
    assert len(line) <= 1900
    parsed = json.loads(line)
    assert parsed["value"] == 206.2
    assert parsed["compare"]["normalized_total_ratio"] == 0.98
    assert parsed["compare"]["regressions"] == {
        f"reg{i:03d}": {"cold": 3.0} for i in range(5)
    }
    assert parsed["compare"]["n_new_queries"] == 2
    assert len(parsed["slowest"]) == 10
    assert parsed["full"] == "/tmp/full.json"


def test_summary_trims_rather_than_overflows():
    # pathological: hundreds of regressions with long names must still fit
    out = _fake_out(1000, 400)
    out["compare"]["regressions"] = {
        "a_very_long_regression_query_name_" + str(i): {
            "prior_sec": 1.0, "now_sec": 3.0, "normalized_ratio": 3.0
        }
        for i in range(400)
    }
    line = json.dumps(summarize(out, "/tmp/full.json"))
    assert len(line) <= 1900
    json.loads(line)


def test_summary_without_compare_block():
    out = _fake_out(50, 0)
    del out["compare"]
    parsed = json.loads(json.dumps(summarize(out, "/tmp/full.json")))
    assert "compare" not in parsed
    assert parsed["n_queries"] == 50


def test_compare_to_prior_round_trip(tmp_path):
    prior = {"queries": {"a": 1.0, "b": 2.0, "c": 4.0}}
    p = tmp_path / "prior.json"
    p.write_text(json.dumps(prior))
    now = {"a": 1.1, "b": 2.2, "c": 13.2}  # uniform 1.1x drift, c regressed 3x
    c = compare_to_prior(now, str(p))["compare"]
    assert c["common"] == 3
    assert abs(c["drift_median_ratio"] - 1.1) < 1e-9
    assert list(c["regressions"]) == ["c"]
    assert abs(c["regressions"]["c"]["normalized_ratio"] - 3.0) < 1e-6
    assert "warm_normalized_ratio" not in c["regressions"]["c"]  # no warm tier


def test_compare_annotates_cold_regressions_with_warm_ratio(tmp_path):
    """A query whose cold time exploded from catalog-position change but
    whose steady-state is unchanged must carry warm_normalized_ratio ~1 —
    the artifact distinguishes ordering artifacts from real regressions."""
    prior = {
        "queries": {"a": 1.0, "b": 2.0, "c": 0.13},
        "queries_warm": {"a": 0.9, "b": 1.8, "c": 0.12},
    }
    p = tmp_path / "prior.json"
    p.write_text(json.dumps(prior))
    now = {"a": 1.0, "b": 2.0, "c": 1.0}  # c cold-regressed ~7.7x
    warm = {"a": 0.9, "b": 1.8, "c": 0.12}  # …but warm is identical
    c = compare_to_prior(now, str(p), warm)["compare"]
    assert list(c["regressions"]) == ["c"]
    assert abs(c["regressions"]["c"]["warm_normalized_ratio"] - 1.0) < 1e-6


def test_summary_hard_bound_with_pathological_full_path():
    """ADVICE r6: even when the fixed base (the full-file path) alone
    overflows the limit, the printed line must still fit — basename
    fallback first, then optional sections dropped."""
    out = _fake_out(20, 2)
    long_path = "/tmp/" + ("x" * 3000) + "/full.json"
    s = summarize(out, long_path)
    line = json.dumps(s)
    assert len(line) <= 1900
    parsed = json.loads(line)
    assert parsed["full"] == "full.json"  # basename fallback engaged
    assert parsed["value"] == out["value"]  # totals always survive


def test_adjudicate_symbol_map_is_function_level():
    """VERDICT r9 item 4: the adjudication change map resolves each query
    fn's TRANSITIVE CALLEES (function-local imports and module-attr calls
    included) instead of file membership. Locks the three properties the
    r9c replay demonstrated: (a) the z-order query's path reaches the
    layout symbols the r9 Morton fusion changed, (b) an unrelated query
    in the SAME FILE does not, and (c) the walker covers the whole
    catalog without falling back to whole-file sentinels."""
    from bench import _changed_file_symbols, _query_source_symbols, _symbols_touched

    repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    from amazon_fresh_sql_data_engineering_spark.catalog import CATALOG

    layout = "amazon_fresh_sql_data_engineering_spark/sources/layout.py"
    # the r8 artifact commit -> the r9 closing commit: the round in which
    # zorder_frame/_rank_expr changed (the Morton-leaf fusion)
    ch = _changed_file_symbols(repo, layout, "71d4bf8", "0ff3f94")
    if ch is None:  # shallow/filtered clone: can't replay history
        import pytest

        pytest.skip("git history for the r9 round not available")
    assert "zorder_frame" in ch or "_rank_expr" in ch
    z = _query_source_symbols(CATALOG["q_zorder_roundtrip"].fn, repo)
    assert any(f == layout for f, _s in z)
    assert _symbols_touched(z, {layout: ch})
    hv = _query_source_symbols(CATALOG["q_high_value"].fn, repo)
    assert not _symbols_touched(hv, {layout: ch})
    # same-file discrimination: q_zorder_roundtrip and q_compaction_roundtrip
    # live in queries_etl.py; a change to only one's symbols must not flag
    # the other (simulated change set)
    etl = "amazon_fresh_sql_data_engineering_spark/queries_etl.py"
    fake = {etl: {"q_zorder_roundtrip"}}
    assert _symbols_touched(z, fake)
    comp = _query_source_symbols(CATALOG["q_compaction_roundtrip"].fn, repo)
    assert not _symbols_touched(comp, fake)
    # whole-catalog walk: fully resolved, no whole-file sentinels
    sentinels = []
    for name, spec in CATALOG.items():
        for f, s in _query_source_symbols(spec.fn, repo):
            if s is None:
                sentinels.append((name, f))
    assert not sentinels, sentinels[:5]


def test_symbol_map_sees_default_arg_publish_instances():
    """ADVICE r10 (low): two kinds of symbols the bytecode alone never
    shows must still flag in the change map. (1) Names in DEFAULT-ARGUMENT
    position (``mod=MERSENNE_P`` in ``_shingle_hashes_np``) are evaluated
    in the enclosing scope, so the walker harvests them from the AST. (2)
    Methods called on a package class INSTANCE (``k.sort_col()`` on the
    ranking ``_Key`` specs) resolve to nothing statically, so the walker
    records the class and walks its methods."""
    from bench import _query_source_symbols, _symbols_touched

    repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    from amazon_fresh_sql_data_engineering_spark.operators.dedup import (
        _shingle_hashes_np,
    )
    from amazon_fresh_sql_data_engineering_spark.operators.ranking import (
        global_rank,
    )

    dedup = "amazon_fresh_sql_data_engineering_spark/operators/dedup.py"
    assert "MERSENNE_P" not in _shingle_hashes_np.__code__.co_names
    syms = _query_source_symbols(_shingle_hashes_np, repo)
    assert (dedup, "MERSENNE_P") in syms, sorted(s for f, s in syms if f == dedup)
    assert _symbols_touched(syms, {dedup: {"MERSENNE_P"}})

    ranking = "amazon_fresh_sql_data_engineering_spark/operators/ranking.py"
    syms = _query_source_symbols(global_rank, repo)
    assert (ranking, "_Key") in syms
    # methods walked: sort_col is only ever called on _Key instances
    assert (ranking, "_Key.sort_col") in syms
    # prefix matching: the bare class symbol hits method-level changes
    assert _symbols_touched(syms, {ranking: {"_Key.sort_col"}})
    assert _symbols_touched(syms, {ranking: {"_Key"}})


def test_adjudicate_warm_and_position_rules_self_clear(tmp_path):
    """VERDICT r10 item 4: warm-tier and rotation-position flags self-
    clear mechanically — current reading inside the committed-run
    envelope, or a move into the run's first ~20 slots on a small query —
    while a flag with no evidence stays inconclusive."""
    from bench import adjudicate

    base = {f"q{i:02d}": 1.0 for i in range(12)}
    # prior: late-position qpos, favorable qenv pin
    prior_q = dict(base, qenv=0.30, qpos=0.40, qbad=0.50)
    prior = {
        "queries": prior_q,
        "queries_warm": {k: v * 0.8 for k, v in prior_q.items()},
    }
    # current: qenv 2.5x (but within committed envelope), qpos 2.5x at
    # position 0 (rotation artifact), qbad 4x with no cover
    cur_q = dict(qpos=1.00, **{k: v for k, v in base.items()})
    cur_q.update(qenv=0.75, qbad=2.00)
    cur = {
        "queries": cur_q,
        "queries_warm": {k: v * 0.8 for k, v in cur_q.items()},
    }
    committed = {
        "queries": dict(base, qenv=0.80, qpos=0.35, qbad=0.45),
        "queries_warm": dict(
            {k: v * 0.8 for k, v in base.items()}, qenv=0.70, qpos=0.30, qbad=0.40
        ),
    }
    paths = {}
    for name, payload in (("cur", cur), ("prior", prior), ("committed", committed)):
        p = tmp_path / f"BENCH_{name}.json"
        p.write_text(json.dumps(payload))
        paths[name] = str(p)
    out = adjudicate(
        paths["cur"],
        paths["prior"],
        str(tmp_path / "BENCH_committed.json"),
        since="HEAD",
        until="HEAD",
    )["adjudicate"]
    flags = out["flags"]
    assert set(flags) == {"qenv", "qpos", "qbad"}
    assert flags["qenv"]["verdict"] == "tenancy-spike"
    assert "cold-in-committed-range" in flags["qenv"]["evidence"]
    assert flags["qpos"]["verdict"] == "tenancy-spike"
    assert any(e.startswith("rotation-position") for e in flags["qpos"]["evidence"])
    assert flags["qbad"]["verdict"] == "inconclusive"
    assert flags["qbad"]["evidence"] == []
