"""The bench emission contract: the round harness parses the final
JSON line out of a 2000-byte combined-output tail, so the line must
stay under budget for the CURRENT query registry and keep the headline
total intact while eliding only cheap per-query entries."""

import json

import bench
from cati_database_feeder_spark import queryset


def _payload():
    timings = {name: 0.12 for name in queryset.QUERIES}
    timings["stage:jaccard_pairs"] = 10.1
    timings["stage:tokset_groups"] = 0.7
    timings["stage:band_buckets"] = 1.4
    timings["stage:minhash_rep_cands"] = 5.8
    timings["stage:cluster_base_labels"] = 6.0
    total = round(sum(timings.values()), 3)
    return total, {
        "metric": "headline_queries_total_wall",
        "value": total, "unit": "sec",
        "queries": dict(timings), "sf": 0.1,
    }


def test_final_line_fits_tail_budget_for_current_registry():
    total, payload = _payload()
    line = bench.fit_line(payload)
    assert len(line) <= 1900
    parsed = json.loads(line)
    assert parsed["value"] == total          # total never elided
    # expensive entries survive elision — they're what perf grading reads
    assert "stage:jaccard_pairs" in parsed["queries"]
    assert "stage:minhash_rep_cands" in parsed["queries"]


def test_fit_line_noop_when_under_budget():
    line = bench.fit_line({"value": 1.0, "queries": {"a": 1.0}}, budget=1900)
    assert json.loads(line) == {"value": 1.0, "queries": {"a": 1.0}}


def test_check_window_covers_every_query_without_recent_evidence():
    """Rotation ratchet, recency edition: the external harness
    value-checks only the first 50 registered queries, so every query
    sitting PAST that window must have a triple-green row that is at
    most 2 rounds older than the upcoming round — a green from three
    rounds ago says nothing about code that kept changing. Queries with
    no green at all (new ones, and rows-only-by-design ones whose weaker
    check must be re-recorded each round) must always sit inside the
    window. Adding a query without rotating _CHECK_ORDER, or letting a
    tail green go stale, fails here — not two rounds later in a
    verdict.

    Two evidence kinds count, both at sf0.01 against the same DuckDB
    oracle: the driver's CORRECTNESS_r{N}.json, and CHECKLOCAL_r{N}.json
    written by tools/checklocal.py running the IDENTICAL comparison
    (tools/check.py:compare_query). The local lane exists because the
    arithmetic forces it: 115+ queries with a 50-slot driver window and
    a 2-round green lifetime demand ~58 driver refreshes per round —
    impossible by construction, so the tail is re-verified locally each
    round and the verdicts recorded. The ratchet still fails if a tail
    query has NEITHER kind of recent evidence."""
    import glob
    import os
    import re

    repo_root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    last_green: dict[str, int] = {}
    driver_rounds = []
    for path in (glob.glob(os.path.join(repo_root, "CORRECTNESS_r*.json"))
                 + glob.glob(os.path.join(repo_root, "CHECKLOCAL_r*.json"))):
        rnum = int(re.search(r"r(\d+)", os.path.basename(path)).group(1))
        if "CORRECTNESS" in os.path.basename(path):
            driver_rounds.append(rnum)
        for name, res in json.load(open(path)).items():
            if res.get("hash_match") is True:
                last_green[name] = max(last_green.get(name, 0), rnum)
    # upcoming round = latest DRIVER round + 1 (a local artifact cannot
    # advance the clock — it only refreshes evidence). No recorded
    # rounds (fresh clone / artifact-less checkout): treat as round 0
    # so every past-window query fails with the descriptive message
    # below instead of a ValueError from max().
    upcoming = max(driver_rounds, default=0) + 1
    names = list(queryset.QUERIES)
    window = set(names[:50])
    stale = sorted(
        n for n in names if n not in window
        and upcoming - last_green.get(n, -10 ** 6) > 2)
    assert not stale, (
        f"queries past the 50-slot window whose last green (driver or "
        f"checklocal) is missing or older than round {upcoming - 2}: "
        f"{stale} — rotate them into _CHECK_ORDER (queryset.py) or "
        f"re-verify them with tools/checklocal.py")


def test_canary_payload_survives_elision():
    """The canary block is protocol, not workload: fit_line may elide
    cheap queries but never the canary fields or the total."""
    total, payload = _payload()
    payload["canary"] = {n: 1.0 for n in bench.CANARY}
    payload["canary_vs_prev"] = 1.07
    line = bench.fit_line(payload)
    parsed = json.loads(line)
    assert parsed["value"] == total
    assert set(parsed["canary"]) == set(bench.CANARY)
    assert parsed["canary_vs_prev"] == 1.07


def test_canary_queries_are_registered():
    for name in bench.CANARY:
        assert name in queryset.QUERIES, name


def test_prior_canary_refuses_cross_sf_baseline(tmp_path):
    """A prior board at a different scale factor is no baseline: the
    sf0.001 smoke run must not 'regress' against the sf0.1 record."""
    p = tmp_path / "BENCH_FULL.json"
    p.write_text(json.dumps({"sf": 0.1, "canary": {"a": 1.0}}))
    vals, kind = bench.prior_canary(str(tmp_path), 0.001)
    assert vals is None and kind == "sf-mismatch"
    vals, kind = bench.prior_canary(str(tmp_path), 0.1)
    assert vals == {"a": 1.0} and kind == "canary"


def test_prior_canary_falls_back_to_queries_then_none(tmp_path):
    p = tmp_path / "BENCH_FULL.json"
    p.write_text(json.dumps(
        {"sf": 0.1, "queries": {bench.CANARY[0]: 2.5, "unrelated": 9.0}}))
    vals, kind = bench.prior_canary(str(tmp_path), 0.1)
    assert kind == "queries" and vals == {bench.CANARY[0]: 2.5}
    vals, kind = bench.prior_canary(str(tmp_path / "missing"), 0.1)
    assert vals is None and kind == "none"


def test_prior_canary_no_overlap_is_none(tmp_path):
    """A prior board whose queries share no key with the canary set is
    no baseline at all — kind 'none', not 'queries' with an empty
    dict behind it (round-12 advice)."""
    p = tmp_path / "BENCH_FULL.json"
    p.write_text(json.dumps({"sf": 0.1, "queries": {"unrelated": 9.0}}))
    vals, kind = bench.prior_canary(str(tmp_path), 0.1)
    assert vals is None and kind == "none"


def test_canary_v2_median_survives_elision():
    """Canary v2 (round-12 verdict, missing #3): the per-query ratio
    vector and its median ride the compact line un-elided — the sum
    ratio alone is one cold dispatch away from misleading."""
    total, payload = _payload()
    payload["canary"] = {n: 1.0 for n in bench.CANARY}
    payload["canary_vs_prev"] = 1.30           # sum: skewed by one query
    payload["canary_ratios"] = {n: 1.0 for n in bench.CANARY}
    payload["canary_median_vs_prev"] = 0.98    # median: the honest read
    line = bench.fit_line(payload)
    parsed = json.loads(line)
    assert parsed["canary_median_vs_prev"] == 0.98
    assert set(parsed["canary_ratios"]) == set(bench.CANARY)
    assert parsed["value"] == total
