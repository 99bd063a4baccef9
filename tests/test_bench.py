"""Tests for bench.py: the one-line stdout contract under the capture
cap, the cost-ordered per-query budgeter, the warehouse
pre-materialization map, and one in-process run of ``main()``."""

from __future__ import annotations

import json
import os
import sys

sys.path.insert(0, os.path.join(os.path.dirname(__file__), ".."))

import bench


def test_emit_bench_line_is_always_compact():
    """Only a 2000-char tail of stdout was recorded in r06 (4.3 KB
    line) and r07 (2.6 KB line), so neither line parsed. The stdout line
    carries the scalars and fills the space left under the cap with a
    cost-ordered PREFIX of the per-query seconds, never the full
    dict."""
    queries = {f"query_name_number_{i:03d}": 0.123 for i in range(300)}
    out = {
        "metric": "headline_queries_total_wall",
        "value": 12.3,
        "unit": "sec",
        "queries": queries,
        "sf": 0.1,
        "query_spread_stddev": {n: 0.01 for n in queries},
        "materialization_setup_sec": 4.5,
    }
    line = bench.emit_bench_line(out)
    assert len(line) <= bench._STDOUT_LINE_HARD_CAP < 2000
    parsed = json.loads(line)
    assert parsed["n_queries"] == 300
    assert parsed["queries_file"] == "BENCH_FULL.json"
    assert parsed["materialization_setup_sec"] == 4.5
    assert "query_spread_stddev" not in parsed
    carried = parsed["queries"]
    assert 0 < len(carried) < 300
    assert all(v == 0.12 for v in carried.values())
    assert parsed["queries_omitted"] == 300 - len(carried)
    # the original dict is not mutated (it's also written to BENCH_FULL)
    assert out["queries"] == queries
    assert "query_spread_stddev" in out


def test_emit_bench_line_fits_observed_driver_capture():
    """The worst realistic payload: every HEADLINE name at a large time
    fills to the cap without crossing it, and the drains, though
    cheaper than every batch entry, are all carried."""
    out = {
        "metric": "headline_queries_total_wall",
        "value": 9999.999,
        "unit": "sec",
        "queries": {n: 123.456 for n in bench.HEADLINE},
        "sf": 0.1,
        "query_spread_stddev": {n: 1.0 for n in bench.HEADLINE},
        "materialization_setup_sec": 99.9,
        "streaming": {
            "metric": "streaming_drain_wall",
            "queries": {n: 0.123 for n in bench.STREAMING},
            "total": 9999.9,
            "spread_stddev": {n: 1.0 for n in bench.STREAMING},
        },
    }
    line = bench.emit_bench_line(out)
    assert len(line) <= bench._STDOUT_LINE_HARD_CAP < 2000
    parsed = json.loads(line)
    assert parsed["value"] == 9999.999
    assert parsed["queries_omitted"] == len(bench.HEADLINE) - len(
        parsed.get("queries") or {}
    )
    # the drains go first, so all of them ride along
    s = parsed["streaming"]
    assert s["queries"] == {n: 0.12 for n in bench.STREAMING}
    assert s["n"] == len(bench.STREAMING)
    assert "spread_stddev" not in s and "queries_omitted" not in s


def test_emit_bench_line_carries_streaming_error():
    """A failed drain worker leaves ``streaming: {"error": ...}`` on
    the line; the batch section still prints."""
    out = {
        "metric": "headline_queries_total_wall",
        "value": 1.0,
        "unit": "sec",
        "queries": {"q1_pricing_summary": 1.0},
        "sf": 0.1,
        "streaming": {"error": "drain worker exited 1: boom"},
    }
    parsed = json.loads(bench.emit_bench_line(out))
    assert parsed["queries"] == {"q1_pricing_summary": 1.0}
    assert parsed["streaming"] == {
        "error": "drain worker exited 1: boom",
        "n": 0,
    }


def test_insert_queries_budgeted_prefix_and_streaming_routing():
    """The budgeted fill carries every streaming drain first, then the
    batch entries cost-ordered with the PREFIX property (if a query is
    carried, so is every more expensive one); batch entries land in
    the contract's top-level ``queries`` slot right before ``sf``,
    drains in ``streaming.queries``, and the first entry that would
    cross the cap stops the fill."""
    slim = {
        "metric": "m",
        "value": 1.0,
        "unit": "sec",
        "sf": 0.1,
        "streaming": {"total": 9.0, "n": 2},
    }
    batch = {f"batch_q{i:02d}": float(100 - i) for i in range(30)}
    stream = {"drain_a": 500.5, "drain_b": 0.111}
    cap = len(json.dumps(slim)) + 220
    got = bench._insert_queries_budgeted(slim, batch, stream, cap=cap)
    assert len(json.dumps(got)) <= cap
    carried = got["queries"]
    # prefix property: the carried batch names are exactly the N most
    # expensive ones
    expect = sorted(batch, key=lambda n: -batch[n])[: len(carried)]
    assert sorted(carried) == sorted(expect)
    assert got["queries_omitted"] == len(batch) - len(carried)
    # both drains ride along, even the one cheaper than every batch
    # entry, and land in the streaming block
    assert got["streaming"]["queries"] == {"drain_a": 500.5, "drain_b": 0.11}
    assert "queries_omitted" not in got["streaming"]
    # key order: queries sits right before sf (the documented contract
    # position)
    keys = list(got)
    assert keys.index("queries") == keys.index("sf") - 2
    assert keys.index("queries_omitted") == keys.index("sf") - 1
    # without a streaming block, stream entries are not invented
    slim2 = {"metric": "m", "value": 1.0, "unit": "sec", "sf": 0.1}
    got2 = bench._insert_queries_budgeted(slim2, {"q": 1.0}, stream, cap=500)
    assert "streaming" not in got2 and got2["queries"] == {"q": 1.0}


def test_insert_queries_budgeted_without_sf_appends_queries():
    """A slim line with no ``sf`` key still carries the batch entries,
    appended at the end."""
    slim = {"metric": "m", "value": 1.0, "unit": "sec"}
    got = bench._insert_queries_budgeted(slim, {"q1": 2.0, "q2": 1.0}, None)
    assert got["queries"] == {"q1": 2.0, "q2": 1.0}
    assert list(got)[-1] == "queries"
    assert "queries_omitted" not in got


def test_insert_queries_budgeted_counts_omitted_when_none_fit():
    """When not even the most expensive entry fits, the line says how
    many were left out rather than dropping the batch map silently."""
    slim = {"metric": "m", "value": 1.0, "unit": "sec", "sf": 0.1}
    base = len(json.dumps(slim))
    cap = base + len(', "queries_omitted": 2')
    got = bench._insert_queries_budgeted(
        slim, {"q1": 2.0, "q2": 1.0}, None, cap=cap
    )
    assert "queries" not in got
    assert got["queries_omitted"] == 2
    assert list(got).index("queries_omitted") == list(got).index("sf") - 1


def test_warehouse_consumer_sets_stay_in_sync():
    """A warehouse-reading entry added to the bench or sweep without
    joining the pre-materialization set would time the one-off table
    BUILD as its steady-state cell — pin the two maps to each other
    and to the benched entries that need them."""
    sys.path.insert(0, os.path.join(os.path.dirname(__file__), "..", "tools"))
    import scale_sweep

    assert bench._MAT_CONSUMERS == frozenset(scale_sweep._WAREHOUSE_CONSUMERS)
    assert bench._MAT_TABLES == scale_sweep._WAREHOUSE_TABLES
    needs = {
        n for n in bench.HEADLINE if "from_manifest" in n
    } | {
        "fate_churn_summary",
        "release_datacard_diff",
        "fate_recompute_plan",
        "streaming_corpus_fate_gate",
        "streaming_fuzzy_decon_gate",
        "streaming_pii_redaction_gate",
        "streaming_fate_gate_rollover",
    }
    assert needs <= bench._MAT_CONSUMERS
    # every table either tool's consumer mapping references must have
    # a builder, or materialization KeyErrors at run time
    from dungbeetle_spark.operators.fate_delta import warehouse_builders

    referenced = {t for ts in bench._MAT_TABLES.values() for t in ts}
    assert referenced <= set(warehouse_builders())


def test_mat_tables_for_unions_only_selected_consumers():
    """A subset run materializes only the tables its selected ops
    read, so materialization_setup_sec does not over-report."""
    assert bench._mat_tables_for(["streaming_corpus_fate_gate"]) == {
        "fate_reference"
    }
    assert bench._mat_tables_for(["fate_recompute_plan"]) == {
        "seeded_manifest",
        "seeded_canon",
    }
    assert bench._mat_tables_for(["q1_pricing_summary"]) == set()


def test_main_prints_one_contract_line(spark, sf_smoke, tmp_path,
                                       monkeypatch, capsys):
    """One in-process run of the whole harness on a one-query subset:
    the last stdout line parses, holds the contract keys, fits the
    cap, and the subset record lands in RECORD_DIR."""
    monkeypatch.setenv("SPARK_GRAFT_SF_DIR", sf_smoke)
    monkeypatch.setenv("SPARK_GRAFT_BENCH_QUERIES", "q6_forecast_revenue")
    monkeypatch.setattr(bench, "RECORD_DIR", str(tmp_path))
    bench.main()
    line = capsys.readouterr().out.strip().splitlines()[-1]
    assert len(line) <= bench._STDOUT_LINE_HARD_CAP
    parsed = json.loads(line)
    assert {"metric", "value", "unit", "queries", "sf"} <= set(parsed)
    assert list(parsed["queries"]) == ["q6_forecast_revenue"]
    assert parsed["sf"] == 0.001
    assert parsed["queries_file"] == "BENCH_FULL_SUBSET.json"
    assert "streaming" not in parsed
    with open(tmp_path / "BENCH_FULL_SUBSET.json") as f:
        full = json.load(f)
    assert full["queries"]["q6_forecast_revenue"] > 0
    assert set(full["query_spread_stddev"]) == {"q6_forecast_revenue"}
