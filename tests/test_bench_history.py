"""Bench history helpers (tools/bench_history.py) — pure-Python tests.

VERDICT r7 task 7: bench.py must diff against the best committed prior
round per query and print loud regression markers.  These tests pin the
diff semantics (threshold, sub-100ms floor), the truncated-tail
recovery (r6/r7 records had ``parsed: null``), and history merging.
"""

import sys
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parents[1]))

from tools.bench_history import (  # noqa: E402
    build_history,
    diff_regressions,
    merge_history,
    times_from_record,
)


def test_times_from_parsed_record():
    rec = {"parsed": {"queries": {"q01": 0.5, "p10": 1.25}, "value": 1.75}}
    assert times_from_record(rec) == {"q01": 0.5, "p10": 1.25}


def test_times_from_truncated_tail_excludes_sf_ratio():
    # Front-truncated tail (mid-number), queries map closing with
    # }, "sf": ..., then an sf_ratio map reusing the SAME names with
    # DIFFERENT values — those must not be mistaken for times.
    tail = (
        '23, "q16_running_sum": 1.31, "p10_range_join": 2.5}, "sf": 0.1, '
        '"sf_ratio": {"q16_running_sum": 13.1, "p10_range_join": 24.74}}'
    )
    rec = {"parsed": None, "tail": tail}
    assert times_from_record(rec) == {
        "q16_running_sum": 1.31,
        "p10_range_join": 2.5,
    }


def test_diff_regressions_threshold_and_floor():
    history = {
        "a": {"best": 1.0, "round": "r06"},
        "b": {"best": 1.0, "round": "r05"},
        "tiny": {"best": 0.02, "round": "r06"},  # under the 0.1s floor
        "absent": {"best": 9.0, "round": "r01"},
    }
    times = {"a": 2.1, "b": 1.4, "tiny": 0.12, "new_query": 5.0}
    regs = diff_regressions(times, history, threshold=1.5, floor_sec=0.1)
    # a: 2.1x > 1.5 -> flagged; b: 1.4x -> not; tiny: 0.12 vs
    # max(0.02, 0.1)=0.1 -> 1.2x -> not (floor absorbs sub-100ms noise);
    # new_query has no prior -> not.
    assert [r["query"] for r in regs] == ["a"]
    assert regs[0]["ratio"] == 2.1
    assert regs[0]["vs"] == "r06"


def test_diff_regressions_sorted_most_severe_first():
    history = {"a": {"best": 1.0, "round": "r06"}, "b": {"best": 1.0, "round": "r06"}}
    regs = diff_regressions({"a": 2.0, "b": 3.0}, history)
    assert [r["query"] for r in regs] == ["b", "a"]


def test_merge_history_keeps_best_and_is_pure():
    history = {"a": {"best": 1.0, "round": "r06"}}
    merged = merge_history(history, {"a": 0.8, "b": 2.0}, "local")
    # legacy entry seeded into the per-round map, best recomputed
    assert merged["a"]["best"] == 0.8 and merged["a"]["round"] == "local"
    assert merged["a"]["times"] == {"r06": 1.0, "local": 0.8}
    assert merged["b"]["best"] == 2.0 and merged["b"]["times"] == {"local": 2.0}
    assert history["a"]["best"] == 1.0 and "times" not in history["a"]


def test_regression_baseline_is_cross_round_median_not_lucky_min():
    # r8 phantom alerts: one lucky 0.359s draw in r04 made every later
    # normal-noise draw look 1.5x "regressed".  vs-median: no alert.
    from tools.bench_history import baseline_sec

    entry = {
        "best": 0.359,
        "round": "r04",
        "times": {"r03": 0.787, "r04": 0.359, "r05": 0.414,
                  "r06": 0.604, "r07": 0.613, "r08": 0.54},
    }
    assert baseline_sec(entry) == (0.54 + 0.604) / 2  # even-n median
    regs = diff_regressions({"p18": 0.61}, {"p18": entry})
    assert regs == []  # 0.61s is ordinary noise vs the 0.572s median
    regs = diff_regressions({"p18": 1.2}, {"p18": entry})
    assert len(regs) == 1 and regs[0]["baseline_sec"] == 0.572
    # legacy entries without a times map fall back to best
    assert baseline_sec({"best": 1.0, "round": "r01"}) == 1.0


def test_build_history_over_committed_records():
    # The repo's real records: every recovered best must be positive
    # and carry a round label, and the flagship queries must be there
    # despite r6/r7 tail truncation.
    hist = build_history()
    assert "p12_minhash_lsh" in hist and "x104_entity_resolution" in hist
    for v in hist.values():
        assert v["best"] > 0 and v["round"].startswith("r")


def test_baseline_excludes_regressed_rounds():
    # ADVICE r9: a regression that persists pulls its own median up and
    # self-clears.  Rounds flagged regressed must not vote.
    from tools.bench_history import baseline_sec

    entry = {
        "best": 1.0,
        "round": "r04",
        "times": {"r04": 1.0, "r05": 1.1, "r06": 2.4, "r07": 2.5, "r08": 2.6},
        "regressed": ["r06", "r07", "r08"],
    }
    assert baseline_sec(entry) == 1.05  # median of the accepted rounds
    # all-flagged entries fall back to the unfiltered median
    all_flagged = {
        "best": 2.0,
        "round": "r06",
        "times": {"r06": 2.0, "r07": 3.0},
        "regressed": ["r06", "r07"],
    }
    assert baseline_sec(all_flagged) == 2.5


def test_merge_history_records_regressed_label():
    merged = merge_history(
        {"a": {"times": {"r08": 1.0}, "best": 1.0, "round": "r08"}},
        {"a": 2.5},
        "local",
        regressed={"a"},
    )
    assert merged["a"]["regressed"] == ["local"]
    # merging the same label twice stays idempotent
    again = merge_history(merged, {"a": 2.6}, "local", regressed={"a"})
    assert again["a"]["regressed"] == ["local"]


def test_throughput_history_and_drop_alerts():
    # VERDICT r9 item 2: layer throughputs (higher is better) ride the
    # same history machinery; a drop below median/threshold fires.
    from tools.bench_history import (
        diff_throughput_drops,
        metrics_from_record,
    )

    rec = {"parsed": {"queries": {"q01": 0.5},
                      "streaming_events_per_sec": 8742.8,
                      "gate_docs_per_sec": 1711.3}}
    m = metrics_from_record(rec)
    assert m == {"streaming_events_per_sec": 8742.8,
                 "gate_docs_per_sec": 1711.3}
    # tail fallback when the driver failed to parse the line
    tail_rec = {"parsed": None,
                "tail": '..., "streaming_events_per_sec": 5425.6}'}
    assert metrics_from_record(tail_rec) == {
        "streaming_events_per_sec": 5425.6
    }

    hist = merge_history({}, {"streaming_events_per_sec": 9000.0}, "r08")
    hist = merge_history(hist, {"streaming_events_per_sec": 8000.0}, "r09")
    entry = hist["streaming_events_per_sec"]
    assert entry["higher_is_better"] and entry["best"] == 9000.0
    # median 8500 -> 5000 is a 1.7x drop: fires; 6000 (1.42x): doesn't
    drops = diff_throughput_drops(
        {"streaming_events_per_sec": 5000.0}, hist, threshold=1.5
    )
    assert len(drops) == 1 and drops[0]["ratio"] == 1.7
    assert diff_throughput_drops(
        {"streaming_events_per_sec": 6000.0}, hist, threshold=1.5
    ) == []
    # a query-time entry never produces a throughput drop, and
    # diff_regressions never flags a throughput entry
    assert diff_throughput_drops({"q01": 0.1}, {"q01": {"best": 1.0,
        "round": "r08", "times": {"r08": 1.0}}}) == []
    assert diff_regressions({"streaming_events_per_sec": 99999.0}, hist) == []


def test_build_history_carries_throughput_entries():
    hist = build_history()
    assert hist["streaming_events_per_sec"]["higher_is_better"]
    assert "r09" in hist["streaming_events_per_sec"]["times"]


def test_compact_regressions_budgeted_and_round_trips():
    # VERDICT r8 item 1: names must survive inside the one-line JSON.
    from tools.bench_history import compact_regressions
    import json

    regs = diff_regressions(
        {f"q{i:02d}_very_long_query_name": 3.0 for i in range(10)},
        {f"q{i:02d}_very_long_query_name": {"best": 1.0, "round": "r05"}
         for i in range(10)},
    )
    compact = compact_regressions(regs, max_n=5)
    assert len(compact) == 5
    assert compact[0] == {"q": regs[0]["query"], "r": 3.0, "vs": "r05"}
    # each entry must stay tiny so 5 of them fit the tail budget
    line = json.dumps(compact, separators=(",", ":"))
    assert len(line) < 300


def test_protocol_aware_baseline_and_regressions():
    """r10: count() -> noop-write.  Baselines compare only same-
    protocol rounds; the first round under a new protocol has no
    baseline and must not flag; merge_history stamps the protocol."""
    from tools.bench_history import baseline_sec, merge_history

    entry = {
        "times": {"r07": 1.0, "r08": 1.2, "r09": 1.1, "r10": 4.0},
        "proto": {"r07": "count", "r08": "count", "r09": "count",
                  "r10": "noop-write"},
    }
    # unfiltered median sees all four rounds (legacy behavior)
    assert baseline_sec(entry) == 1.15
    # protocol-filtered medians split cleanly
    assert baseline_sec(entry, "count") == 1.1
    assert baseline_sec(entry, "noop-write") == 4.0
    # no round under a brand-new protocol -> None, caller skips
    only_old = {"times": {"r07": 1.0}, "proto": {"r07": "count"}}
    assert baseline_sec(only_old, "noop-write") is None
    # diff_regressions: a 5x 'slowdown' that is really a protocol
    # level shift must NOT flag when no same-protocol baseline exists
    assert (
        diff_regressions({"q01": 5.0}, {"q01": only_old},
                         measure="noop-write")
        == []
    )
    # ...but once a noop round is committed, real regressions do flag
    hist2 = {"q01": {"times": {"r10": 1.0},
                     "proto": {"r10": "noop-write"}, "best": 1.0,
                     "round": "r10"}}
    flagged = diff_regressions({"q01": 5.0}, hist2, measure="noop-write")
    assert len(flagged) == 1 and flagged[0]["ratio"] == 5.0
    # merge_history stamps the measure on query entries only
    merged = merge_history({}, {"q01": 2.0}, "local",
                           measure="noop-write")
    assert merged["q01"]["proto"]["local"] == "noop-write"
    merged = merge_history(
        merged, {"streaming_events_per_sec": 9000.0}, "local",
        measure="noop-write",
    )
    assert "proto" not in merged["streaming_events_per_sec"]


def test_fit_tail_window_shrinks_deterministically():
    """The compact driver line must parse whole from a 2000-char
    stdout tail even on a regression-heavy round (measured overflow:
    2014 chars with 4 regressions + 3 throughput drops).  Shrink
    order: alert lists first, the query map last and loudly."""
    import json

    from bench import _fit_tail_window

    # small payloads pass through byte-identical
    small = {"metric": "m", "queries": {"a": 1.0}}
    assert _fit_tail_window(dict(small)) == json.dumps(
        small, separators=(",", ":")
    )

    # an oversized payload: 60 queries + 5 regressions + 3 drops
    big = {
        "metric": "headline_query_wall_time",
        "queries": {f"x{i:03d}_some_query_name": i / 7.0 for i in range(60)},
        "regressions": [
            {"q": f"x{i:03d}_some_query_name", "r": 2.0, "vs": "r10"}
            for i in range(5)
        ],
        "tp_drops": [
            {"m": f"metric_{i}", "r": 3.0, "vs": "r10"} for i in range(3)
        ],
    }
    line = _fit_tail_window(dict(big))
    assert len(line) <= 1950
    parsed = json.loads(line)  # parses whole
    # alert lists shrink before the query map is touched
    assert len(parsed["regressions"]) <= 5
    if "queries_truncated" in parsed:
        # the slowest queries survive truncation
        kept = parsed["queries"]
        dropped_max = max(
            v for k, v in big["queries"].items() if k not in kept
        )
        assert min(kept.values()) >= dropped_max


def test_fit_tail_window_is_side_effect_free():
    """_fit_tail_window must not mutate the caller's dict (ADVICE
    r11): a future reader of ``out`` after the call would otherwise
    silently see the shrunken alert lists / query map."""
    import copy

    from bench import _fit_tail_window

    big = {
        "metric": "headline_query_wall_time",
        "queries": {f"x{i:03d}_some_query_name": i / 7.0 for i in range(60)},
        "regressions": [
            {"q": f"x{i:03d}_some_query_name", "r": 2.0, "vs": "r10"}
            for i in range(5)
        ],
        "tp_drops": [
            {"m": f"metric_{i}", "r": 3.0, "vs": "r10"} for i in range(3)
        ],
    }
    snapshot = copy.deepcopy(big)
    _fit_tail_window(big)  # no dict() defense — the function owns it now
    assert big == snapshot


def test_coverage_end_state_matches_committed_bench_record():
    """COVERAGE.md's end-state headline numbers must be the COMMITTED
    round record's, not a better uncommitted run (VERDICT r11 item 3:
    the narrative quoted 51.3s/12,770 ev/s while BENCH_r11.json held
    55.325s/12,025.7).  The end state must NAME the BENCH_r*.json it
    quotes, and the numbers must equal that record byte-for-byte; the
    cited record may trail the newest by at most one round (the
    driver commits BENCH_r{N}.json after the round's narrative is
    sealed — the next round refreshes the quote)."""
    import glob
    import json
    import os
    import re

    repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    rounds = sorted(
        int(re.search(r"BENCH_r(\d+)", p).group(1))
        for p in glob.glob(os.path.join(repo, "BENCH_r*.json"))
    )
    assert rounds, "no committed BENCH_r*.json"

    text = open(os.path.join(repo, "COVERAGE.md")).read()
    # the LAST end-state section is the current one (earlier rounds
    # keep theirs as history)
    tail = text[text.rindex("End state:"):]
    cited = re.search(r"BENCH_r(\d+)\.json", tail)
    assert cited, "COVERAGE.md end state must name its BENCH_r*.json source"
    n = int(cited.group(1))
    assert n in rounds, f"cited BENCH_r{n}.json is not committed"
    assert n >= rounds[-1] - 1, (
        f"end state cites BENCH_r{n}.json but BENCH_r{rounds[-1]}.json "
        "is committed — refresh the quote"
    )
    record = json.load(open(os.path.join(repo, f"BENCH_r{n}.json")))
    parsed = record.get("parsed") or json.loads(
        record["tail"][record["tail"].rindex('{"metric"'):]
    )

    m = re.search(
        r"headline\s+bench\s+([\d.]+)s.*?"
        r"streaming\s+([\d.]+)\s+events/s",
        tail,
        re.S,
    )
    assert m, "COVERAGE.md end-state headline line not found/parseable"
    assert float(m.group(1)) == parsed["value"], (
        f"COVERAGE end-state quotes {m.group(1)}s; committed "
        f"BENCH_r{n}.json says {parsed['value']}s"
    )
    assert float(m.group(2)) == parsed["streaming_events_per_sec"], (
        f"COVERAGE end-state quotes {m.group(2)} events/s; committed "
        f"BENCH_r{n}.json says {parsed['streaming_events_per_sec']}"
    )


def test_build_history_skips_non_canonical_core_records(tmp_path):
    """VERDICT r12 item 3: the driver's low-core scaling run
    (BENCH_r12_c8.json, cpus=8) must not vote into the history's
    medians/bests — only canonical-core (32) records fold in.  A
    record with no ``cpus`` field predates the scaling runs and is
    canonical by construction."""
    import json

    rec32 = {
        "cpus": 32,
        "parsed": {"queries": {"q01": 1.0}, "measure": "noop-write"},
    }
    rec8 = {
        "cpus": 8,
        "parsed": {"queries": {"q01": 0.4}, "measure": "noop-write"},
    }
    legacy = {"parsed": {"queries": {"q01": 1.2}}}
    (tmp_path / "BENCH_r01.json").write_text(json.dumps(legacy))
    (tmp_path / "BENCH_r02.json").write_text(json.dumps(rec32))
    (tmp_path / "BENCH_r02_c8.json").write_text(json.dumps(rec8))
    hist = build_history(str(tmp_path))
    assert hist["q01"]["times"] == {"r01": 1.2, "r02": 1.0}
    # the 8-core 0.4s draw must not become the best
    assert hist["q01"]["best"] == 1.0
    # measure comes from inside the driver's parsed line; absent means
    # the count() era
    assert hist["q01"]["proto"] == {"r01": "count", "r02": "noop-write"}


def test_bench_records_gated_on_canonical_cores(monkeypatch):
    """bench.py writes BENCH_FULL.json / BENCH_HISTORY.json only for
    the canonical (sf0.1, 32-core) shape: a low-core scaling run must
    leave both records untouched (VERDICT r12 item 3 — the 8-core run
    overwrote both)."""
    import bench

    monkeypatch.setenv("SPARK_GRAFT_CPUS", "32")
    assert bench._is_canonical("/root/testdata/sf0.1")
    monkeypatch.setenv("SPARK_GRAFT_CPUS", "8")
    assert not bench._is_canonical("/root/testdata/sf0.1")
    monkeypatch.setenv("SPARK_GRAFT_CPUS", "32")
    assert not bench._is_canonical("/root/testdata/sf0.01")


def test_malformed_cpu_env_falls_back_and_is_non_canonical(monkeypatch):
    """A non-numeric or non-positive $SPARK_GRAFT_CPUS does not crash
    the bench: the session falls back to os.cpu_count() cores, and the
    run is non-canonical, so no record is written — even on a host
    whose cpu_count() is the canonical 32."""
    import bench
    from kafka_spark_streaming_pipeline_spark.session import env_cpus

    monkeypatch.setattr(bench.os, "cpu_count", lambda: 32)
    for raw in ("eight", "4.5", "0", "-4"):
        monkeypatch.setenv("SPARK_GRAFT_CPUS", raw)
        assert env_cpus() is None
        assert bench._session_cpus() == 32
        assert not bench._is_canonical(bench.CANONICAL_SF_DIR)
    # a well-formed value is still the core count, and an unset one
    # still means "this host's cores"
    monkeypatch.setenv("SPARK_GRAFT_CPUS", " 32 ")
    assert env_cpus() == 32 and bench._is_canonical(bench.CANONICAL_SF_DIR)
    monkeypatch.delenv("SPARK_GRAFT_CPUS")
    assert env_cpus() is None and bench._is_canonical(bench.CANONICAL_SF_DIR)
