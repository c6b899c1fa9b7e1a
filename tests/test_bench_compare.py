"""bench.py round-over-round compare (VERDICT r5 #4): the moved_vs_prev
path must provably engage.  Root cause of r5's empty dict: the driver's
BENCH_r{N}.json is a wrapper {n, rc, tail, parsed} whose tail keeps only
the last 2000 stdout chars — bench.py's full JSON line (with
queries_min) never survives, so the old top-level lookup compared
against nothing."""

import json
import os

from bench import _latest_bench, compare_to_prev, extract_prev_mins

HERE = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def test_mins_recovered_from_real_driver_r5_file():
    """The actual BENCH_r05.json on disk: full line truncated, but the
    spread fragments in the tail still yield real per-query mins, and
    an injected regression against them flags."""
    with open(os.path.join(HERE, "BENCH_r05.json")) as f:
        prev = json.load(f)
    mins = extract_prev_mins(prev)
    assert len(mins) >= 10, mins  # the surviving tail fragment
    assert all(v > 0 for v in mins.values())
    name = sorted(mins)[0]
    moved = compare_to_prev({name: mins[name] * 2.0}, prev)
    assert moved[name]["pct"] == 100.0 and moved[name]["prev"] == mins[name]


def test_raw_bench_shapes():
    """bench.py's own output shape (BENCH_LAST.json) and the r1-r3
    legacy shape (mins under "queries") both compare directly."""
    prev = {"queries_min": {"q": 1.0}, "queries": {"q": 5.0}}
    assert compare_to_prev({"q": 1.2}, prev) == {
        "q": {"prev": 1.0, "now": 1.2, "pct": 20.0}
    }
    assert compare_to_prev({"q": 0.5}, {"queries": {"q": 1.0}})["q"]["pct"] == -50.0
    # a 5% wiggle does not flag
    assert compare_to_prev({"q": 1.05}, prev) == {}


def test_r4_wrapper_without_fragments_yields_empty_not_medians():
    """An r4-style wrapper whose tail lost everything and whose parsed
    summary carries top-5 MEDIANS must NOT be treated as mins."""
    wrapper = {
        "tail": "no json here",
        "parsed": {"runs": 7, "queries": {"q": 9.9}},
    }
    assert extract_prev_mins(wrapper) == {}
    assert compare_to_prev({"q": 1.0}, wrapper) == {}


def test_degenerate_prev_yields_empty_not_crash():
    assert compare_to_prev({"q": 1.0}, {}) == {}
    assert compare_to_prev({"q": 1.0}, {"queries_min": {"q": 0.0}}) == {}
    assert compare_to_prev({}, {"queries_min": {"q": 1.0}}) == {}


def test_latest_bench_prefers_full_fidelity_record():
    """BENCH_LAST.json (if present) or the newest driver file must
    resolve, and its extracted mins must be non-empty so the next
    round's compare is non-degenerate."""
    name, data = _latest_bench()
    assert name.endswith(".json")
    assert extract_prev_mins(data), name


def test_sentinel_flags_contamination_and_passes_quiet():
    """VERDICT r6 #3 + r8 #1: the sentinel gate must flag a loaded box
    (vs the BEST-known sentinel, not merely the previous one), stay
    quiet within noise, and fail when the box heats up mid-sweep."""
    from bench import sentinel_verdict

    hot = sentinel_verdict(2.0, {"sentinel_sec": 1.0})
    assert hot["machine_contended"] is True and hot["sentinel_ratio"] == 2.0
    assert hot["sentinel_gate"] == "fail"
    quiet = sentinel_verdict(1.05, {"sentinel_sec": 1.0})
    assert quiet["machine_contended"] is False
    assert quiet["sentinel_gate"] == "pass"
    # first run: no history — gate self-passes, best seeds from this run
    first = sentinel_verdict(1.0, {})
    assert first["sentinel_gate"] == "pass" and first["sentinel_best"] == 1.0
    # a contended PREVIOUS round cannot launder a hot baseline: best is
    # the min across history, so 1.3 vs best 1.0 fails even though the
    # immediately-previous (contended) sentinel was 1.4
    prev = {"sentinel_sec": 1.4, "sentinel_best": 1.0}
    assert sentinel_verdict(1.3, prev)["sentinel_gate"] == "fail"
    assert sentinel_verdict(1.1, prev)["sentinel_gate"] == "pass"
    # post-sweep heat-up fails the gate even after a quiet start, even
    # with no post history (the pre best bounds it)
    mid_heat = sentinel_verdict(1.0, {"sentinel_sec": 1.0}, post=1.6)
    assert mid_heat["sentinel_gate"] == "fail"
    assert mid_heat["sentinel_post"] == 1.6
    # post is bounded by the PRE best only (warm-up can only lower it;
    # per-block restarts make post depth variable, so a deep-warm post
    # lineage would spuriously fail honest shallow-warm posts): a post
    # far below pre passes and must not poison the pre baseline
    warm = sentinel_verdict(
        1.0, {"sentinel_sec": 1.0, "sentinel_best": 1.0}, post=0.66
    )
    assert warm["sentinel_gate"] == "pass"
    assert warm["sentinel_best"] == 1.0
    # ...and a later cold start against that history still passes: a
    # pooled-best design would have failed it at 1.0/0.66
    cold = sentinel_verdict(1.05, {"sentinel_sec": 1.0, "sentinel_best": 1.0})
    assert cold["sentinel_gate"] == "pass"
    # a faster-than-ever run lowers the carried-forward best
    faster = sentinel_verdict(0.8, {"sentinel_sec": 1.0, "sentinel_best": 1.0})
    assert faster["sentinel_gate"] == "pass" and faster["sentinel_best"] == 0.8


def test_summary_line_bounded_under_driver_tail_buffer():
    """r7 regression: the summary line embedded the full 39-entry
    moved_vs_prev dict and overflowed the driver's 2000-char tail
    capture (BENCH_r07 parsed:null).  The summary must stay parseable
    no matter how large the suite or the mover set grows."""
    from bench import build_summary

    medians = {f"query_name_{i:03d}": 0.123 + i / 1000 for i in range(250)}
    moved = {
        f"query_name_{i:03d}": {"prev": 1.0, "now": 1.5, "pct": 50.0 + i}
        for i in range(60)
    }
    out = {
        "metric": "headline-query wall-clock (noop sink), sum of per-query medians",
        "value": 133.6,
        "sf": 0.1,
        "runs": 7,
        "queries": medians,
        "sentinel_sec": 0.123,
        "sentinel_ratio": 1.01,
        "machine_contended": False,
    }
    summary = build_summary(out, moved)
    line = json.dumps(summary)
    assert len(summary["moved_vs_prev"]) <= 8
    assert len(summary["queries"]) == 5
    # top movers by |pct| means the LARGEST moves survive truncation
    assert "query_name_059" in summary["moved_vs_prev"]
    assert len(line) < 1800, len(line)
    # and with no movers at all the line still parses
    assert json.loads(json.dumps(build_summary(out, {})))["moved_vs_prev"] == {}


def test_sentinel_mid_sweep_burst_fails_gate():
    """r9: the first end-of-round sweep passed BOTH endpoint sentinels
    yet carried a 40-minute-window contention burst (scd2_build 1.52 s
    in-sweep vs 0.50 s re-run minutes later).  Mid-sweep checkpoints
    must catch it: any checkpoint above tol x the pre best fails; mid
    values BELOW pre (normal warm-up) must not."""
    from bench import sentinel_verdict

    prev = {"sentinel_sec": 1.0, "sentinel_best": 1.0}
    burst = sentinel_verdict(1.0, prev, post=0.6, mids=[0.9, 1.7, 0.8])
    assert burst["sentinel_gate"] == "fail"
    assert burst["sentinel_mid_max"] == 1.7
    quiet = sentinel_verdict(1.0, prev, post=0.6, mids=[0.9, 0.7, 0.65])
    assert quiet["sentinel_gate"] == "pass"
    assert quiet["machine_contended"] is False
