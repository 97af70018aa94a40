"""bench.py stdout contract: the summary line must fit the driver's tail.

Round 6 shipped ``BENCH_r06.json {"parsed": null}`` because the single
stdout JSON line grew past the driver's 2,000-char tail capture
(VERDICT r6, "What's wrong" #1). These tests pin the fix: the line is
valid JSON, under budget for the REAL headline set, and degrades
gracefully (precision first, then the per-query map) rather than
overflowing.
"""

from __future__ import annotations

import json

from bench import HEADLINE, summary_line


def test_real_headline_set_fits_budget():
    # Worst realistic shape: every headline query timed, multi-second values.
    timings = {n: 12.3456 for n in HEADLINE}
    line = summary_line(timings, {}, 0.1, len(HEADLINE))
    assert len(line) <= 1900, f"{len(line)} chars — driver tail capture is 2000"
    parsed = json.loads(line)
    assert parsed["value"] is not None
    assert parsed["n_timed"] == len(HEADLINE)
    # The 70-entry headline no longer fits with full names even at
    # decisecond precision — the opid-key rung must keep the per-query
    # map (unique "<opid>" prefix per registry name) instead of dropping
    # it to a file pointer.
    assert parsed.get("query_keys") == "opid"
    assert set(parsed["queries"]) == {n.split("_", 1)[0] for n in HEADLINE}
    assert parsed["queries"][HEADLINE[0].split("_", 1)[0]] == 12.346
    # No whitespace padding — compact separators.
    assert ": " not in line and ", " not in line


def test_small_headline_keeps_full_names():
    # When the map fits with full names, keys stay full registry names
    # (the opid rung only engages on overflow).
    timings = {n: 12.3456 for n in HEADLINE[:40]}
    parsed = json.loads(summary_line(timings, {}, 0.1, 40))
    assert "query_keys" not in parsed
    assert set(parsed["queries"]) == set(HEADLINE[:40])


def test_opid_collision_falls_through_to_pointer():
    # Two names sharing an opid prefix must NOT produce an ambiguous
    # short map — the rung is skipped and the map drops to the pointer.
    timings = {
        f"q01_variant_{i}_{'pad' * 40}": 1.2345 for i in range(60)
    }
    parsed = json.loads(summary_line(timings, {}, 0.1, 60))
    assert "queries" not in parsed
    assert parsed["queries_in"] == "BENCH_local.json"


def test_errors_null_total_and_stay_in_line():
    timings = {n: 1.0 for n in HEADLINE[:-1]}
    errors = {HEADLINE[-1]: "AnalysisException: boom"}
    parsed = json.loads(summary_line(timings, errors, 0.1, len(HEADLINE)))
    assert parsed["value"] is None
    assert parsed["errors"] == errors
    assert parsed["n_timed"] == len(HEADLINE) - 1


def test_overflow_degrades_to_file_pointer_not_truncation():
    # 400 long-named queries cannot fit: the map must drop, the line must
    # stay valid JSON with a pointer to BENCH_local.json.
    timings = {f"x{i:03d}_very_long_query_name_padding_padding": 1.2345 for i in range(400)}
    line = summary_line(timings, {}, 1.0, 400)
    assert len(line) <= 1900
    parsed = json.loads(line)
    assert "queries" not in parsed
    assert parsed["queries_in"] == "BENCH_local.json"
    assert parsed["value"] is not None


def test_mid_overflow_drops_precision_before_map():
    # A set that fits at 2-decimal but not 3-decimal precision keeps the map.
    timings = {f"q{i:02d}_name": 1.2345 for i in range(60)}
    line = summary_line(timings, {}, 0.1, 60, budget=1100)
    parsed = json.loads(line)
    assert "queries" in parsed
    assert parsed["queries"]["q00_name"] == 1.23


def test_many_errors_still_fit_budget():
    """Final degradation rung (review r7): a systemic failure filling the
    errors dict with long messages must still produce an under-budget,
    valid-JSON line — errors collapse to count + first + file pointer."""
    errors = {
        f"q{i:02d}_name": "AnalysisException: " + "x" * 300 for i in range(12)
    }
    line = summary_line({}, errors, 0.1, 51)
    assert len(line) <= 1900
    parsed = json.loads(line)
    assert parsed["value"] is None
    assert parsed["errors"]["n_errors"] == 12
    assert parsed["errors"]["details_in"] == "BENCH_local.json"


def test_calib_and_ci_rollup_in_driver_line():
    """VERDICT r13 #2: the driver-consumed stdout line must be load-
    adjudicable on its own — calib_sec (machine-speed probe) and the
    compact ci rollup ride the line, and the REAL headline set still
    fits the tail budget with them aboard."""
    timings = {n: 12.3456 for n in HEADLINE}
    ci = {n: 15.0 for n in HEADLINE}
    ci[HEADLINE[0]] = 38.2          # the max
    ci[HEADLINE[1]] = None          # an under-sampled query
    line = summary_line(
        timings, {}, 0.1, len(HEADLINE), calib_sec=0.4321, ci_by_query=ci
    )
    assert len(line) <= 1900
    parsed = json.loads(line)
    assert parsed["calib_sec"] == 0.4321
    assert parsed["ci"]["max_pct"] == 38.2
    assert parsed["ci"]["n_null"] == 1
    # weighted average over equal timings = plain average of known CIs
    known = [c for c in ci.values() if c is not None]
    assert parsed["ci"]["wavg_pct"] == round(sum(known) / len(known), 1)
    # omitted when not supplied (unit tests / partial callers)
    bare = json.loads(summary_line(timings, {}, 0.1, len(HEADLINE)))
    assert "calib_sec" not in bare and "ci" not in bare


def test_ci_rollup_weighting_and_timing_filter():
    """The ci rollup weights by per-query cost (an expensive query's CI
    dominates the wavg) and ignores CI entries for untimed queries."""
    timings = {"slow_q": 9.0, "fast_q": 1.0}
    ci = {"slow_q": 10.0, "fast_q": 40.0, "errored_q": 99.0}
    parsed = json.loads(
        summary_line(timings, {}, 0.1, 2, calib_sec=0.5, ci_by_query=ci)
    )
    # (10*9 + 40*1) / 10 = 13.0 — and errored_q's 99 never enters
    assert parsed["ci"]["wavg_pct"] == 13.0
    assert parsed["ci"]["max_pct"] == 40.0


def test_select_outliers_rule():
    """Outlier re-run pass (VERDICT r8 #3): >2x the previous BENCH_local
    median => re-time; new queries and missing/zero history never match."""
    from bench import select_outliers

    timings = {"a": 3.0, "b": 1.9, "c": 0.5, "d": 4.0, "e": 1.0}
    prev = {"a": 1.0, "b": 1.0, "c": 1.0, "e": 0}
    # a: 3x history -> outlier; b: 1.9x -> no; c: faster -> no;
    # d: no history (new headline entry) -> no; e: zero history -> no.
    assert select_outliers(timings, prev) == ["a"]
    # boundary: exactly 2x is NOT an outlier (strict >)
    assert select_outliers({"a": 2.0}, {"a": 1.0}) == []


def test_median_ci_pct_noise_model():
    """The adaptive-rep noise model (VERDICT r12 #3): the CI statistic
    needs >=4 warm samples, shrinks as reps are added (unlike the raw
    range), and is scale-free in the median."""
    from bench import median_ci_pct

    # fewer than 4 warm samples -> undefined, triggers extra reps
    assert median_ci_pct([0.5, 0.4, 0.41]) is None       # 2 warm
    assert median_ci_pct([0.5, 0.4, 0.41, 0.39]) is None  # 3 warm
    # a noisy cheap query: same jitter, more reps -> tighter CI
    jitter = [0.30, 0.20, 0.40, 0.25, 0.35]
    few = median_ci_pct([0.9] + jitter)                # 5 warm samples
    many = median_ci_pct([0.9] + jitter * 3)           # 15 warm samples
    assert few is not None and many is not None
    assert many < few
    # scale-free: 10x slower query with proportional jitter, same CI
    scaled = median_ci_pct([9.0] + [10 * x for x in jitter])
    assert abs(scaled - few) < 0.2
    # the cold first pass is excluded: an enormous cold outlier does not
    # move the statistic
    assert median_ci_pct([99.0] + jitter) == few


def test_fn_array_aligned_and_fits_budget():
    # Round 16 (VERDICT r15 #1): the stdout line carries the untimed fn
    # phase for EVERY entry as an array aligned with the queries map's
    # key order, and the full line still fits the driver tail.
    timings = {n: 12.3456 for n in HEADLINE}
    fn = {n: 1.2345 for n in HEADLINE}
    ci = {n: 5.0 for n in HEADLINE}
    line = summary_line(
        timings, {}, 0.1, len(HEADLINE),
        calib_sec=0.17, calib_ci_pct=6.0, ci_by_query=ci,
        fn_by_query=fn, stream_ingest_sec=4.5,
    )
    assert len(line) <= 1900, f"{len(line)} chars"
    parsed = json.loads(line)
    assert parsed["fn_keys"] == "aligned_to_queries"
    assert len(parsed["fn_sec"]) == len(parsed["queries"])
    assert parsed["fn_sec"][0] in (1.234, 1.23)
    assert parsed["stream_ingest_sec"] == 4.5
    # timed series untouched by the additive fields
    assert parsed["queries"][HEADLINE[0].split("_", 1)[0]] == 12.346


def test_fn_array_drops_before_queries_map():
    # On overflow the fn array must degrade/drop BEFORE any timed-series
    # field: with absurdly many entries the queries map survives (as
    # opid keys or pointer) while fn_sec points to BENCH_local.json.
    timings = {f"x{i:03d}_{'pad' * 30}": 1.2345 for i in range(150)}
    fn = {n: 1.2345 for n in timings}
    line = summary_line(timings, {}, 0.1, 150, fn_by_query=fn)
    assert len(line) <= 1900
    parsed = json.loads(line)
    assert "fn_sec" not in parsed
    assert parsed.get("fn_in") == "BENCH_local.json"


def test_stream_ingest_error_reported_not_fatal():
    timings = {n: 1.0 for n in HEADLINE[:10]}
    line = summary_line(
        timings, {}, 0.1, 10,
        stream_ingest_error="RuntimeError: boom",
    )
    parsed = json.loads(line)
    assert parsed["stream_ingest_error"].startswith("RuntimeError")
    assert parsed["value"] is not None  # headline total unaffected


def test_stream_ingest_timeout_stops_query_and_raises(spark, monkeypatch):
    """A stream that does not finish is stopped and raises, so the caller
    reports it in ``stream_ingest_error``; its wall time is never a
    sample."""
    import pytest

    import bench
    from conftest import SF_DIR
    from dwh_etl_framework_spark.streaming import ingest_dedup

    stopped = []

    class StuckQuery:
        def awaitTermination(self, timeout):
            return False

        def stop(self):
            stopped.append(True)

    monkeypatch.setattr(
        ingest_dedup, "stream_ingest_dedup", lambda *a, **k: StuckQuery()
    )
    with pytest.raises(TimeoutError, match="did not finish"):
        bench._stream_ingest_bench(spark, SF_DIR, reps=1)
    assert stopped == [True]
