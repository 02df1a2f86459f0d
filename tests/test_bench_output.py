"""Pin the bench headline line's parseability and size.

BENCH_r09.json was recorded with parsed:null because bench.py's single
output JSON line (probe fields + 65 per-query timings) outgrew the
driver's 2,000-char stdout tail capture — the line lost its head and
json.loads failed (r9 verdict, "what's wrong" #1). The fix keeps the
full per-query map in a BENCH_FULL.json sidecar and prints only a
compact headline as the last stdout line. This test builds the headline
with 100 fake queries' worth of data — well beyond any realistic suite
size — and asserts the line parses and stays under 1,500 chars, safely
inside the tail window even with other stdout noise around it.
"""

import json
import math

from bench import BASELINE15, PROBE_PINS, build_output


def _fake_inputs(n_queries: int):
    # Worst-case-ish float widths: three decimals, values up to ~100 s.
    timings = {f"q{i:03d}_some_operator_name": round(1.234 + i * 0.987, 3) for i in range(n_queries)}
    # All 15 protocol queries present (they are what the headline keeps).
    for i, name in enumerate(BASELINE15):
        timings[name] = round(10.001 + i * 1.111, 3)
    probe = {n: round(pin * 1.468, 3) for n, pin in PROBE_PINS.items()}
    ratios = [probe[n] / pin for n, pin in PROBE_PINS.items()]
    probe_ratio = round(math.exp(sum(math.log(r) for r in ratios) / len(ratios)), 3)
    return timings, probe, probe_ratio


def test_headline_line_parses_and_fits_tail_window():
    timings, probe, probe_ratio = _fake_inputs(100)
    headline, full = build_output(timings, probe, probe_ratio, "0.1")
    line = json.dumps(headline)
    parsed = json.loads(line)  # must round-trip
    assert parsed["metric"] == "headline_queries_total"
    assert parsed["probe"]["probe_ratio_vs_pin"] == probe_ratio
    assert parsed["baseline15_total_probe_normalized"] is not None
    assert parsed["sf"] == 0.1
    # The headline keeps exactly the 15 protocol queries, no matter how
    # many the suite ran.
    assert set(parsed["queries"]) == set(BASELINE15)
    assert parsed["n_queries_total"] == len(timings)
    assert len(line) < 1500, f"headline line {len(line)} chars breaches tail budget"
    # The sidecar dict carries the complete map and the methodology flag.
    assert set(full["queries"]) == set(timings)
    assert full["warmup_release"] is True


def test_headline_line_without_probe_still_fits():
    # Non-sf0.1 runs skip the probe (pins are sf0.1 medians); the headline
    # must still parse with probe=null.
    timings, _, _ = _fake_inputs(100)
    headline, _ = build_output(timings, {}, None, "0.01")
    line = json.dumps(headline)
    parsed = json.loads(line)
    assert parsed["probe"] is None
    assert parsed["baseline15_total_probe_normalized"] is None
    assert len(line) < 1500


def test_baseline15_total_sums_only_protocol_queries():
    timings, probe, probe_ratio = _fake_inputs(30)
    headline, _ = build_output(timings, probe, probe_ratio, "0.1")
    expected = round(sum(timings[n] for n in BASELINE15), 3)
    assert headline["baseline15_total"] == expected
    assert headline["value"] == round(sum(timings.values()), 3)


def test_headline_with_probe_path_still_fits():
    # r11: the interleaved u01 (CPU-bound) and s01 (disk-bound) re-probe
    # paths ride in the probe object; headline must stay under the
    # driver's tail-capture budget with both present.
    timings, probe, probe_ratio = _fake_inputs(100)
    headline, full = build_output(
        timings, probe, probe_ratio, "0.1",
        [1.23, 4.56, 2.34], [1.11, 2.22, 3.33],
    )
    line = json.dumps(headline)
    assert len(line) < 1500
    parsed = json.loads(line)
    assert parsed["probe"]["u01_ratio_path"] == [1.23, 4.56, 2.34]
    assert full["probe"]["u01_ratio_path"] == [1.23, 4.56, 2.34]
    assert parsed["probe"]["s01_ratio_path"] == [1.11, 2.22, 3.33]
    assert full["probe"]["s01_ratio_path"] == [1.11, 2.22, 3.33]
