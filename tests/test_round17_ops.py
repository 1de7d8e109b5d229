"""Round-17 pins: optimization-round measurement fixes."""

from __future__ import annotations

import json
import os

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def test_bench_line_carries_per_query_times_within_tail_window():
    """Round-17 measurement fix: the printed bench line must carry a REAL
    per-query map inside the harness's 2000-byte output tail. The 5-char
    alias map outgrew the window at ~150 queries, so rounds 14-16 printed
    {"see": "BENCH_DETAIL.json"} and the driver compared ZERO queries
    (PERF_r16: n_common=0, now_bench_ok=false) and measured no per-query
    core scaling. The 2-char code registry + 2-significant-figure encoding
    must keep the full line under MAX_LINE for the committed registry."""
    import bench

    with open(os.path.join(REPO, "BENCH_DETAIL.json")) as f:
        detail = json.load(f)
    times = detail["queries"]
    assert len(times) > 150  # the regime where the alias map overflowed
    code = bench._codes(list(times))
    # collision-free and registry-stable (idempotent on a second call)
    assert len(set(code.values())) == len(code)
    assert bench._codes(list(times)) == code
    compact = {code[k]: bench._enc_sec(v) for k, v in times.items()}
    s = bench._line(9999.999, 3, 9999.999, 9999.999, 99, compact, 0.1)
    assert len(s) <= bench.MAX_LINE, (len(s), bench.MAX_LINE)
    line = json.loads(s)
    assert line["queries"] == compact  # not the {"see": ...} fallback
    assert line["cp"] == 99
    # every query appears — the driver compares keys round-over-round
    assert len(compact) == len(times)


def test_bench_codes_registry_is_frozen():
    """Existing code assignments never change (the alias-registry rule):
    a fresh _codes() call over the committed registry's names must return
    exactly the committed entries."""
    import bench

    with open(bench.CODE_REGISTRY) as f:
        registry = json.load(f)
    assert bench._codes(list(registry)) == registry


def test_bench_enc_sec_resolution():
    import bench

    assert bench._enc_sec(0.256) == 0.26
    assert bench._enc_sec(1.26) == 1.3
    assert bench._enc_sec(12.6) == 13
    # JSON stays compact: ints for >=10s, one decimal for 1-10s
    assert isinstance(bench._enc_sec(12.6), int)
