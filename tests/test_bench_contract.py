"""The bench stdout contract: ONE last line of at most 2,000 characters
(the recorded BENCH artifact keeps only that much of the stdout tail)
carrying the contract keys. Built at worst-case values without starting
Spark."""

from __future__ import annotations

import json

import bench

STDOUT_TAIL = 2000
KEYS = {"metric", "value", "unit", "n", "sf", "queries", "env"}


def _worst_case_line() -> str:
    per_query = {name: 99.99 for name in bench.HEADLINE}
    details = {name: {"max_s": 99.99} for name in bench.HEADLINE}
    off = {name: {"mean_s": 99.99} for name in bench.OFF_HEADLINE}
    # the longest names land in worst/offworst
    longest = max(bench.HEADLINE, key=len)
    per_query[longest] = 999.99
    details[longest]["max_s"] = 9999.99
    off[max(bench.OFF_HEADLINE, key=len)]["mean_s"] = 999.999
    serving = {"point_query_miss_p95_ms": 99999.99}
    host = {"loadavg_1m": 999.99, "cpus": 1024}
    return bench.compact_line(per_query, details, off, serving, host,
                              1000.0, 1000)


def test_compact_line_fits_stdout_tail():
    line = _worst_case_line()
    assert "\n" not in line
    assert len(line) <= STDOUT_TAIL, len(line)


def test_compact_line_carries_contract_keys():
    rec = json.loads(_worst_case_line())
    assert KEYS <= set(rec)
    assert set(rec["queries"]) == set(bench.HEADLINE)
    q = rec["queries"]
    assert max(q, key=q.get) == max(bench.HEADLINE, key=len)
    assert rec["env"]["wmax"] == 9999.99
    assert rec["env"]["offworst"] == max(bench.OFF_HEADLINE, key=len)
