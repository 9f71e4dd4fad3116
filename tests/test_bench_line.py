"""bench.py's stdout contract: the line the driver records must fit
its 2000-char tail cap WHOLE, keep the contract keys, and degrade by
the documented trim ladder -- the r1-r8 artifacts all hold mid-line
truncated tails because this line had silently grown past the cap.
Also the accounting of _timed_passes, the loop every timed lane runs,
driven here without Spark."""

from __future__ import annotations

import json
import time
from functools import partial
from types import SimpleNamespace

from bench import _LINE_BUDGET, compact_line


def _names(n: int, prefix: str = "q_", name_len: int = 16) -> list[str]:
    return [f"{prefix}{i:03d}_".ljust(name_len, "x") for i in range(n)]


def _full(names: list[str], sf1_names: list[str]) -> dict:
    """A full bench dict with 6-character medians (12.345 s)."""
    qs = {n: 12.345 for n in names}
    return {
        "metric": "headline_query_wall_sec",
        "value": round(sum(qs.values()), 3),
        "unit": "sec",
        "queries": qs,
        "n": 5,
        "sf": "0.1",
        "cpu_attribution": {
            "eff_cores": [6.9, 7.1, 5.2], "os_cpus": 32, "cpus": 32,
            "spin_sec": [0.112, 0.109, 0.115],
            "busy_frac": [0.21, 0.22, 0.19],
        },
        "filtered": {
            "value": round(sum(qs.values()), 3),
            "clean_passes": [0, 1, 2],
            "queries": dict(qs),
        },
        "conversion": {"rows": 1000000, "rows_per_sec": 131822,
                       "eff_cores": [10.1, 9.9, 10.2]},
        "conversion_scaleout": {"rows": 1000000, "rows_per_sec": 241721,
                                "eff_cores": [27.4, 27.3, 27.5]},
        "longtail": {"round": 9, "queries": {
            f"q_lt_{i}": 0.5 for i in range(5)}},
        "sf1_spot": {
            "sf": 1.0,
            "queries": {n: 12.345 for n in sf1_names},
            "passes": 3, "over_budget": False,
            "eff_cores": [17.0, 16.5, 18.2],
            "spin_sec": [0.113, 0.118, 0.111],
        },
    }


def test_current_shape_fits_with_all_sections():
    """Today's real shape (bench.HEADLINE and bench.SF1_QUERIES, 3-dp
    medians) must fit WITHOUT any trimming. The longtail lane is
    BENCH_DETAIL-only: with it the line never fit."""
    import bench

    line = compact_line(_full(bench.HEADLINE, bench.SF1_QUERIES))
    assert len(line) <= _LINE_BUDGET
    d = json.loads(line)
    for k in ("metric", "value", "unit", "queries", "sf"):
        assert k in d
    assert "longtail" not in d
    # nothing trimmed: every median at full precision, sf1 per-query
    assert d["queries"] == {n: 12.345 for n in bench.HEADLINE}
    assert d["sf1"]["queries"] == {n: 12.345 for n in bench.SF1_QUERIES}
    assert "queries_omitted" not in d
    # the contamination-filtered headline rides next to the raw one
    assert d["value_filtered"] == d["value"]
    assert d["clean_passes"] == [0, 1, 2]


def test_trim_ladder_drops_ballast_before_queries():
    """At ~2x growth the ballast goes (precision, per-query sf1)
    while every headline median survives."""
    line = compact_line(_full(_names(60), _names(20, "q_sf1_")))
    assert len(line) <= _LINE_BUDGET
    d = json.loads(line)
    assert "longtail" not in d
    assert len(d["queries"]) == 60  # every query still present (1-dp)
    for k in ("metric", "value", "unit", "queries", "sf"):
        assert k in d
    assert d["sf1"]["passes"] == 3  # lane summary survives trims


def test_budget_holds_under_extreme_growth_with_explicit_omission():
    """The last-resort cap is EXPLICIT, never silent: kept slowest-K
    plus a queries_omitted count that accounts for every query."""
    line = compact_line(_full(_names(300, name_len=30), _names(40, "q_sf1_")))
    assert len(line) <= _LINE_BUDGET
    d = json.loads(line)
    assert d["queries_omitted"] + len(d["queries"]) == 300
    for k in ("metric", "value", "unit", "queries", "sf"):
        assert k in d


def test_no_sf1_lane_is_allowed():
    full = _full(_names(31), [])
    full["sf1_spot"] = None
    d = json.loads(compact_line(full))
    assert d["sf1"] is None


def test_clean_pass_filter_excludes_contaminated_passes():
    """The r11 driver artifact's shape (passes 4-5: spin +25%, busy
    fraction doubled) must be excluded; ordinary jitter must not be;
    and the reference pass itself always qualifies."""
    from bench import _clean_pass_filter

    spins = [0.122, 0.124, 0.131, 0.160, 0.155]
    busy = [0.15, 0.15, 0.18, 0.31, 0.33]
    assert _clean_pass_filter(spins, busy) == [0, 1, 2]
    # a quiet box: every pass clean
    assert _clean_pass_filter(
        [0.11, 0.112, 0.109], [0.2, 0.21, 0.2]) == [0, 1, 2]
    # pathological: only the cleanest pass survives, never empty
    assert _clean_pass_filter(
        [0.1, 0.2, 0.3], [0.1, 0.4, 0.6]) == [0]


def test_clean_pass_filter_split_minima_never_empty():
    """ADVICE r12: min-spin and min-busy on DIFFERENT passes, with
    neither satisfying both tolerances, used to return [] and crash
    the headline median. The fallback keeps the argmin-spin pass."""
    from bench import _clean_pass_filter

    # pass 0: fastest clock but a co-tenant burning cores (busy 0.5
    # vs quietest 0.1); pass 1: quiet box but clock throttled (spin
    # 2x the reference). No pass passes both gates.
    spins = [0.10, 0.20]
    busy = [0.50, 0.10]
    assert _clean_pass_filter(spins, busy) == [0]
    # three-pass variant: the two contaminated extremes plus a middle
    # pass failing both gates; still the argmin-spin pass survives
    assert _clean_pass_filter(
        [0.10, 0.15, 0.20], [0.50, 0.30, 0.10]) == [0]


def test_clean_pass_filter_singleton_fast_spin_keeps_the_cluster():
    """r13: the first record run measured one anomalously FAST spin
    (0.0825 s turbo window) against a uniform 0.098-0.110 cluster with
    uniform walls and busy -- min-as-reference disqualified four
    ordinary passes and left the filtered headline on one sample. The
    singleton guard retries with the second-smallest reference when
    the min corroborates nobody, and the agreeing cluster outvotes
    the singleton: all five passes qualify."""
    from bench import _clean_pass_filter

    spins = [0.1096, 0.098, 0.1013, 0.103, 0.0825]
    busy = [0.205, 0.221, 0.235, 0.225, 0.227]
    assert _clean_pass_filter(spins, busy) == [0, 1, 2, 3, 4]
    # ...while two AGREEING fast samples keep the min reference (a
    # real fast-clock window), excluding the genuinely slow tail
    spins2 = [0.083, 0.085, 0.102, 0.104, 0.110]
    assert _clean_pass_filter(spins2, busy) == [0, 1]
    # ...and a spread with NO cluster (every pass far from every
    # other) still collapses to the single cleanest pass, not two
    assert _clean_pass_filter(
        [0.1, 0.2, 0.3], [0.1, 0.4, 0.6]) == [0]


class _StubSpark:
    """Just the surface _timed_passes touches: catalog.clearCache and
    sparkContext._jvm.System.gc, both counted, and the JVM's codegen
    compile counter, which reads `compiled`."""

    def __init__(self):
        self.cleared = 0
        self.gcs = 0
        self.compiled = 0
        self.catalog = SimpleNamespace(clearCache=self._clear)
        histogram = SimpleNamespace(getCount=lambda: self.compiled)
        metrics = SimpleNamespace(CodegenMetrics=SimpleNamespace(
            METRIC_COMPILATION_TIME=lambda: histogram))
        self.sparkContext = SimpleNamespace(_jvm=SimpleNamespace(
            System=SimpleNamespace(gc=self._gc),
            org=SimpleNamespace(apache=SimpleNamespace(
                spark=SimpleNamespace(metrics=SimpleNamespace(
                    source=metrics))))))

    def _clear(self):
        self.cleared += 1

    def _gc(self):
        self.gcs += 1


def _counting_cells(calls: dict, slow_on_call: int = 0,
                    spark: _StubSpark | None = None) -> list:
    """Thunks that count their calls and take 5 ms (a pass needs a
    nonzero wall); key "a" sleeps 0.1 s on call number
    `slow_on_call`, so a kept sample of that call would show in its
    spread. With `spark`, each key compiles like a cold-then-warm
    query: "a" 3 classes and "b" 2 on their first call, "c" 1 on
    every call (a per-run literal in its generated source)."""
    def thunk(key):
        calls[key] = calls.get(key, 0) + 1
        if spark is not None and (key == "c" or calls[key] == 1):
            spark.compiled += {"a": 3, "b": 2, "c": 1}[key]
        slow = key == "a" and calls[key] == slow_on_call
        time.sleep(0.1 if slow else 0.005)
    return [(k, partial(thunk, k)) for k in ("a", "b", "c")]


def test_timed_passes_drops_a_partial_over_budget_pass(monkeypatch):
    """Budget 0 stops the lane one cell into pass 2: that partial
    pass is dropped whole, so every key and every per-pass list holds
    exactly one sample -- the accounted pass."""
    import bench

    monkeypatch.setattr(bench, "_spin_calib", lambda: 0.1)
    spark, calls = _StubSpark(), {}
    r = bench._timed_passes(
        spark, _counting_cells(calls, slow_on_call=2, spark=spark), 3,
        gc=True, budget_s=0)
    assert r["passes"] == 1 and r["over_budget"] is True
    assert calls == {"a": 2, "b": 1, "c": 1}  # pass 2 ran one cell
    for k in ("pass_wall", "pass_cpu", "spin_sec", "busy_frac",
              "eff_cores", "codegen_compiles"):
        assert len(r[k]) == 1, k
    assert r["codegen_compiles"] == [6]
    assert set(r["median"]) == set(r["spread"]) == {"a", "b", "c"}
    # one sample per key: min == max, and the partial pass's slow "a"
    # run is not among them
    for lo, hi in r["spread"].values():
        assert lo == hi
    assert r["spread"]["a"][1] < 0.1
    assert r["clean_passes"] == [0]
    assert spark.cleared == 2  # once per started pass
    assert spark.gcs == sum(calls.values())  # once per cell run


def test_timed_passes_full_run_without_gc_or_budget(monkeypatch):
    import bench

    monkeypatch.setattr(bench, "_spin_calib", lambda: 0.1)
    spark, calls = _StubSpark(), {}
    spark.compiled = 1000  # the counter is JVM-wide: read as deltas
    r = bench._timed_passes(spark, _counting_cells(calls, spark=spark), 3)
    assert r["passes"] == 3 and r["over_budget"] is False
    assert calls == {"a": 3, "b": 3, "c": 3}
    assert len(r["pass_wall"]) == len(r["spin_sec"]) == 3
    assert r["codegen_compiles"] == [6, 1, 1]
    assert spark.cleared == 3
    assert spark.gcs == 0
