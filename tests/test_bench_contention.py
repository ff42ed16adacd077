"""bench.py's contention rule, without Spark: the between-query probe
series is the one signal behind every ``contended`` tag.

The replay reads the committed records that carried all three signals
the harness used to OR together (edge probe, hypervisor-steal sampler,
probe series) and checks that the series alone gives each record's
committed tag.  Nothing here writes a file."""

from __future__ import annotations

import json
import os
import sys
import types

import pytest

import bench

_HERE = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
_HEADLINES = ["BENCH_r13.json", "BENCH_r13_c8.json", "BENCH_r14.json",
              "BENCH_r14_c8.json"]


def _three_signal_records() -> list[tuple[str, dict, bool]]:
    """(label, series stats, committed ``contended``) for every record
    that also carries the steal sampler's window (``sentinel_during``)."""
    out = []
    with open(os.path.join(_HERE, "BENCH_EXTRAS_HISTORY.jsonl")) as fh:
        for i, line in enumerate(fh):
            rec = json.loads(line)
            if "sentinel_series" in rec and "sentinel_during" in rec:
                out.append((f"history:{i}:{rec['commit']}:{rec['metric']}",
                            rec["sentinel_series"], rec["contended"]))
    for name in _HEADLINES:
        with open(os.path.join(_HERE, name)) as fh:
            parsed = json.load(fh)["parsed"]
        out.append((name, parsed["sentinel_series_headline"],
                    parsed["contended"]))
    return out


_RECORDS = _three_signal_records()


def test_replay_covers_the_eleven_three_signal_records():
    assert len(_RECORDS) == 11
    # one committed record is quiet, so the replay checks both tags
    assert sorted(c for _, _, c in _RECORDS) == [False] + [True] * 10


@pytest.mark.parametrize("label,stats,contended", _RECORDS,
                         ids=[r[0] for r in _RECORDS])
def test_series_alone_reproduces_committed_tag(label, stats, contended):
    assert bench._series_contended(stats) is contended


def _series(*samples: tuple[float, float]) -> bench.SentinelSeries:
    s = bench.SentinelSeries()
    s.samples.extend(samples)
    return s


def test_stats_reads_only_samples_inside_the_window():
    s = _series((9.9, 0.5), (10.0, 0.1), (15.0, 0.3), (20.0, 0.12),
                (20.1, 0.9))
    st = s.stats(10.0, 20.0)
    assert st["n"] == 3
    assert st["max"] == 0.3
    assert st["frac_contended"] == pytest.approx(1 / 3, abs=1e-3)


def test_stats_per_sample_threshold_is_1_3_times_quiet_nominal():
    thresh = bench.CONTENDED_FACTOR * bench.QUIET_SENTINEL_SEC
    assert thresh == pytest.approx(0.182)
    st = _series((1.0, 0.181), (2.0, 0.183)).stats(0.0, 3.0)
    assert st["frac_contended"] == 0.5
    assert _series((1.0, 0.18)).stats(0.0, 3.0)["frac_contended"] == 0.0


def test_window_is_contended_only_above_a_quarter():
    quarter = _series((1.0, 0.3), (2.0, 0.1), (3.0, 0.1), (4.0, 0.1))
    st = quarter.stats(0.0, 5.0)
    assert st["frac_contended"] == 0.25
    assert not bench._series_contended(st)
    over = _series((1.0, 0.3), (2.0, 0.3), (3.0, 0.1), (4.0, 0.1),
                   (5.0, 0.1), (6.0, 0.1), (7.0, 0.1))
    assert bench._series_contended(over.stats(0.0, 8.0))


def test_empty_window_does_not_tag():
    assert bench.SentinelSeries().stats(0.0, 1.0) is None
    assert _series((5.0, 0.9)).stats(0.0, 1.0) is None
    assert not bench._series_contended(None)


@pytest.mark.parametrize("var", ["SPARK_GRAFT_BENCH_RUNS",
                                 "SPARK_GRAFT_LEDGER_ATTEMPTS"])
def test_env_int_parses_clamps_and_raises(monkeypatch, var):
    monkeypatch.delenv(var, raising=False)
    assert bench._env_int(var, 3) == 3
    monkeypatch.setenv(var, "5")
    assert bench._env_int(var, 3) == 5
    monkeypatch.setenv(var, "0")
    assert bench._env_int(var, 3) == 1
    monkeypatch.setenv(var, "three")
    with pytest.raises(SystemExit, match=var):
        bench._env_int(var, 3)


@pytest.mark.parametrize("entry,var", [
    ("main", "SPARK_GRAFT_BENCH_RUNS"),
    ("run_all", "SPARK_GRAFT_LEDGER_ATTEMPTS"),
])
def test_bad_count_stops_before_spark_starts(monkeypatch, entry, var):
    # a stub session module: reaching get_session fails the test
    # instead of starting a benchmark run
    stub = types.ModuleType("legate_dataframe_spark.session")

    def get_session(**_):
        raise AssertionError(f"{entry} started Spark before reading {var}")

    stub.get_session = get_session
    monkeypatch.setitem(sys.modules, "legate_dataframe_spark.session", stub)
    monkeypatch.setenv(var, "2.5")
    with pytest.raises(SystemExit, match=var):
        getattr(bench, entry)()
