"""The quiet-window rule shared by bench.py and bench_scaling.py
(bench.window_flags) and the steal integral it reads (bench.steal_delta).
Pure Python: no Spark session."""

import bench

HEALTHY = {"probe_cpu_s": 0.8, "probe_copy_s": 1.5, "probe_copy4_s": 3.0}
QUIET = {"probe_during_n": 3, "probe_during_copy_min_s": 1.4,
         "probe_during_copy_mean_s": 1.6, "probe_during_copy_max_s": 1.9}
NO_STEAL = {"steal_core_s": 0.0, "busy_core_s": 100.0,
            "steal_pct_of_demand": 0.0}


def _flags(probes=(HEALTHY,), during=QUIET, steal=NO_STEAL):
    return bench.window_flags(list(probes), during, steal)


def test_quiet_window_is_clean_on_all_three_flags():
    assert _flags() == {"host_healthy": True, "sustained_clean": True,
                        "steal_clean": True}


def test_steal_at_the_limit_is_clean_and_above_it_is_not():
    at = dict(NO_STEAL, steal_pct_of_demand=3.0)
    above = dict(NO_STEAL, steal_pct_of_demand=3.01)
    assert _flags(steal=at)["steal_clean"] is True
    assert _flags(steal=above)["steal_clean"] is False


def test_during_mean_at_the_strict_limit_is_not_clean():
    at = dict(QUIET, probe_during_copy_mean_s=2.2)
    below = dict(QUIET, probe_during_copy_mean_s=2.199)
    assert _flags(during=at)["sustained_clean"] is False
    assert _flags(during=below)["sustained_clean"] is True


def test_no_during_samples_is_not_sustained_clean():
    assert _flags(during={"probe_during_n": 0})["sustained_clean"] is False


def test_every_point_probe_must_pass_the_firing_gates():
    slow_copy = dict(HEALTHY, probe_copy_s=4.0)
    slow_copy4 = dict(HEALTHY, probe_copy4_s=10.0)
    assert _flags(probes=(HEALTHY, HEALTHY))["host_healthy"] is True
    assert _flags(probes=(HEALTHY, slow_copy))["host_healthy"] is False
    assert _flags(probes=(slow_copy4,))["host_healthy"] is False


def test_steal_delta_with_zero_cpu_demand_is_zero_percent():
    s = {"busy": 12.0, "steal": 3.0}
    assert bench.steal_delta(s, dict(s)) == {
        "steal_core_s": 0.0, "busy_core_s": 0.0,
        "steal_pct_of_demand": 0.0,
    }


def test_steal_delta_is_a_share_of_busy_plus_steal():
    d = bench.steal_delta({"busy": 10.0, "steal": 1.0},
                          {"busy": 49.0, "steal": 2.0})
    assert d == {"steal_core_s": 1.0, "busy_core_s": 39.0,
                 "steal_pct_of_demand": 2.5}
