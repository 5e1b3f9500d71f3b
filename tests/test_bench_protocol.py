"""Protocol-stamp helpers in bench.py (shared by scaling_bench.py).

protocol_compliant checks the run's PARAMETERS against the graded
protocol, relative to the host it ran on: a run on every core of a
4-vCPU host is as compliant as one on every core of a 32-core host.

quiet_box is the graded-comparison filter: it must flag runs where
external load could have slowed the measurement, and must NOT flag
idle-box runs whose start-of-run probe was merely cold (governor ramp)
— a modest probe speed-up over the run is evidence of idleness, a large
one of a competitor that left mid-run.
"""

from bench import protocol_compliant, quiet_box


IDLE = [0.3, 0.2, 0.1]


def test_quiet_when_idle_and_probe_stable():
    assert quiet_box(IDLE, 0.25, 0.25) is True
    assert quiet_box(IDLE, 0.25, 0.26) is True  # +4% < 5% threshold


def test_not_quiet_when_probe_slows():
    # external load appearing mid-run slows the closing probe
    assert quiet_box(IDLE, 0.25, 0.30) is False  # +20%


def test_quiet_when_probe_speeds_up():
    # cold start-of-run probe (frequency ramp): faster closing probe
    # must not disqualify — only slowdown indicates contention
    assert quiet_box(IDLE, 0.2637, 0.2227) is True


def test_not_quiet_when_probe_speeds_up_too_much():
    # a competitor that slowed the opening probe and exited mid-run
    # (too fresh to move loadavg) shows as an implausibly large speed-up
    assert quiet_box(IDLE, 0.40, 0.25) is False  # -37.5%


def test_not_quiet_when_loaded_at_start():
    assert quiet_box([4.57, 2.0, 1.0], 0.25, 0.25) is False


def test_compliant_on_every_core_of_any_host():
    for nproc in (4, 32):
        assert protocol_compliant(3, nproc, 1000, "/data/sf0.1", nproc)
        assert protocol_compliant(5, nproc, 1000, "/data/sf0.1/", nproc)


def test_not_compliant_off_protocol():
    assert not protocol_compliant(3, 32, 1000, "/data/sf0.1", 4)
    assert not protocol_compliant(3, 2, 1000, "/data/sf0.1", 4)
    assert not protocol_compliant(2, 4, 1000, "/data/sf0.1", 4)
    assert not protocol_compliant(3, 4, 10, "/data/sf0.1", 4)
    assert not protocol_compliant(3, 4, 1000, "/data/sf0.01", 4)
