from __future__ import annotations

import signal

import pytest

from glamr_omics_pipelines_spark.session import get_spark


@pytest.fixture(scope="session")
def spark():
    s = get_spark("tests", master="local[4]",
                  extra_confs={"spark.sql.shuffle.partitions": "4"})
    yield s


# --- slow-test tiering (VERDICT r11 item 1) -------------------------------
# The full suite takes ~58 min — longer than the driver's verify window, so
# a DEFAULT run must finish well under 20 min or a real failure is
# indistinguishable from a timeout. Tests marked @pytest.mark.slow (the
# iterative-graph agreement suites, full-catalog plan sweeps, multi-round
# property tests) are SKIPPED by default and run with --runslow;
# tools/closing_gates.py passes --runslow so the end-of-round gate still
# covers everything.

def pytest_addoption(parser):
    parser.addoption("--runslow", action="store_true", default=False,
                     help="also run tests marked slow (full closing gate)")


def pytest_collection_modifyitems(config, items):
    if config.getoption("--runslow"):
        return
    skip_slow = pytest.mark.skip(reason="slow: run with --runslow")
    for item in items:
        if "slow" in item.keywords:
            item.add_marker(skip_slow)


# --- enforced timeouts ----------------------------------------------------
# @pytest.mark.timeout(seconds) without the pytest-timeout plugin: a SIGALRM
# interval timer raises TimeoutError inside the test body once it has run
# for `seconds`, so a hung stream or job fails loudly instead of stalling
# the whole run. Covers the test call only, not fixture set-up.

@pytest.hookimpl(hookwrapper=True)
def pytest_runtest_call(item):
    marker = item.get_closest_marker("timeout")
    if marker is None:
        yield
        return
    seconds = marker.args[0]

    def on_alarm(signum, frame):
        raise TimeoutError(f"{item.nodeid} ran longer than {seconds} s")

    previous = signal.signal(signal.SIGALRM, on_alarm)
    signal.setitimer(signal.ITIMER_REAL, seconds)
    try:
        yield
    finally:
        signal.setitimer(signal.ITIMER_REAL, 0)
        signal.signal(signal.SIGALRM, previous)
