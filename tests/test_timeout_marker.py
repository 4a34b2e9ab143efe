"""The timeout marker is enforced by tests/conftest.py, not ignored."""

import time

import pytest


@pytest.mark.timeout(1)
@pytest.mark.xfail(strict=True, raises=TimeoutError)
def test_timeout_marker_interrupts_a_slow_test():
    time.sleep(3)
