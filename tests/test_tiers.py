"""The default/full test-tier switch in ``conftest.py``."""

from __future__ import annotations

import pytest

from conftest import full_tier_enabled


class _Config:
    def __init__(self, full_tests: bool):
        self.full_tests = full_tests

    def getoption(self, name, default=None):
        assert name == "--full-tests"
        return self.full_tests


@pytest.mark.parametrize(
    "value, enabled",
    [
        (None, False),
        ("", False),
        ("0", False),
        ("false", False),
        ("no", False),
        ("1", True),
        ("true", True),
        ("YES", True),
        (" True ", True),
    ],
)
def test_full_tier_env_flag(monkeypatch, value, enabled):
    if value is None:
        monkeypatch.delenv("SPARK_GRAFT_FULL_TESTS", raising=False)
    else:
        monkeypatch.setenv("SPARK_GRAFT_FULL_TESTS", value)
    assert full_tier_enabled(_Config(False)) is enabled
    assert full_tier_enabled(_Config(True)) is True
