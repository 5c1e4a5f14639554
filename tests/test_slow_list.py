"""The central slow-test list (conftest.SLOW_TESTS) must not drift: an entry
whose test was renamed or deleted would silently stop deselecting anything."""

from __future__ import annotations

import os

from conftest import SLOW_TESTS, stale_slow_tests

TEST_DIR = os.path.dirname(os.path.abspath(__file__))


def test_slow_list_names_only_defined_tests():
    assert stale_slow_tests(SLOW_TESTS, TEST_DIR) == []


def test_stale_slow_entry_is_reported(tmp_path):
    (tmp_path / "test_a.py").write_text(
        "def test_kept():\n    pass\n\n\nclass TestX:\n    def test_method(self):\n        pass\n"
    )
    slow = {"test_kept", "test_method", "test_renamed_away"}
    assert stale_slow_tests(slow, str(tmp_path)) == ["test_renamed_away"]
