"""``bench.py`` repeat passes: slowest first, never back to back."""

from __future__ import annotations

from bench import _repeat_order


def test_repeat_pass_is_slowest_first():
    samples = {"a": [1.0], "b": [3.0], "c": [2.0], "d": []}
    assert _repeat_order(samples, "a") == ["b", "c", "a", "d"]


def test_repeat_pass_never_starts_with_the_last_query_run():
    # "b" is the slowest and also ended the previous pass: it runs second
    samples = {"a": [1.0], "b": [3.0], "c": [2.0]}
    assert _repeat_order(samples, "b") == ["c", "b", "a"]
    assert _repeat_order({"b": [3.0]}, "b") == ["b"]
