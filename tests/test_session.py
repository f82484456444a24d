"""Resource-derived session settings stay safe at their edges: an
unlimited or a tight FD limit, and guards that must survive ``python -O``.
No Spark session is started here."""

import ast
import os
import resource

import pytest

from dedup_spark import session


def _soft_limit(monkeypatch, soft):
    monkeypatch.setattr(resource, "getrlimit", lambda _which: (soft, soft))


def test_unlimited_fd_limit_is_unlimited(monkeypatch):
    """RLIM_INFINITY (-1) means no FD ceiling, not a tiny one."""
    _soft_limit(monkeypatch, resource.RLIM_INFINITY)
    assert session._fd_safe_partitions(8) is None
    assert session._bypass_threshold(8) == 8 * 32
    assert session._bypass_threshold(32) == 1024
    # below 7 cores Spark's default 200 is the larger allowance
    assert session._bypass_threshold(4) == 200


def test_fd_limit_caps_bypass_threshold(monkeypatch):
    """The FD-safe count always wins, also under Spark's default 200."""
    _soft_limit(monkeypatch, 4096 + 8 * 100)
    assert session._fd_safe_partitions(8) == 100
    assert session._bypass_threshold(8) == 100
    # a 20k limit at 32 cores: (20000 - 4096) // 32
    _soft_limit(monkeypatch, 20000)
    assert session._bypass_threshold(32) == 497
    # a limit below the reserved headroom leaves one partition
    _soft_limit(monkeypatch, 1024)
    assert session._bypass_threshold(8) == 1


def test_unreadable_fd_limit_is_treated_as_small(monkeypatch):
    def boom(_which):
        raise OSError("no rlimit")

    monkeypatch.setattr(resource, "getrlimit", boom)
    assert session._fd_safe_partitions(8) == 1


@pytest.mark.parametrize("path", ["__spark_entry__.py"])
def test_import_guards_survive_optimize(path):
    """Import-time guards must be explicit raises: ``python -O`` strips
    every ``assert`` statement."""
    root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    with open(os.path.join(root, path)) as f:
        tree = ast.parse(f.read())
    top_asserts = [n.lineno for n in tree.body if isinstance(n, ast.Assert)]
    assert top_asserts == []
