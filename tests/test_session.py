"""Session defaults (deduputil_spark/session.py): the driver heap is sized
from MemAvailable, with a fixed fallback when it cannot be read."""

from __future__ import annotations

import io

import pytest

from deduputil_spark import session


@pytest.mark.parametrize(
    "meminfo, expected",
    [
        ("MemTotal:       16000000 kB\nMemAvailable:   10240000 kB\n", "6000m"),  # 60%
        ("MemAvailable:     500000 kB\n", "1024m"),  # 1 GiB floor
        ("MemTotal:       16000000 kB\n", "8g"),  # no MemAvailable line
    ],
    ids=["60pct", "floor_1g", "no_field"],
)
def test_driver_mem_from_meminfo(monkeypatch, meminfo, expected):
    def fake_open(path, *args, **kwargs):
        assert path == "/proc/meminfo"
        return io.StringIO(meminfo)

    monkeypatch.setattr(session, "open", fake_open, raising=False)
    assert session.default_driver_mem() == expected


def test_driver_mem_unreadable_meminfo_falls_back_to_8g(monkeypatch):
    def fake_open(path, *args, **kwargs):
        raise PermissionError(path)

    monkeypatch.setattr(session, "open", fake_open, raising=False)
    assert session.default_driver_mem() == "8g"
