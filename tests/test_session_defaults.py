"""Session factory defaults that depend on the machine."""

from __future__ import annotations

import pytest

from cassandra_data_migration_spark import session


@pytest.mark.parametrize(
    "phys_gib, expected",
    [(15, "7g"), (64, "24g"), (1, "1g"), (3, "1g"), (49, "24g"), (32, "16g")],
)
def test_default_driver_memory_is_half_physical_capped(
    monkeypatch, phys_gib, expected
):
    page = 4096
    pages = phys_gib * (1 << 30) // page
    monkeypatch.setattr(
        session.os,
        "sysconf",
        lambda name: {"SC_PAGE_SIZE": page, "SC_PHYS_PAGES": pages}[name],
    )
    assert session.default_driver_memory() == expected
