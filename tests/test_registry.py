"""Driver-registry hygiene (no Spark session): every DuckDB oracle belongs
to a registered query, and the registry fits the slots the driver reads."""

from __future__ import annotations

import __spark_entry__ as entrymod

# the driver records only the first 50 queries() entries
DRIVER_SLOTS = 50


def test_every_oracle_has_a_registered_query():
    orphans = set(entrymod.oracle_sql()) - set(entrymod.queries())
    assert not orphans, sorted(orphans)


def test_registry_fits_driver_slots():
    assert len(entrymod.queries()) <= DRIVER_SLOTS
