"""The fixture ``events.ts`` unit, read from each parquet footer.

FIXTURES.md documents ``events.ts`` as ``timestamp[us]``. The engine's
ns-LONG branches (``io._repair_events``, ``streams._events_raw``) exist for
nanosecond inputs; this pins which unit the fixture scales actually
carry, for every scale present next to the test fixtures."""

from __future__ import annotations

from pathlib import Path

import pyarrow as pa
import pyarrow.parquet as pq
import pytest

from tests.conftest import SF_SMOKE

_EVENTS = sorted(Path(SF_SMOKE).parent.glob("sf*/events.parquet"))


@pytest.mark.parametrize("path", _EVENTS, ids=[p.parent.name for p in _EVENTS])
def test_events_ts_is_microsecond_parquet(path):
    assert pq.read_schema(path).field("ts").type == pa.timestamp("us")
