"""The query registry's rotation rule against the latest correctness record:
the external CORRECTNESS gate attests only the first 50 entries of
``__spark_entry__.queries()``, so every query without a green row in the
latest ``CORRECTNESS_r*.json`` must sit among them."""

from __future__ import annotations

import json
import re
from pathlib import Path

import __spark_entry__ as entry

REPO = Path(__file__).resolve().parents[1]
WINDOW = 50


def _latest_record() -> dict:
    records = sorted(REPO.glob("CORRECTNESS_r*.json"), key=lambda p: int(re.findall(r"\d+", p.name)[-1]))
    assert records, "no CORRECTNESS_r*.json in the repo"
    return json.loads(records[-1].read_text())


def _green(row: dict) -> bool:
    return bool(row.get("rows_match") and row.get("schema_match") and row.get("hash_match")) and not row.get("err")


def test_every_unattested_query_is_inside_the_window():
    record = _latest_record()
    names = list(entry.queries())
    outside = [name for name in names[WINDOW:] if not _green(record.get(name, {}))]
    assert outside == [], f"no green row in the latest record, yet past slot {WINDOW}: {outside}"
