"""Tests of the benchmark itself (no Spark session needed).

    python3 -m pytest perfbench/tests -q
"""

from __future__ import annotations

import os
import sys

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, os.path.dirname(HERE))
sys.path.insert(0, os.path.dirname(os.path.dirname(HERE)))

import check  # noqa: E402
import corpus  # noqa: E402
from tracing import Span, self_times  # noqa: E402


def _files(root):
    out = {}
    for dirpath, _, names in os.walk(root):
        for name in names:
            path = os.path.join(dirpath, name)
            with open(path, "rb") as fh:
                out[os.path.relpath(path, root)] = fh.read()
    return out


SMALL = {"docs": 60, "mega_docs": 1, "mega_tables": 20}


def test_generator_is_deterministic_in_its_seed(tmp_path):
    a = corpus.prepare(str(tmp_path / "a"), "bulk", 3, SMALL)
    b = corpus.prepare(str(tmp_path / "b"), "bulk", 3, SMALL)
    c = corpus.prepare(str(tmp_path / "c"), "bulk", 4, SMALL)
    assert a["expected"] == b["expected"] and a["committed"] == b["committed"]
    files_a = _files(tmp_path / "a")
    assert files_a and files_a == _files(tmp_path / "b")
    assert a["expected"] != c["expected"] and files_a != _files(tmp_path / "c")


def test_committed_share_is_about_three_quarters():
    ids = [f"doc{d:07d}" for d in range(4000)]
    committed = corpus.committed_ids(ids)
    assert 0.7 < len(committed) / len(ids) < 0.8


def _keys():
    keys = corpus.expected_keys(corpus.documents("bulk", 1, SMALL))
    return keys, [k for rows in keys.values() for k in rows]


def test_check_accepts_the_expected_rows_in_any_order():
    keys, flat = _keys()
    result = check.compare(keys, list(reversed(flat)))
    assert result["failed"] == 0 and result["attempted"] == len(keys)
    assert result["digest"] == result["expected_digest"]


@pytest.mark.parametrize("fault", ["drop", "duplicate", "alter", "foreign"])
def test_check_counts_one_failed_doc(fault):
    keys, flat = _keys()
    doc_id = next(d for d, rows in keys.items() if len(rows) >= 2)
    if fault == "drop":
        actual = [k for k in flat if k[0] != doc_id]
    elif fault == "duplicate":
        actual = flat + [keys[doc_id][0]]
    elif fault == "alter":
        first = keys[doc_id][0]
        actual = [k for k in flat if k != first] + [first[:4] + (first[4] + 1, first[5])]
    else:
        actual = flat + [("stranger", 0, "ok", 1, 1, "0" * 64)]
    result = check.compare(keys, actual)
    assert result["failed"] == 1
    assert result["digest"] != result["expected_digest"]


def test_expected_rows_match_the_pinned_reference():
    """The kernel still produces the rows pinned in reference.json."""
    keys = corpus.expected_keys(corpus.documents("skew", 0))
    pinned = corpus.pinned_digest("skew", 0)
    assert pinned is not None
    assert check.digest(k for rows in keys.values() for k in rows) == pinned


def test_self_time_subtracts_covered_child_intervals():
    spans = [
        Span(0, "job", None, 0.0, 10.0),
        Span(1, "write", 0, 1.0, 4.0),
        Span(2, "lineage", 0, 3.0, 6.0),  # overlaps write: covered once
        Span(3, "commit", 0, 8.0, 12.0),  # runs past its parent: clipped
        Span(4, "leg", 1, 1.5, 2.0),
        Span(5, "open", 0, 9.0, None),  # never finished: ignored
    ]
    selfs = self_times(spans)
    assert selfs["job"] == pytest.approx(10.0 - (6.0 - 1.0) - (10.0 - 8.0))
    assert selfs["write"] == pytest.approx(3.0 - 0.5)
    assert selfs["lineage"] == pytest.approx(3.0)
    assert selfs["commit"] == pytest.approx(4.0)
    assert "open" not in selfs


def test_self_time_sums_repeated_names():
    spans = [Span(0, "a", None, 0.0, 1.0), Span(1, "a", None, 2.0, 2.5)]
    assert self_times(spans)["a"] == pytest.approx(1.5)
