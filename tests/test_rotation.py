"""Correctness rotation (neurondb_spark/registry/__init__.py): each row's
last passing round is read from synthetic CORRECTNESS_r*.json files in a
temporary directory, and the rows sort least recently passed first — no
Spark job runs here."""

import json
import shutil

import pytest

from neurondb_spark import registry as R

PASS = {"rows_match": True, "schema_match": True, "hash_match": True,
        "spark_rows": 10, "oracle_rows": 10, "err": None}
NO_ORACLE = {"rows_match": None, "schema_match": None, "hash_match": None,
             "spark_rows": 2, "oracle_rows": None, "err": "no_oracle"}
ERROR = {"rows_match": None, "schema_match": None, "hash_match": None,
         "spark_rows": None, "oracle_rows": None,
         "err": "Traceback (most recent call last):\n  File ..."}
MISMATCH = {"rows_match": True, "schema_match": True, "hash_match": False,
            "spark_rows": 10, "oracle_rows": 10, "err": None}


def _record(d, rnd, records):
    (d / f"CORRECTNESS_r{rnd:02d}.json").write_text(json.dumps(records))


def _order(d, names, rewritten=None):
    return R._rotate(names, R._last_passed(d), rewritten or {})


def test_never_checked_rows_sort_first(tmp_path):
    _record(tmp_path, 1, {"a": PASS, "b": PASS})
    _record(tmp_path, 2, {"a": PASS})
    assert _order(tmp_path, ["a", "b", "c"]) == ["c", "b", "a"]


def test_no_oracle_record_is_a_pass(tmp_path):
    _record(tmp_path, 1, {"a": PASS})
    _record(tmp_path, 2, {"b": NO_ORACLE})
    assert R._last_passed(tmp_path) == {"a": 1, "b": 2}
    assert _order(tmp_path, ["b", "a", "c"]) == ["c", "a", "b"]


@pytest.mark.parametrize("failed", [ERROR, MISMATCH])
def test_error_or_hash_mismatch_is_not_a_pass(tmp_path, failed):
    _record(tmp_path, 1, {"a": PASS, "b": PASS})
    _record(tmp_path, 2, {"a": failed, "b": PASS})
    _record(tmp_path, 3, {"c": failed})
    assert R._last_passed(tmp_path) == {"a": 1, "b": 2}
    assert _order(tmp_path, ["b", "c", "a"]) == ["c", "a", "b"]


def test_rewrite_sorts_first_until_a_later_round_passes_it(tmp_path):
    _record(tmp_path, 1, {"a": PASS, "b": PASS, "c": PASS})
    _record(tmp_path, 2, {"b": PASS})
    rewritten = {"b": 3}
    assert _order(tmp_path, ["a", "b", "c"], rewritten) == ["b", "a", "c"]
    _record(tmp_path, 3, {"c": PASS})  # round 3 does not check b
    assert _order(tmp_path, ["a", "b", "c"], rewritten) == ["b", "a", "c"]
    _record(tmp_path, 4, {"b": ERROR})  # a failing check is no pass
    assert _order(tmp_path, ["a", "b", "c"], rewritten) == ["b", "a", "c"]
    _record(tmp_path, 5, {"b": PASS})
    assert _order(tmp_path, ["a", "b", "c"], rewritten) == ["a", "c", "b"]


def test_ties_keep_declaration_order(tmp_path):
    _record(tmp_path, 1, {"d": PASS, "b": PASS})
    _record(tmp_path, 2, {"a": PASS, "e": PASS})
    assert _order(tmp_path, ["e", "d", "c", "b", "a", "f"], {"e": 3}) == [
        "e", "c", "f", "d", "b", "a"]


def test_empty_directory_gives_declaration_order(tmp_path):
    assert R._last_passed(tmp_path) == {}
    names = ["z", "a", "m"]
    assert _order(tmp_path, names, {"a": 17}) == names


def test_unparsable_record_names_its_file(tmp_path):
    (tmp_path / "CORRECTNESS_r03.json").write_text("{not json")
    with pytest.raises(ValueError, match="CORRECTNESS_r03.json"):
        R._last_passed(tmp_path)


def test_other_files_are_ignored(tmp_path):
    _record(tmp_path, 1, {"a": PASS})
    (tmp_path / "CORRECTNESS_r02_notes.json").write_text("{not json")
    (tmp_path / "BENCH_r02.json").write_text("{}")
    assert R._last_passed(tmp_path) == {"a": 1}


def test_rewritten_names_are_registered_queries():
    unknown = set(R.REWRITTEN) - set(R.collect())
    assert not unknown, f"REWRITTEN names no registry query: {sorted(unknown)}"


def test_rewritten_rows_lead_the_committed_rotation():
    """On the committed records every live rewrite is inside the first 50
    (the driver's per-round sample)."""
    passed = R._last_passed()
    live = {n for n, rnd in R.REWRITTEN.items() if rnd > passed.get(n, 0)}
    assert live <= set(list(R.collect())[:50])


def test_a_new_passing_record_moves_a_rewrite_back(tmp_path):
    """A passing record for the round a rewrite ships in retires its
    REWRITTEN entry with no source edit."""
    for src in R._RECORDS_DIR.glob("CORRECTNESS_r*.json"):
        shutil.copy(src, tmp_path)
    passed = R._last_passed(tmp_path)
    name, rnd = next((n, r) for n, r in R.REWRITTEN.items()
                     if r > passed.get(n, 0))
    names = list(R.collect())
    assert name in R._rotate(names, passed)[:50]
    _record(tmp_path, rnd, {name: PASS})
    assert R._rotate(names, R._last_passed(tmp_path))[-1] == name
