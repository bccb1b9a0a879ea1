"""Lookup/normalizer/transform semantics, pinned by reference
tests/unit/test_lookup_struct.py:19-43, tests/unit/test_utils.py:96-214 and
tests/unit/str/test_str.py:15-79."""

import re
from pathlib import Path

import pytest

from deduce_spark.kernel import lookup as lk

FIXTURES = Path(__file__).parent.parent / "data" / "lookup" / "src"


# ---- scalar normalizers ----

def test_uppercase():
    assert lk.uppercase("test_123") == "TEST_123"


def test_upper_first():
    assert lk.upper_first("test") == "Test"
    assert lk.upper_first("a3") == "A3"
    assert lk.upper_first("T") == "T"


def test_titlecase():
    assert lk.titlecase("a3 a4") == "A3 A4"
    assert lk.titlecase("Test test") == "Test Test"


def test_take_last_token():
    assert lk.take_last_token("dit is een test") == "test"
    assert lk.take_last_token("") == ""


def test_remove_values():
    f = lk.remove_values(["de", "het", "een"])
    assert f("de boot") == "boot"
    assert f("debiet") == "debiet"
    assert f("van het Schip") == "vanSchip"  # reference quirk, kept
    assert f("nummer een") == "nummer"


def test_acronimify():
    f = lk.acronimify()
    assert f("Elizabeth Tweesteden Ziekenhuis") == "ETZ"
    assert f("Umcu") == "U"
    assert f("universitair medisch centrum utrecht") == "umcu"


def test_not_in_set():
    f = lk.not_in_set(["arts", "bakker", "slager"])
    assert f("") == ""
    assert f("visser") == "visser"
    assert f("arts") is None
    g = lk.not_in_set(["Arts"], case_sensitive=False)
    assert g("arts") is None
    assert g("ARTS") is None


def test_ascii_fold():
    assert lk.ascii_fold("Curaçao") == "Curacao"
    assert lk.ascii_fold("oké é") == "oke e"


# ---- WordSet ----

def test_wordset_match_norm():
    ws = lk.WordSet(["Ziekenhuis Amstelland"], match_norm=lk.lowercase)
    assert "ziekenhuis amstelland" in ws
    assert "ZIEKENHUIS AMSTELLAND" in ws
    ws2 = lk.WordSet(["dr"], match_norm=None)
    assert "dr" in ws2
    assert "DR" not in ws2


def test_wordset_add_variants_replace():
    ws = lk.WordSet(["maarten", "pieter"])
    ws.add_variants([lk.not_in_set(["maarten"])], replace=True)
    assert set(ws) == {"pieter"}


# ---- variations / transforms ----

def test_segment_options():
    assert lk.segment_options("Prof. Lieflantlaan", []) == [["Prof. Lieflantlaan"]]
    assert lk.segment_options("Prof. Lieflantlaan", [(0, 5, ["Prof."])]) == [
        ["Prof."],
        [" Lieflantlaan"],
    ]
    assert lk.segment_options(
        "Prof. Lieflantlaan",
        [(0, 5, ["Prof.", "Professor"]), (14, 18, ["laan", "ln"])],
    ) == [["Prof.", "Professor"], [" Lieflant"], ["laan", "ln"]]


def test_string_variations_order():
    assert lk.string_variations("Prof. Lieflantlaan", {}) == ["Prof. Lieflantlaan"]
    assert lk.string_variations(
        "Prof. Lieflantlaan", {"Prof.": ["Prof.", "Professor"]}
    ) == ["Prof. Lieflantlaan", "Professor Lieflantlaan"]
    assert lk.string_variations(
        "Prof. Lieflantlaan",
        {"Prof.": ["Prof.", "Professor"], "laan": ["laan", "ln"]},
    ) == [
        "Prof. Lieflantlaan",
        "Professor Lieflantlaan",
        "Prof. Lieflantln",
        "Professor Lieflantln",
    ]


def test_string_variations_regexp_and_overlap():
    assert lk.string_variations("van Bevanstraat", {"^van": ["Van", "van"]}) == [
        "Van Bevanstraat",
        "van Bevanstraat",
    ]
    with pytest.raises(RuntimeError):
        lk.string_variations(
            "Prof. Lieflantlaan",
            {"laan": ["laan", "ln"], "lantlaan": ["lantlaan", "lantln"]},
        )


def test_expand_transform():
    assert lk.expand_transform(
        {"Prof. Lieflantlaan"}, {"transforms": {"prefix": {"Prof.": ["Prof.", "Professor"]}}}
    ) == {"Prof. Lieflantlaan", "Professor Lieflantlaan"}
    assert lk.expand_transform(
        {"den Burg", "Rotterdam"}, {"transforms": {"name": {"den": ["den", ""]}}}
    ) == {"den Burg", "Burg", "Rotterdam"}
    assert lk.expand_transform(
        {"den Burg", "Rotterdam"},
        {"transforms": {"name": {"den": ["den", ""]}}, "strip_lines": False},
    ) == {"den Burg", " Burg", "Rotterdam"}


# ---- raw itemset loading (repo-local fixture mirrors the reference's) ----

def test_load_raw_itemset():
    items = lk.load_raw_itemset(FIXTURES / "lst_test")
    assert items == {"de Vries", "De Vries", "Sijbrand", "Sybrand", "Pieters"}


def test_load_raw_itemset_nested():
    assert lk.load_raw_itemset(FIXTURES / "lst_test_nested") == {"a", "b", "c", "d"}


def test_load_raw_itemsets():
    sets = lk.load_raw_itemsets(
        FIXTURES.parent.parent / "lookup", ["lst_test", "lst_test_nested"]
    )
    assert set(sets) == {"test", "test_nested"}
    assert len(sets["test"]) == 5
    assert len(sets["test_nested"]) == 4


# ---- lookup-structure cache key ----

def test_source_digest_keys_on_src_content(tmp_path):
    from deduce_spark.kernel.structs import source_digest

    lookup = FIXTURES.parent
    assert source_digest(lookup) == source_digest(lookup)
    copy = tmp_path / "lookup" / "src"
    copy.mkdir(parents=True)
    (copy / "lst_a").write_text("x\n")
    first = source_digest(copy.parent)
    (copy / "lst_a").write_text("y\n")
    assert source_digest(copy.parent) != first


def test_source_digest_missing_src_raises(tmp_path):
    # a missing directory used to hash to one key shared by every such path
    from deduce_spark.kernel.structs import source_digest

    for missing in (tmp_path / "nonexistent", tmp_path / "nothing"):
        with pytest.raises(FileNotFoundError,
                           match=re.escape(str(missing / "src"))):
            source_digest(missing)
    with pytest.raises(FileNotFoundError):
        source_digest(tmp_path)  # directory exists, its src/ does not
