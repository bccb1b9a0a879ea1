"""Build the lookup structures (8 word sets + 7 phrase sets) from raw lists.

Mirrors reference deduce/lookup_struct_loader.py:10-239 and
deduce/lookup_structs.py:33-47, re-expressed over WordSet/PhraseSet.  The
raw source lists are DATA read from a directory in the reference layout
(``DEDUCE_SPARK_LOOKUP``); the lists themselves are not in this repo, only
the structures built from them (the pinned pickle under data/cache).
"""

from __future__ import annotations

from typing import Optional

from deduce_spark.kernel import lookup as lk
from deduce_spark.kernel.tokenize import PhraseSet, Tokenizer

ALL_LISTS = (
    "institutions/lst_healthcare_institution",
    "institutions/lst_hospital",
    "institutions/lst_hospital_abbr",
    "locations/lst_placename",
    "locations/lst_street",
    "names/lst_first_name",
    "names/lst_initial",
    "names/lst_interfix",
    "names/lst_interfix_surname",
    "names/lst_prefix",
    "names/lst_surname",
    "whitelist/lst_common_word",
    "whitelist/lst_eponymous_disease",
    "whitelist/lst_medical_term",
    "whitelist/lst_stop_word",
)


def _to_phrases(
    ws: lk.WordSet, tokenizer: Tokenizer, norm: Optional[lk.Norm] = None
) -> PhraseSet:
    """WordSet -> PhraseSet via the tokenizer (reference lookup_set_to_trie,
    deduce/utils.py:261-280); ``norm`` is the match-time pipeline."""
    ps = PhraseSet(norm=norm)
    for item in ws:
        words = [t.text for t in tokenizer.tokenize(item)]
        if words:
            ps.add(words)
    ps.freeze()
    return ps


def build_prefix(raw: dict[str, set[str]]) -> lk.WordSet:
    ws = lk.WordSet(raw["prefix"])
    ws.add_variants([lk.upper_first])
    return ws


def build_interfix(raw: dict[str, set[str]]) -> lk.WordSet:
    ws = lk.WordSet(raw["interfix"])
    ws.add_variants([lk.upper_first])
    ws.add_variants([lk.titlecase])
    ws.discard(["V."])
    return ws


def _common_words(raw: dict[str, set[str]]) -> set[str]:
    surnames_lower = lk.apply_pipeline(raw["surname"], [lk.lowercase, lk.min_length(2)])
    return raw["common_word"] - surnames_lower


def build_whitelist(raw: dict[str, set[str]]) -> lk.WordSet:
    """Medical terms + frequent words (minus surnames) + stopwords, matched
    lowercase (reference load_whitelist_lookup)."""
    merged = raw["medical_term"] | _common_words(raw) | raw["stop_word"]
    merged = lk.apply_pipeline(merged, [lk.min_length(2)])
    return lk.WordSet(merged, match_norm=lk.lowercase)


def _name_trie(
    key: str, raw: dict[str, set[str]], tokenizer: Tokenizer
) -> PhraseSet:
    ws = lk.WordSet(lk.apply_pipeline(raw[key], [lk.min_length(2)]))
    whitelist = build_whitelist(raw)
    ws.add_variants([lk.not_in_set(whitelist.items, case_sensitive=False)], replace=True)
    return _to_phrases(ws, tokenizer)


def build_first_name(raw, tokenizer: Tokenizer) -> PhraseSet:
    return _name_trie("first_name", raw, tokenizer)


def build_surname(raw, tokenizer: Tokenizer) -> PhraseSet:
    return _name_trie("surname", raw, tokenizer)


def build_street(raw, tokenizer: Tokenizer) -> PhraseSet:
    ws = lk.WordSet(lk.apply_pipeline(raw["street"], [lk.strip_string, lk.min_length(4)]))
    ws.add_variants([lk.ascii_fold])
    return _to_phrases(ws, tokenizer)


def build_placename(raw, tokenizer: Tokenizer) -> PhraseSet:
    ws = lk.WordSet(lk.apply_pipeline(raw["placename"], [lk.strip_string]))
    ws.add_variants([lk.ascii_fold])
    ws.add_variants(
        [lk.replace_value("(", ""), lk.replace_value(")", ""), lk.replace_value("  ", " ")]
    )
    ws.add_variants([lk.uppercase])
    whitelist = build_whitelist(raw)
    ws.add_variants([lk.not_in_set(whitelist.items, case_sensitive=False)], replace=True)
    return _to_phrases(ws, tokenizer)


def build_hospital(raw, tokenizer: Tokenizer) -> PhraseSet:
    ws = lk.WordSet(raw["hospital"], match_norm=lk.lowercase)
    ws.update(raw["hospital_abbr"])
    ws.add_variants([lk.ascii_fold])
    return _to_phrases(ws, tokenizer, norm=lk.lowercase)


def build_institution(raw, tokenizer: Tokenizer) -> PhraseSet:
    ws = lk.WordSet(
        lk.apply_pipeline(raw["healthcare_institution"], [lk.strip_string, lk.min_length(4)])
    )
    ws.add_variants([lk.uppercase])
    ws.add_variants([lk.ascii_fold])
    whitelist = build_whitelist(raw)
    ws.items -= whitelist.items
    return _to_phrases(ws, tokenizer)


def build_eponymous_disease(raw, tokenizer: Tokenizer) -> PhraseSet:
    ws = lk.WordSet(raw["eponymous_disease"])
    ws.add_variants([lk.ascii_fold])
    return _to_phrases(ws, tokenizer)


SET_BUILDERS = {
    "prefix": build_prefix,
    "interfix": build_interfix,
    "whitelist": build_whitelist,
}

PHRASE_BUILDERS = {
    "first_name": build_first_name,
    "surname": build_surname,
    "street": build_street,
    "placename": build_placename,
    "hospital": build_hospital,
    "healthcare_institution": build_institution,
    "eponymous_disease": build_eponymous_disease,
}


def build_structs(raw: dict[str, set[str]], tokenizer: Tokenizer) -> dict:
    """Full registry: plain sets for unlisted names, then the custom set and
    phrase builders (reference get_lookup_structs, lookup_structs.py:241-260)."""
    structs: dict[str, object] = {}
    for name in set(raw) - set(SET_BUILDERS) - set(PHRASE_BUILDERS):
        structs[name] = lk.WordSet(raw[name])
    for name, fn in SET_BUILDERS.items():
        structs[name] = fn(raw)
    for name, fn in PHRASE_BUILDERS.items():
        structs[name] = fn(raw, tokenizer)
    return structs
