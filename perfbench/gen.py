"""Seeded, single-process input generators for the benchmark workloads.

Every function takes the seed as an argument and returns the same rows for
the same seed.  Nothing here starts Spark: the mentions come back as a
pandas frame, which the workload commits with ``IceTable.write``.

Mentions mimic what stage A (annotate) emits: person, place and
institution surfaces drawn from the tracked lookup pickle, Zipf-skewed
entity popularity, a stated share of case / whitespace / one-character
typo variants, and DATUM and PHI mentions, 4-20 per page.
"""

from __future__ import annotations

import bisect
import itertools
import random
from datetime import datetime, timedelta

import pandas as pd

N_PARTS = 8
VARIANT_SHARE = 0.2  # share of entity mentions spelled as a variant
ENTITY_SHARE = 0.7  # the rest are DATUM (half) and PHI (half)
ZIPF_S = 1.1
MENTIONS_PER_PAGE = (4, 20)

_MONTHS = (
    "januari", "februari", "maart", "april", "mei", "juni", "juli",
    "augustus", "september", "oktober", "november", "december",
)
_PHI_TAGS = ("bsn", "id", "telefoonnummer", "emailadres", "url", "leeftijd")
_PRIORITY = {"persoon": 1, "locatie": 2, "ziekenhuis": 3, "zorginstelling": 3,
             "datum": 4}


def _clean_phrases(struct, limit: int, rng: random.Random) -> list[str]:
    """Alphabetic 1-4 token phrases of a lookup ``PhraseSet``, sorted and
    then sampled with ``rng`` (set iteration order is hash-seed dependent,
    so nothing may depend on it)."""
    struct.freeze()
    out = set()
    for first, buckets in struct.by_first.items():
        for _n, suffixes in buckets:
            for suffix in suffixes:
                toks = (first, *suffix)
                if len(toks) <= 4 and all(t.isalpha() for t in toks):
                    phrase = " ".join(toks)
                    if 4 <= len(phrase) <= 40:
                        out.add(phrase)
    pool = sorted(out)
    return rng.sample(pool, min(limit, len(pool)))


def entity_pool(ds: dict, seed: int, n_entities: int) -> list[tuple[str, str]]:
    """``n_entities`` (surface, tag) pairs in popularity order (rank 0 is
    the most mentioned).  Persons are first name + surname pairs; places
    and institutions are lookup phrases."""
    rng = random.Random(seed * 7919 + 1)
    n_person = n_entities // 2
    n_place = n_entities // 4
    n_inst = n_entities - n_person - n_place
    firsts = _clean_phrases(ds["first_name"], 600, rng)
    lasts = _clean_phrases(ds["surname"], 600, rng)
    persons = sorted({f"{f} {s}" for f, s in zip(
        rng.choices(firsts, k=2 * n_person), rng.choices(lasts, k=2 * n_person)
    )})
    pool = [(p, "persoon") for p in rng.sample(persons, n_person)]
    pool += [(p, "locatie") for p in _clean_phrases(ds["placename"], n_place, rng)]
    hosp = _clean_phrases(ds["hospital"], n_inst // 2, rng)
    care = _clean_phrases(ds["healthcare_institution"], n_inst - len(hosp), rng)
    pool += [(p, "ziekenhuis") for p in hosp]
    pool += [(p, "zorginstelling") for p in care]
    rng.shuffle(pool)
    return pool


def _variant(surface: str, rng: random.Random) -> str:
    kind = rng.random()
    if kind < 0.4:  # case
        return rng.choice((surface.upper(), surface.lower(), surface.swapcase()))
    if kind < 0.7:  # whitespace
        if " " in surface:
            return surface.replace(" ", "  ", 1)
        return surface + " "
    # one-character typo on a letter
    idx = [i for i, c in enumerate(surface) if c.isalpha()]
    i = rng.choice(idx)
    c = rng.choice([x for x in "abcdefghijklmnopqrstuvwxyz" if x != surface[i].lower()])
    return surface[:i] + c + surface[i + 1:]


def _phi(rng: random.Random) -> tuple[str, str]:
    tag = rng.choice(_PHI_TAGS)
    if tag == "telefoonnummer":
        return f"06-{rng.randint(10_000_000, 10_003_000)}", tag
    if tag == "emailadres":
        return f"info{rng.randint(0, 2_000)}@voorbeeld.nl", tag
    if tag == "url":
        return f"www.site{rng.randint(0, 999):03d}.nl", tag
    if tag == "leeftijd":
        return f"{rng.randint(18, 99)} jaar", tag
    return str(rng.randint(100_000_000, 100_020_000)), tag


def _zipf_cdf(n: int) -> list[float]:
    return list(itertools.accumulate(1.0 / (r + 1) ** ZIPF_S for r in range(n)))


def kg_mentions(
    seed: int,
    pool: list[tuple[str, str]],
    first_page: int,
    n_pages: int,
    batch_id: int | None = None,
) -> pd.DataFrame:
    """Mentions of pages ``first_page .. first_page + n_pages - 1``.

    Columns: url, warc_ts, text, start_char, end_char, tag, priority,
    part_id, plus batch_id when given (the stream-ingest layout that
    ``build_kg --kg-only --incremental`` folds)."""
    from deduce_spark.kernel.xxh64 import spark_xxhash64

    cdf = _zipf_cdf(len(pool))
    total = cdf[-1]
    base_ts = datetime(2024, 1, 1)
    rows = []
    for page in range(first_page, first_page + n_pages):
        rng = random.Random((seed << 24) ^ page)
        domain = min(int(200 * rng.random() ** 2.2), 199)
        url = f"https://site{domain:03d}.nl/artikel/{seed}-{page:07d}"
        ts = base_ts + timedelta(minutes=page)
        part = spark_xxhash64(url) % N_PARTS
        pos = 0
        for _ in range(rng.randint(*MENTIONS_PER_PAGE)):
            r = rng.random()
            if r < ENTITY_SHARE:
                rank = bisect.bisect_left(cdf, rng.random() * total)
                text, tag = pool[min(rank, len(pool) - 1)]
                if rng.random() < VARIANT_SHARE:
                    text = _variant(text, rng)
            elif r < ENTITY_SHARE + (1 - ENTITY_SHARE) / 2:
                text = (f"{rng.randint(1, 28)} {rng.choice(_MONTHS)} "
                        f"{rng.randint(2015, 2024)}")
                tag = "datum"
            else:
                text, tag = _phi(rng)
            pos += rng.randint(5, 80)
            rows.append((url, ts, text, pos, pos + len(text), tag,
                         _PRIORITY.get(tag, 5), part))
            pos += len(text)
    df = pd.DataFrame(rows, columns=[
        "url", "warc_ts", "text", "start_char", "end_char", "tag",
        "priority", "part_id",
    ])
    df = df.astype({"start_char": "int32", "end_char": "int32",
                    "priority": "int32", "part_id": "int32"})
    if batch_id is not None:
        df["batch_id"] = pd.Series(batch_id, index=df.index, dtype="int32")
    return df


def mention_properties(m: pd.DataFrame, pool: list[tuple[str, str]]) -> dict:
    """The input properties a result record states."""
    from deduce_spark.golden import _node_type, _normalize_surface

    canon = dict(pool)
    ent = m[m["tag"].isin(set(canon.values()))]
    exact = ent["text"].map(lambda t: t in canon)
    top = pool[0][0]
    pages = m["url"].nunique()
    return {
        "pages": int(pages),
        "mentions": int(len(m)),
        "distinct_surfaces": int(len({
            (_normalize_surface(t), _node_type(g))
            for t, g in zip(m["text"], m["tag"])
        })),
        "variant_share": round(float(1 - exact.mean()), 4),
        "mentions_per_page": round(len(m) / pages, 3),
        "top_entity_share": round(float((ent["text"] == top).mean()), 4),
    }
