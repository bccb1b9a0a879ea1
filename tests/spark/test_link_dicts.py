"""Stage-B link dictionaries: derived and broadcast once per session and
engine, and stage B leaves no cache behind.

Engines here are ``SimpleNamespace(ds=...)`` over a few hand-built
``PhraseSet``s, so these tests need no reference lookup data."""

import os
import pickle
import shutil
from datetime import datetime
from pathlib import Path
from types import SimpleNamespace

import pytest

from deduce_spark.kernel.tokenize import PhraseSet
from deduce_spark.spark import kg

LOOKUP_PICKLE = (
    Path(__file__).resolve().parents[2]
    / "data" / "cache" / "lookup_structs_2ac432b4ec9e0f78.pkl"
)


def _phrase_set(*phrases):
    ps = PhraseSet()
    for words in phrases:
        ps.add(words)
    return ps


def _lookup(first_names=(("Jan",), ("Piet",))):
    """The six lookup structs link scoring reads.  ``"op 't"`` is one
    surname word that holds a space, as real interfix words do."""
    return {
        "first_name": _phrase_set(*first_names),
        "surname": _phrase_set(("de", "Vries"), ("Berg", "op 't")),
        "placename": _phrase_set(("Den", "Haag"), ("Assen",)),
        "street": _phrase_set(("Dorpsstraat",)),
        "hospital": _phrase_set(("albert", "schweitzer", "ziekenhuis")),
        "healthcare_institution": _phrase_set(("zorggroep",)),
    }


# (text, tag) -> its node's (type, canonical_form, link_score, link_evidence)
MENTIONS = {
    ("Jan", "persoon"): ("PERSOON", "jan", 1.0, "exact"),
    ("JAN", "persoon"): ("PERSOON", "jan", 1.0, "exact"),
    ("Jan de Vries", "persoon"): ("PERSOON", "jan de vries", 0.8, "tokens"),
    ("Berg op 't", "persoon"): ("PERSOON", "berg op 't", 1.0, "exact"),
    # "op" alone is not a vocabulary word: "op 't" is one word
    ("Piet op", "persoon"): ("PERSOON", "piet op", 0.25, "partial"),
    ("Den Haag", "locatie"): ("LOCATIE", "den haag", 1.0, "exact"),
    ("Groningen", "locatie"): ("LOCATIE", "groningen", 0.0, "none"),
    ("Albert Schweitzer Ziekenhuis", "ziekenhuis"):
        ("INSTELLING", "albert schweitzer ziekenhuis", 1.0, "exact"),
    ("Martini Ziekenhuis", "ziekenhuis"):
        ("INSTELLING", "martini ziekenhuis", 0.25, "partial"),
    ("10 oktober 2018", "datum"):
        ("DATUM", "10 oktober 2018", 1.0, "structural"),
}


@pytest.fixture
def kg_src(spark, tmp_path):
    """An output root holding only a committed mentions table."""
    from deduce_spark.spark.icetable import IceTable

    rows = [
        (f"https://site{i % 3}.nl/p{i}", datetime(2024, 1, 1, 0, i),
         text, tag, i % 2)
        for i, (text, tag) in enumerate(MENTIONS)
    ]
    df = spark.createDataFrame(rows, ["url", "warc_ts", "text", "tag", "part_id"])
    IceTable(tmp_path / "src" / "mentions").write(df, partition_by=("part_id",))
    return tmp_path


def _stage_b(spark, src: Path, out: Path, engine) -> set:
    """One kg-only run into a copy of ``src``; returns its node rows."""
    from deduce_spark.spark.icetable import IceTable
    from jobs.build_kg import run_job

    shutil.copytree(src / "src", out)
    run_job(spark, None, str(out), kg_only=True, engine=engine)
    return {
        (r.type, r.canonical_form, r.n_mentions, r.link_score, r.link_evidence)
        for r in IceTable(out / "nodes").read(spark).collect()
    }


def _persisted(spark) -> set:
    """Ids of the RDDs the session holds persisted.  Compared as sets: the
    JVM keeps persisted RDDs in a weak-valued map, so a GC during a run
    can drop unreachable ones that earlier tests left, and a count then
    falls without saying anything about the run."""
    return set(spark.sparkContext._jsc.getPersistentRDDs().keys())


def _count_derivations(monkeypatch) -> list:
    derived = []
    derive = kg.build_link_dicts
    monkeypatch.setattr(
        kg, "build_link_dicts", lambda e: derived.append(e) or derive(e)
    )
    return derived


def test_stage_b_reuses_link_dicts_and_broadcast(spark, kg_src, monkeypatch):
    derived = _count_derivations(monkeypatch)
    engine = SimpleNamespace(ds=_lookup())

    runs, broadcasts = [], []
    for i in range(2):
        before = _persisted(spark)
        runs.append(_stage_b(spark, kg_src, kg_src / f"run{i}", engine))
        assert not _persisted(spark) - before, "stage B leaked a cache"
        broadcasts.append(kg.link_dicts_broadcast(spark, engine))

    assert runs[0] == runs[1]
    assert {(t, f, s, e) for t, f, _n, s, e in runs[0]} == set(MENTIONS.values())
    assert ("PERSOON", "jan", 2, 1.0, "exact") in runs[0]
    assert len(derived) == 1
    assert broadcasts[0] is broadcasts[1]

    # a second engine gets its own dictionaries and broadcast; the one it
    # replaces is destroyed
    other = SimpleNamespace(ds=_lookup(first_names=(("Jan",),)))
    nodes = _stage_b(spark, kg_src, kg_src / "run-other", other)
    assert ("PERSOON", "piet op", 1, 0.0, "none") in nodes
    assert len(derived) == 2
    assert kg.link_dicts_broadcast(spark, other) is not broadcasts[0]
    assert not os.path.exists(broadcasts[0]._path)


def test_stage_b_releases_caches_when_a_commit_fails(
    spark, kg_src, monkeypatch
):
    from deduce_spark.spark.icetable import IceTable

    def fail(self, df, *args, **kwargs):
        man = write(self, df, *args, **kwargs)  # runs every cached branch
        if self.root.name == "edges":
            raise OSError("edges commit failed")
        return man

    write = IceTable.write
    monkeypatch.setattr(IceTable, "write", fail)
    before = _persisted(spark)
    with pytest.raises(OSError, match="edges commit failed"):
        _stage_b(
            spark, kg_src, kg_src / "run-fail", SimpleNamespace(ds=_lookup())
        )
    assert not _persisted(spark) - before, "stage B leaked a cache"


class _Context:
    """A SparkContext stand-in: ``_jsc`` is None once stopped."""

    def __init__(self):
        self._jsc = object()
        self.made = []

    def broadcast(self, value):
        bc = SimpleNamespace(value=value, destroyed=False)
        bc.destroy = lambda: setattr(bc, "destroyed", True)
        self.made.append(bc)
        return bc


def test_link_dicts_broadcast_never_reuses_a_stopped_context(monkeypatch):
    monkeypatch.setattr(kg, "_link_bc_memo", None)
    engine = SimpleNamespace(ds=_lookup())
    sc = _Context()
    first = kg.link_dicts_broadcast(SimpleNamespace(sparkContext=sc), engine)
    assert kg.link_dicts_broadcast(SimpleNamespace(sparkContext=sc), engine) is first

    sc._jsc = None  # stopped: its broadcasts went with it
    sc2 = _Context()
    second = kg.link_dicts_broadcast(SimpleNamespace(sparkContext=sc2), engine)
    assert second is not first and not first.destroyed
    assert second.value == first.value  # same engine, same dictionaries


def test_concurrent_callers_share_one_derivation_and_broadcast(monkeypatch):
    import sys
    import threading
    import time

    derived = []
    derive = kg.build_link_dicts

    def slow_derive(engine):
        derived.append(engine)
        time.sleep(0.05)  # yields: an unlocked slot would derive again
        return derive(engine)

    monkeypatch.setattr(kg, "build_link_dicts", slow_derive)
    monkeypatch.setattr(kg, "_link_bc_memo", None)
    engine = SimpleNamespace(ds=_lookup())
    spark = SimpleNamespace(sparkContext=_Context())
    start = threading.Barrier(16)
    got = []

    def call():
        start.wait(timeout=30)
        got.append(kg.link_dicts_broadcast(spark, engine))

    interval = sys.getswitchinterval()
    sys.setswitchinterval(1e-6)
    try:
        threads = [threading.Thread(target=call) for _ in range(16)]
        for t in threads:
            t.start()
        for t in threads:
            t.join(timeout=30)
    finally:
        sys.setswitchinterval(interval)
    assert not any(t.is_alive() for t in threads)
    assert len(got) == 16 and len(derived) == 1
    assert len(spark.sparkContext.made) == 1
    assert all(bc is got[0] for bc in got)


def _derive(ds) -> dict:
    return kg.build_link_dicts(SimpleNamespace(ds=ds))


def _per_word_dicts(ds) -> dict:
    """The link dictionaries as the per-word expression spells them."""
    out = {}
    for ntype, struct_names in kg._LINK_SOURCES.items():
        phrases, vocab = set(), set()
        for name in struct_names:
            ps = ds[name]
            ps.freeze()
            for first, buckets in ps.by_first.items():
                fl = first.lower()
                vocab.add(fl)
                for _, sset in buckets:
                    for suffix in sset:
                        low = [fl, *(w.lower() for w in suffix)]
                        vocab.update(low[1:])
                        phrases.add(" ".join(low))
        out[ntype] = (frozenset(phrases), frozenset(vocab))
    return out


def test_derivation_matches_per_word_expression_small():
    ds = _lookup()
    assert _derive(ds) == _per_word_dicts(ds)
    phrases, vocab = _derive(ds)["PERSOON"]
    assert "op 't" in vocab and "op" not in vocab
    assert {"jan", "berg op 't"} <= phrases


@pytest.mark.skipif(
    not LOOKUP_PICKLE.is_file(), reason=f"lookup pickle absent: {LOOKUP_PICKLE.name}"
)
def test_derivation_matches_per_word_expression_on_lookup_pickle():
    with open(LOOKUP_PICKLE, "rb") as fh:
        ds = pickle.load(fh)
    assert _derive(ds) == _per_word_dicts(ds)
