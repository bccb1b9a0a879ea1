"""End-to-end pipeline golden test, pinned by reference
tests/pipeline/test_deduce.py:13-87 (same text, same expected annotation
set, same redacted string, same in-text annotated string)."""

import dataclasses
import json
import os
import site
import subprocess
import sys
from pathlib import Path

from deduce_spark.kernel.doc import Person
from deduce_spark.kernel.mention import Mention
from deduce_spark.kernel.redact import annotate_intext

TEXT = (
    "betreft: Jan Jansen, bsn 111222333, patnr 000334433. De patient J. Jansen is 64 "
    "jaar oud en woonachtig in Utrecht. Hij werd op 10 oktober 2018 door arts "
    "Peter de Visser ontslagen van de kliniek van het UMCU. Voor nazorg kan hij "
    "worden bereikt via j.JNSEN.123@gmail.com of (06)12345678."
)

METADATA = {"patient": Person(first_names=["Jan"], surname="Jansen")}

EXPECTED = {
    Mention("(06)12345678", 272, 284, "telefoonnummer"),
    Mention("111222333", 25, 34, "bsn"),
    Mention("Peter de Visser", 153, 168, "persoon"),
    Mention("j.JNSEN.123@gmail.com", 247, 268, "emailadres"),
    Mention("J. Jansen", 64, 73, "patient"),
    Mention("Jan Jansen", 9, 19, "patient"),
    Mention("10 oktober 2018", 127, 142, "datum"),
    Mention("64", 77, 79, "leeftijd"),
    Mention("000334433", 42, 51, "id"),
    Mention("Utrecht", 106, 113, "locatie"),
    Mention("UMCU", 202, 206, "ziekenhuis"),
}


def test_annotate(engine):
    doc = engine.deidentify(TEXT, metadata=METADATA)
    assert doc.mentions == EXPECTED


def test_deidentify(engine):
    doc = engine.deidentify(TEXT, metadata=METADATA)
    assert doc.metadata["redacted_text"] == (
        "betreft: [PATIENT], bsn [BSN-1], patnr [ID-1]. De patient [PATIENT] is "
        "[LEEFTIJD-1] jaar oud en woonachtig in [LOCATIE-1]. Hij werd op "
        "[DATUM-1] door arts [PERSOON-1] ontslagen van de kliniek van het "
        "[ZIEKENHUIS-1]. Voor nazorg kan hij worden bereikt via [EMAILADRES-1] "
        "of [TELEFOONNUMMER-1]."
    )


def test_annotate_intext(engine):
    doc = engine.deidentify(TEXT, metadata=METADATA)
    assert annotate_intext(TEXT, doc.mentions) == (
        "betreft: <PATIENT>Jan Jansen</PATIENT>, bsn <BSN>111222333</BSN>, "
        "patnr <ID>000334433</ID>. De patient <PATIENT>J. Jansen</PATIENT> is "
        "<LEEFTIJD>64</LEEFTIJD> jaar oud en woonachtig in <LOCATIE>Utrecht"
        "</LOCATIE>. Hij werd op <DATUM>10 oktober 2018</DATUM> door arts "
        "<PERSOON>Peter de Visser</PERSOON> ontslagen van de kliniek van het "
        "<ZIEKENHUIS>UMCU</ZIEKENHUIS>. Voor nazorg kan hij worden bereikt "
        "via <EMAILADRES>j.JNSEN.123@gmail.com</EMAILADRES> of "
        "<TELEFOONNUMMER>(06)12345678</TELEFOONNUMMER>."
    )


# Run in a fresh interpreter: the config and lookup defaults are read from
# the environment at import.  The audit hook records every file opened from
# the first import of the package on.
_STANDALONE = r"""
import json, os, sys

opened = []

def _hook(event, args):
    if event == "open" and isinstance(args[0], (str, bytes, os.PathLike)):
        opened.append(os.fsdecode(args[0]))

sys.addaudithook(_hook)
from deduce_spark.kernel.doc import Person
from deduce_spark.kernel.engine import Engine

text, person = json.loads(sys.argv[1])
doc = Engine().deidentify(text, metadata={"patient": Person(**person)})
print(json.dumps({
    "opened": opened,
    "mentions": [[m.text, m.start, m.end, m.tag] for m in doc.mentions],
}))
"""


def test_engine_builds_from_the_repository_alone(tmp_path):
    """With a lookup directory that holds no sources and no config override,
    Engine() builds from the repository's own config and pinned lookup
    structures, reads no file outside the repository and the Python
    installation, and reproduces the pipeline golden."""
    repo = Path(__file__).resolve().parents[2]
    env = {k: v for k, v in os.environ.items() if not k.startswith("DEDUCE_SPARK_")}
    env["DEDUCE_SPARK_LOOKUP"] = str(tmp_path)
    env["PYTHONPATH"] = os.pathsep.join(
        p for p in (str(repo), env.get("PYTHONPATH")) if p
    )
    arg = json.dumps([TEXT, dataclasses.asdict(METADATA["patient"])])
    proc = subprocess.run(
        [sys.executable, "-c", _STANDALONE, arg],
        cwd=repo, env=env, capture_output=True, text=True, check=True,
    )
    out = json.loads(proc.stdout.splitlines()[-1])

    allowed = {repo, Path(sys.prefix), Path(sys.base_prefix), Path(sys.exec_prefix)}
    allowed |= {Path(p) for p in site.getsitepackages() + [site.getusersitepackages()]}
    allowed = {p.resolve() for p in allowed}
    outside = [
        p for p in out["opened"]
        if not any(Path(p).resolve().is_relative_to(root) for root in allowed)
    ]
    assert outside == []
    assert any(p.endswith("base_config.json") for p in out["opened"])
    assert {Mention(*m) for m in out["mentions"]} == EXPECTED
