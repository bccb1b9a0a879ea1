"""Golden regression corpus (463 examples) run per annotator group.

The corpus JSONs are DATA loaded directly from the read-only reference
checkout (/root/reference/tests/data/regression_cases/*.json); harness
semantics mirror reference tests/regression/test_regression.py:9-39 —
each example is processed with only the relevant group enabled and must
reproduce the golden annotation set exactly.
"""

import json
from pathlib import Path

import pytest

from deduce_spark.kernel.mention import Mention

CASES_DIR = Path("/root/reference/tests/data/regression_cases")

GROUPS = {
    "names.json": "names",
    "locations.json": "locations",
    "institutions.json": "institutions",
    "dates.json": "dates",
    "ages.json": "ages",
    "identifiers.json": "identifiers",
    "phone_numbers.json": "phone_numbers",
    "emails.json": "email_addresses",
    "urls.json": "urls",
}

KNOWN_FAILURES: dict[str, set[int]] = {}


def run_group(engine, examples_file: Path, group: str) -> set[int]:
    enabled = engine.group_members(group)
    with open(examples_file, "rb") as fh:
        examples = json.load(fh)["examples"]
    failures = set()
    for example in examples:
        golden = {
            Mention(a["text"], a["start_char"], a["end_char"], a["tag"])
            for a in example["annotations"]
        }
        doc = engine.deidentify(example["text"], enabled=enabled)
        if doc.mentions != golden:
            failures.add(example["id"])
    return failures


# skipif, not a skip in the body: the engine fixture runs before the body
# and errors on the same missing reference checkout
@pytest.mark.skipif(
    not CASES_DIR.exists(), reason="reference regression corpus not available"
)
@pytest.mark.parametrize("fname", sorted(GROUPS))
def test_regression(engine, fname):
    failures = run_group(engine, CASES_DIR / fname, GROUPS[fname])
    assert failures == KNOWN_FAILURES.get(fname, set())
