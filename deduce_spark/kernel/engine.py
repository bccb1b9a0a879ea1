"""The per-document pipeline engine: config -> ordered processor groups.

Reproduces the reference's processor tree and execution order
(deduce/deduce.py:147-326):

- annotator groups in config insertion order (names, locations,
  institutions, dates, ages, identifiers, phone_numbers, email_addresses,
  urls);
- the names group is closed by ``person_annotation_converter``, the
  locations group by ``remove_street_tags`` + ``clean_street_tags``;
- a final ``post_processing`` group: overlap_resolver ->
  merge_adjacent_annotations -> redactor.

``enabled`` / ``disabled`` filter by name at both group and member level
(a group must itself be enabled for its members to run — reference
docs/source/tutorial.md:136-161, relied on by
tests/regression/test_regression.py:37-39).

This object is built ONCE on the Spark driver and broadcast; ``deidentify``
runs unchanged inside Arrow-batched pandas UDFs (one call per page) and in
the pure-Python oracle.
"""

from __future__ import annotations

from pathlib import Path
from typing import Any, Iterable, Optional, Union

from deduce_spark.kernel import annotate as ann
from deduce_spark.kernel import intervals, redact
from deduce_spark.kernel.config import (
    DEFAULT_LOOKUP_PATH,
    load_config,
)
from deduce_spark.kernel.doc import Doc, Person
from deduce_spark.kernel.mention import Mention
from deduce_spark.kernel.structs import build_tokenizer, get_structs

_ANNOTATOR_KWARG_WHITELIST = {
    "tag", "priority", "skip", "pattern", "iterative",
    "regexp_pattern", "capturing_group", "pre_match_words",
    "pre_pseudo", "post_pseudo", "lowercase",
    "bsn_regexp", "capture_group",
    "phone_regexp", "min_digits", "max_digits",
}


class _Redactor:
    def __init__(self, open_char: str, close_char: str) -> None:
        self.open_char = open_char
        self.close_char = close_char

    def run(self, doc: Doc) -> None:
        doc.metadata["redacted_text"] = redact.redact(
            doc.text, doc.mentions, self.open_char, self.close_char
        )


class Engine:
    """Config-driven mention-detection + redaction pipeline."""

    def __init__(
        self,
        config: Optional[Union[str, Path, dict]] = None,
        load_base_config: bool = True,
        lookup_path: Optional[Union[str, Path]] = DEFAULT_LOOKUP_PATH,
        cache_dir: Optional[Path] = None,
        rebuild: bool = False,
    ) -> None:
        self.config = load_config(config, load_base_config=load_base_config)
        self.tokenizer = build_tokenizer(lookup_path)
        kwargs = {} if cache_dir is None else {"cache_dir": cache_dir}
        self.ds = get_structs(lookup_path, self.tokenizer, rebuild=rebuild, **kwargs)
        self.groups = self._build_groups()

    # -- construction -----------------------------------------------------

    def _make_annotator(self, type_name: str, args: dict):
        args = {k: v for k, v in args.items() if k in _ANNOTATOR_KWARG_WHITELIST
                or k in ("lookup_values", "overlapping")}
        kind = type_name.rsplit(".", 1)[-1]
        if kind == "MultiTokenLookupAnnotator":
            phrases = self.ds[args.pop("lookup_values")]
            return ann.MultiTokenLookupAnnotator(
                phrases=phrases,
                tag=args["tag"],
                priority=args.get("priority", 0),
                overlapping=args.get("overlapping", True),
            )
        if kind == "RegexpAnnotator":
            return ann.RegexpAnnotator(
                args["regexp_pattern"],
                tag=args["tag"],
                capturing_group=args.get("capturing_group", 0),
                priority=args.get("priority", 0),
                pre_match_words=args.get("pre_match_words"),
            )
        if kind == "RegexpPseudoAnnotator":
            return ann.RegexpPseudoAnnotator(
                args["regexp_pattern"],
                tag=args["tag"],
                capturing_group=args.get("capturing_group", 0),
                priority=args.get("priority", 0),
                pre_match_words=args.get("pre_match_words"),
                pre_pseudo=args.get("pre_pseudo"),
                post_pseudo=args.get("post_pseudo"),
                lowercase=args.get("lowercase", True),
            )
        if kind == "TokenPatternAnnotator":
            return ann.TokenPatternAnnotator(
                pattern=args["pattern"],
                ds=self.ds,
                skip=args.get("skip"),
                tag=args["tag"],
                priority=args.get("priority", 0),
            )
        if kind == "ContextAnnotator":
            return ann.ContextAnnotator(
                pattern=args["pattern"],
                ds=self.ds,
                iterative=args.get("iterative", True),
            )
        if kind == "PatientNameAnnotator":
            return ann.PatientNameAnnotator(
                tokenizer=self.tokenizer,
                tag=args.get("tag", "_"),
                priority=args.get("priority", 0),
            )
        if kind == "BsnAnnotator":
            return ann.BsnAnnotator(
                args["bsn_regexp"],
                tag=args["tag"],
                capture_group=args.get("capture_group", 0),
                priority=args.get("priority", 0),
            )
        if kind == "PhoneNumberAnnotator":
            return ann.PhoneNumberAnnotator(
                args["phone_regexp"],
                tag=args["tag"],
                min_digits=args.get("min_digits", 9),
                max_digits=args.get("max_digits", 11),
                priority=args.get("priority", 0),
            )
        raise ValueError(f"unknown annotator type {type_name!r}")

    def _build_groups(self) -> list[tuple[str, list[tuple[str, Any]]]]:
        groups: dict[str, list[tuple[str, Any]]] = {}
        for name, info in self.config["annotators"].items():
            group = info.get("group", name)
            groups.setdefault(group, []).append(
                (name, self._make_annotator(info["annotator_type"], dict(info["args"])))
            )

        groups.setdefault("names", []).append(
            ("person_annotation_converter", _PersonConverter())
        )
        loc = groups.setdefault("locations", [])
        loc.append(("remove_street_tags", _DropTags(["straat"])))
        loc.append(
            (
                "clean_street_tags",
                _RemapTags(
                    {
                        "straat+huisnummer": "locatie",
                        "straat+huisnummer+huisnummerletter": "locatie",
                    }
                ),
            )
        )

        strategy = self.config["resolve_overlap_strategy"]
        post = [
            ("overlap_resolver", _OverlapResolver(strategy)),
            (
                "merge_adjacent_annotations",
                _MergeAdjacent(self.config["adjacent_annotations_slack"]),
            ),
            (
                "redactor",
                _Redactor(
                    self.config["redactor_open_char"],
                    self.config["redactor_close_char"],
                ),
            ),
        ]
        groups["post_processing"] = post
        return list(groups.items())

    # -- execution --------------------------------------------------------

    def deidentify(
        self,
        text: str,
        metadata: Optional[dict[str, Any]] = None,
        enabled: Optional[Iterable[str]] = None,
        disabled: Optional[Iterable[str]] = None,
    ) -> Doc:
        enabled = set(enabled) if enabled is not None else None
        disabled = set(disabled) if disabled is not None else None
        doc = Doc(text, tokenizer=self.tokenizer, metadata=dict(metadata or {}))
        for group_name, members in self.groups:
            if enabled is not None and group_name not in enabled:
                continue
            if disabled is not None and group_name in disabled:
                continue
            for name, proc in members:
                if enabled is not None and name not in enabled:
                    continue
                if disabled is not None and name in disabled:
                    continue
                if hasattr(proc, "annotate"):
                    doc.mentions.update(proc.annotate(doc))
                else:
                    proc.run(doc)
        return doc

    def group_members(self, group: str) -> set[str]:
        for group_name, members in self.groups:
            if group_name == group:
                return {name for name, _ in members} | {group}
        raise KeyError(group)


class _PersonConverter:
    def run(self, doc: Doc) -> None:
        person = {m for m in doc.mentions if _is_name_tag(m.tag)}
        rest = doc.mentions - person
        doc.mentions = rest | intervals.convert_person_mentions(person, doc.text)


def _is_name_tag(tag: str) -> bool:
    # the converter runs inside the names group; with groups executed in
    # order it only ever sees name mentions, so convert everything present
    return True


class _DropTags:
    def __init__(self, tags: list[str]) -> None:
        self.tags = tags

    def run(self, doc: Doc) -> None:
        doc.mentions = intervals.drop_tags(doc.mentions, self.tags)


class _RemapTags:
    def __init__(self, tag_map: dict[str, str]) -> None:
        self.tag_map = tag_map

    def run(self, doc: Doc) -> None:
        doc.mentions = intervals.remap_tags(doc.mentions, self.tag_map)


class _OverlapResolver:
    def __init__(self, strategy: dict) -> None:
        attrs = strategy["attributes"]
        ascending = strategy["ascending"]
        self.spec = list(zip(attrs, ascending))

    def run(self, doc: Doc) -> None:
        spec = self.spec

        def key(m: Mention) -> tuple:
            parts = []
            for attr, asc in spec:
                v = m.length if attr == "length" else getattr(m, attr)
                parts.append(v if asc else -v)
            return tuple(parts) + m.sort_key()

        doc.mentions = intervals.resolve_overlap(doc.mentions, doc.text, sort_key=key)


class _MergeAdjacent:
    def __init__(self, slack_regexp: str) -> None:
        self.slack = slack_regexp

    def run(self, doc: Doc) -> None:
        doc.mentions = intervals.merge_adjacent(doc.mentions, doc.text, self.slack)


__all__ = ["Engine", "Person", "Doc"]
