"""Lookup-structure build orchestration + content-addressed artifact cache.

Replaces the reference's pickle cache keyed on version + file mtimes
(deduce/lookup_structs.py:115-239) with a CONTENT-HASH key: mtimes are not
reproducible across cluster nodes, a digest of the source bytes is.

Without source lists (no lookup path, or one without ``src/``) the
structures come from ``PINNED_STRUCTS``, the tracked pickle built from the
reference's lists (its name is their digest).
"""

from __future__ import annotations

import functools
import hashlib
import logging
import pickle
from pathlib import Path
from typing import Optional

from deduce_spark import __version__
from deduce_spark.kernel.loaders import ALL_LISTS, build_structs
from deduce_spark.kernel.lookup import load_raw_itemsets
from deduce_spark.kernel.tokenize import Tokenizer

logger = logging.getLogger(__name__)

def _default_cache_dir() -> Path:
    """Repo-local data/cache when the package sits on a real filesystem;
    when shipped inside a --py-files zip, ``__file__`` points INTO the
    archive, so fall back to $DEDUCE_SPARK_CACHE or ~/.cache/deduce_spark."""
    import os

    env = os.environ.get("DEDUCE_SPARK_CACHE")
    if env:
        return Path(env)
    repo_local = Path(__file__).resolve().parent.parent.parent
    if repo_local.is_dir():
        return repo_local / "data" / "cache"
    return Path.home() / ".cache" / "deduce_spark"


_DEFAULT_CACHE_DIR = _default_cache_dir()
PINNED_STRUCTS = (
    Path(__file__).resolve().parent.parent.parent
    / "data" / "cache" / "lookup_structs_2ac432b4ec9e0f78.pkl"
)


def _has_sources(lookup_path: Optional[Path]) -> bool:
    return lookup_path is not None and (Path(lookup_path) / "src").is_dir()


@functools.lru_cache(maxsize=1)
def _pinned_structs() -> dict:
    """The tracked structures pickle, loaded once per process (~3 s) and
    shared, read-only, by every engine built without sources."""
    if not PINNED_STRUCTS.is_file():
        raise FileNotFoundError(
            f"no lookup sources given and the pinned lookup structures are "
            f"missing: {PINNED_STRUCTS}"
        )
    with open(PINNED_STRUCTS, "rb") as fh:
        return pickle.load(fh)


def source_digest(lookup_path: Path) -> str:
    """sha256 over every file under <lookup_path>/src (path + bytes).

    Raises FileNotFoundError when that directory is missing: hashing an
    empty file set would give every missing path the same cache key."""
    h = hashlib.sha256()
    h.update(__version__.encode())
    src = Path(lookup_path) / "src"
    if not src.is_dir():
        raise FileNotFoundError(f"lookup source directory not found: {src}")
    for f in sorted(p for p in src.rglob("*") if p.is_file()):
        h.update(str(f.relative_to(src)).encode())
        h.update(f.read_bytes())
    return h.hexdigest()[:16]


def get_structs(
    lookup_path: Optional[Path],
    tokenizer: Tokenizer,
    cache_dir: Optional[Path] = _DEFAULT_CACHE_DIR,
    rebuild: bool = False,
) -> dict:
    """Load (or build + cache) the full lookup-structure registry; the
    pinned structures when ``lookup_path`` holds no ``src/``."""
    if not _has_sources(lookup_path):
        return _pinned_structs()
    lookup_path = Path(lookup_path)
    cache_file = None
    if cache_dir is not None:
        cache_file = Path(cache_dir) / f"lookup_structs_{source_digest(lookup_path)}.pkl"
        if cache_file.exists() and not rebuild:
            with open(cache_file, "rb") as fh:
                return pickle.load(fh)

    logger.info("building lookup structures from %s (first run takes ~1 min)", lookup_path)
    raw = load_raw_itemsets(lookup_path, ALL_LISTS)
    structs = build_structs(raw, tokenizer)

    if cache_file is not None:
        cache_file.parent.mkdir(parents=True, exist_ok=True)
        tmp = cache_file.with_suffix(".tmp")
        with open(tmp, "wb") as fh:
            pickle.dump(structs, fh, protocol=pickle.HIGHEST_PROTOCOL)
        tmp.replace(cache_file)
    return structs


def build_tokenizer(lookup_path: Optional[Path]) -> Tokenizer:
    """Tokenizer whose merge phrases are the prefix + interfix items
    (reference _initialize_tokenizer, deduce/deduce.py:132-144); without
    ``src/`` they are the pinned structures' ``prefix`` and ``interfix``."""
    from deduce_spark.kernel.loaders import build_interfix, build_prefix

    if not _has_sources(lookup_path):
        ds = _pinned_structs()
        prefix, interfix = ds["prefix"], ds["interfix"]
    else:
        raw = load_raw_itemsets(
            Path(lookup_path), ["names/lst_interfix", "names/lst_prefix"]
        )
        prefix, interfix = build_prefix(raw), build_interfix(raw)
    return Tokenizer(merge_terms=list(prefix) + list(interfix))
