"""Pipeline configuration loading.

The pipeline spec (annotator definitions, overlap strategy, slack regexp,
redactor chars) is the same JSON document format the reference uses
(deduce/deduce.py:96-123; deep-merge semantics deduce/utils.py:75-88,
pinned by tests/unit/test_utils.py:74-93).  The base document is
``base_config.json`` next to this module; the ``DEDUCE_SPARK_CONFIG`` env
var names another one, and a user config (path or dict) is merged on top.

The lookup sources are a directory in the reference layout
(``<dir>/src/...``) named by ``DEDUCE_SPARK_LOOKUP``; unset, the engine
loads the pinned lookup structures tracked under ``data/cache`` (see
``kernel.structs``).
"""

from __future__ import annotations

import json
import os
from pathlib import Path
from typing import Any, Optional, Union

DEFAULT_CONFIG_PATH = Path(
    os.environ.get("DEDUCE_SPARK_CONFIG", Path(__file__).with_name("base_config.json"))
)
_LOOKUP_ENV = os.environ.get("DEDUCE_SPARK_LOOKUP")
# None = no lookup sources: the pinned structures pickle
DEFAULT_LOOKUP_PATH: Optional[Path] = Path(_LOOKUP_ENV) if _LOOKUP_ENV else None


def deep_merge(base: dict, add: dict) -> dict:
    """Overwrite ``base`` with ``add``, recursing into nested dicts."""
    for key, value in add.items():
        if isinstance(value, dict):
            base[key] = deep_merge(base.get(key, {}), value)
        else:
            base[key] = value
    return base


def load_config(
    user_config: Optional[Union[str, Path, dict]] = None,
    load_base_config: bool = True,
    base_config_path: Union[str, Path] = DEFAULT_CONFIG_PATH,
) -> dict[str, Any]:
    config: dict[str, Any] = {}
    if load_base_config:
        with open(base_config_path, "r", encoding="utf-8") as fh:
            deep_merge(config, json.load(fh))
    if user_config is not None:
        if isinstance(user_config, (str, Path)):
            with open(user_config, "r", encoding="utf-8") as fh:
                user_config = json.load(fh)
        deep_merge(config, user_config)
    return config
