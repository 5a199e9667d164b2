"""M12 — cached-baseline protocol: compute-once JSON memo + DataFrame
cache (reference: augmentation_evaluator.py:112-127 memoizes the
baseline MAE in a JSON file keyed by config; ga_optimizer.py:515-535
reuses it across the whole GA run so the expensive baseline trains
once).

The memo key should capture every input that affects the value — the
reference uses the config dict; callers here pass an explicit key.
The file goes through the artifact store's JSON reader and atomic
writer (functions/memo.py), and follows its policy: a missing, corrupt
or non-dict file reads as empty, and a failed write still returns the
computed value.
"""

from __future__ import annotations

import contextlib
import os
from collections.abc import Callable

from ..functions.memo import read_json, write_json


def json_memo(path: str, key: str, compute: Callable[[], dict]) -> dict:
    """Return memo[key], computing and persisting it on first use."""
    memo = read_json(path)
    if not isinstance(memo, dict):
        memo = {}
    if key in memo:
        return memo[key]
    value = compute()
    memo[key] = value
    with contextlib.suppress(OSError):
        os.makedirs(os.path.dirname(path) or ".", exist_ok=True)
    write_json(path, memo)
    return value
