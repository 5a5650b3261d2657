"""Cross-run output pins: the first run with a given key records its output
digests in ``.perfbench/digests.json``; every later run with the same key
(workload, seed, size) must reproduce them."""

from __future__ import annotations

import json
import os


def check_pinned(root: str, key: str, digests: dict) -> str | None:
    """Record or compare ``digests`` under ``key`` in the checkout at
    ``root``; return an error message when an earlier run recorded different
    ones."""
    path = os.path.join(root, ".perfbench", "digests.json")
    pinned = {}
    if os.path.exists(path):
        with open(path) as f:
            pinned = json.load(f)
    if key in pinned:
        if pinned[key] != digests:
            diff = sorted(k for k in digests if pinned[key].get(k) != digests[k])
            return f"digests of {key} differ from an earlier run in: {diff}"
        return None
    pinned[key] = digests
    os.makedirs(os.path.dirname(path), exist_ok=True)
    tmp = f"{path}.{os.getpid()}"
    with open(tmp, "w") as f:
        json.dump(pinned, f, indent=1, sort_keys=True)
    os.replace(tmp, path)
    return None
