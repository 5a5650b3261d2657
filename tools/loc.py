"""Code-line counter for the library: per-module and total counts of the
lines under ``biz_crawlers_spark/`` that are neither blank nor a ``#``
comment (docstrings count). This is the figure every LOC claim in
CHANGES.md uses.

    python tools/loc.py            # one "<lines>  <module>" row per module, then the total
"""

from __future__ import annotations

import os

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def code_lines(path: str) -> int:
    with open(path, encoding="utf-8") as f:
        return sum(1 for line in f if line.strip() and not line.strip().startswith("#"))


def count(pkg: str = os.path.join(ROOT, "biz_crawlers_spark")) -> dict[str, int]:
    """Code lines per ``.py`` module, keyed by its path relative to the repo."""
    out = {}
    for dirpath, dirnames, filenames in os.walk(pkg):
        dirnames[:] = sorted(d for d in dirnames if d != "__pycache__")
        for fn in sorted(filenames):
            if fn.endswith(".py"):
                path = os.path.join(dirpath, fn)
                out[os.path.relpath(path, ROOT)] = code_lines(path)
    return out


def main() -> int:
    per = count()
    for mod, n in per.items():
        print(f"{n:6d}  {mod}")
    total = sum(per.values())
    print(f"{total:6d}  total")
    return total


if __name__ == "__main__":
    main()
