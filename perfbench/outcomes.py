"""Counts of attempted and failed operations and output checks."""

from __future__ import annotations

import traceback


class Outcomes:
    def __init__(self):
        self.attempted = 0
        self.failed = 0
        self.errors: list[str] = []

    def fail(self, where: str, detail: str | None = None) -> None:
        """Count a failure; without ``detail``, record the exception being
        handled with its traceback."""
        self.failed += 1
        self.errors.append(f"{where}: {detail or traceback.format_exc(limit=-4)}")
