"""Blocker base contracts.

Reference: ``/root/reference/src/klinker/blockers/base.py:9-88`` —
``Blocker.assign(left, right, left_rel?, right_rel?) → blocks`` (E1) and
``SchemaAgnosticBlocker`` which first collapses each entity to one text
blob via ``concat_values`` (E2), then dispatches to ``_assign``.
"""

from __future__ import annotations

import abc

from pyspark.sql import DataFrame

from ..data.blocks import BlockManager
from ..data.frames import EntityFrame

__all__ = ["Blocker", "SchemaAgnosticBlocker"]


class Blocker(abc.ABC):
    """(left, right[, left_rel, right_rel]) → BlockManager (E1)."""

    @abc.abstractmethod
    def assign(
        self,
        left: EntityFrame,
        right: EntityFrame,
        left_rel: DataFrame | None = None,
        right_rel: DataFrame | None = None,
    ) -> BlockManager:
        ...


class SchemaAgnosticBlocker(Blocker):
    """Concat each side's values to ``(id, text)`` then ``_assign`` (E2).

    ``purge=True`` runs the cumulative-CC purge (W2,
    ``BlockManager.purge``) on the result — the skew guardrail SCALE.md
    advises before any array materialization on corpora with hot keys.
    Off by default to mirror the reference, where purging is an
    explicit post-hoc call (``blocks.py:172-244``).
    """

    def __init__(self, purge: bool = False, cc_round: int = 2):
        self._purge = purge
        self._cc_round = cc_round

    def assign(
        self,
        left: EntityFrame,
        right: EntityFrame,
        left_rel: DataFrame | None = None,
        right_rel: DataFrame | None = None,
    ) -> BlockManager:
        return self.assign_text(
            left.concat_values(), right.concat_values(), left.name, right.name
        )

    def assign_text(
        self, left: DataFrame, right: DataFrame, left_name: str, right_name: str
    ) -> BlockManager:
        """:meth:`_assign` on ready ``(id, text)`` frames, then the
        optional purge — for callers that already hold the concat."""
        bm = self._assign(left, right, left_name, right_name)
        if getattr(self, "_purge", False):
            bm = bm.purge(cc_round=self._cc_round)
        return bm

    @abc.abstractmethod
    def _assign(
        self, left: DataFrame, right: DataFrame, left_name: str, right_name: str
    ) -> BlockManager:
        """``left``/``right``: ``(id, text)`` concat frames."""
        ...
