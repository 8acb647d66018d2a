"""Token blocking — entities sharing a token land in the same block.

Reference: ``/root/reference/src/klinker/blockers/token_blocking.py:
42-165`` (``_tok_block`` per side ``:105-136``, join ``:162``; the
``/tmp`` parquet spill ``:160-161`` is debug residue, not replicated).

Plan shape per side: concat (one shuffle) → tokenize (codegen regex) →
``explode`` → hash-aggregate ``collect_set`` (second shuffle) → equi-join
on token.  Stop-token hot spots are the classic skew risk (SURVEY §7):
tokens hitting every entity produce quadratic blocks — mitigate with
``max_block_size`` (drops tokens whose per-side id-set exceeds the cap
*before* the join, cutting the shuffle) and/or ``purge()`` after.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..data.blocks import BlockManager
from ..data.frames import side_keys
from ..functions.text import tokenize
from .base import SchemaAgnosticBlocker

__all__ = ["TokenBlocker"]


class TokenBlocker(SchemaAgnosticBlocker):
    def __init__(
        self,
        min_token_length: int = 3,
        stopwords: list[str] | None = None,
        max_block_size: int | None = None,
        purge: bool = False,
        cc_round: int = 2,
    ):
        super().__init__(purge=purge, cc_round=cc_round)
        self.min_token_length = min_token_length
        self.stopwords = stopwords
        self.max_block_size = max_block_size

    def _tok_keys(self, frame: DataFrame) -> DataFrame:
        """(id, text) → distinct ``(block_key, id)`` token assignments;
        side-tagged ``(_s, id, text)`` → ``(_s, id, block_key)``, with
        the dedup and the ``max_block_size`` cap applied per side.

        ``tokenize``'s stopword ``array_except`` already dedups tokens
        per row and the input is one row per id, so the assignments are
        naturally distinct unless the stopword filter is disabled.

        The ``max_block_size`` skew cap is a ``groupBy`` count + an
        anti-join against the oversized keys — the same shape as
        ``minhash_lsh_dedup``'s ``max_bucket`` and for the same
        reason: a window ``count(*) over (partition by token)``
        funnels each hot token's ENTIRE assignment set through one
        task before dropping it, which is the very skew being capped.
        The groupBy's partial aggregation absorbs the hot key map-side
        (count rows, not id lists); the oversized-key table is usually
        tiny (≤ n_assignments / max_block_size rows) and AQE converts
        the anti-join to a broadcast when its runtime size confirms
        that — no static hint, so an aggressive cap on a huge corpus
        degrades to a shuffled anti-join instead of blowing the
        broadcast limit.  The capped assignments reach the downstream
        block join having never been shuffled on the hot key.  Cost:
        the token explode runs twice (count pass + probe pass) — a
        narrow codegen re-scan, cheaper at scale than shuffling the
        full assignment table with a funnel task in it.
        """
        by = side_keys(frame)
        toks = frame.select(
            *by,
            "id",
            F.explode(tokenize("text", self.min_token_length, self.stopwords)).alias(
                "block_key"
            ),
        ).where(F.col("block_key") != "")
        if self.stopwords is not None and len(self.stopwords) == 0:
            toks = toks.dropDuplicates([*by, "block_key", "id"])
        if self.max_block_size is not None:
            oversized = (
                toks.groupBy(*by, "block_key")
                .agg(F.count("*").alias("_n"))
                .where(F.col("_n") > self.max_block_size)
                .select(*by, "block_key")
            )
            # no broadcast HINT under AQE: the oversized-key set is
            # bounded by n_assignments / max_block_size, which an
            # aggressive cap on a large corpus can push past the
            # driver/broadcast limit.  AQE sees the
            # aggregated table's RUNTIME size and converts to
            # broadcast exactly when it is actually tiny; otherwise
            # the anti-join shuffles — correct at any cap, and the hot
            # key is still absorbed map-side by the groupBy's partial
            # aggregation.  On a USER-supplied session with AQE OFF
            # there is no runtime conversion: a plain anti-join plans
            # as a sort-merge join that shuffles the entire assignment
            # table on block_key — funneling the very hot keys this
            # cap exists to absorb — so the static hint comes back
            # there; such a caller owns the broadcast limit via their
            # cap choice.
            aqe_on = (
                str(
                    toks.sparkSession.conf.get("spark.sql.adaptive.enabled", "true")
                ).lower()
                == "true"
            )
            right = oversized if aqe_on else F.broadcast(oversized)
            toks = toks.join(right, [*by, "block_key"], "left_anti")
        return toks

    def _assign(
        self, left: DataFrame, right: DataFrame, left_name: str, right_name: str
    ) -> BlockManager:
        return BlockManager.from_key_assignments(
            self._tok_keys(left),
            self._tok_keys(right),
            left_name,
            right_name,
            assume_distinct=True,
        )
