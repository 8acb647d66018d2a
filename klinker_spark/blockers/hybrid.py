"""Named hybrid composite blockers — unique-name + token attr pass with
an EMBEDDING relation branch (E6).

Reference: ``/root/reference/src/klinker/blockers/hybrid.py:15-178``
(``CompositeRelationalDeepBlocker``, ``CompositeEmbeddingBlocker``,
``CompositeLightEABlocker``): dedicated classes so a reference user
can instantiate them by name with the same knobs.

All three parameterize the :class:`~.composite.CompositeUniqueNameBlocker`
flow — unique pass → drop covered → token blocking on attributes →
relation branch on the remainder → combine — swapping the relation
branch:

- ``CompositeEmbeddingBlocker``: any frame encoder over the
  neighbor-concatenated text, kNN block builder;
- ``CompositeRelationalDeepBlocker``: the DeepBlocker autoencoder
  encoder in the same slot;
- ``CompositeLightEABlocker``: the graph path — LightEA three-view
  propagation over the FULL relation graph (propagation needs every
  edge), embeddings of unique-covered entities dropped *after*
  encoding (``hybrid.py:154-168`` ``_filter_emb``), then kNN blocks.
"""

from __future__ import annotations

from pyspark.sql import DataFrame

from ..data.blocks import BlockManager
from ..data.frames import side_of, tag_sides
from .composite import CompositeUniqueNameBlocker
from .relation_aware import _branch_keys
from .token import TokenBlocker

# NOTE: ..embedding.* is imported lazily inside the constructors —
# embedding.blocker itself imports blockers.base, so a module-level
# import here would be circular via blockers/__init__.

__all__ = [
    "CompositeEmbeddingBlocker",
    "CompositeRelationalDeepBlocker",
    "CompositeLightEABlocker",
]


class CompositeEmbeddingBlocker(CompositeUniqueNameBlocker):
    """E6: embedding relation branch (``hybrid.py:87-115``)."""

    def __init__(
        self,
        frame_encoder=None,
        block_builder=None,
        attr_min_token_length: int = 3,
        top_n_a: int | None = None,
        top_n_r: int | None = None,
        use_unique_name: bool = True,
    ):
        from ..embedding.blocker import EmbeddingBlocker

        super().__init__(
            TokenBlocker(min_token_length=attr_min_token_length),
            EmbeddingBlocker(
                frame_encoder=frame_encoder, block_builder=block_builder
            ),
            top_n_a,
            top_n_r,
            use_unique_name,
        )


class _TwoSidedEncoderRelBranch:
    """Adapter slotting a two-sided ``fit_encode(left, right)`` encoder
    (the DeepBlocker family trains on both sides jointly,
    ``encoders/deepblocker.py:112-178``) into the composite's relation
    branch contract (``_assign`` over pre-concatenated frames)."""

    def __init__(self, frame_encoder, block_builder):
        self.frame_encoder = frame_encoder
        self.block_builder = block_builder

    def _assign(
        self,
        left_conc: DataFrame,
        right_conc: DataFrame,
        left_name: str,
        right_name: str,
    ) -> BlockManager:
        l_emb, r_emb = self.frame_encoder.fit_encode(left_conc, right_conc)
        return self.block_builder.build_blocks(l_emb, r_emb, left_name, right_name)


class CompositeRelationalDeepBlocker(CompositeUniqueNameBlocker):
    """E6: DeepBlocker autoencoder in the relation branch
    (``hybrid.py:15-84``)."""

    def __init__(
        self,
        out_dim: int = 8,
        in_dim: int = 32,
        k: int = 5,
        attr_min_token_length: int = 3,
        top_n_a: int | None = None,
        top_n_r: int | None = None,
        use_unique_name: bool = True,
    ):
        from ..embedding.blockbuilder import KNNBlockBuilder
        from ..encoders.deepblocker import AutoencoderFrameEncoder

        super().__init__(
            TokenBlocker(min_token_length=attr_min_token_length),
            _TwoSidedEncoderRelBranch(
                AutoencoderFrameEncoder(out_dim=out_dim, in_dim=in_dim),
                KNNBlockBuilder(k=k),
            ),
            top_n_a,
            top_n_r,
            use_unique_name,
        )


class CompositeLightEABlocker(CompositeUniqueNameBlocker):
    """E6 graph variant (``hybrid.py:117-178``): the relation branch
    encodes with LightEA three-view propagation over the full relation
    graph (``only_use_neighbor_info=True`` — hops only, no hop-0
    attribute features), drops unique-covered entities AFTER encoding,
    and kNN-blocks the remainder."""

    def __init__(
        self,
        depth: int = 2,
        dim: int = 16,
        k: int = 5,
        attr_min_token_length: int = 3,
        use_unique_name: bool = True,
        seed: int = 42,
    ):
        """No ``top_n_a``/``top_n_r`` knobs: those cap NEIGHBOR-TEXT
        concatenation, and this blocker's relation branch is graph
        propagation, not neighbor text — accepting them as silent
        no-ops would mislead (the reference's importance caps apply to
        its token branches only)."""
        from ..embedding.blockbuilder import KNNBlockBuilder
        from ..encoders.propagation import LightEAEncoder

        super().__init__(
            TokenBlocker(min_token_length=attr_min_token_length),
            # unused: _rel_input / _rel_keys below replace the relation
            # branch with the graph encoder + kNN build
            None,
            None,
            None,
            use_unique_name,
        )
        self._encoder = LightEAEncoder(
            depth=depth, dim=dim, seed=seed, include_initial=False
        )
        self._builder = KNNBlockBuilder(k=k)

    def _rel_input(self, attrs: DataFrame, rels: DataFrame, own_text: DataFrame) -> DataFrame:
        """Side-tagged embeddings from propagation over each side's full
        relation graph; the composite flow drops unique-covered ids
        afterwards."""
        return tag_sides(
            *(self._encoder.encode(side_of(own_text, s), side_of(rels, s)) for s in (0, 1))
        )

    def _rel_keys(self, rel_input: DataFrame, names: tuple[str, str]) -> DataFrame:
        return _branch_keys(self._builder.build_blocks, rel_input, names)
