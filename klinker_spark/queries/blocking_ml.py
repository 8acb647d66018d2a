"""Query registrations: blocking_ml family (split from the original single-file registry; registration order preserved by package import order in __init__)."""
from __future__ import annotations
from .. import ckpt
from ._core import BlockManager, EntityFrame, F, TokenBlocker, UniqueNameBlocker, _STOP_SQL, _cust_frame, _explode_blocks, _supp_frame, _t, brute_force_topk, load_events, melt, quality_score, register
from .relational import _TOKENS_SQL
from .ann import _md5_component_sql

# ------------------------------------------------------------------ embedding blocking + multimodal (rows-only)
@register("embedding_knn_blocking")
def embedding_knn_blocking(spark, sf_dir):
    """M1+J8: HashingWordEmbedder encodes concat_values, exact kNN
    block-build (xxhash-derived vectors → rows-only check)."""
    from ..embedding.blockbuilder import KNNBlockBuilder
    from ..embedding.blocker import EmbeddingBlocker

    blocker = EmbeddingBlocker(block_builder=KNNBlockBuilder(k=3))
    bm = blocker.assign(_cust_frame(spark, sf_dir), _supp_frame(spark, sf_dir))
    return bm.df.select("block_key", F.explode(F.col(bm.right_name)).alias("right_id"))


@register(
    "multimodal_features",
    """
    SELECT doc_id AS media_id, 'image' AS media_type,
           round((("""
    + " + ".join(
        f"(CASE WHEN length(text) >= {j + 1} "
        f"THEN ord(substr(text, {j + 1}, 1)) ELSE 0 END)::HUGEINT * {256 ** j}"
        for j in range(8)
    )
    + """) % 1000) / 1000.0, 6) AS f0
    FROM documents WHERE octet_length(encode(text)) = length(text)
    """,
)
def multimodal_features(spark, sf_dir):
    """Multimodal plumbing: documents' text bytes as opaque payloads →
    Arrow-batched mapInPandas feature extraction.  The decode kernel is
    the deterministic hash stub (first 8 payload bytes, little-endian,
    zero-padded), which IS expressible in SQL.  Both sides restrict to
    ASCII docs (octet_length == char length — currently all of them)
    because SQL's ord() sees code points, not bytes; the oracle
    zero-pads short strings exactly like the kernel, so the check stays
    exact if future testdata gains short or non-ASCII rows."""
    from ..ops.multimodal import extract_features, pack_media

    docs = _t(spark, sf_dir, "documents").where(
        F.octet_length(F.col("text")) == F.length(F.col("text"))  # ASCII-only
    )
    media = pack_media(
        docs.select("doc_id", F.encode("text", "utf-8").alias("payload")),
        "doc_id",
        "payload",
        "image",
    )
    feats = extract_features(media, dim=8)
    # widen the float32 feature to double BEFORE rounding: round() on a
    # float32 keeps float32 (0.123f widens to 0.12300000339…), while the
    # oracle computes in double — 6dp rounding of the widened value
    # recovers the exact k/1000 double on both engines
    return feats.select(
        "media_id",
        "media_type",
        F.round(F.element_at("features", 1).cast("double"), 6).alias("f0"),
    )


@register(
    "multimodal_resize_features",
    """
    SELECT doc_id AS media_id,
           least(length(text), 4)::BIGINT AS n_bytes,
           round((("""
    + " + ".join(
        f"(CASE WHEN length(text) >= {j + 1} "
        f"THEN ord(substr(text, {j + 1}, 1)) ELSE 0 END)::HUGEINT * {256 ** j}"
        for j in range(4)
    )
    + """) % 1000) / 1000.0, 6) AS f0
    FROM documents WHERE octet_length(encode(text)) = length(text)
    """,
)
def multimodal_resize_features(spark, sf_dir):
    """resize_media → extract_features composition under an exact
    oracle: payloads truncated to 4 bytes, so the stub's 8-byte window
    sees exactly 4 real bytes + zero padding — the oracle's 4-term byte
    polynomial reproduces f0 iff the resize stage actually ran."""
    from ..ops.multimodal import extract_features, pack_media, resize_media

    docs = _t(spark, sf_dir, "documents").where(
        F.octet_length(F.col("text")) == F.length(F.col("text"))  # ASCII-only
    )
    media = pack_media(
        docs.select("doc_id", F.encode("text", "utf-8").alias("payload")),
        "doc_id",
        "payload",
        "image",
    )
    resized = resize_media(media, target_bytes=4)
    feats = extract_features(resized, dim=8)
    sizes = resized.select("media_id", "n_bytes")
    # cast-then-round: see multimodal_features (float32 vs double)
    return feats.join(sizes, "media_id").select(
        "media_id",
        "n_bytes",
        F.round(F.element_at("features", 1).cast("double"), 6).alias("f0"),
    )


# ------------------------------------------------------------------ graph stats, sessions, composite, propagation
@register(
    "graph_statistics",
    """
    WITH rels AS (SELECT CAST(l_orderkey AS VARCHAR) head, l_returnflag rel,
                         CAST(l_partkey AS VARCHAR) tail FROM lineitem),
         n AS (SELECT count(*) c FROM (SELECT head e FROM rels UNION SELECT tail FROM rels)),
         per AS (SELECT rel,
                        count(DISTINCT (head, tail)) n_pairs,
                        count(DISTINCT head) n_subjects,
                        count(DISTINCT tail) n_objects
                 FROM rels GROUP BY rel)
    SELECT rel, n_pairs, n_subjects, n_objects,
           round(2 * ((n_pairs / (c*c*1.0)) * (n_objects*1.0/n_pairs))
                   / ((n_pairs / (c*c*1.0)) + (n_objects*1.0/n_pairs)), 6) AS importance
    FROM per, n
    """,
)
def graph_statistics_q(spark, sf_dir):
    """A11: distinct-pair relation statistics on lineitem edges."""
    from ..blockers.relation_aware import graph_statistics

    rels = _t(spark, sf_dir, "lineitem").select(
        F.col("l_orderkey").cast("string").alias("head"),
        F.col("l_returnflag").alias("rel"),
        F.col("l_partkey").cast("string").alias("tail"),
    )
    return graph_statistics(rels).withColumn("importance", F.round("importance", 6))


@register(
    "attribution_interval_join",
    """
    WITH l AS (SELECT user_id AS key, event_id AS left_id, ts AS lts
               FROM events WHERE event_type = 'click'),
    r AS (SELECT user_id AS key, event_id AS right_id, ts AS rts
          FROM events WHERE event_type = 'purchase')
    SELECT l.key, l.left_id, r.right_id,
           CAST(floor((epoch_us(r.rts) - epoch_us(l.lts)) / 1000) AS BIGINT)
             AS lag_ms
    FROM l JOIN r ON l.key = r.key
     AND r.rts >= l.lts
     AND r.rts <= l.lts + INTERVAL 300 SECONDS
    """,
)
def attribution_interval_join_q(spark, sf_dir):
    """Stream-stream interval join, batch form: every purchase within
    5 minutes after a click by the same user, with the event-time lag.
    On unbounded inputs the identical builder runs as a watermarked
    Structured Streaming stream-stream join (state bounded by
    watermark + horizon); the batch plan is the same condition as a
    range join, value-checked here."""
    from ..streaming.join import stream_interval_join

    ev = _t(spark, sf_dir, "events")
    return stream_interval_join(
        ev.where(F.col("event_type") == "click"),
        ev.where(F.col("event_type") == "purchase"),
        horizon="5 minutes",
    )


@register(
    "sessionize_events",
    """
    WITH e AS (SELECT user_id, epoch_ms(ts) ts_ms FROM events),
    flagged AS (
      SELECT user_id, ts_ms,
             CASE WHEN ts_ms - lag(ts_ms) OVER (PARTITION BY user_id ORDER BY ts_ms)
                       >= 1800000 THEN 1 ELSE 0 END new_sess
      FROM e),
    sess AS (SELECT user_id, ts_ms,
                    sum(new_sess) OVER (PARTITION BY user_id ORDER BY ts_ms
                                        ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) sid
             FROM flagged)
    SELECT user_id, min(ts_ms) AS session_start_ms, max(ts_ms) AS session_end_ms,
           count(*) AS n_events
    FROM sess GROUP BY user_id, sid
    """,
)
def sessionize_events(spark, sf_dir):
    """Session windows (gap 30 min) — batch gaps-and-islands form of the
    streaming session_window op (net-new vs the batch-only reference)."""
    from ..data.io import load_events
    from ..streaming.sessions import sessionize

    return sessionize(load_events(spark, sf_dir), gap="30 minutes")


_COMPOSITE_SQL = """
    WITH l AS (SELECT CAST(o_custkey AS VARCHAR) block_key,
                      CAST(min(o_orderkey) AS VARCHAR) uid
               FROM orders GROUP BY o_custkey HAVING count(DISTINCT o_orderkey) = 1),
         uniq AS (SELECT l.block_key, l.uid left_id, CAST(c_custkey AS VARCHAR) right_id
                  FROM l JOIN customer ON l.block_key = CAST(c_custkey AS VARCHAR)),
         lcov AS (SELECT DISTINCT left_id id FROM uniq),
         rcov AS (SELECT DISTINCT right_id id FROM uniq),
         lt AS (SELECT DISTINCT CAST(o_orderkey AS VARCHAR) id, tok FROM (
             SELECT o_orderkey, unnest(regexp_split_to_array(lower(o_orderpriority), '[^a-z0-9]+')) tok
             FROM orders)
           WHERE length(tok) >= 3 AND tok NOT IN ({stop})
             AND CAST(o_orderkey AS VARCHAR) NOT IN (SELECT id FROM lcov)),
         rt AS (SELECT DISTINCT CAST(c_custkey AS VARCHAR) id, tok FROM (
             SELECT c_custkey, unnest(regexp_split_to_array(lower(c_mktsegment), '[^a-z0-9]+')) tok
             FROM customer)
           WHERE length(tok) >= 3 AND tok NOT IN ({stop})
             AND CAST(c_custkey AS VARCHAR) NOT IN (SELECT id FROM rcov))
    SELECT block_key, left_id, right_id FROM uniq
    UNION
    SELECT lt.tok, lt.id, rt.id FROM lt JOIN rt ON lt.tok = rt.tok
"""


@register(
    "composite_unique_name_blocking",
    _COMPOSITE_SQL.format(stop=_STOP_SQL),
)
def composite_unique_name_blocking(spark, sf_dir):
    """E5: unique-name pass → drop covered entities → token blocker
    on the remainder → combine.  Left = orders (attr: priority, unique
    key: custkey ref), right = customers (attr: mktsegment, key:
    custkey).  The relation branch is disabled (attr-only composite) so
    the oracle stays tractable; the full relational branch is covered by
    relational_token_blocking."""
    from ..blockers.composite import filter_with_unique as fwu
    from ..blockers.composite import unique_name_blocks
    from ..blockers.token import TokenBlocker

    orders = _t(spark, sf_dir, "orders")
    cust = _t(spark, sf_dir, "customer")
    left_u = EntityFrame.from_triples(
        orders.select(
            F.col("o_orderkey").alias("head"),
            F.lit("custkey").alias("rel"),
            F.col("o_custkey").alias("tail"),
        ),
        "orders",
    )
    right_u = EntityFrame.from_triples(
        cust.select(
            F.col("c_custkey").alias("head"),
            F.lit("custkey").alias("rel"),
            F.col("c_custkey").alias("tail"),
        ),
        "customer",
    )
    unique = unique_name_blocks(left_u, right_u)

    left_t = EntityFrame(
        fwu(
            melt(
                orders.select(F.col("o_orderkey").cast("string").alias("id"), "o_orderpriority"),
                "id",
            ),
            unique,
            "orders",
        ),
        "orders",
    )
    right_t = EntityFrame(
        fwu(
            melt(
                cust.select(F.col("c_custkey").cast("string").alias("id"), "c_mktsegment"), "id"
            ),
            unique,
            "customer",
        ),
        "customer",
    )
    rest = TokenBlocker().assign(left_t, right_t)
    combined = BlockManager.combine_all([unique, rest])
    # pairs are already distinct structurally: combine produces one row
    # per block_key with SET-valued arrays, so explode² can't duplicate —
    # a final .distinct() would re-shuffle the full (quadratic) pair set
    return _explode_blocks(combined)


_COMPOSITE_REL_SQL = """
    WITH lattr AS (
      SELECT 'c' || CAST(c_custkey AS VARCHAR) id, c_mktsegment v FROM customer
      UNION ALL
      SELECT 'n' || CAST(n_nationkey AS VARCHAR), replace(n_name, '_', '')  FROM nation),
    rattr AS (
      SELECT 's' || CAST(s_suppkey AS VARCHAR) id, s_name v FROM supplier
      UNION ALL
      SELECT 'n' || CAST(n_nationkey AS VARCHAR), replace(n_name, '_', '')  FROM nation),
    lu AS (SELECT v block_key, max(id) id FROM lattr WHERE v IS NOT NULL
           GROUP BY v HAVING count(DISTINCT id) = 1),
    ru AS (SELECT v block_key, max(id) id FROM rattr WHERE v IS NOT NULL
           GROUP BY v HAVING count(DISTINCT id) = 1),
    uniq AS (SELECT lu.block_key, lu.id left_id, ru.id right_id
             FROM lu JOIN ru USING (block_key)),
    lcov AS (SELECT DISTINCT left_id id FROM uniq),
    rcov AS (SELECT DISTINCT right_id id FROM uniq),
    lat AS (SELECT DISTINCT id, tok FROM (
        SELECT id, unnest(regexp_split_to_array(lower(v), '[^a-z0-9]+')) tok FROM lattr
        WHERE id NOT IN (SELECT id FROM lcov))
      WHERE length(tok) >= 3 AND tok NOT IN ({stop})),
    rat AS (SELECT DISTINCT id, tok FROM (
        SELECT id, unnest(regexp_split_to_array(lower(v), '[^a-z0-9]+')) tok FROM rattr
        WHERE id NOT IN (SELECT id FROM rcov))
      WHERE length(tok) >= 3 AND tok NOT IN ({stop})),
    lrel AS (SELECT DISTINCT id, tok FROM (
        SELECT id, unnest(regexp_split_to_array(lower(v), '[^a-z0-9]+')) tok FROM (
          SELECT 'c' || CAST(c_custkey AS VARCHAR) id, c_mktsegment v FROM customer
          UNION ALL
          SELECT 'c' || CAST(c_custkey AS VARCHAR), replace(n_name, '_', '') 
          FROM customer JOIN nation ON c_nationkey = n_nationkey)
        WHERE id NOT IN (SELECT id FROM lcov))
      WHERE length(tok) >= 3 AND tok NOT IN ({stop})),
    rrel AS (SELECT DISTINCT id, tok FROM (
        SELECT id, unnest(regexp_split_to_array(lower(v), '[^a-z0-9]+')) tok FROM (
          SELECT 's' || CAST(s_suppkey AS VARCHAR) id, s_name v FROM supplier
          UNION ALL
          SELECT 's' || CAST(s_suppkey AS VARCHAR), replace(n_name, '_', '') 
          FROM supplier JOIN nation ON s_nationkey = n_nationkey)
        WHERE id NOT IN (SELECT id FROM rcov))
      WHERE length(tok) >= 3 AND tok NOT IN ({stop})),
    la AS (SELECT block_key, left_id FROM uniq
           UNION SELECT tok, id FROM lat
           UNION SELECT tok, id FROM lrel),
    ra AS (SELECT block_key, right_id FROM uniq
           UNION SELECT tok, id FROM rat
           UNION SELECT tok, id FROM rrel)
    SELECT DISTINCT la.block_key, la.left_id, ra.right_id
    FROM la JOIN ra USING (block_key)
"""


@register(
    "composite_relational_blocking",
    _COMPOSITE_REL_SQL.format(stop=_STOP_SQL),
)
def composite_relational_blocking(spark, sf_dir):
    """E4/E5/E6: the FULL CompositeRelationalTokenBlocker flow —
    unique-name pass (nations, the only values unique on both sides) →
    drop covered entities → token blocker on remaining attrs →
    token blocker on neighbor-concat text of the remainder → one
    key-level combine.  The oracle models combine exactly: per-side
    assignment sets unioned per block_key across the three branches,
    then the per-key cross product (a key hit by several branches pairs
    the *union* of its members, not the union of per-branch pairs)."""
    from ..blockers.composite import CompositeRelationalTokenBlocker

    bm = CompositeRelationalTokenBlocker().assign(*composite_relational_inputs(spark, sf_dir))
    # no .distinct(): combine output has unique keys + set arrays, so the
    # exploded pairs are distinct already (asserted by the oracle hash);
    # re-distincting would shuffle the full quadratic pair set once more
    return _explode_blocks(bm)


def composite_relational_inputs(spark, sf_dir):
    """``(left, right, left_rel, right_rel)`` of
    :func:`composite_relational_blocking`: customer segments and
    supplier names, each side plus the nation names, and one
    ``in_nation`` edge per customer / supplier."""
    cust = _t(spark, sf_dir, "customer")
    supp = _t(spark, sf_dir, "supplier")
    nat = _t(spark, sf_dir, "nation")
    # underscore stripped so the synthetic names (NATION_7) tokenize to
    # one discriminative token per nation instead of the shared token
    # 'nation' (which would make one block the full cross product)
    nat_name = F.regexp_replace(F.col("n_name"), "_", "").alias("n_name")
    nat_attrs = melt(
        nat.select(F.concat(F.lit("n"), F.col("n_nationkey")).alias("id"), nat_name), "id"
    )
    left = EntityFrame(
        melt(
            cust.select(F.concat(F.lit("c"), F.col("c_custkey")).alias("id"), "c_mktsegment"),
            "id",
        ).unionByName(nat_attrs),
        "customer",
    )
    right = EntityFrame(
        melt(
            supp.select(F.concat(F.lit("s"), F.col("s_suppkey")).alias("id"), "s_name"), "id"
        ).unionByName(nat_attrs),
        "supplier",
    )
    left_rel = cust.select(
        F.concat(F.lit("c"), F.col("c_custkey")).alias("head"),
        F.lit("in_nation").alias("rel"),
        F.concat(F.lit("n"), F.col("c_nationkey")).alias("tail"),
    )
    right_rel = supp.select(
        F.concat(F.lit("s"), F.col("s_suppkey")).alias("head"),
        F.lit("in_nation").alias("rel"),
        F.concat(F.lit("n"), F.col("s_nationkey")).alias("tail"),
    )
    return left, right, left_rel, right_rel


@register("gcn_embedding_blocking")
def gcn_embedding_blocking(spark, sf_dir):
    """M9-M11: untrained GCN propagation over the customer↔nation KG,
    kNN block build on the propagated embeddings (hash-derived init →
    rows-only check; invariants in tests/test_propagation.py)."""
    from ..embedding.blockbuilder import KNNBlockBuilder
    from ..encoders.propagation import GCNFrameEncoder

    # partition-preserving subset (a global .limit() would funnel the
    # whole side through one partition before the encoder)
    cust = _t(spark, sf_dir, "customer").where(F.col("c_custkey") < 500)
    supp = _t(spark, sf_dir, "supplier")
    nat = _t(spark, sf_dir, "nation")
    enc = GCNFrameEncoder(depth=2, dim=16)

    def side(df, key, name_col, nk, pfx):
        conc = df.select(
            F.concat(F.lit(pfx), F.col(key)).alias("id"), F.col(name_col).alias("text")
        )
        rels = df.select(
            F.concat(F.lit(pfx), F.col(key)).alias("head"),
            F.lit("in_nation").alias("rel"),
            F.concat(F.lit("n"), F.col(nk)).alias("tail"),
        )
        return enc.encode(conc, rels)

    left_emb = side(cust, "c_custkey", "c_mktsegment", "c_nationkey", "c")
    right_emb = side(supp, "s_suppkey", "s_name", "s_nationkey", "s")
    bm = KNNBlockBuilder(k=3).build_blocks(left_emb, right_emb, "customer", "supplier")
    return bm.df.select("block_key", F.explode(F.col("supplier")).alias("right_id"))


_SIF_MD5_SQL = (
    _TOKENS_SQL
    + """
    , freq AS (SELECT tok, count(*) f FROM lt GROUP BY tok),
    tot AS (SELECT count(*) t FROM lt),
    w AS (SELECT tok, 0.001 / (0.001 + f / (SELECT t FROM tot)) wt FROM freq),
    dims AS (SELECT unnest(generate_series(0, 7)) d),
    emb AS (SELECT id, d,
                   sum(wt * (CASE d {tok_case} END)) / sum(wt) v
            FROM lt JOIN w USING (tok) CROSS JOIN dims
            GROUP BY id, d)
    SELECT id, d AS dim, round(v, 6) AS val FROM emb
    """
)


@register(
    "sif_embedding_md5",
    _SIF_MD5_SQL.format(
        stop=_STOP_SQL,
        tok_case=" ".join(f"WHEN {d} THEN {_md5_component_sql(d)}" for d in range(8)),
    ),
)
def sif_embedding_md5_q(spark, sf_dir):
    """M2/A6 under an exact oracle: SIF-weighted hash embeddings in md5
    mode — corpus token frequencies → weights a/(a+freq/total) →
    weighted mean pooling, every component value-checked (long output,
    customer side)."""
    from ..encoders.hashing import SIFHashingWordEmbedder

    emb = SIFHashingWordEmbedder(dim=8, hash_fn="md5").encode(
        _cust_frame(spark, sf_dir).concat_values()
    )
    return emb.select("id", F.posexplode("vector").alias("dim", "val")).withColumn(
        "val", F.round("val", 6)
    )


_GCN_MD5_SQL = """
    WITH conc AS (SELECT 'c' || CAST(c_custkey AS VARCHAR) id, c_mktsegment AS txt
                  FROM customer WHERE c_custkey < 500),
    rels AS (SELECT 'c' || CAST(c_custkey AS VARCHAR) head,
                    'n' || CAST(c_nationkey AS VARCHAR) tail
             FROM customer WHERE c_custkey < 500),
    toks AS (SELECT DISTINCT id, tok FROM (
               SELECT id, unnest(regexp_split_to_array(lower(txt), '[^a-z0-9]+')) tok
               FROM conc)
             WHERE length(tok) >= 3 AND tok NOT IN ({stop})),
    dims AS (SELECT unnest(generate_series(0, 7)) d),
    att AS (SELECT id, d, avg(CASE d {tok_case} END) v
            FROM toks CROSS JOIN dims GROUP BY id, d),
    ids AS (SELECT id FROM conc UNION SELECT head FROM rels UNION SELECT tail FROM rels),
    nodes AS (SELECT head id FROM rels UNION SELECT tail FROM rels),
    und AS (SELECT head, tail FROM rels
            UNION ALL SELECT tail, head FROM rels
            UNION ALL SELECT id, id FROM nodes),
    deg AS (SELECT head, count(*) deg FROM und GROUP BY head),
    e AS (SELECT und.head, und.tail, 1.0 / sqrt(dh.deg * dt.deg) w
          FROM und JOIN deg dh ON dh.head = und.head
                   JOIN deg dt ON dt.head = und.tail),
    f0 AS (SELECT ids.id, dims.d,
                  coalesce(att.v, CASE dims.d {id_case} END) val
           FROM ids CROSS JOIN dims
           LEFT JOIN att ON att.id = ids.id AND att.d = dims.d),
    h1 AS (SELECT e.head id, f.d, sum(f.val * e.w) val
           FROM e JOIN f0 f ON f.id = e.tail GROUP BY 1, 2),
    h2 AS (SELECT e.head id, f.d, sum(f.val * e.w) val
           FROM e JOIN h1 f ON f.id = e.tail GROUP BY 1, 2)
    SELECT id, d AS dim, round(val, 6) AS val FROM h2
"""


@register(
    "gcn_propagation_md5",
    _GCN_MD5_SQL.format(
        stop=_STOP_SQL,
        tok_case=" ".join(f"WHEN {d} THEN {_md5_component_sql(d)}" for d in range(8)),
        id_case=" ".join(
            f"WHEN {d} THEN {_md5_component_sql(d, 'ids.id')}" for d in range(8)
        ),
    ),
)
def gcn_propagation_md5_q(spark, sf_dir):
    """M9-M11 under an exact oracle: md5-mode GCN — attribute hash
    embeddings + md5 init fill (M10) + two gcn-normalized hops over the
    customer→nation edge list, every propagated component value-checked
    against DuckDB (long output, no array cells)."""
    from ..encoders.propagation import GCNFrameEncoder

    cust = _t(spark, sf_dir, "customer").where(F.col("c_custkey") < 500)
    conc = cust.select(
        F.concat(F.lit("c"), F.col("c_custkey")).alias("id"),
        F.col("c_mktsegment").alias("text"),
    )
    rels = cust.select(
        F.concat(F.lit("c"), F.col("c_custkey")).alias("head"),
        F.lit("in_nation").alias("rel"),
        F.concat(F.lit("n"), F.col("c_nationkey")).alias("tail"),
    )
    emb = GCNFrameEncoder(depth=2, dim=8, hash_fn="md5").encode(conc, rels)
    return emb.select(
        "id", F.posexplode("vector").alias("dim", "val")
    ).withColumn("val", F.round("val", 6))


_LIGHTEA_MD5_SQL = """
    WITH conc AS (SELECT 'c' || CAST(c_custkey AS VARCHAR) id, c_mktsegment AS txt
                  FROM customer WHERE c_custkey < 500),
    rels AS (SELECT 'c' || CAST(c_custkey AS VARCHAR) head,
                    'n' || CAST(c_nationkey AS VARCHAR) tail
             FROM customer WHERE c_custkey < 500),
    toks AS (SELECT DISTINCT id, tok FROM (
               SELECT id, unnest(regexp_split_to_array(lower(txt), '[^a-z0-9]+')) tok
               FROM conc)
             WHERE length(tok) >= 3 AND tok NOT IN ({stop})),
    dims AS (SELECT unnest(generate_series(0, 7)) d),
    att AS (SELECT id, d, avg(CASE d {tok_case} END) v
            FROM toks CROSS JOIN dims GROUP BY id, d),
    ids AS (SELECT id FROM conc UNION SELECT head FROM rels UNION SELECT tail FROM rels),
    trip AS (SELECT DISTINCT head h, tail t, 'in_nation>' r FROM rels
             UNION SELECT DISTINCT tail h, head t, 'in_nation<' r FROM rels),
    ee AS (SELECT src, dst, CAST(count(*) AS DOUBLE) w FROM (
             SELECT h src, t dst FROM trip
             UNION ALL SELECT h, h FROM trip
             UNION ALL SELECT t, t FROM trip) GROUP BY src, dst),
    rel_ent AS (SELECT DISTINCT r, h id FROM trip),
    ent_rel AS (SELECT DISTINCT t id, r FROM trip),
    f0 AS (SELECT ids.id, dims.d,
                  coalesce(att.v, CASE dims.d {id_case} END) val
           FROM ids CROSS JOIN dims
           LEFT JOIN att ON att.id = ids.id AND att.d = dims.d),
    r1u AS (SELECT re.r, f.d, sum(f.val) val
            FROM rel_ent re JOIN f0 f ON f.id = re.id GROUP BY re.r, f.d),
    r1n AS (SELECT r, sqrt(sum(val * val)) + 1e-8 nn FROM r1u GROUP BY r),
    r1 AS (SELECT r1u.r, d, val / nn val FROM r1u JOIN r1n USING (r)),
    e1u AS (SELECT ee.src id, f.d, sum(ee.w * f.val) val
            FROM ee JOIN f0 f ON f.id = ee.dst GROUP BY ee.src, f.d),
    e1n AS (SELECT id, sqrt(sum(val * val)) + 1e-8 nn FROM e1u GROUP BY id),
    h1 AS (SELECT e1u.id, d, val / nn val FROM e1u JOIN e1n USING (id)),
    e2a AS (SELECT ee.src id, f.d, sum(ee.w * f.val) val
            FROM ee JOIN h1 f ON f.id = ee.dst GROUP BY ee.src, f.d),
    e2b AS (SELECT er.id, r1.d, sum(r1.val) val
            FROM ent_rel er JOIN r1 ON r1.r = er.r GROUP BY er.id, r1.d),
    e2u AS (SELECT id, d, sum(val) val FROM (
              SELECT * FROM e2a UNION ALL SELECT * FROM e2b) GROUP BY id, d),
    e2n AS (SELECT id, sqrt(sum(val * val)) + 1e-8 nn FROM e2u GROUP BY id),
    h2 AS (SELECT e2u.id, d, val / nn val FROM e2u JOIN e2n USING (id)),
    cat AS (SELECT id, d, val FROM f0
            UNION ALL SELECT id, d + 8 AS d, val FROM h1
            UNION ALL SELECT id, d + 16 AS d, val FROM h2),
    fn AS (SELECT id, greatest(sqrt(sum(val * val)), 1e-12) nn
           FROM cat GROUP BY id)
    SELECT cat.id, cat.d AS dim, round(val / nn, 6) AS val
    FROM cat JOIN fn ON fn.id = cat.id
"""


@register(
    "lightea_propagation_md5",
    _LIGHTEA_MD5_SQL.format(
        stop=_STOP_SQL,
        tok_case=" ".join(f"WHEN {d} THEN {_md5_component_sql(d)}" for d in range(8)),
        id_case=" ".join(
            f"WHEN {d} THEN {_md5_component_sql(d, 'ids.id')}" for d in range(8)
        ),
    ),
)
def lightea_propagation_md5_q(spark, sf_dir):
    """M12 under an exact oracle, upgraded to the FAITHFUL three-view
    LightEA propagation (``light_ea.py:117-248``): forward/reverse
    relation split, ent-ent adjacency with degree diagonal, rel←heads
    and ent←rels views, per-hop ``x/(||x||+1e-8)`` norms, concat of
    [initial, hop1, hop2] then final normalize — every stage a SQL
    aggregate, value-checked against DuckDB."""
    from ..encoders.propagation import LightEAEncoder

    cust = _t(spark, sf_dir, "customer").where(F.col("c_custkey") < 500)
    conc = cust.select(
        F.concat(F.lit("c"), F.col("c_custkey")).alias("id"),
        F.col("c_mktsegment").alias("text"),
    )
    rels = cust.select(
        F.concat(F.lit("c"), F.col("c_custkey")).alias("head"),
        F.lit("in_nation").alias("rel"),
        F.concat(F.lit("n"), F.col("c_nationkey")).alias("tail"),
    )
    emb = LightEAEncoder(depth=2, dim=8, hash_fn="md5").encode(conc, rels)
    return emb.select(
        "id", F.posexplode("vector").alias("dim", "val")
    ).withColumn("val", F.round("val", 6))


@register(
    "sinkhorn_rerank",
    """
    WITH q AS (SELECT vec_id, embedding FROM embeddings WHERE vec_id % 10 = 0),
    sims AS (
      SELECT q.vec_id query_id, ix.vec_id neighbor_id,
             list_sum(list_transform(list_zip(q.embedding, ix.embedding),
                                     p -> p[1]::DOUBLE * p[2]::DOUBLE))
             / (sqrt(list_sum(list_transform(q.embedding, x -> x::DOUBLE * x::DOUBLE)))
                * sqrt(list_sum(list_transform(ix.embedding, x -> x::DOUBLE * x::DOUBLE)))) sim
      FROM q CROSS JOIN embeddings ix),
    top AS (SELECT query_id qq, neighbor_id n, sim FROM (
      SELECT *, row_number() OVER (PARTITION BY query_id
                                   ORDER BY sim DESC, neighbor_id ASC) rank
      FROM sims) WHERE rank <= 10),
    t0 AS (SELECT qq, n, exp(sim / 0.05) p FROM top),
    r1 AS (SELECT qq, n, p / sum(p) OVER (PARTITION BY qq) p FROM t0),
    c1 AS (SELECT qq, n, p / sum(p) OVER (PARTITION BY n) p FROM r1),
    r2 AS (SELECT qq, n, p / sum(p) OVER (PARTITION BY qq) p FROM c1),
    c2 AS (SELECT qq, n, p / sum(p) OVER (PARTITION BY n) p FROM r2),
    r3 AS (SELECT qq, n, p / sum(p) OVER (PARTITION BY qq) p FROM c2),
    c3 AS (SELECT qq, n, p / sum(p) OVER (PARTITION BY n) p FROM r3)
    SELECT qq AS query_id, n AS neighbor_id, round(p, 6) AS score, rank FROM (
      SELECT *, row_number() OVER (PARTITION BY qq ORDER BY p DESC, n ASC) rank
      FROM c3) WHERE rank <= 5
    """,
)
def sinkhorn_rerank_q(spark, sf_dir):
    """W5/M17 under an exact oracle: Sinkhorn re-rank of the
    brute-force kNN candidates — the sparse row/col normalizations are
    deterministic arithmetic, so three unrolled iterations value-match
    DuckDB window-sum normalizations exactly."""
    from ..ops.rerank import sinkhorn_rerank

    emb = _t(spark, sf_dir, "embeddings")
    nn = brute_force_topk(emb.where(F.col("vec_id") % 10 == 0), emb, k=10)
    out = sinkhorn_rerank(nn, iters=3, k=5)
    return out.withColumn("score", F.round("score", 6))


@register("deepblocker_knn_blocking")
def deepblocker_knn_blocking(spark, sf_dir):
    """M6/M8: torch-free DeepBlocker analogue — linear-autoencoder (PCA)
    projection of hash embeddings fit on both sides, exact kNN blocks on
    the projected space (SVD-derived floats → rows-only check;
    invariants in tests/test_deepblocker.py)."""
    from ..embedding.blockbuilder import KNNBlockBuilder
    from ..encoders.deepblocker import AutoencoderFrameEncoder

    left = _cust_frame(spark, sf_dir).concat_values()
    right = _supp_frame(spark, sf_dir).concat_values()
    le, re_ = AutoencoderFrameEncoder(out_dim=8, in_dim=32, sample_n=2000).fit_encode(left, right)
    bm = KNNBlockBuilder(k=3).build_blocks(le, re_, "customer", "supplier")
    return bm.df.select("block_key", F.explode(F.col("supplier")).alias("right_id"))


@register(
    "windowed_token_blocks",
    """
    WITH toks AS (
      SELECT epoch_ms(time_bucket(INTERVAL 10 MINUTE, ts)) window_start_ms,
             event_id, unnest(regexp_split_to_array(lower(props), '[^a-z0-9]+')) tok
      FROM events)
    SELECT window_start_ms, tok AS token, count(DISTINCT event_id) AS n_ids
    FROM toks WHERE length(tok) >= 1
    GROUP BY 1, 2
    """,
)
def windowed_token_blocks(spark, sf_dir):
    """Tumbling-window token blocking over the event stream's JSON
    payload — batch form of streaming.streaming_token_blocks; block
    arrays surfaced as per-block distinct-id counts for the oracle."""
    from ..streaming.dedup import streaming_token_blocks

    out = streaming_token_blocks(load_events(spark, sf_dir), window="10 minutes")
    return out.select(
        F.unix_millis(F.col("window_start").cast("timestamp")).alias("window_start_ms"),
        "token",
        F.size(F.array_distinct("ids")).alias("n_ids"),
    )


@register("lightea_embedding_blocking")
def lightea_embedding_blocking(spark, sf_dir):
    """M12: LightEA-flavored relation-aware propagation (per-relation
    hash vectors modulate messages, per-hop L2 norm) + kNN block build
    (hash/float-valued → rows-only check; invariants in
    tests/test_propagation.py)."""
    from ..embedding.blockbuilder import KNNBlockBuilder
    from ..encoders.propagation import RelationAwarePropagationEncoder

    cust = _t(spark, sf_dir, "customer").where(F.col("c_custkey") < 500)
    supp = _t(spark, sf_dir, "supplier")
    enc = RelationAwarePropagationEncoder(depth=2, dim=16)

    def side(df, key, name_col, nk, pfx):
        conc = df.select(
            F.concat(F.lit(pfx), F.col(key)).alias("id"), F.col(name_col).alias("text")
        )
        rels = df.select(
            F.concat(F.lit(pfx), F.col(key)).alias("head"),
            F.lit("in_nation").alias("rel"),
            F.concat(F.lit("n"), F.col(nk)).alias("tail"),
        )
        return enc.encode(conc, rels)

    left_emb = side(cust, "c_custkey", "c_mktsegment", "c_nationkey", "c")
    right_emb = side(supp, "s_suppkey", "s_name", "s_nationkey", "s")
    bm = KNNBlockBuilder(k=3).build_blocks(left_emb, right_emb, "customer", "supplier")
    return bm.df.select("block_key", F.explode(F.col("supplier")).alias("right_id"))


@register("attribute_clustering_blocking")
def attribute_clustering_blocking(spark, sf_dir):
    """M15: attribute-value clustering blocker — distinct values
    hash-embedded, KMeans-clustered, value→cluster-label as blocking
    key (KMeans is iterative → rows-only check; deterministic-seed
    invariants in tests/test_attr_clustering_eval.py).  Output: block
    sizes per side (array cells not hashable by the driver compare)."""
    from ..blockers.attribute_clustering import AttributeClusteringBlocker
    from ..data.frames import EntityFrame

    cust, supp = _t(spark, sf_dir, "customer"), _t(spark, sf_dir, "supplier")
    left = EntityFrame.from_triples(
        cust.select(
            F.col("c_custkey").alias("head"),
            F.lit("segment").alias("rel"),
            F.col("c_mktsegment").alias("tail"),
        ),
        "customer",
    )
    right = EntityFrame.from_triples(
        supp.select(
            F.col("s_suppkey").alias("head"),
            F.lit("name").alias("rel"),
            F.col("s_name").alias("tail"),
        ),
        "supplier",
    )
    bm = AttributeClusteringBlocker(n_clusters=8, dim=16).assign(left, right)
    return bm.df.select(
        "block_key",
        F.size("customer").alias("n_left"),
        F.size("supplier").alias("n_right"),
    )


_ATTR_CLUSTER_MD5_SQL = """
    WITH RECURSIVE vals AS (
      SELECT DISTINCT p_name AS value FROM part),
    vt AS MATERIALIZED (SELECT DISTINCT value, tok FROM (
             SELECT value, unnest(regexp_split_to_array(lower(value), '[^a-z0-9]+')) tok
             FROM vals)
           WHERE length(tok) >= 3 AND tok NOT IN ({stop})),
    dims AS (SELECT unnest(generate_series(0, 7)) d),
    vv AS (SELECT value, d, avg(CASE d {lcase} END) v
           FROM vt CROSS JOIN dims GROUP BY value, d),
    vec AS MATERIALIZED (SELECT value, list(v ORDER BY d) vec FROM vv GROUP BY value),
    edges AS MATERIALIZED (
      SELECT a.value id, b.value nid FROM vec a JOIN vec b ON a.value <> b.value
      WHERE {cos} >= 0.8),
    deg AS (SELECT id, count(*) + 1 deg FROM edges GROUP BY id),
    core AS MATERIALIZED (SELECT p.value AS id FROM vec p LEFT JOIN deg ON deg.id = p.value
             WHERE coalesce(deg, 1) >= 2),
    core_edges AS MATERIALIZED (SELECT e.id, e.nid FROM edges e
                   JOIN core c1 ON e.id = c1.id JOIN core c2 ON e.nid = c2.id),
    reach AS (
      SELECT id, id AS label FROM core
      UNION
      SELECT ce.id, r.label FROM core_edges ce JOIN reach r ON r.id = ce.nid),
    core_label AS MATERIALIZED (SELECT id, min(label) AS label FROM reach GROUP BY id),
    border AS MATERIALIZED (
      SELECT e.id, min(cl.label) AS label
      FROM edges e JOIN core_label cl ON cl.id = e.nid
      WHERE e.id NOT IN (SELECT id FROM core)
      GROUP BY e.id),
    labels AS MATERIALIZED (
      SELECT id, label FROM core_label
      UNION ALL SELECT id, label FROM border
      UNION ALL
      SELECT p.value, '-1' FROM vec p
      WHERE p.value NOT IN (SELECT id FROM core_label)
        AND p.value NOT IN (SELECT id FROM border)),
    keys AS MATERIALIZED (
      -- noise_handling='token': each noise value becomes its own block
      SELECT id AS value,
             'clustering_label_' ||
             CASE WHEN label = '-1' THEN id ELSE label END AS block_key
      FROM labels),
    lk AS (SELECT DISTINCT k.block_key, p.p_partkey id
           FROM part p JOIN keys k ON k.value = p.p_name
           WHERE p.p_partkey % 2 = 0),
    rk AS (SELECT DISTINCT k.block_key, p.p_partkey id
           FROM part p JOIN keys k ON k.value = p.p_name
           WHERE p.p_partkey % 2 = 1),
    lb AS (SELECT block_key, count(*) n_left FROM lk GROUP BY 1),
    rb AS (SELECT block_key, count(*) n_right FROM rk GROUP BY 1)
    SELECT block_key, n_left, n_right FROM lb JOIN rb USING (block_key)
    """


@register(
    "attribute_clustering_blocking_md5",
    _ATTR_CLUSTER_MD5_SQL.format(
        stop=_STOP_SQL,
        lcase=" ".join(f"WHEN {d} THEN {_md5_component_sql(d)}" for d in range(8)),
        cos=(
            "list_sum(list_transform(list_zip(a.vec, b.vec),"
            " p -> p[1]::DOUBLE * p[2]::DOUBLE))"
            " / (sqrt(list_sum(list_transform(a.vec, x -> x::DOUBLE * x::DOUBLE)))"
            "    * sqrt(list_sum(list_transform(b.vec, x -> x::DOUBLE * x::DOUBLE))))"
        ),
    ),
)
def attribute_clustering_blocking_md5_q(spark, sf_dir):
    """M15 under an EXACT oracle: the attribute-value clustering
    blocker on its deterministic density path — md5-mode hash
    embeddings of the DISTINCT part-name universe ('red plate',
    'small widget', … — adjective/noun tokens give genuine cluster
    structure, and splitting parts even/odd-key gives two sides that
    share values so blocks span sides), distributed DBSCAN (ε-join
    cosine ≥ 0.8, min_pts 2, token noise-handling: every noise value
    keeps its own block), value→label keys broadcast back to both
    sides, per-block side sizes.  The oracle reproduces value
    embedding, the density fixpoint (recursive CTE), the reference's
    ``_handle_noise_cluster`` token fallback, and the block assembly —
    the KMeans production variant (`attribute_clustering_blocking`)
    stays rows-only."""
    from ..blockers.attribute_clustering import AttributeClusteringBlocker
    from ..data.frames import EntityFrame

    part = _t(spark, sf_dir, "part")
    def side(parity, name):
        return EntityFrame.from_triples(
            part.where(F.col("p_partkey") % 2 == parity).select(
                F.col("p_partkey").alias("head"),
                F.lit("name").alias("rel"),
                F.col("p_name").alias("tail"),
            ),
            name,
        )
    bm = AttributeClusteringBlocker(
        dim=8, method="dbscan", min_sim=0.8, min_pts=2,
        noise_handling="token", hash_fn="md5",
    ).assign(side(0, "even"), side(1, "odd"))
    return bm.df.select(
        "block_key",
        F.size("even").alias("n_left"),
        F.size("odd").alias("n_right"),
    )


@register("sif_pc_removal")
def sif_pc_removal(spark, sf_dir):
    """M2: SIF-weighted hash embeddings + first-principal-component
    removal (sampled driver SVD applied as a distributed projection;
    SVD floats → rows-only check).  Output: per-entity vector norms."""
    from ..encoders.hashing import SIFHashingWordEmbedder, remove_first_pc
    from ..functions.vectors import l2_norm

    conc = _cust_frame(spark, sf_dir).concat_values()
    emb = SIFHashingWordEmbedder(dim=16).encode(conc)
    out = remove_first_pc(emb, sample_n=2000)
    return out.select("id", F.round(l2_norm(F.col("vector")), 6).alias("norm"))


def _power_iter_sql(iters: int) -> str:
    """Unrolled power-method CTE chain: w{t} = C·u{t-1}, u{t} =
    w{t}/|w{t}| — every dot a DuckDB ``list_inner_product`` (sequential,
    bit-matching the driver-side Python loop in ``first_pc_power``)."""
    steps = []
    prev = "u0"
    for t in range(1, iters + 1):
        steps.append(
            f"w{t} AS (SELECT list_transform(m, r -> list_inner_product(r, u)) w"
            f" FROM mat, {prev})"
        )
        steps.append(
            f"u{t} AS (SELECT list_transform(w, x -> x / sqrt(list_inner_product(w, w))) u"
            f" FROM w{t})"
        )
        prev = f"u{t}"
    return ",\n    ".join(steps)


_SIF_PC_MD5_SQL = (
    _TOKENS_SQL
    + """
    , freq AS (SELECT tok, count(*) f FROM lt GROUP BY tok),
    tot AS (SELECT count(*) t FROM lt),
    wt AS (SELECT tok, 0.001 / (0.001 + f / (SELECT t FROM tot)) w FROM freq),
    dims AS (SELECT unnest(generate_series(0, 7)) d),
    emb AS (SELECT id, d,
                   sum(w * (CASE d {tok_case} END)) / sum(w) v
            FROM lt JOIN wt USING (tok) CROSS JOIN dims
            GROUP BY id, d),
    vecs AS (SELECT id, list(v ORDER BY d) vec FROM emb GROUP BY id),
    samp AS (SELECT vec, row_number() OVER (ORDER BY md5(id), id) rn
             FROM vecs ORDER BY md5(id), id LIMIT 2000),
    cells AS (SELECT di.d di, dj.d dj,
                     list_sum(list(vec[di.d + 1] * vec[dj.d + 1] ORDER BY rn)) c
              FROM samp CROSS JOIN dims di CROSS JOIN dims dj
              GROUP BY di.d, dj.d),
    mrows AS (SELECT di, list(c ORDER BY dj) r FROM cells GROUP BY di),
    mat AS (SELECT list(r ORDER BY di) m FROM mrows),
    u0 AS (SELECT list_transform(generate_series(1, 8), x -> 1.0 / sqrt(8.0)) u),
    {power},
    proj AS (SELECT id, vec, list_inner_product(vec, u) dt FROM vecs, {ulast})
    SELECT id, round(sqrt(list_inner_product(
             list_transform(vec, (x, i) -> x - dt * u[i]),
             list_transform(vec, (x, i) -> x - dt * u[i]))), 5) AS norm
    FROM proj, {ulast}
    """
)


@register(
    "sif_pc_removal_md5",
    _SIF_PC_MD5_SQL.format(
        stop=_STOP_SQL,
        tok_case=" ".join(f"WHEN {d} THEN {_md5_component_sql(d)}" for d in range(8)),
        power=_power_iter_sql(30),
        ulast="u30",
    ),
)
def sif_pc_removal_md5_q(spark, sf_dir):
    """M2 under an EXACT oracle (the last deterministic-izable rows-only
    query, round-3 verdict #6): SIF md5-hash embeddings → first PC by
    fixed-iteration power method on the md5-ordered-sample second-moment
    matrix (``first_pc_power`` — sequential sums/dots bit-matching
    DuckDB's list primitives) → sign-invariant projection ``v-(v·u)u``
    → per-entity norm.  Output rounded to 5dp: engine disagreement is
    ≲1e-12 (vector pooling reassociation ~1e-15 amplified through the
    2000-row covariance), five orders below the rounding ulp.
    ``remove_first_pc`` (SVD) stays the default path; this is its
    cross-checkable twin, same recipe as the 6 existing md5 twins."""
    from ..encoders.hashing import SIFHashingWordEmbedder, first_pc_power
    from ..functions.vectors import l2_norm

    conc = _cust_frame(spark, sf_dir).concat_values()
    # diamond: the embedding pipeline feeds the PC sample AND the final
    # projection — materialize once; the caller's scope frees it
    emb = ckpt.checkpoint(SIFHashingWordEmbedder(dim=8, hash_fn="md5").encode(conc))
    u = first_pc_power(emb, sample_n=2000, iters=30)
    u_col = F.array(*[F.lit(float(x)) for x in u])
    dot = F.aggregate(
        F.zip_with("vector", u_col, lambda a, b: a * b),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )
    pv = F.zip_with(F.col("vector"), u_col, lambda v, uu: v - dot * uu)
    return emb.select("id", F.round(l2_norm(pv), 5).alias("norm"))


@register(
    "corpus_clean_pipeline",
    """
    WITH q AS (
      SELECT doc_id, text, lang, len(string_split(text, ' ')) n,
             len(list_distinct(string_split(text, ' '))) nd,
             len(list_filter(string_split(text, ' '),
                             x -> list_contains([{stop}], x))) ns
      FROM documents),
    scored AS (
      SELECT doc_id, text, lang, n
      FROM q
      -- round like the engine: quality_score emits the 6dp score and
      -- the pipeline thresholds THAT, so a raw-product comparison
      -- flips docs sitting within 5e-7 of the cut (seen at sf0.1)
      WHERE round((nd * 1.0 / n) * (1.0 - abs(ns * 1.0 / n - 0.4))
                  * least(n / 100.0, 1.0), 6) >= 0.2),
    kept AS (
      SELECT min(doc_id) doc_id, min(lang) lang, min(n) n
      FROM scored GROUP BY md5(text))
    SELECT lang, count(*) AS n_docs, CAST(sum(n) AS BIGINT) AS total_tokens
    FROM kept GROUP BY lang
    """.format(stop=_STOP_SQL),
)
def corpus_clean_pipeline(spark, sf_dir):
    """Flagship composition for the training-data story: quality filter
    → exact dedup (keep lowest id per content hash) → per-language
    corpus stats.  One declarative plan — Catalyst pipelines the filter
    into the scan and the dedup into one aggregate."""
    docs = _t(spark, sf_dir, "documents")
    q = quality_score(docs).where(F.col("score") >= 0.2)
    kept_docs = docs.join(q.select("doc_id", "n_tokens"), "doc_id")
    survivors = (
        kept_docs.groupBy(F.md5("text").alias("_h"))
        .agg(
            F.min("doc_id").alias("doc_id"),
            F.min("lang").alias("lang"),
            F.min("n_tokens").alias("n"),
        )
    )
    return survivors.groupBy("lang").agg(
        F.count("*").alias("n_docs"), F.sum("n").alias("total_tokens")
    )


@register(
    "token_blocking_capped",
    _TOKENS_SQL.format(stop=_STOP_SQL)
    + """
    , lcap AS (SELECT tok FROM lt GROUP BY tok HAVING count(DISTINCT id) <= 50),
      rcap AS (SELECT tok FROM rt GROUP BY tok HAVING count(DISTINCT id) <= 50)
    SELECT lt.tok AS block_key, lt.id AS left_id, rt.id AS right_id
    FROM lt JOIN rt ON lt.tok = rt.tok
    WHERE lt.tok IN (SELECT tok FROM lcap) AND rt.tok IN (SELECT tok FROM rcap)
    """,
)
def token_blocking_capped(spark, sf_dir):
    """TokenBlocker with the skew cap: tokens whose per-side id-set
    exceeds max_block_size are dropped BEFORE the join (hot-key
    mitigation, SCALE.md) — kills the 'customer'/'supplier' stop-token
    blocks, keeps the discriminative number tokens."""
    bm = TokenBlocker(max_block_size=50).assign(
        _cust_frame(spark, sf_dir), _supp_frame(spark, sf_dir)
    )
    return _explode_blocks(bm)


