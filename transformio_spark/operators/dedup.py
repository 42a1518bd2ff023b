"""Deduplication operators for training-data pipelines.

All hot-path computation is JVM-side Column expressions (shingling via
sequence/substring, hashing via xxhash64, signatures via higher-order
array functions) — zero Python per row.  Scale design: exact dedup is
one hash-groupBy; MinHash-LSH shuffles (band_idx, band_hash) keys so
only same-bucket candidates are ever paired (the classic
shingle→minhash→band→bucket-join plan); verification re-computes true
Jaccard only for candidates.

At 10^12 rows the candidate self-join is the skew risk (a hot bucket
= boilerplate text); AQE skew-join (on in ``build_session``) splits
hot sort-merge partitions.
"""

from __future__ import annotations

from typing import Callable

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from ..functions import text as T
from ..plans.session import materialize


def exact_dedup(docs: DataFrame, id_col: str = "doc_id", text_col: str = "text") -> DataFrame:
    """Exact dedup via md5 fingerprint group-by: one row per group
    with the keeper (min id) and the redundant ids."""
    fp = docs.select(
        F.col(id_col).alias("id"), T.fingerprint(F.col(text_col)).alias("fp")
    )
    return fp.groupBy("fp").agg(
        F.min("id").alias("keeper"),
        F.count(F.lit(1)).alias("group_size"),
        F.sort_array(F.collect_list("id")).alias("members"),
    )


def char_shingles(text_col, k: int = 8):
    """Distinct k-char shingles as an array column (JVM-side)."""
    n = F.greatest(F.length(text_col) - (k - 1), F.lit(1))
    return F.array_distinct(
        F.transform(
            F.sequence(F.lit(1), n), lambda i: text_col.substr(i, F.lit(k))
        )
    )


def word_ngrams(text_col, n: int = 3):
    """Distinct word n-grams as an array column (JVM-side): split on
    whitespace runs, join each n-word window with single spaces.
    Shorter-than-n texts yield their full word join (mirrors
    char_shingles' short-text behavior)."""
    words = F.split(text_col, r"\s+")
    cnt = F.greatest(F.size(words) - (n - 1), F.lit(1))
    return F.array_distinct(
        F.transform(
            F.sequence(F.lit(1), cnt),
            lambda i: F.array_join(F.slice(words, i, n), " "),
        )
    )


def _seeded_hasher(seed: int):
    # NOTE: must be a real closure with arity 1 — a lambda with a
    # default arg (lambda s, i=seed: ...) is seen as arity 2 by the
    # higher-order-function binder and would receive the array INDEX
    # as the second argument, silently replacing the seed.
    def h(s):
        return F.xxhash64(F.lit(seed), s)

    return h


def minhash_signature(shingles, n_hashes: int = 32):
    """MinHash signature: per seed, min over shingle xxhash64s."""
    return F.array(
        *[
            F.array_min(F.transform(shingles, _seeded_hasher(i)))
            for i in range(n_hashes)
        ]
    )


def jaccard(a, b):
    return F.size(F.array_intersect(a, b)).cast("double") / F.size(F.array_union(a, b))


def minhash_lsh_pairs(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    k: int = 8,
    n_hashes: int = 32,
    bands: int = 8,
    threshold: float = 0.7,
    shingles=None,
) -> DataFrame:
    """Near-duplicate pairs: shingle → minhash → LSH bands → bucket
    self-join → exact-Jaccard verify.  Returns (id_a, id_b,
    jaccard_e6) with id_a < id_b and jaccard >= threshold.

    ``shingles`` overrides the feature set (default: k-char shingles);
    pass e.g. ``word_ngrams(F.col("text"), 3)`` for word-n-gram
    Jaccard — banding and verify are feature-agnostic."""
    rows_per_band = n_hashes // bands
    sh_col = shingles if shingles is not None else char_shingles(
        F.col(text_col), k
    )
    # materialize (id, shingles, signature) ONCE (round 6): the bucket
    # self-join otherwise re-evaluated the whole shingle+minhash
    # subtree on both sides.
    sig, _ = materialize(
        docs.select(F.col(id_col).alias("id"), sh_col.alias("sh")).withColumn(
            "sig", minhash_signature(F.col("sh"), n_hashes)
        )
    )
    # round 6 (guide §2.3/§8: shuffle keys, not payloads): the band
    # self-join used to carry the full shingle arrays through the
    # 8-way band explode and BOTH exchange sides; now only
    # (id, band_idx, band_hash) flows through the candidate join, and
    # the shingles are attached to the deduped candidate PAIRS from
    # the materialized sig table afterward.  Candidate set and verify
    # are unchanged.
    banded = sig.select(
        "id",
        F.posexplode(
            F.array(
                *[
                    F.xxhash64(
                        F.slice(F.col("sig"), b * rows_per_band + 1, rows_per_band)
                    )
                    for b in range(bands)
                ]
            )
        ).alias("band_idx", "band_hash"),
    )
    left = banded.select(
        F.col("band_idx"), F.col("band_hash"), F.col("id").alias("id_a")
    )
    right = banded.select(
        F.col("band_idx"), F.col("band_hash"), F.col("id").alias("id_b")
    )
    cand = (
        left.join(right, ["band_idx", "band_hash"])
        .where(F.col("id_a") < F.col("id_b"))
        .select("id_a", "id_b")
        .dropDuplicates(["id_a", "id_b"])
    )
    cand = cand.join(
        sig.select(F.col("id").alias("id_a"), F.col("sh").alias("sh_a")),
        "id_a",
    ).join(
        sig.select(F.col("id").alias("id_b"), F.col("sh").alias("sh_b")),
        "id_b",
    )
    jac = jaccard(F.col("sh_a"), F.col("sh_b"))
    return (
        cand.withColumn("j", jac)
        .where(F.col("j") >= threshold)
        .select(
            "id_a",
            "id_b",
            F.round(F.col("j") * 1e6, 0).cast("long").alias("jaccard_e6"),
        )
    )


_HEX_DIGITS = "0123456789abcdef"


def simhash_md5_exprs() -> tuple[list[str], list[str], str, str]:
    """Engine-portable SQL fragments for the md5-bit SimHash.

    Each shingle's 64 vote bits come from the first 16 hex digits of
    ``md5(shingle)`` — bit ``i`` is bit ``i % 4`` of hex digit
    ``i // 4``.  The digit values ``d0..d15`` are projected ONCE per
    shingle (16 instr/substring calls) and the 64 bit sums are cheap
    arithmetic over them (`floor(d / 2^b) % 2`) — everything parses
    identically in Spark SQL and DuckDB.  Returns ``(digit_exprs,
    bit_sum_exprs, hex_expr, bucket_expr)``: d0..d15 over an ``h``
    md5 column, the per-bit set-count aggregates ``c0..c63`` over
    (d0..d15), the 16-hex-char fingerprint over ``(n, c0..c63)``,
    and the 16-bit prefix-bucket expression."""
    digits = [
        f"(instr('{_HEX_DIGITS}', substring(h, {j + 1}, 1)) - 1) AS d{j}"
        for j in range(16)
    ]
    sums = []
    for i in range(64):
        j, b = divmod(i, 4)
        bit = f"(cast(floor(d{j} / {2 ** b}) as int) % 2)"
        sums.append(f"cast(sum({bit}) as bigint) AS c{i}")
    nibbles = []
    for j in range(16):
        parts = [
            f"(case when 2 * c{4 * j + b} > n then {2 ** b} else 0 end)"
            for b in range(4)
        ]
        nibbles.append("(" + " + ".join(parts) + ")")
    hex_expr = (
        "concat("
        + ", ".join(
            f"substring('{_HEX_DIGITS}', {nib} + 1, 1)" for nib in nibbles
        )
        + ")"
    )
    bucket_expr = (
        f"cast({nibbles[0]} * 4096 + {nibbles[1]} * 256 + "
        f"{nibbles[2]} * 16 + {nibbles[3]} as bigint)"
    )
    return digits, sums, hex_expr, bucket_expr


def simhash_md5_buckets(
    docs: DataFrame, id_col: str = "doc_id", text_col: str = "text", k: int = 8
) -> DataFrame:
    """SimHash fingerprints + 16-bit prefix buckets (near-dup candidate
    generation by Hamming-adjacent prefix): shingle → per-bit votes →
    fingerprint → prefix bucket.  The per-bit vote source is md5
    (available verbatim in DuckDB), so the ENTIRE pipeline gets a full
    rows+schema+hash driver oracle; the ``simhash_buckets`` gate query
    and its bench leaf run it.
    Returns (id, simhash_hex string, bucket long); explode+groupBy
    plan — one shuffle on id, identical shape at 10^12 rows."""
    digits, sums, hex_expr, bucket_expr = simhash_md5_exprs()
    exploded = (
        docs.select(
            F.col(id_col).alias("id"),
            F.explode(char_shingles(F.col(text_col), k)).alias("s"),
        )
        .select("id", F.md5("s").alias("h"))
        .selectExpr("id", *digits)
    )
    grouped = exploded.groupBy("id").agg(
        F.count(F.lit(1)).alias("n"), *[F.expr(s) for s in sums]
    )
    return grouped.select(
        "id",
        F.expr(hex_expr).alias("simhash_hex"),
        F.expr(bucket_expr).alias("bucket"),
    )


#: max edges one union-find task folds (~50 MB of dict state at the
#: cap, the order of a shuffle partition's working set).  A graph at
#: or under it is labeled by ONE task; a larger one splits its nodes
#: into ceil(|E| / cap) lanes.  Zoom-8 grid adjacency (<= 4 x 65,536
#: cells) stays under the cap at any corpus size.
_UF_MAX_EDGES = 400_000


def _uf_partition(batches):
    """Per-partition union-find over (u, v) edge batches (mapInPandas
    body of connected_components).  Unions keep the SMALLER id as
    root, so the final root of every node is its local component's
    minimum.  Duplicate and reversed edges are harmless.  Yields
    (id, root) for every node seen.  Python `<` must agree with
    Spark's min/least ordering for the id type (longs always; strings
    when ASCII — every engine id column is)."""
    import pandas as pd

    parent: dict = {}

    def find(x):
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for pdf in batches:
        for a, b in zip(pdf["u"].tolist(), pdf["v"].tolist()):
            parent.setdefault(a, a)
            parent.setdefault(b, b)
            ra, rb = find(a), find(b)
            if ra != rb:
                if ra < rb:
                    parent[rb] = ra
                else:
                    parent[ra] = rb
    ids = list(parent)
    yield pd.DataFrame({"id": ids, "root": [find(x) for x in ids]})


def _star_components(sym: DataFrame, max_rounds: int = 64) -> DataFrame:
    """Alternating large-star/small-star connected components
    (Kiveris et al., "Connected Components in MapReduce and Beyond",
    2014 — public) over an edge set (u, v), u != v, in any direction
    and with duplicates.

    Each round: large-star connects every neighbor LARGER than u to
    the minimum of u's closed neighborhood; small-star (on the
    resulting child>parent canonical edges) re-points every smaller
    neighbor and u itself at the group minimum.  Converges in
    O(log^2 n) rounds regardless of graph diameter.  Returns
    (id, comp) with comp = component min."""
    # the checkpoint truncates the lineage each round — an iterative
    # self-join otherwise grows the logical plan geometrically until
    # ANALYSIS (not data) blows the driver heap
    prev, prev_count = materialize(
        sym.select(
            F.greatest("u", "v").alias("u"), F.least("u", "v").alias("v")
        ).distinct()
    )
    for _ in range(max_rounds):
        both = prev.union(prev.select(F.col("v").alias("u"), F.col("u").alias("v")))
        # large-star: m = min(N(u) ∪ {u}); edge (v, m) for every v > u
        lmins = both.groupBy("u").agg(F.min("v").alias("mn"))
        large = (
            both.join(lmins, "u")
            .where(F.col("v") > F.col("u"))
            .select(
                F.col("v").alias("u"),
                F.least(F.col("u"), F.col("mn")).alias("v"),
            )
            .distinct()
        )
        # small-star: group children by u; m = min of parents; re-point
        smins = large.groupBy("u").agg(F.min("v").alias("m"))
        cur, cur_count = materialize(
            large.join(smins, "u")
            .select(F.col("v").alias("u"), F.col("m").alias("v"))
            .union(smins.select(F.col("u"), F.col("m").alias("v")))
            .where(F.col("u") != F.col("v"))
            .distinct()
        )
        # both sides are distinct row sets, so equality is
        # |cur| == |prev| AND cur \ prev == ∅; both counts come with
        # their checkpoint jobs, so the anti-join is the round's only
        # extra job
        changed = cur_count != prev_count or not cur.join(
            prev, ["u", "v"], "left_anti"
        ).isEmpty()
        prev, prev_count = cur, cur_count
        if not changed:
            break
    else:
        raise RuntimeError(
            f"star components did not converge in {max_rounds} rounds"
        )
    roots = prev.select(F.col("v").alias("id")).distinct().withColumn(
        "comp", F.col("id")
    )
    members = prev.select(F.col("u").alias("id"), F.col("v").alias("comp"))
    return roots.union(members)


def connected_components(
    pairs: DataFrame,
    id_a: str = "id_a",
    id_b: str = "id_b",
    lane: Callable[[str], Column] | None = None,
) -> DataFrame:
    """Connected components over a pair graph — the dedup ENDGAME:
    pair lists must become disjoint keep-one groups before any row is
    dropped (A~B, B~C must retire B AND C even when (A,C) was never
    emitted).  Returns (id, comp) for every node appearing in
    ``pairs``; comp is the component's minimum id.

    Local union-find contraction (Kiveris et al. 2014): the edge set
    is materialized once, its size observed by the same job.  Up to
    ``_UF_MAX_EDGES`` edges, ONE union-find task labels the whole
    graph (unions keep the minimum root, so its roots are the
    component minima).  Above the cap the nodes split into
    n = ceil(|E| / cap) lanes: ``lane`` maps an id column name to its
    lane key (default ``pmod(xxhash64(c), n)``; callers with locality
    pass their own, e.g. grid_dbscan's cell-block key).  Lane-internal
    edges collapse per lane to their local minimum, only cross-lane
    edges enter the O(log^2 n) large-star/small-star rounds, and the
    two labelings compose — local roots are local minima, so the
    composition is again the component minimum."""
    # materialized ONCE — it feeds the lane split, the contraction and
    # the node universe
    edges, n_edges = materialize(
        pairs.select(F.col(id_a).alias("u"), F.col(id_b).alias("v"))
        .where(F.col("u") != F.col("v"))
    )
    id_type = dict(edges.dtypes)["u"]
    uf_schema = f"id {id_type}, root {id_type}"
    if n_edges <= _UF_MAX_EDGES:
        return (
            edges.coalesce(1)
            .mapInPandas(_uf_partition, uf_schema)
            .select("id", F.col("root").alias("comp"))
        )
    n_lanes = -(-n_edges // _UF_MAX_EDGES)
    if lane is None:

        def lane(c: str) -> Column:
            return F.pmod(F.xxhash64(F.col(c)), F.lit(n_lanes))

    tagged = edges.withColumns({"lu": lane("u"), "lv": lane("v")})
    # materialized ONCE: mapping feeds mu, mv and the node-labeling
    # join — MapInPandas sits above the reusable exchange, so without
    # the checkpoint each subtree copy re-ran the per-lane union-find
    mapping, _ = materialize(
        tagged.where(F.col("lu") == F.col("lv"))
        .select("u", "v", "lu")
        .repartition(n_lanes, "lu")
        .drop("lu")
        .mapInPandas(_uf_partition, uf_schema)
    )
    mu = mapping.select(F.col("id").alias("u"), F.col("root").alias("ru"))
    mv = mapping.select(F.col("id").alias("v"), F.col("root").alias("rv"))
    # a root shares its node's lane, so a cross-lane edge never
    # contracts to a self-loop
    contracted = (
        tagged.where(F.col("lu") != F.col("lv"))
        .join(mu, "u", "left")
        .join(mv, "v", "left")
        .select(
            F.coalesce(F.col("ru"), F.col("u")).alias("u"),
            F.coalesce(F.col("rv"), F.col("v")).alias("v"),
        )
    )
    star = _star_components(contracted)
    nodes = (
        edges.select(F.col("u").alias("id"))
        .union(edges.select(F.col("v").alias("id")))
        .distinct()
    )
    base = nodes.join(mapping, "id", "left").select(
        "id", F.coalesce(F.col("root"), F.col("id")).alias("_r")
    )
    return base.join(
        star.select(F.col("id").alias("_r"), "comp"), "_r", "left"
    ).select("id", F.coalesce(F.col("comp"), F.col("_r")).alias("comp"))


def neardup_component_summary(
    docs: DataFrame,
    threshold: float = 0.5,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """MinHash-LSH pairs → connected components → one row per
    keep-one group: (comp, n_members, members csv)."""
    pairs = minhash_lsh_pairs(
        docs, id_col=id_col, text_col=text_col, threshold=threshold
    )
    comps = connected_components(pairs)
    return comps.groupBy("comp").agg(
        F.count(F.lit(1)).alias("n_members"),
        F.array_join(F.array_sort(F.collect_list("id")), ",").alias("members"),
    )
