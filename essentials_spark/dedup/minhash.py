"""MinHash + LSH near-duplicate detection.

Pipeline (all JVM-side Spark SQL expressions — no Python in the row
path): shingle -> minhash signature -> band -> bucket-join.

- shingles: word k-grams hashed to int64 (xxhash64);
- signature: num_perm minhash values, permutation i approximated by
  min over shingles of xxhash64(shingle, i) — the standard
  hash-family trick;
- LSH: signature split into bands of rows; two docs land in the same
  bucket when a whole band matches; candidate pairs are verified with
  real signature similarity.

At 100 TB the only shuffles are the bucket groupBy and the candidate
dedup — no cross join ever materializes; band width / count tune the
similarity threshold s ≈ (1/bands)^(1/rows).

Degenerate-bucket cap: boilerplate-heavy corpora put thousands of
near-identical docs in one band bucket, and all-pairs within a bucket
is quadratic. Buckets larger than ``bucket_cap`` switch to CHAIN
pairing (each doc pairs with its next ``chain_width`` successors in id
order — a lead() window, zero joins): pair generation becomes
O(bucket x chain_width), and transitive clusters stay connected for
the dedup use-case because downstream keep/drop runs connected
components over the pair graph.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F


def _shingles(text_col, k: int = 5, portable: bool = False):
    toks = F.split(F.lower(F.trim(text_col)), r"\s+")
    n = F.size(toks)
    idx = F.sequence(F.lit(0), F.greatest(n - k, F.lit(0)))
    if portable:
        from essentials_spark.functions.portable_hash import H30, md5_int60

        return F.transform(
            idx, lambda i: md5_int60(F.concat_ws(" ", F.slice(toks, i + 1, k))) % F.lit(H30)
        )
    return F.transform(idx, lambda i: F.xxhash64(F.concat_ws(" ", F.slice(toks, i + 1, k))))


def minhash_signatures(
    docs: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    num_perm: int = 64,
    shingle_k: int = 5,
    portable: bool = False,
) -> DataFrame:
    """(id, sig: array<long>[num_perm]).

    ``portable``: use the md5-derived 30-bit shingle hash + affine
    permutations from functions/portable_hash.py instead of xxhash64 —
    bit-identical to the generated ANSI-SQL oracle, so the whole
    pipeline is value-checkable against DuckDB. xxhash64 (default)
    stays the fast path."""
    if portable:
        from essentials_spark.functions.portable_hash import perm_hash

        def perm(i: int):
            return lambda s: perm_hash(s, i)
    else:
        def perm(i: int):
            # closure factory — `lambda s, i=i` would make PySpark treat the
            # lambda as binary and bind the ARRAY INDEX to i (see simhash.py)
            return lambda s: F.xxhash64(s, F.lit(i))

    sh = _shingles(F.col(text_col), shingle_k, portable=portable)
    sig = F.array(*[F.array_min(F.transform(F.col("_sh"), perm(i))) for i in range(num_perm)])
    return (
        docs.select(F.col(id_col).alias("id"), sh.alias("_sh"))
        .filter(F.size("_sh") > 0)
        .select("id", sig.alias("sig"))
    )


def capped_bucket_pairs(
    items: DataFrame,
    bucket_cols: list[str],
    payload_cols: list[str],
    bucket_cap: int | None = 64,
    chain_width: int = 2,
    cleanup: list | None = None,
) -> DataFrame:
    """All-pairs within small buckets; chain pairs within large ones.

    ``items``: one row per (bucket, member); returns columns
    (a, b, a_<payload>, b_<payload>) with a < b, deduplicated.
    Buckets with more than ``bucket_cap`` members generate only
    (member, next-j-in-id-order) pairs for j = 1..chain_width — bounded
    output, and connected-components downstream still unions the
    transitive cluster. ``bucket_cap=None`` disables the cap (exact
    all-pairs in every bucket). ``cleanup``: persisted intermediates
    are appended here so the caller can unpersist after its terminal
    action; with ``cleanup=None`` they stay cached for the session.
    """
    # items feeds the size aggregate AND the tagged join; tagged then
    # feeds small-left, small-right, and chain_width lead() branches —
    # 4-6 references within ONE downstream action. Spark reuses
    # exchanges, not arbitrary subtrees (see algos/cc.py), so an
    # unpersisted expensive upstream (e.g. 64-perm minhash signatures)
    # would be recomputed per branch — measured 5x the pipeline cost.
    items = items.persist()
    if cleanup is not None:
        cleanup.append(items)

    def pick(side: str):
        return [F.col("id").alias(side)] + [F.col(c).alias(f"{side}_{c}") for c in payload_cols]

    out_cols = ["a", "b"] + [f"a_{c}" for c in payload_cols] + [f"b_{c}" for c in payload_cols]

    if bucket_cap is None:
        small_l = items.select(*bucket_cols, *pick("a"))
        small_r = items.select(*bucket_cols, *pick("b"))
        small = small_l.join(small_r, bucket_cols).filter(F.col("a") < F.col("b")).select(*out_cols)
        return small.dropDuplicates(["a", "b"])

    sizes = items.groupBy(*bucket_cols).agg(F.count("*").alias("_bn"))
    tagged = items.join(sizes, bucket_cols).persist()
    if cleanup is not None:
        cleanup.append(tagged)
    small_l = tagged.filter(F.col("_bn") <= bucket_cap).select(*bucket_cols, *pick("a"))
    small_r = tagged.filter(F.col("_bn") <= bucket_cap).select(*bucket_cols, *pick("b"))
    small = small_l.join(small_r, bucket_cols).filter(F.col("a") < F.col("b")).select(*out_cols)

    w = Window.partitionBy(*bucket_cols).orderBy("id")
    big = tagged.filter(F.col("_bn") > bucket_cap)
    out = small
    for j in range(1, chain_width + 1):
        nxt = F.lead(F.struct("id", *payload_cols), j).over(w)
        ch = big.select(
            *pick("a"),
            nxt["id"].alias("b"),
            *[nxt[c].alias(f"b_{c}") for c in payload_cols],
        ).filter(F.col("b").isNotNull())
        out = out.unionByName(ch.select(*out_cols))
    return out.dropDuplicates(["a", "b"])


def minhash_lsh_pairs(
    docs: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    num_perm: int = 64,
    bands: int = 16,
    shingle_k: int = 5,
    min_sim: float = 0.5,
    bucket_cap: int = 64,
    chain_width: int = 2,
    portable: bool = False,
    cleanup: list | None = None,
) -> DataFrame:
    """Candidate near-dup pairs (a, b, sig_sim), a < b, verified by
    full-signature agreement >= min_sim. Band buckets larger than
    ``bucket_cap`` use chain pairing (module docstring). ``portable``:
    SQL-reproducible hashing (see minhash_signatures); the band bucket
    key becomes the joined row values instead of their xxhash64.
    ``cleanup``: persisted intermediates are appended here so the
    caller can unpersist them after its terminal action."""
    rows = num_perm // bands
    # signatures are the expensive pass (num_perm hashes over every
    # shingle) — persist so banding/pairing branches read the cache
    sigs = minhash_signatures(docs, text_col, id_col, num_perm, shingle_k, portable=portable).persist()
    if cleanup is not None:
        cleanup.append(sigs)

    def bucket_key(b: int):
        joined = F.concat_ws(",", *[F.col("sig")[b * rows + r] for r in range(rows)])
        # portable mode joins on the exact row values (a string key —
        # reproducible in SQL); default hashes them to a long
        return joined if portable else F.xxhash64(joined)

    banded = sigs.select(
        "id",
        "sig",
        F.explode(
            F.array(
                *[
                    F.struct(F.lit(b).alias("band"), bucket_key(b).alias("bucket"))
                    for b in range(bands)
                ]
            )
        ).alias("bk"),
    ).select("id", "sig", F.col("bk.band").alias("band"), F.col("bk.bucket").alias("bucket"))

    cand = capped_bucket_pairs(
        banded, ["band", "bucket"], ["sig"], bucket_cap=bucket_cap, chain_width=chain_width,
        cleanup=cleanup,
    )
    sim = F.size(F.filter(F.zip_with("a_sig", "b_sig", lambda x, y: x == y), lambda v: v)) / F.size("a_sig")
    return cand.select("a", "b", F.round(sim, 6).alias("sig_sim")).filter(F.col("sig_sim") >= min_sim)


def minhash_dedup(
    docs: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    **kwargs,
) -> DataFrame:
    """Keep/drop assignment: connected components over the near-dup
    pair graph (reusing the engine's CC), keeping the min id of each
    duplicate cluster. Returns (id, keep: bool, cluster: long).

    CC materializes its result eagerly (per-round lineage truncation in
    engine/superstep.py), so the pipeline's persisted intermediates are
    unpersisted here before returning — repeated dedup calls don't
    accumulate caches for the session lifetime."""
    from essentials_spark.algos import connected_components
    from essentials_spark.graph.derive import Graph

    caches: list = []
    pairs = minhash_lsh_pairs(docs, text_col, id_col, cleanup=caches, **kwargs)
    edges = pairs.select(F.col("a").alias("src"), F.col("b").alias("dst"), F.lit(1.0).alias("weight"))
    vertices = docs.select(F.col(id_col).alias("vid"))
    labels = connected_components(
        Graph(vertices=vertices, edges=edges), persist_result=False
    )
    for df in caches:
        df.unpersist()
    return labels.select(
        F.col("vid").alias("id"),
        F.col("label").alias("cluster"),
        (F.col("vid") == F.col("label")).alias("keep"),
    )


def dedup_keep_best(
    clusters: DataFrame,
    scores: DataFrame,
    id_col: str = "id",
    cluster_col: str = "cluster",
    score_col: str = "score",
) -> DataFrame:
    """Cluster resolution for near-dup dedup: instead of keeping the
    MIN-id representative (minhash_dedup's default), keep the member
    with the highest score (ties to the smallest id) — the "keep the
    best copy" policy pretraining pipelines actually want (highest
    quality / longest / freshest, any integer score).

    (clusters: (id_col, cluster_col)) ⋈ (scores: (id_col, score_col))
    → (id_col, cluster_col, keep: bool). One cluster-scale groupBy +
    one hash join back; both shuffles key on the cluster id, so the
    exchange is reused. Integer scores keep the argmax exact across
    engines (pass quality·1e6, a length, a timestamp — never raw FP).
    """
    j = clusters.join(scores.select(id_col, score_col), id_col)
    win = j.groupBy(cluster_col).agg(
        F.min(
            F.struct((-F.col(score_col)).alias("s"), F.col(id_col).alias("i"))
        )["i"].alias("_winner")
    )
    return (
        j.join(win, cluster_col)
        .select(
            id_col,
            cluster_col,
            (F.col(id_col) == F.col("_winner")).alias("keep"),
        )
    )
