"""Approximate-nearest-neighbor search over an embedding column
(``array<float>``) — training-data similarity operators.

* ``cosine_topk_bruteforce`` — exact baseline: the query matrix is
  numpy-broadcast into a map-only Arrow UDF (same shape as the kNN
  centroid join); one pass over the table, top-k per query by cosine.
* ``lsh_cosine_topk`` — scale path: random-hyperplane LSH (seeded,
  deterministic) buckets the table; queries probe their bucket (+
  multiprobe neighbors at Hamming distance 1), exact cosine refines
  within candidates. Bucket assignment is a map; the candidate join is
  a bucket-key equi-join.
* ``lsh_selfjoin_topk`` — corpus-vs-corpus: EVERY row is a query
  (the table×table near-dup shape a curation pipeline needs at
  100 TB). Bucket-keyed equi-self-join with Hamming-1 multiprobe on
  the probe side — no crossJoin anywhere in the plan; candidate volume
  = Σ_bucket |probe side| × |bucket|, tuned by n_planes.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, functions as F, types as T

from ..sources.arrow import rows_frame


def cosine_topk_bruteforce(
    table: DataFrame,
    queries: list[tuple[int, np.ndarray]],
    k: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Exact top-k cosine neighbors in ``table`` for each query vector.

    Output: (query_id, rank, neighbor_id, cosine). The query matrix is
    tiny (rides in the UDF closure); the table streams through one
    map-only pass, partial top-k per Arrow batch, final top-k via a
    small groupBy over batch winners.
    """
    qids = np.asarray([q[0] for q in queries], dtype=np.int64)
    qm = np.stack([np.asarray(q[1], dtype=np.float64) for q in queries])
    qm = qm / np.linalg.norm(qm, axis=1, keepdims=True)

    out_schema = T.StructType(
        [
            T.StructField("query_id", T.LongType()),
            T.StructField("neighbor_id", T.LongType()),
            T.StructField("cosine", T.DoubleType()),
        ]
    )

    def score(batches):
        # mapInPandas: many rows in → few partial-top-k rows out
        for pdf in batches:
            if len(pdf) == 0:
                continue
            V = np.stack([np.asarray(v, dtype=np.float64) for v in pdf[vec_col]])
            V = V / np.maximum(np.linalg.norm(V, axis=1, keepdims=True), 1e-300)
            sims = V @ qm.T  # (batch, n_queries)
            vid = pdf[id_col].to_numpy()
            kk = min(k, V.shape[0])
            top = np.argpartition(-sims, kk - 1, axis=0)[:kk]  # (kk, nq)
            nq = qm.shape[0]
            rows = top.T.reshape(-1)
            yield pd.DataFrame(
                {
                    "query_id": np.repeat(qids, kk),
                    "neighbor_id": vid[rows],
                    "cosine": sims[rows, np.repeat(np.arange(nq), kk)],
                }
            )

    partials = table.select(id_col, vec_col).mapInPandas(score, out_schema)
    from pyspark.sql import Window

    w = Window.partitionBy("query_id").orderBy(F.desc("cosine"), "neighbor_id")
    return (
        partials.withColumn("rank", F.row_number().over(w) - 1)
        .where(F.col("rank") < k)
        .select("query_id", "rank", "neighbor_id", "cosine")
    )


def embedding_neardup_pairs(
    table: DataFrame,
    threshold: float = 0.95,
    n_planes: int = 8,
    seed: int = 42,
    multiprobe: bool = True,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    dim: int | None = None,
    max_bucket: int = 4096,
) -> DataFrame:
    """Embedding-cosine near-duplicate pairs: every (a, b) with
    cosine ≥ ``threshold`` among LSH candidates (same bucket or
    Hamming-1 with ``multiprobe``). Output (id_a, id_b, cosine),
    id_a < id_b. Recall follows the hyperplane-LSH collision bound —
    at near-dup thresholds (θ small) a candidate is missed with
    probability ≤ (1−(1−θ/π)^p)·(1−p·…) ≈ tiny; lower ``n_planes``
    raises recall at the cost of candidate volume.

    Mega-bucket cap (the same star pattern as the minhash band join,
    dedup.minhash_lsh_dedup): a bucket with more than ``max_bucket``
    members — exactly what a dup-heavy corpus produces — would emit
    O(m²) candidate rows if fully paired. Instead, only that bucket's
    ANCHOR (min id) stays joinable on the right side, and an explicit
    anchor×member star supplies the within-bucket pairs — O(m), and
    the pair graph stays connected through the anchor, which is what
    ``connected_keepers`` needs. Recall caveat (documented, mirrors
    minhash): pairs between two NON-anchor members of a mega bucket
    (or across two mega buckets) are represented transitively via the
    anchors rather than emitted directly.

    Compose with ``dedup.connected_keepers`` for doc→keeper mapping —
    the embedding-side sibling of minhash_dedup_keepers.
    """
    if dim is None:
        # r4: the old fallback ran a driver-side .first() job per call
        # just to measure the vector length — an extra Spark job in
        # every explain/bench trace. Embedding length is fixed by the
        # corpus; callers know it.
        raise ValueError(
            "dim is required (r4; the implicit .first() row-probe "
            "fallback was removed - pass the embedding length, e.g. dim=64)"
        )
    b = hyperplane_bucket(table, dim, n_planes, seed, vec_col)
    if multiprobe:
        probe_arr = F.array(
            F.col("bucket"), *[F.expr(f"bucket ^ {1 << i}") for i in range(n_planes)]
        )
    else:
        probe_arr = F.array(F.col("bucket"))
    left = b.select(
        F.col(id_col).alias("id_a"), F.col(vec_col).alias("va"), F.explode(probe_arr).alias("pb")
    )
    stats = b.groupBy("bucket").agg(
        F.min(id_col).alias("_anchor"), F.count("*").alias("_bsz")
    )
    keyed = b.join(stats, "bucket")
    # right side: full buckets when small; mega buckets expose ONLY
    # their anchor as a join target (every probe into them meets one
    # row, never m)
    right = keyed.where(
        (F.col("_bsz") <= max_bucket) | (F.col(id_col) == F.col("_anchor"))
    ).select(F.col(id_col).alias("id_b"), F.col(vec_col).alias("vb"), F.col("bucket").alias("pb"))
    # id_a < id_b keeps each unordered pair once per matching probe; a
    # pair can match at most one probe value (probe values distinct).
    # Star pairs (anchor < member by min) never also arise here: mega
    # members are absent from the right side, and member-as-left vs
    # anchor-as-right fails id_a < id_b.
    cand = (
        left.join(right, "pb")
        .where(F.col("id_a") < F.col("id_b"))
        .select("id_a", "va", "id_b", "vb")
    )
    big = keyed.where(F.col("_bsz") > max_bucket)
    star = (
        big.where(F.col(id_col) == F.col("_anchor"))
        .select(F.col("bucket").alias("_bb"), F.col(id_col).alias("id_a"), F.col(vec_col).alias("va"))
        .join(
            big.where(F.col(id_col) != F.col("_anchor")).select(
                F.col("bucket").alias("_bb"),
                F.col(id_col).alias("id_b"),
                F.col(vec_col).alias("vb"),
            ),
            "_bb",
        )
        .select("id_a", "va", "id_b", "vb")
    )
    cand = cand.unionByName(star)
    dot = F.expr(
        "aggregate(zip_with(va, vb, (a, b) -> cast(a as double) * cast(b as double)),"
        " 0D, (acc, x) -> acc + x)"
    )
    na = F.expr("sqrt(aggregate(va, 0D, (acc, x) -> acc + cast(x as double) * cast(x as double)))")
    nb = F.expr("sqrt(aggregate(vb, 0D, (acc, x) -> acc + cast(x as double) * cast(x as double)))")
    return (
        cand.select("id_a", "id_b", (dot / (na * nb)).alias("cosine"))
        .where(F.col("cosine") >= threshold)
    )


def hyperplane_bucket(
    df: DataFrame,
    dim: int,
    n_planes: int = 16,
    seed: int = 42,
    vec_col: str = "embedding",
) -> DataFrame:
    """Adds ``bucket: long`` — random-hyperplane LSH signature (bit i =
    sign of dot(v, plane_i)), planes seeded/deterministic. Arrow UDF,
    map-only."""
    rng = np.random.default_rng(seed)
    planes = rng.standard_normal((n_planes, dim))

    @F.pandas_udf(T.LongType())
    def bucket(vecs: pd.Series) -> pd.Series:
        V = np.stack([np.asarray(v, dtype=np.float64) for v in vecs])
        bits = (V @ planes.T) > 0
        vals = np.zeros(V.shape[0], dtype=np.int64)
        for i in range(n_planes):
            vals |= bits[:, i].astype(np.int64) << i
        return pd.Series(vals)

    return df.withColumn("bucket", bucket(vec_col))


def lsh_cosine_topk(
    table: DataFrame,
    queries: list[tuple[int, np.ndarray]],
    k: int = 5,
    n_planes: int = 12,
    seed: int = 42,
    multiprobe: bool = True,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """LSH-bucketed ANN: exact cosine within the query's bucket (plus
    Hamming-1 probes). Output schema matches the brute-force baseline;
    recall < 1 by construction — the candidate join prunes the table
    to matching buckets, the scale lever is (n_planes, multiprobe)."""
    dim = len(queries[0][1])
    rng = np.random.default_rng(seed)
    planes = rng.standard_normal((n_planes, dim))

    # query buckets (+ multiprobe) computed driver-side: queries are few
    probe_rows = []
    for qid, qv in queries:
        v = np.asarray(qv, dtype=np.float64)
        base = 0
        bits = (planes @ v) > 0
        for i in range(n_planes):
            base |= int(bits[i]) << i
        buckets = {base}
        if multiprobe:
            for i in range(n_planes):
                buckets.add(base ^ (1 << i))
        for b in buckets:
            probe_rows.append((int(qid), [float(x) for x in v], int(b)))
    spark = table.sparkSession
    probes = rows_frame(spark, probe_rows, "query_id long, qvec array<double>, bucket long")

    bucketed = hyperplane_bucket(table, dim, n_planes, seed, vec_col)
    cand = bucketed.join(F.broadcast(probes), "bucket")

    dot = F.expr(
        f"aggregate(zip_with({vec_col}, qvec, (a, b) -> cast(a as double) * b), 0D, (acc, x) -> acc + x)"
    )
    nv = F.expr(
        f"sqrt(aggregate({vec_col}, 0D, (acc, x) -> acc + cast(x as double) * cast(x as double)))"
    )
    nq = F.expr("sqrt(aggregate(qvec, 0D, (acc, x) -> acc + x * x))")
    scored = cand.select(
        "query_id", F.col(id_col).alias("neighbor_id"), (dot / (nv * nq)).alias("cosine")
    ).dropDuplicates(["query_id", "neighbor_id"])

    from pyspark.sql import Window

    w = Window.partitionBy("query_id").orderBy(F.desc("cosine"), "neighbor_id")
    return (
        scored.withColumn("rank", F.row_number().over(w) - 1)
        .where(F.col("rank") < k)
        .select("query_id", "rank", "neighbor_id", "cosine")
    )


def lsh_selfjoin_topk(
    table: DataFrame,
    k: int = 2,
    n_planes: int = 8,
    seed: int = 42,
    multiprobe: bool = True,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    dim: int | None = None,
    max_bucket: int = 1024,
) -> DataFrame:
    """All-rows-as-queries approximate top-k: for every row, its k most
    cosine-similar OTHER rows among LSH candidates (same bucket, or
    Hamming-1 bucket when ``multiprobe``). Output:
    (id_col, rank, neighbor_id, cosine), rank 0-based; rows with no
    candidate in their probe set emit nothing (recall < 1 by
    construction — n_planes trades candidate volume for recall).

    Plan shape: map (bucket assignment) → explode (≤ n_planes+1 probe
    rows per vec) → bucket equi-join → codegen'd cosine fold → window
    top-k. Embeddings cross the candidate shuffle once per side; there
    is no crossJoin. A probe row's bucket values are distinct, so a
    candidate pair arises from exactly one probe — no dedup needed.

    Mega-bucket cap: a bucket of m ≫ ``max_bucket`` near-identical
    embeddings would emit O(m²) candidate rows from its own members'
    self-probes. The right side of the candidate join keeps only a
    DETERMINISTIC ~``max_bucket``-row subsample of such buckets
    (seeded hash of the id), bounding candidates per probe at
    O(max_bucket). Recall caveat (documented): inside a mega bucket
    the reported top-k comes from the subsample — for the
    near-identical-vector buckets that cause this, any k bucket-mates
    are interchangeable neighbors.
    """
    if dim is None:
        # r4: the old fallback ran a driver-side .first() job per call
        # just to measure the vector length — an extra Spark job in
        # every explain/bench trace. Embedding length is fixed by the
        # corpus; callers know it.
        raise ValueError(
            "dim is required (r4; the implicit .first() row-probe "
            "fallback was removed - pass the embedding length, e.g. dim=64)"
        )
    b = hyperplane_bucket(table, dim, n_planes, seed, vec_col)
    if multiprobe:
        probe_arr = F.array(
            F.col("bucket"), *[F.expr(f"bucket ^ {1 << i}") for i in range(n_planes)]
        )
    else:
        probe_arr = F.array(F.col("bucket"))
    left = b.select(id_col, vec_col, F.explode(probe_arr).alias("pb"))
    sizes = b.groupBy("bucket").agg(F.count("*").alias("_bsz"))
    # keep rule: whole bucket when small, else keep each row with
    # probability max_bucket/_bsz via a seeded hash — deterministic,
    # and the product stays < 2^63 (hash residue < 10⁶, _bsz < 2^43)
    keep = (F.col("_bsz") <= max_bucket) | (
        F.pmod(F.xxhash64(id_col, F.lit(seed)), F.lit(1_000_000)) * F.col("_bsz")
        < F.lit(1_000_000) * F.lit(max_bucket)
    )
    right = (
        b.join(sizes, "bucket")
        .where(keep)
        .select(
            F.col(id_col).alias("neighbor_id"),
            F.col(vec_col).alias("nvec"),
            F.col("bucket").alias("pb"),
        )
    )
    cand = left.join(right, "pb").where(F.col(id_col) != F.col("neighbor_id"))

    dot = F.expr(
        f"aggregate(zip_with({vec_col}, nvec, (a, b) -> cast(a as double) * cast(b as double)),"
        " 0D, (acc, x) -> acc + x)"
    )
    nv = F.expr(
        f"sqrt(aggregate({vec_col}, 0D, (acc, x) -> acc + cast(x as double) * cast(x as double)))"
    )
    nn = F.expr(
        "sqrt(aggregate(nvec, 0D, (acc, x) -> acc + cast(x as double) * cast(x as double)))"
    )
    scored = cand.select(id_col, "neighbor_id", (dot / (nv * nn)).alias("cosine"))

    from pyspark.sql import Window

    w = Window.partitionBy(id_col).orderBy(F.desc("cosine"), "neighbor_id")
    return (
        scored.withColumn("rank", F.row_number().over(w) - 1)
        .where(F.col("rank") < k)
        .select(id_col, "rank", "neighbor_id", "cosine")
    )
