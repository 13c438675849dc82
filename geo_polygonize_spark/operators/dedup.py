"""Document deduplication operators for training-data pipelines.

Beyond the reference's geometric dedup (exact segment dedup,
snap.rs:96-101 → `dropDuplicates`), large-scale corpus curation needs
near-duplicate detection. All operators are DataFrame-in/out,
shuffle-light, and deterministic (seeded hash families):

* ``exact_dedup``          — content-hash groupBy, keep min id.
* ``minhash_lsh_dedup``    — shingle → minhash signature → LSH bands →
  narrow band-bucket join (keys+ids only) → candidate pairs →
  exact-Jaccard verify (shingles re-joined by id).
* ``minhash_dedup_keepers``/``connected_keepers`` — min-id label
  propagation over the pair graph → (doc_id, keeper) per document.
* ``simhash_dedup``        — simhash exact-bucket grouping (hamming 0).
* ``simhash_neardup_pairs`` — hamming ≤ k (k ≤ 3) via 4-band LSH with
  pigeonhole-exact recall + bit_count verify.
* ``ngram_jaccard_pairs``  — exact Jaccard over shingle sets for
  candidate pairs (the verify stage, also usable standalone).

Hashing: xxhash64 column functions (JVM-side) for shingles; the
minhash family is `(a_i * h + b_i) mod p` over 64-bit shingle hashes
— pure column arithmetic, no Python in the hot path.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, functions as F, types as T

# 31-bit Mersenne prime: with a, b, pmod(x) all < 2^31, the linear
# hash a*x + b stays under 2^62 — no long overflow under ANSI mode
_MERSENNE = (1 << 31) - 1


def shingle_hashes(df: DataFrame, text: str = "text", n: int = 5) -> DataFrame:
    """Adds ``shingle_hashes: array<long>`` — distinct xxhash64 of
    character n-grams.

    ``lower(text)`` is evaluated ONCE per row into a projected column
    the lambda references (r6): inlined into the transform lambda it
    re-lowered the whole document at every shingle position — O(len²)
    character copies per document. CollapseProject keeps the alias
    because it is referenced more than once and non-trivial."""
    lt = f"__lt_{text}"
    sh = F.expr(
        f"array_distinct(transform(sequence(1, greatest(length({lt}) - {n - 1}, 1)), "
        f"i -> xxhash64(substring({lt}, i, {n}))))"
    )
    return (
        df.withColumn(lt, F.lower(F.col(text)))
        .withColumn("shingle_hashes", sh)
        .drop(lt)
    )


def exact_dedup(df: DataFrame, text: str = "text", id_col: str = "doc_id") -> DataFrame:
    """Exact content dedup: one keeper row per distinct text hash."""
    return (
        df.withColumn("_h", F.md5(F.col(text).cast("binary")))
        .groupBy("_h")
        .agg(F.min(id_col).alias("keeper"), F.count("*").alias("n_dupes"))
        .drop("_h")
    )


def minhash_signature(
    df: DataFrame, num_hashes: int = 64, seed: int = 42, shingle_col: str = "shingle_hashes"
) -> DataFrame:
    """Adds ``sig: array<long>`` minhash signature. Hash family
    h_i(x) = (a_i * x + b_i) mod p (p = 2^31 - 1), deterministic in
    ``seed``.

    r6 (guide §4.2): evaluated as ONE vectorized numpy pass inside
    ``mapInPandas`` instead of 64 per-hash SQL ``aggregate`` lambdas.
    The higher-order-function path re-walked every shingle array 64
    times with interpreted lambda evaluation (~2.8 s of the 30 s
    minhash bench wall at 33k docs); the numpy pass computes the same
    int64 arithmetic (products < 2^62 — no overflow; ``np.mod`` with a
    positive modulus matches Spark ``pmod``) batch-at-a-time and is
    bit-identical, pinned by tests/test_dedup.py minhash assertions
    and the doc_minhash_* oracle rows."""
    rng = np.random.default_rng(seed)
    a = rng.integers(1, _MERSENNE, size=num_hashes, dtype=np.int64)
    b = rng.integers(0, _MERSENNE, size=num_hashes, dtype=np.int64)
    M = np.int64(_MERSENNE)
    out_schema = T.StructType(
        list(df.schema.fields) + [T.StructField("sig", T.ArrayType(T.LongType()), False)]
    )

    def compute(batches):
        for pdf in batches:
            n = len(pdf)
            if n == 0:
                out = pdf.copy()
                out["sig"] = pd.Series([], dtype=object)
                yield out
                continue
            col = pdf[shingle_col]
            lens = np.fromiter((len(v) for v in col), np.int64, n)
            total = int(lens.sum())
            flat = np.empty(total, np.int64)
            o = 0
            for v in col:
                k = len(v)
                flat[o : o + k] = v
                o += k
            xm = np.mod(flat, M)  # positive 31-bit fold (== pmod)
            starts = np.concatenate(([np.int64(0)], np.cumsum(lens)))[:-1]
            nonempty = lens > 0
            all_nonempty = bool(nonempty.all())
            ne_starts = starts[nonempty]
            sigs = np.full((n, num_hashes), M, np.int64)
            # hash-chunked: bounds the (elements × hashes) working set
            for h0 in range(0, num_hashes, 8):
                h1 = min(h0 + 8, num_hashes)
                H = (a[h0:h1][None, :] * xm[:, None] + b[h0:h1][None, :]) % M
                if all_nonempty:
                    sigs[:, h0:h1] = np.minimum.reduceat(H, starts, axis=0)
                elif ne_starts.size:
                    # reduceat mis-handles empty segments; reduce the
                    # nonempty ones and leave the aggregate init (M)
                    red = np.minimum.reduceat(H, ne_starts, axis=0)
                    # trailing nonempty segment is correct; interior
                    # ones may span a following empty segment — but an
                    # empty segment contributes no elements, so the
                    # span equals the nonempty segment's own elements
                    sigs[nonempty, h0:h1] = red
                del H
            out = pdf.copy()
            out["sig"] = list(sigs)
            yield out

    return df.mapInPandas(compute, out_schema)


def minhash_lsh_dedup(
    df: DataFrame,
    text: str = "text",
    id_col: str = "doc_id",
    num_hashes: int = 64,
    bands: int = 16,
    shingle_n: int = 5,
    seed: int = 42,
    jaccard_threshold: float | None = 0.8,
    max_bucket: int = 4096,
) -> DataFrame:
    """Near-dup candidate pairs via banded minhash LSH.

    Returns (id_a, id_b, jaccard) for candidate pairs that share at
    least one LSH band bucket (and pass the exact-Jaccard threshold
    when set). rows_per_band = num_hashes // bands.

    Scale design (100 TB):

    * the band self-join carries ONLY ``(band_key, id)`` — shingle
      arrays never ride the candidate shuffle; they re-join by id once
      per side for the Jaccard verify, so each document's shingle set
      crosses the wire exactly twice total, independent of how many
      candidate pairs it appears in;
    * degenerate band buckets (boilerplate/identical documents) are
      quadratic if fully paired — buckets larger than ``max_bucket``
      emit STAR candidates instead (bucket-min id × member, O(m) not
      O(m²)). Exact for the identical-content buckets that cause mega
      buckets in practice (every member verifies against the anchor and
      the pair graph stays connected for keeper resolution); a lossy
      approximation only when a >max_bucket bucket mixes documents that
      are near-dups of each other but NOT of the anchor.
    """
    rows_per_band = num_hashes // bands
    # deliberately NOT persisted: Catalyst pulls the shingle expression
    # ABOVE the verify join, so the a/b sides compute shingles only for
    # the matched candidate rows (~pairs), not the whole corpus —
    # measured 3× faster at 110k docs than caching the full shingle
    # table (which forces corpus-wide materialization)
    shingled = shingle_hashes(df, text, shingle_n).select(id_col, "shingle_hashes")
    base = minhash_signature(shingled, num_hashes, seed)

    # band keys: hash of each signature slice
    band_cols = [
        F.xxhash64(F.lit(bnd), *[F.col("sig")[bnd * rows_per_band + r] for r in range(rows_per_band)])
        for bnd in range(bands)
    ]
    banded = base.select(
        F.col(id_col).alias("_id"), F.explode(F.array(*band_cols)).alias("band_key")
    )
    # r6 (guide §2.4): the band frame feeds THREE scans (bucket stats,
    # the keyed join, and both sides of the small-bucket self-join);
    # left as expressions, each scan re-ran the shingle+signature
    # subtree — measured ~3× the one-pass cost at 33k docs (11.8 s vs
    # 4.2 s to candidates). A lazy localCheckpoint materializes the
    # narrow (id, band_key) rows once — 16 rows × 16 bytes per doc —
    # and every scan reads the checkpointed blocks; lineage truncation
    # also keeps the self-join plan small. Blocks are GC-cleaned with
    # the frame (same discipline as connected_keepers' rounds).
    banded = banded.localCheckpoint(eager=False)

    # bucket stats: anchor (min id) + size, one narrow aggregate
    buckets = banded.groupBy("band_key").agg(
        F.min("_id").alias("_anchor"), F.count("*").alias("_bsz")
    )
    keyed = banded.join(buckets, "band_key")

    small = keyed.where(F.col("_bsz") <= max_bucket)
    cand_small = (
        small.select(F.col("_id").alias("id_a"), "band_key")
        .join(small.select(F.col("_id").alias("id_b"), "band_key"), "band_key")
        .where(F.col("id_a") < F.col("id_b"))
        .select("id_a", "id_b")
    )
    cand_big = (
        keyed.where((F.col("_bsz") > max_bucket) & (F.col("_id") != F.col("_anchor")))
        .select(F.col("_anchor").alias("id_a"), F.col("_id").alias("id_b"))
    )
    pairs = cand_small.unionByName(cand_big).dropDuplicates(["id_a", "id_b"])

    # verify: re-join shingle sets by id (the only shuffle they cross)
    a = shingled.select(F.col(id_col).alias("id_a"), F.col("shingle_hashes").alias("sh_a"))
    b = shingled.select(F.col(id_col).alias("id_b"), F.col("shingle_hashes").alias("sh_b"))
    pairs = pairs.join(a, "id_a").join(b, "id_b")
    inter = F.size(F.array_intersect("sh_a", "sh_b")).cast("double")
    union = F.size(F.array_union("sh_a", "sh_b")).cast("double")
    pairs = pairs.withColumn("jaccard", inter / union).select("id_a", "id_b", "jaccard")
    if jaccard_threshold is not None:
        pairs = pairs.where(F.col("jaccard") >= jaccard_threshold)
    return pairs


def connected_keepers(
    pairs: DataFrame,
    all_ids: DataFrame | None = None,
    id_col: str = "doc_id",
    max_iter: int = 25,
) -> DataFrame:
    """Connected-components keeper resolution over a near-dup pair
    graph: every document maps to the MINIMUM id of its component
    (``(doc_id, keeper)``; singletons keep themselves when ``all_ids``
    supplies the full id universe).

    Min-label propagation WITH pointer doubling: each round every node
    takes min(own label, neighbors' labels, label-of-its-label) — the
    doubling step (label ← label[label]) makes label chains collapse
    in O(log diameter) rounds instead of O(diameter), so even a long
    chained-paraphrase corpus (each adjacent pair near-dup) converges
    well inside ``max_iter``. Convergence is detected with an exact
    overflow-free checksum (count + bit_xor of xxhash64(id, label)),
    one tiny aggregate per round; exhausting ``max_iter`` without
    convergence RAISES instead of silently returning labels that split
    one component into several keepers.
    """
    edges = pairs.select(F.col("id_a").alias("src"), F.col("id_b").alias("dst"))
    # pre-partitioned on the per-round join key (dst), so every round's
    # neighbor join reuses the cached partitioning instead of paying a
    # fresh exchange of the (static) edge set (guide §2.4)
    edges = (
        edges.unionByName(
            edges.select(F.col("dst").alias("src"), F.col("src").alias("dst"))
        )
        .repartition("dst")
        .persist()
    )

    if all_ids is not None:
        nodes = all_ids.select(F.col(id_col).alias("id")).distinct()
    else:
        nodes = edges.select(F.col("src").alias("id")).distinct()
    labels = nodes.withColumn("label", F.col("id")).persist()

    def checksum(lbl: DataFrame) -> tuple:
        row = lbl.agg(
            F.count("*").alias("n"), F.bit_xor(F.xxhash64("id", "label")).alias("x")
        ).collect()[0]
        return (row["n"], row["x"])

    prev = checksum(labels)
    converged = False
    for _ in range(max_iter):
        # r6 fused round (one aggregation instead of a three-join
        # chain): new_label(u) = min(own, labels of neighbors,
        # label-of-label) via a union of three message streams. The
        # pointer-doubling hop resolves against the PREVIOUS round's
        # labels rather than the post-neighbor-min frame — a one-round
        # lag that keeps the update monotone (labels only decrease to
        # other in-component label values; the fixpoint where no label
        # changes still forces label(u) ≤ label(v) across every edge,
        # i.e. component-constant = component min) while halving the
        # per-round exchange count: the old shape ran ~7 exchange
        # waves per round under AQE, the fused shape 4, and the two
        # labels-by-id scans share one reused exchange.
        nbr_msgs = edges.join(labels, edges.dst == labels.id).select(
            F.col("src").alias("id"), "label"
        )
        hop_msgs = (
            labels.select(F.col("id").alias("_u"), F.col("label").alias("_l"))
            .join(labels, F.col("_l") == labels.id)
            .select(F.col("_u").alias("id"), "label")
        )
        new_labels = (
            labels.select("id", "label")
            .unionByName(nbr_msgs)
            .unionByName(hop_msgs)
            .groupBy("id")
            .agg(F.min("label").alias("label"))
        )
        # localCheckpoint, not persist: the hop stream references the
        # prior round's frame twice, so an uncut logical plan doubles
        # per round — exponential tree size that stalls the optimizer
        # long before the data is large. Checkpointing truncates the
        # lineage to a constant-size leaf per round.
        new_labels = new_labels.localCheckpoint(eager=False)
        cur = checksum(new_labels)
        labels.unpersist()
        labels = new_labels
        if cur == prev:
            converged = True
            break
        prev = cur
    edges.unpersist()
    if not converged:
        labels.unpersist()
        raise RuntimeError(
            f"connected_keepers: no convergence after {max_iter} rounds — "
            "component label chains did not collapse (raise max_iter)"
        )
    return labels.select(F.col("id").alias(id_col), F.col("label").alias("keeper"))


def minhash_dedup_keepers(
    df: DataFrame, text: str = "text", id_col: str = "doc_id", **lsh_kwargs
) -> DataFrame:
    """End-to-end near-dup dedup: minhash-LSH pairs → connected
    components → ``(doc_id, keeper)`` for EVERY input document
    (singletons keep themselves). The doc→keeper mapping a curation
    pipeline filters on (keep rows where doc_id = keeper).

    Precondition: ``id_col`` is unique. It is not checked: a
    ``distinct()`` would add a shuffle that no recorded workload needs. A
    repeated id still gives one output row per input row, and all rows
    of that id get the same keeper: the documents sharing it are one
    node of the pair graph (an edge from any of them links the id), and
    they are never compared with each other.

    r6 (guide §1.2 — don't compute what's known): CC runs over the
    PAIR-TOUCHED ids only — a singleton's label can never change (no
    edge, and the doubling hop is the identity on self-labels), so
    carrying the whole corpus through every round's joins and checksums
    only scaled the rounds with corpus size. Singletons attach as
    keeper = self with one left join in the returned plan; at corpus
    scale the CC rounds now cost O(duplicate subgraph), not O(corpus)."""
    pairs = minhash_lsh_dedup(df, text, id_col, **lsh_kwargs)
    cc = connected_keepers(pairs, id_col=id_col)
    return (
        df.select(F.col(id_col))
        .join(cc, id_col, "left")
        .withColumn("keeper", F.coalesce("keeper", F.col(id_col)))
    )


def simhash64(
    df: DataFrame, text: str = "text", shingle_n: int = 5, hasher: str = "xxhash64"
) -> DataFrame:
    """Adds ``simhash: long`` — simhash over shingle hashes: bit b of
    the result = majority vote of bit b across shingles. Pure column
    arithmetic (one aggregate expression per bit, codegen'd).

    ``hasher``: "xxhash64" (default, JVM-native, 64 bits) or
    "portable" (62 bits; base-131 shingle codes + 31-bit linear
    mixers from functions/portable_hash.py — bit-identical SQL exists
    for DuckDB, which is how the driver's oracle replicates this
    operator end to end)."""
    if hasher == "portable":
        from ..functions.portable_hash import (
            PORTABLE_SIMHASH_BITS,
            shingle_list_sql,
            simhash_sql,
        )

        df = df.withColumn("shingle_hashes", F.expr(shingle_list_sql(text, shingle_n, "spark")))
        return df.withColumn(
            "simhash", F.expr(simhash_sql("shingle_hashes", PORTABLE_SIMHASH_BITS, engine="spark"))
        ).drop("shingle_hashes")
    if hasher != "xxhash64":
        raise ValueError(f"hasher must be xxhash64|portable, got {hasher!r}")
    df = shingle_hashes(df, text, shingle_n)
    bits = []
    for b in range(64):
        vote = F.expr(
            f"aggregate(shingle_hashes, 0L, (acc, x) -> acc + "
            f"(CASE WHEN (shiftright(x, {b}) & 1) = 1 THEN 1 ELSE -1 END))"
        )
        bit = F.when(vote > 0, F.lit(1).cast("long")).otherwise(F.lit(0).cast("long"))
        bits.append(F.shiftleft(bit, b))
    sh = bits[0]
    for c in bits[1:]:
        sh = sh.bitwiseOR(c)
    return df.withColumn("simhash", sh).drop("shingle_hashes")


def simhash_dedup(
    df: DataFrame,
    text: str = "text",
    id_col: str = "doc_id",
    shingle_n: int = 5,
    hasher: str = "xxhash64",
) -> DataFrame:
    """Exact-simhash duplicate groups (hamming distance 0): one keeper
    per simhash bucket. Near-dup ≤k-bit variant: simhash_neardup_pairs."""
    return (
        simhash64(df, text, shingle_n, hasher=hasher)
        .groupBy("simhash")
        .agg(F.min(id_col).alias("keeper"), F.count("*").alias("n_dupes"))
    )


def simhash_neardup_pairs(
    df: DataFrame,
    text: str = "text",
    id_col: str = "doc_id",
    shingle_n: int = 5,
    k: int = 3,
    hasher: str = "xxhash64",
    max_bucket: int = 4096,
) -> DataFrame:
    """Near-dup pairs with simhash hamming distance ≤ k (k ≤ 3), via
    4-band LSH over the simhash bits: any two hashes differing in ≤ 3
    bits agree on ≥ 1 of 4 disjoint bands (pigeonhole), so banding has
    EXACT recall for k ≤ 3; ``bit_count(xor)`` verifies and removes
    band false positives. Output: (id_a, id_b, hamming).

    Scale shape = minhash band join: the self-join carries only
    (band_key, id, simhash) — 24 bytes/row — and each band bucket is
    an equi-join bucket, never an all-pairs scan; mega buckets
    (identical-content corpora) are anchor-star capped
    (``_banded_hamming_pairs``, r3 — previously an O(m²) hole)."""
    if not 0 <= k <= 3:
        raise ValueError("4-band simhash LSH guarantees recall only for k <= 3")
    n_bits = 62 if hasher == "portable" else 64
    base = simhash64(df, text, shingle_n, hasher=hasher).select(
        F.col(id_col).alias("_id"), F.col("simhash").alias("_bits")
    )
    return _banded_hamming_pairs(base, k, n_bits, max_bucket)


def _banded_hamming_pairs(
    base: DataFrame, k: int, n_bits: int, max_bucket: int
) -> DataFrame:
    """Shared core of the 4-band hamming LSH joins: ``base`` has
    (_id, _bits). Mega band buckets (> ``max_bucket`` members) are
    sub-bucketed BY FULL FINGERPRINT (r4): members sharing a
    fingerprint star to a per-value anchor (hamming 0 — exact, O(m)),
    and the distinct-value anchors within the bucket pair all-ways,
    so a ≤k pair between two NON-identical fingerprints that band-
    collided into a mega bucket is still recovered (r3's plain
    anchor-star silently dropped those — it only linked members to
    the single bucket-min anchor, whose hamming to them could be > k).
    Recall is therefore EXACT (as a connectivity-preserving pair set:
    same-value members link via their value anchor at hamming 0)
    unless a single band bucket holds more than ``max_bucket``
    DISTINCT fingerprints — a far weaker assumption than r3's
    ≤ max_bucket members; that residual case falls back to a star
    over the value anchors and is the same documented cap/caveat as
    the minhash and embedding joins."""
    n_bands = 4
    bounds = [round(i * n_bits / n_bands) for i in range(n_bands + 1)]
    band_cols = []
    for m in range(n_bands):
        lo, width = bounds[m], bounds[m + 1] - bounds[m]
        mask = (1 << width) - 1
        band_cols.append(
            F.xxhash64(F.lit(m), F.shiftright("_bits", lo).bitwiseAND(F.lit(mask)))
        )
    banded = base.select("_id", "_bits", F.explode(F.array(*band_cols)).alias("band_key"))
    buckets = banded.groupBy("band_key").agg(F.count("*").alias("_bsz"))
    keyed = banded.join(buckets, "band_key")
    small = keyed.where(F.col("_bsz") <= max_bucket)
    a = small.select(F.col("_id").alias("id_a"), F.col("_bits").alias("bits_a"), "band_key")
    b = small.select(F.col("_id").alias("id_b"), F.col("_bits").alias("bits_b"), "band_key")
    cand_small = (
        a.join(b, "band_key").where(F.col("id_a") < F.col("id_b")).select(
            "id_a", "bits_a", "id_b", "bits_b"
        )
    )
    big = keyed.where(F.col("_bsz") > max_bucket)
    # per-(band_key, fingerprint) value groups: value anchor = min id
    vg = big.groupBy("band_key", "_bits").agg(F.min("_id").alias("_va"))
    # (a) identical-value stars: member × its value anchor, hamming 0
    star = (
        big.join(vg, ["band_key", "_bits"])
        .where(F.col("_id") != F.col("_va"))
        .select(
            F.col("_va").alias("id_a"),
            F.col("_bits").alias("bits_a"),
            F.col("_id").alias("id_b"),
            F.col("_bits").alias("bits_b"),
        )
    )
    # (b) cross-value pairs among value anchors; a bucket with more
    # than max_bucket DISTINCT fingerprints (pathological band
    # collision) caps to a star over its min value anchor
    vstats = vg.groupBy("band_key").agg(
        F.min("_va").alias("_ba"), F.count("*").alias("_nd")
    )
    vk = vg.join(vstats, "band_key")
    sv = vk.where(F.col("_nd") <= max_bucket)
    cross_small = (
        sv.select(F.col("_va").alias("id_a"), F.col("_bits").alias("bits_a"), "band_key")
        .join(
            sv.select(
                F.col("_va").alias("id_b"), F.col("_bits").alias("bits_b"), "band_key"
            ),
            "band_key",
        )
        .where(F.col("id_a") < F.col("id_b"))
        .select("id_a", "bits_a", "id_b", "bits_b")
    )
    bv = vk.where(F.col("_nd") > max_bucket)
    cross_big = (
        bv.where(F.col("_va") == F.col("_ba"))
        .select("band_key", F.col("_va").alias("id_a"), F.col("_bits").alias("bits_a"))
        .join(
            bv.where(F.col("_va") != F.col("_ba")).select(
                "band_key", F.col("_va").alias("id_b"), F.col("_bits").alias("bits_b")
            ),
            "band_key",
        )
        .select("id_a", "bits_a", "id_b", "bits_b")
    )
    cand_big = star.unionByName(cross_small).unionByName(cross_big)
    return (
        cand_small.unionByName(cand_big)
        .dropDuplicates(["id_a", "id_b"])
        .withColumn("hamming", F.bit_count(F.expr("bits_a ^ bits_b")).cast("long"))
        .where(F.col("hamming") <= k)
        .select("id_a", "id_b", "hamming")
    )


def hamming_neardup_pairs(
    df: DataFrame,
    bits_col: str,
    id_col: str,
    k: int = 3,
    n_bits: int = 64,
    max_bucket: int = 4096,
) -> DataFrame:
    """Near-dup pairs over ANY 64-bit fingerprint column with hamming
    distance ≤ k (k ≤ 3): the simhash 4-band LSH generalized to a
    caller-supplied column. The flagship use is IMAGE dedup on the
    image table's perceptual hash (``phash``) — two images whose
    8×8 average-hashes differ in ≤ k cells are near-duplicate
    crops/re-encodes; the same pigeonhole argument gives EXACT recall
    (any two values differing in ≤ 3 bits agree on ≥ 1 of 4 disjoint
    bands), and ``bit_count`` verification removes band false
    positives. Output: (id_a, id_b, hamming).

    Scale shape = the minhash/simhash band joins: the self-join
    carries only (band_key, id, bits) — 24 bytes/row — and each band
    bucket is an equi-join bucket, never an all-pairs scan. Buckets
    beyond ``max_bucket`` are anchor-star capped
    (``_banded_hamming_pairs``)."""
    if not 0 <= k <= 3:
        raise ValueError("4-band hamming LSH guarantees recall only for k <= 3")
    base = df.select(F.col(id_col).alias("_id"), F.col(bits_col).alias("_bits"))
    return _banded_hamming_pairs(base, k, n_bits, max_bucket)


def ngram_jaccard_pairs(
    df: DataFrame, ids: DataFrame, text: str = "text", id_col: str = "doc_id", shingle_n: int = 5
) -> DataFrame:
    """Exact n-gram Jaccard for explicit id pairs (id_a, id_b)."""
    sh = shingle_hashes(df, text, shingle_n).select(id_col, "shingle_hashes")
    a = sh.select(F.col(id_col).alias("id_a"), F.col("shingle_hashes").alias("sh_a"))
    b = sh.select(F.col(id_col).alias("id_b"), F.col("shingle_hashes").alias("sh_b"))
    j = ids.join(a, "id_a").join(b, "id_b")
    inter = F.size(F.array_intersect("sh_a", "sh_b")).cast("double")
    union = F.size(F.array_union("sh_a", "sh_b")).cast("double")
    return j.select("id_a", "id_b", (inter / union).alias("jaccard"))
