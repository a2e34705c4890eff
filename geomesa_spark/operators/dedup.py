"""Deduplication operators for large-scale training-data pipelines.

Not part of the GeoMesa reference surface — these are the corpus-pipeline
operators the build brief adds as first-class components.  All stages are
Spark-native or Arrow-batched; nothing collects to the driver.  Each
near-duplicate algorithm has ONE implementation, and every banded one
finds its candidates through the same self-join (:func:`_candidate_pairs`):

- :func:`exact_dedup` — hash-groupBy keep-first (one shuffle on the hash);
- :func:`minhash_lsh_pairs` — character-shingle MinHash on an md5 basis
  (Arrow signatures) → banding → candidate pairs → matching-slot verify.
  The classic MinHash+LSH pipeline: at 100 TB the only shuffle is on band
  buckets, and the verify touches only candidates;
- :func:`minhash_lsh_pairs_jvm` — word-set MinHash with all-JVM md5
  signatures and an exact token-set Jaccard verify;
- :func:`simhash_pairs_jvm` — all-JVM md5 SimHash + Hamming-ball blocking
  (each pair within distance k < n_blocks shares at least one exact
  block), exact Hamming verify;
- :func:`embedding_near_dup_exact` — cosine near-duplicates via integer
  sign-LSH over quantized vectors + an exact big-int cosine verify.

Every hash is md5-derived, so a DuckDB twin recomputes each pipeline
bit-for-bit.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
import pyspark.sql.functions as F
from pyspark.sql import DataFrame


def exact_dedup(df: DataFrame, text_col: str = "text", id_col: str = "doc_id") -> DataFrame:
    """Keep the min-id row per exact text hash.  Map-side partial agg →
    one shuffle; at scale, xxhash64 keys distribute uniformly."""
    return (
        df.withColumn("_h", F.xxhash64(F.col(text_col)))
        .groupBy("_h")
        .agg(F.min(id_col).alias("keep_id"), F.count(F.lit(1)).alias("n_dups"))
        .withColumnRenamed("_h", "text_hash")
    )


def _candidate_pairs(
    df: DataFrame, keys: F.Column, carry: tuple[str, ...] = ()
) -> DataFrame:
    """The banded LSH candidate join every near-dup operator shares.

    ``df`` holds ``id`` and the ``carry`` columns; ``keys`` is an
    array<struct<band, key>> expression over them.  Returns (id_a, id_b,
    then ``<c>_a``, ``<c>_b`` for each carried column c): every id pair
    that shares at least one (band, key), exactly once, with id_a < id_b.
    Plan: explode ×bands → shuffle self-join on (band, key) →
    dropDuplicates on the pair; no O(n²) anywhere.  Carried columns ride
    the shuffle once per band, so wide ones (signatures, token sets)
    re-attach to the deduped pairs through :func:`_with_both` instead.

    ``keys`` is exploded as an expression, never as a projected column:
    for a column, Catalyst infers ``size(keys) > 0`` below the explode and
    pushes it through the projection, which evaluates the whole key
    expression (every signature) a second time."""
    e = df.select("id", *carry, F.explode(keys).alias("k")).select(
        "id", *carry, F.col("k.band").alias("band"), F.col("k.key").alias("key")
    )
    a, b = e.alias("a"), e.alias("b")
    return (
        a.join(
            b,
            (F.col("a.band") == F.col("b.band"))
            & (F.col("a.key") == F.col("b.key"))
            & (F.col("a.id") < F.col("b.id")),
        )
        .select(
            F.col("a.id").alias("id_a"),
            F.col("b.id").alias("id_b"),
            *[F.col(f"a.{c}").alias(f"{c}_a") for c in carry],
            *[F.col(f"b.{c}").alias(f"{c}_b") for c in carry],
        )
        .dropDuplicates(["id_a", "id_b"])
    )


def _with_both(pairs: DataFrame, table: DataFrame, col: str) -> DataFrame:
    """Attach ``table``'s ``col`` (keyed by ``id``) to both sides of
    (id_a, id_b) pairs as ``<col>_a`` / ``<col>_b``."""
    return pairs.join(
        table.select(F.col("id").alias("id_a"), F.col(col).alias(f"{col}_a")), "id_a"
    ).join(table.select(F.col("id").alias("id_b"), F.col(col).alias(f"{col}_b")), "id_b")


def minhash_signatures(
    df: DataFrame, text_col: str = "text", id_col: str = "doc_id",
    num_perm: int = 16, shingle_k: int = 5,
) -> DataFrame:
    """(id, sig array<long>) — character-shingle MinHash on an md5 basis,
    oracle-portable: h(s) = the first 15 hex chars of md5(utf8(s)) as
    int64 (60 bits), sig_i = min over DISTINCT k-char shingles of
    lower(text) of ``h(s) XOR C_i`` with C_i = first-15-hex of md5(str(i)).
    All values stay below 2^60, so signed and unsigned min agree and DuckDB
    reproduces every signature bit-for-bit.  Texts shorter than k are
    space-padded to one shingle (rpad semantics).  Arrow-batched; md5 runs
    once per distinct shingle (a bit-equal SQL port measured 7× slower)."""
    import hashlib

    consts = [
        int(hashlib.md5(str(i).encode()).hexdigest()[:15], 16) for i in range(num_perm)
    ]

    @F.pandas_udf("array<long>")
    def sig(texts: pd.Series) -> pd.Series:
        import hashlib

        cv = np.asarray(consts, dtype=np.int64)
        out = []
        for t in texts.to_numpy(object):
            t = (t or "").lower()
            if len(t) < shingle_k:
                t = t.ljust(shingle_k)
            sset = {t[i : i + shingle_k] for i in range(len(t) - shingle_k + 1)}
            hs = np.fromiter(
                (
                    int(hashlib.md5(s.encode("utf-8")).hexdigest()[:15], 16)
                    for s in sset
                ),
                dtype=np.int64,
                count=len(sset),
            )
            out.append(np.bitwise_xor(hs[:, None], cv[None, :]).min(axis=0).tolist())
        return pd.Series(out)

    return df.select(F.col(id_col).alias("id"), sig(F.col(text_col)).alias("sig"))


def minhash_lsh_pairs(
    df: DataFrame, text_col: str = "text", id_col: str = "doc_id",
    num_perm: int = 16, bands: int = 4, shingle_k: int = 5,
    jaccard_threshold: float = 0.5,
) -> DataFrame:
    """Banded LSH over :func:`minhash_signatures` + signature verify.

    rows_per_band = num_perm // bands; two docs are candidates if any band
    of their signatures is identical (band rows stay narrow — the
    signatures re-attach to the deduped candidates).  Returns (id_a, id_b,
    n_match INT): the integer count of matching signature slots (the
    estimate n_match / num_perm stays ≥ threshold via integer comparison,
    no float edge)."""
    from ..cache import swap_cache

    r = num_perm // bands
    sigs = swap_cache(
        "minhash_lsh_pairs.sigs",
        minhash_signatures(df, text_col, id_col, num_perm, shingle_k),
    )
    keys = F.array(
        *[
            F.struct(
                F.lit(i).alias("band"),
                F.xxhash64(F.slice("sig", i * r + 1, r).cast("string")).alias("key"),
            )
            for i in range(bands)
        ]
    )
    cand = _with_both(_candidate_pairs(sigs, keys), sigs, "sig")
    n_match = F.expr(
        "size(filter(zip_with(sig_a, sig_b, (x, y) -> x = y), v -> v))"
    ).cast("int")
    pct = int(round(jaccard_threshold * 100))
    return (
        cand.withColumn("n_match", n_match)
        .filter(F.col("n_match") * 100 >= num_perm * pct)
        .select("id_a", "id_b", "n_match")
    )


_TOKS = "array_distinct(filter(split(lower({text}), ' '), x -> length(x) > 0))"


def minhash_lsh_pairs_jvm(
    df: DataFrame, text_col: str = "text", id_col: str = "doc_id",
    n_sigs: int = 12, n_bands: int = 4, jaccard_threshold: float = 0.5,
) -> DataFrame:
    """Word-set MinHash+LSH near-dup pairs, all-JVM and oracle-portable.

    Signature i = MIN over distinct tokens of md5('<i>|' || token) — a
    lexicographic min over hex strings, identical in any engine.  Bands of
    ``n_sigs // n_bands`` rows hash to a bucket key; candidates share a
    (band, key) (:func:`_candidate_pairs`); the exact token-set Jaccard
    then verifies candidates.  No Python; the token arrays re-attach to
    the deduped candidates only.
    """
    from ..cache import swap_cache

    rows = n_sigs // n_bands
    toks = _TOKS.format(text=text_col)
    d = swap_cache(
        "minhash_lsh_pairs_jvm.toks",
        df.select(F.col(id_col).alias("id"), F.expr(toks).alias("toks")).filter(
            F.size("toks") > 0
        ),
    )
    sig_cols = [
        F.expr(
            f"array_min(transform(toks, t -> md5(concat('{i}|', t))))"
        ).alias(f"sig{i}")
        for i in range(n_sigs)
    ]
    keys = F.array(
        *[
            F.struct(
                F.lit(b).alias("band"),
                F.md5(
                    F.concat_ws("|", *[F.col(f"sig{b * rows + r}") for r in range(rows)])
                ).alias("key"),
            )
            for b in range(n_bands)
        ]
    )
    pairs = _with_both(_candidate_pairs(d.select("id", *sig_cols), keys), d, "toks")
    inter = F.size(F.array_intersect("toks_a", "toks_b"))
    union = F.size("toks_a") + F.size("toks_b") - inter
    pct = int(round(jaccard_threshold * 100))
    return (
        pairs.withColumn("i", inter).withColumn("u", union)
        .filter(F.col("i") * 100 >= F.col("u") * pct)
        .select(F.col("id_a").alias("doc_a"), F.col("id_b").alias("doc_b"), "i", "u")
    )


def simhash_values_jvm(
    df: DataFrame, text_col: str, id_col: str, n_bits: int,
    keep_cols: tuple[str, ...] = (),
) -> DataFrame:
    """(id, simhash, *keep_cols) — the md5 SimHash, all-JVM, over the
    DISTINCT tokens of ``split(lower(text), ' ')`` with empties dropped;
    docs with no token are dropped.  Bit j of a token's weight vector is
    bit ``j % 16`` of the int of hex chars ``[4·(j//16), 4·(j//16)+4)`` of
    md5(token); document bit j is 1 iff at least half the tokens set it
    (``2·count ≥ n`` — the sign rule of the ±1 sum, ties to 1).

    md5 runs once per token: its first 4·G hex chars (G = ⌈n_bits/16⌉)
    parse as one BIGINT, where hex group g sits at bits
    [16·(G−1−g), 16·(G−g)).  Pure projection — no persist here, because
    the streaming tier calls this on a streaming frame."""
    assert 1 <= n_bits <= 64, "the hash is one BIGINT"
    n_groups = (n_bits + 15) // 16
    d = df.select(
        F.col(id_col).alias("id"), F.expr(_TOKS.format(text=text_col)).alias("toks"),
        *[F.col(c) for c in keep_cols],
    ).filter(F.size("toks") > 0)
    words = F.expr(
        f"transform(toks, t -> CAST(conv(substring(md5(t), 1, {4 * n_groups}), 16, -10)"
        " AS BIGINT))"
    )
    d = d.select("id", F.size("toks").alias("n"), words.alias("words"), *keep_cols)
    bit_terms = []
    for j in range(n_bits):
        pos = 16 * (n_groups - 1 - j // 16) + j % 16
        count = f"aggregate(words, 0, (c, w) -> c + CAST(shiftrightunsigned(w, {pos}) & 1 AS INT))"
        bit_terms.append(f"(CASE WHEN 2 * {count} >= n THEN shiftleft(1L, {j}) ELSE 0L END)")
    return d.select("id", F.expr(" | ".join(bit_terms)).alias("simhash"), *keep_cols)


def _simhash_block_keys(n_bits: int, n_blocks: int) -> F.Column:
    """array<struct<band, key>>: ``simhash`` cut into ``n_blocks``
    disjoint blocks of ``n_bits // n_blocks`` bits — the pigeonhole keys
    of the batch pair join and of the streaming tier's state groups."""
    width = n_bits // n_blocks
    mask = (1 << width) - 1
    return F.array(
        *[
            F.struct(
                F.lit(b).alias("band"),
                F.expr(f"shiftrightunsigned(simhash, {b * width}) & {mask}").alias("key"),
            )
            for b in range(n_blocks)
        ]
    )


def simhash_pairs_jvm(
    df: DataFrame, text_col: str = "text", id_col: str = "doc_id",
    n_bits: int = 16, n_blocks: int = 4, max_hamming: int = 3,
) -> DataFrame:
    """SimHash near-dup pairs, all-JVM, oracle-portable, and EXACT: with
    ``max_hamming < n_blocks`` the pigeonhole block join is complete (two
    hashes within the Hamming ball must agree on ≥1 block; bits past
    ``width·n_blocks`` lie outside every block, which only ADDS
    candidates), so the output equals the brute-force n² answer — a
    provable identity the DuckDB twin checks.  The hashes
    (:func:`simhash_values_jvm`) persist once, then a shuffle self-join on
    (block, value) and an exact popcount verify.

    Returns (doc_a, doc_b, hamming INT).
    """
    assert max_hamming < n_blocks, "pigeonhole completeness requires h < blocks"
    from ..cache import swap_cache

    d = swap_cache(
        "simhash_pairs_jvm.hashes", simhash_values_jvm(df, text_col, id_col, n_bits)
    )
    pairs = _candidate_pairs(d, _simhash_block_keys(n_bits, n_blocks), carry=("simhash",))
    return (
        pairs.withColumn("hamming", F.expr("CAST(bit_count(simhash_a ^ simhash_b) AS INT)"))
        .filter(F.col("hamming") <= max_hamming)
        .select(F.col("id_a").alias("doc_a"), F.col("id_b").alias("doc_b"), "hamming")
    )


def _cosine_at_least(tau2_num: int, tau2_den: int):
    """Arrow filter UDF (qa, qb) → cos(qa, qb) ≥ τ over integer vectors,
    τ² = tau2_num/tau2_den, evaluated as ``num > 0 ∧ tau2_den·num² ≥
    tau2_num·‖a‖²·‖b‖²`` in arbitrary-precision Python ints (oracle:
    HUGEINT) — no sqrt, no float comparison anywhere.  Returned marked
    nondeterministic (it is deterministic) so the optimizer keeps the
    filter where the caller put it, above the candidate join."""

    @F.pandas_udf("boolean")
    def verify(qa: pd.Series, qb: pd.Series) -> pd.Series:
        out = []
        for va, vb in zip(qa.to_numpy(object), qb.to_numpy(object)):
            num = sum(int(x) * int(y) for x, y in zip(va, vb))
            na2 = sum(int(x) * int(x) for x in va)
            nb2 = sum(int(y) * int(y) for y in vb)
            out.append(num > 0 and tau2_den * num * num >= tau2_num * na2 * nb2)
        return pd.Series(out, dtype=bool)

    return verify.asNondeterministic()


def _quantized(df: DataFrame, vec_col: str, id_col: str) -> DataFrame:
    """(id, qv): vectors as integer micros, ``ROUND(x*1e6)`` JVM-side
    (half-away-from-zero on both engines; float→double widening exact)."""
    return df.select(
        F.col(id_col).alias("id"),
        F.expr(
            f"transform({vec_col}, x -> CAST(ROUND(x * 1000000.0) AS BIGINT))"
        ).alias("qv"),
    )


def embedding_near_dup_exact(
    df: DataFrame, vec_col: str = "embedding", id_col: str = "vec_id",
    tau2_num: int = 81, tau2_den: int = 400,
    n_planes: int = 4, n_tables: int = 12,
) -> DataFrame:
    """Cosine near-dup pairs via hyperplane LSH where every step is
    integer arithmetic a plain-SQL engine reproduces bit-for-bit:

    - vectors quantize to integer micros (:func:`_quantized`);
    - "hyperplanes" are ±1 sign vectors derived from ``md5(t|p|j)``
      (first hex digit < '8' → +1) — deterministic and identical to the
      oracle's ``md5()``; sketch bit = (Σ s·q > 0), an exact int64 sum;
    - candidates share a full sketch in ≥1 of ``n_tables`` tables
      (:func:`_candidate_pairs`, table = band);
    - verify: the exact big-int cosine test of :func:`_cosine_at_least`.

    ±1 hyperplanes preserve the sign-LSH guarantee (E[collision] is
    monotone in angle for any symmetric coordinate distribution).

    Returns (id_a, id_b).
    """
    import hashlib

    first = df.select(vec_col).first()
    if first is None or first[0] is None:  # empty input → empty result
        return df.select(
            F.col(id_col).alias("id_a"), F.col(id_col).alias("id_b")
        ).limit(0)
    dim = len(first[0])
    signs = np.empty((n_tables, n_planes, dim), dtype=np.int64)
    for t in range(n_tables):
        for p in range(n_planes):
            for j in range(dim):
                h = hashlib.md5(f"{t}|{p}|{j}".encode()).hexdigest()
                signs[t, p, j] = 1 if int(h[0], 16) < 8 else -1

    @F.pandas_udf("array<long>")
    def keys_udf(qv: pd.Series) -> pd.Series:
        vals = qv.to_numpy(object)
        if len(vals) == 0:
            return pd.Series([], dtype=object)
        mat = np.asarray([np.asarray(v, dtype=np.int64) for v in vals])
        out = np.zeros((len(mat), n_tables), dtype=np.int64)
        for t in range(n_tables):
            dots = mat @ signs[t].T  # int64-exact: |q| ≤ 2e6·dim ≪ 2^63
            out[:, t] = ((dots > 0).astype(np.int64) << np.arange(n_planes)).sum(axis=1)
        return pd.Series([k.tolist() for k in out])

    q = _quantized(df, vec_col, id_col)
    keys = F.transform(
        keys_udf(F.col("qv")), lambda k, t: F.struct(t.alias("band"), k.alias("key"))
    )
    cand = _candidate_pairs(q, keys, carry=("qv",))
    verify = _cosine_at_least(tau2_num, tau2_den)
    return cand.filter(verify(F.col("qv_a"), F.col("qv_b"))).select("id_a", "id_b")


def jaccard_pairs_prefix(
    d: DataFrame,
    threshold_num: int = 80,
    threshold_den: int = 100,
    id_col: str = "id",
    toks_col: str = "toks",
    bucket_cols: tuple[str, ...] = (),
) -> DataFrame:
    """EXACT set-Jaccard pairs at ``threshold_num/threshold_den`` via
    PPJoin-style prefix filtering (Xiao et al., WWW'08 — public
    algorithm) — the scale-shaped replacement for the all-pairs
    within-bucket self-join.

    Lossless pruning: order each doc's tokens rarest-first by per-bucket
    document frequency (ties by token); two sets with Jaccard ≥ τ MUST
    share a token within their first ``n - ceil(τ·n) + 1`` tokens, so only
    docs sharing a PREFIX token become candidates.  Prefix tokens are by
    construction the rarest, which bounds the candidate-pair fan-out that
    makes a naive inverted-index join explode on stopwords.  Candidates
    are then verified exactly (array_intersect on the full token sets) —
    results are bit-identical to brute force at any scale.

    Plan: explode → df groupBy (1 shuffle) → rank window (1) → prefix
    self-join (1) → distinct pairs (1) → verify joins keyed by unique id.
    Every stage is linear in data or candidates; no cartesian anywhere.
    Degenerate empty-token docs (Jaccard 0/0 — included by the brute-force
    semantics) are paired in a separate branch that only touches the
    empty docs.  Integer threshold math keeps the filter float-jitter-free
    for oracle comparison.

    Returns (id_a, id_b, i, u): intersection and union sizes.
    """
    from pyspark.sql import Window

    bc = list(bucket_cols)
    base = (
        d.select(F.col(id_col).alias("id"), *bc, F.col(toks_col).alias("toks"))
        .withColumn("n", F.size("toks"))
    )
    nonempty = base.filter(F.col("n") > 0)
    ex = nonempty.select("id", *bc, "n", F.explode("toks").alias("tok"))
    dfreq = ex.groupBy(*bc, "tok").agg(F.count(F.lit(1)).alias("df"))
    # prefix length k = n - ceil(tau*n) + 1, integer math
    k = (
        F.col("n")
        - F.floor((F.col("n") * threshold_num + threshold_den - 1) / threshold_den)
        + 1
    )
    w = Window.partitionBy(*bc, "id").orderBy("df", "tok")
    pref = (
        ex.join(dfreq, bc + ["tok"])
        .withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= k)
        .select(*bc, "tok", "id")
    )
    cand = (
        pref.select(*bc, "tok", F.col("id").alias("id_a"))
        .join(pref.select(*bc, "tok", F.col("id").alias("id_b")), bc + ["tok"])
        .filter(F.col("id_a") < F.col("id_b"))
        .select("id_a", "id_b")
        .distinct()
    )
    verified = (
        cand.join(base.select(F.col("id").alias("id_a"), F.col("toks").alias("toks_a"),
                              F.col("n").alias("n_a")), "id_a")
        .join(base.select(F.col("id").alias("id_b"), F.col("toks").alias("toks_b"),
                          F.col("n").alias("n_b")), "id_b")
        .withColumn("i", F.size(F.array_intersect("toks_a", "toks_b")))
        .withColumn("u", F.col("n_a") + F.col("n_b") - F.col("i"))
        .filter(F.col("i") * threshold_den >= F.col("u") * threshold_num)
        .select("id_a", "id_b", "i", "u")
    )
    empty = base.filter(F.col("n") == 0)
    ea = empty.select(*bc, F.col("id").alias("id_a"))
    eb = empty.select(*bc, F.col("id").alias("id_b"))
    empty_pairs = (
        ea.join(eb, bc) if bc else ea.crossJoin(eb)
    ).filter(F.col("id_a") < F.col("id_b")).select(
        "id_a", "id_b", F.lit(0).alias("i"), F.lit(0).alias("u")
    )
    return verified.unionByName(empty_pairs)


def benchmark_contamination(
    docs: DataFrame,
    bench: DataFrame,
    n: int = 8,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Training-data DECONTAMINATION: flag corpus docs sharing any word
    n-gram with a benchmark/eval set (the public GPT-3-style 13-gram /
    8-gram overlap method, Brown et al. 2020 appendix C).

    100-TB shape: the benchmark is the SMALL side — its distinct n-gram
    hashes broadcast everywhere; corpus n-grams are generated entirely
    JVM-side (sequence + slice + concat_ws + xxhash64, whole-stage
    codegen), so the only shuffle is the per-doc countDistinct, which is
    map-side combinable on (doc, hash).  Hashing keeps join keys at 8
    bytes; the odds two DISTINCT grams collide within a ~1e6-gram
    benchmark are ~1e-7 (64-bit birthday), documented.

    Returns (id_col, n_hits): contaminated docs only, with the number of
    distinct shared n-grams."""
    toks = f"filter(split(lower({text_col}), ' '), x -> length(x) > 0)"
    gram_expr = (
        f"CASE WHEN size(_toks) >= {n} THEN "
        f"transform(sequence(1, size(_toks) - {n} + 1), "
        f"i -> xxhash64(concat_ws(' ', slice(_toks, i, {n})))) "
        f"ELSE array() END"
    )

    def grams(df: DataFrame, *cols):
        return (
            df.withColumn("_toks", F.expr(toks))
            .select(*cols, F.explode(F.expr(gram_expr)).alias("g"))
        )

    bench_grams = grams(bench).distinct()
    corpus_grams = grams(docs, id_col)
    return (
        corpus_grams.join(F.broadcast(bench_grams), "g")
        .groupBy(id_col)
        .agg(F.countDistinct("g").alias("n_hits"))
    )


def dedup_clusters(
    pairs: DataFrame,
    nodes: DataFrame,
    id_a: str = "doc_a",
    id_b: str = "doc_b",
    node_col: str = "doc_id",
    max_iter: int = 50,
) -> DataFrame:
    """Resolve near-dup PAIRS into duplicate CLUSTERS: connected
    components over the pair graph, labeling every node with the minimum
    id of its component, plus the ``is_canonical`` survivor flag — the
    step a dedup pipeline actually acts on (keep one doc per cluster,
    drop the rest).

    Spark-first iterative min-label propagation (the standard Spark CC
    shape, cf. GraphFrames / Kiveris et al. "Connected Components in
    MapReduce"): each round, every node takes the min of its own label
    and its neighbors' labels; converges to the component minimum in
    O(component diameter) rounds.  Near-dup components are short-diameter
    in practice (cliques + small chains), so a handful of rounds settles
    even corpus-scale graphs.

    Engine shape per round: one equi-join (edges x labels) + one
    map-side-combinable groupBy min + one metadata-scale agg action for
    the convergence test.  ``localCheckpoint`` truncates lineage each
    round so the plan stays bounded across iterations.  Convergence is
    detected by a per-row "label shrank this round" flag computed inside
    the update projection and summed on the checkpointed frame — exact,
    costs no extra join, and works for STRING ids too (a sum-of-labels
    test would need numeric ids and can overflow/NULL out silently).
    If ``max_iter`` rounds pass without a fixpoint (component diameter
    > max_iter) a RuntimeWarning is issued — labels are then correct
    upper bounds but not yet component minima.

    Nodes absent from ``pairs`` come out as singleton clusters
    (cluster_rep = self, canonical).  Returns (node_col, cluster_rep,
    is_canonical).
    """
    e = pairs.select(F.col(id_a).alias("a"), F.col(id_b).alias("b"))
    edges = (
        e.union(e.select(F.col("b").alias("a"), F.col("a").alias("b")))
        .distinct()
        .persist()
    )
    edges.count()
    labels = (
        nodes.select(F.col(node_col).alias("node"))
        .distinct()
        .withColumn("lbl", F.col("node"))
        .localCheckpoint()
    )
    converged = False
    for _ in range(max_iter):
        nbr = (
            edges.join(
                labels.select(F.col("node").alias("b"), F.col("lbl").alias("nlbl")), "b"
            )
            .groupBy("a")
            .agg(F.min("nlbl").alias("min_nbr"))
        )
        labels = (
            labels.join(nbr.withColumnRenamed("a", "node"), "node", "left")
            .select(
                "node",
                F.least(F.col("lbl"), F.coalesce(F.col("min_nbr"), F.col("lbl"))).alias(
                    "lbl"
                ),
                (F.col("min_nbr").isNotNull() & (F.col("min_nbr") < F.col("lbl"))).alias(
                    "chg"
                ),
            )
            .localCheckpoint()
        )
        if (labels.agg(F.sum(F.col("chg").cast("int"))).collect()[0][0] or 0) == 0:
            converged = True
            break
    edges.unpersist()
    if not converged:
        import warnings

        warnings.warn(
            f"dedup_clusters did not reach a fixpoint in {max_iter} rounds "
            "(a component's diameter exceeds max_iter); labels are upper "
            "bounds, not component minima — raise max_iter",
            RuntimeWarning,
        )
    return labels.select(
        F.col("node").alias(node_col),
        F.col("lbl").alias("cluster_rep"),
        (F.col("node") == F.col("lbl")).alias("is_canonical"),
    )


def semdedup(
    df: DataFrame,
    n_clusters: int = 8,
    tau2_num: int = 81,
    tau2_den: int = 400,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
) -> DataFrame:
    """SemDeDup (Abbas et al. 2023): semantic deduplication by removing
    near-duplicate embeddings WITHIN clusters — cluster the corpus, then
    inside each cluster drop every vector that has a sufficiently-cosine-
    close neighbor, keeping one representative per duplicate
    neighborhood.  The clustering bounds the pair search: candidates are
    cluster-local (the paper's own O(n²/C) design point), never corpus-
    wide all-pairs.

    Deterministic, oracle-portable construction (the
    ``embedding_near_dup_exact`` playbook):

    - vectors quantize to integer micros (``ROUND(x*1e6)``);
    - centroids are the ``n_clusters`` lowest-id vectors (deterministic
      seed centroids = one Lloyd assignment step; production swaps in
      ``operators.ann``'s spherical k-means — the centroid choice moves
      cluster boundaries, not the dedup criterion);
    - assignment = argmin integer squared Euclidean distance in micro
      space (int64-exact: diffs ≤ 4e6, squared ×dim ≪ 2^63), ties to the
      lowest centroid index;
    - a vector is REMOVED iff some same-cluster vector with a SMALLER id
      passes the exact cosine test cos ≥ τ, τ² = tau2_num/tau2_den
      (:func:`_cosine_at_least`; keep-the-min-id is the deterministic
      stand-in for the paper's keep-farthest-from-centroid rule).

    100-TB shape: the C centroid rows are the ONLY driver collect
    (bounded by n_clusters); assignment is one Arrow pass against the
    broadcast centroid matrix; the pair stage is a cluster-keyed
    self-join (equi-join, no cartesian) carrying quantized vectors only
    for verified candidates; the removed-set anti-join keys on id.  For
    clusters too large for the quadratic inner stage, compose with the
    hyperplane-LSH bucketing of :func:`embedding_near_dup_exact` inside each
    cluster (same keys, one more join column).

    Returns (id_col, cluster, keep).
    """
    q = _quantized(df, vec_col, id_col)
    seeds = q.orderBy("id").limit(n_clusters).collect()  # bounded: C rows
    if not seeds:
        return df.select(
            F.col(id_col),
            F.lit(0).alias("cluster"),
            F.lit(True).alias("keep"),
        ).limit(0)
    cent = np.asarray([r["qv"] for r in seeds], dtype=np.int64)

    @F.pandas_udf("int")
    def assign_udf(qv: pd.Series) -> pd.Series:
        vals = qv.to_numpy(object)
        if len(vals) == 0:
            return pd.Series([], dtype="int32")
        mat = np.asarray([np.asarray(v, dtype=np.int64) for v in vals])
        # ||q-c||^2 per centroid; argmin ties resolve to the lowest index
        d2 = ((mat[:, None, :] - cent[None, :, :]) ** 2).sum(axis=2)
        return pd.Series(d2.argmin(axis=1).astype("int32"))

    qa = q.withColumn("cluster", assign_udf("qv"))
    a, b = qa.alias("a"), qa.alias("b")
    cand = a.join(
        b,
        (F.col("a.cluster") == F.col("b.cluster"))
        & (F.col("a.id") < F.col("b.id")),
    ).select(
        F.col("a.qv").alias("qa"),
        F.col("b.qv").alias("qb"),
        F.col("b.id").alias("id_b"),
    )

    removed = (
        cand.filter(_cosine_at_least(tau2_num, tau2_den)(F.col("qa"), F.col("qb")))
        .select("id_b")
        .distinct()
    )
    return (
        qa.join(removed, qa["id"] == removed["id_b"], "left")
        .select(
            F.col("id").alias(id_col),
            "cluster",
            F.col("id_b").isNull().alias("keep"),
        )
    )
