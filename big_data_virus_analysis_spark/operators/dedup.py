"""Document deduplication operators (training-data-pipeline extension).

Four families, all pure DataFrame ops (no Python UDFs anywhere):

* exact         — md5(text) grouping
* n-gram Jaccard— inverted-index similarity join on word shingles
* MinHash + LSH — arithmetic hash family over a shingle dictionary,
                  banded signatures, bucket join
* SimHash       — bitwise majority over hashed shingles + Hamming pairs

Determinism contract (for the DuckDB oracle): shingle ids come from a
*dictionary* (row_number over the sorted distinct shingles) and all hash
mixing is plain modular arithmetic on BIGINTs kept < 2^63 — both engines
produce bit-identical signatures.  At 100 TB the dictionary's
single-partition window over the distinct-shingle table is the one
scale-sensitive step; swap `shingle_ids` for `xxhash64(gram)` there (no
dictionary, no window — noted inline) at the cost of oracle
comparability, not correctness.

Scale shape: every stage is hash-partitioned on (doc, gram) or (gram) —
the inverted-index join and the band-bucket join are the standard
shuffle-bound near-dup patterns; hot shingles (stopword-like grams) are
the skew risk, handled by AQE skew-join plus the optional document-
frequency cutoff in `ngram_jaccard_pairs(max_df=...)`.  The gram index
itself builds WITHOUT a shuffle (r12: per-doc dedup is array_distinct
before the explode, not dropDuplicates after it).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from ..sources.tables import fan_out
from .caching import tracked_cache

# LCG-style mixing constants (Knuth/Numerical-Recipes lineage, public)
_SCRAMBLE = 2654435761  # Fibonacci hashing multiplier
_M31 = 2147483648  # 2^31
#: odd per-position multipliers (< 2^31) for the md5_compose gram fold
_COMPOSE_A = tuple(((_SCRAMBLE * (2 * j + 3)) % _M31) | 1 for j in range(8))
_P31 = 2147483647  # Mersenne prime 2^31-1


def exact_dedup(documents: DataFrame) -> DataFrame:
    """Exact dedup by content hash; survivor = min(doc_id) per group.

    Output: ``(doc_id, text_hash, n_copies)`` — one row per distinct
    text.  One hash-aggregate shuffle on the 32-char digest.
    """
    return (
        documents.select(F.col("doc_id"), F.md5("text").alias("text_hash"))
        .groupBy("text_hash")
        .agg(F.min("doc_id").alias("doc_id"), F.count("*").alias("n_copies"))
        .select("doc_id", "text_hash", "n_copies")
    )


def word_ngrams(documents: DataFrame, n: int = 3) -> DataFrame:
    """Distinct word n-gram shingles per document: ``(doc_id, gram)``.

    Shingling is transform(sequence) over the token array — explode
    happens once, after the per-row array is built (no UDTF).
    """
    # Stage the token array as a real column BEFORE the transform: a
    # lambda body that closes over the raw split() expression gets it
    # INLINED into every slice() call — O(n²) re-splitting per row
    # (measured 8× on the bigram/span builders at sf0.1).
    tokens = F.split(F.col("text"), " ")
    staged = (
        fan_out(documents)
        .where(F.size(tokens) >= n)
        .select("doc_id", tokens.alias("_toks"))
    )
    grams = F.transform(
        F.sequence(F.lit(1), F.size("_toks") - (n - 1)),
        lambda i: F.concat_ws(" ", F.slice(F.col("_toks"), i, n)),
    )
    # r12 (guide §2.4 — remove shuffles outright): per-doc gram dedup
    # as array_distinct BEFORE the explode.  doc_id is unique per input
    # row, so "distinct (doc_id, gram)" is exactly "distinct grams
    # within each row's array" — the old dropDuplicates shuffled the
    # 50×-exploded gram frame through a full Exchange+HashAggregate to
    # compute something each row already knows.  Lifts every
    # word_ngrams consumer (jaccard/edit/jaro/tau/snm/eval-align/
    # minhash index builds).
    return staged.select(
        "doc_id", F.explode(F.array_distinct(grams)).alias("gram")
    )


def ngram_jaccard_pairs(
    documents: DataFrame,
    n: int = 3,
    threshold: float = 0.8,
    max_df: int | None = None,
) -> DataFrame:
    """Near-duplicate pairs by exact n-gram Jaccard similarity.

    Inverted-index self-join: pairs are generated only where a shingle
    is shared, then intersection counts are turned into Jaccard via the
    per-doc set sizes.  ``max_df`` drops shingles occurring in more than
    that many docs (stopword-gram skew control at scale).

    Output: ``(doc_a, doc_b, jaccard)`` with doc_a < doc_b, jaccard
    rounded to 6.
    """
    # the shingle frame feeds four branches (both join sides, both size
    # lookups) and Spark plans each branch as a full recompute of the
    # explode pipeline (AQE's broadcast conversions defeat
    # ReusedExchange matching) — cache the inverted index so it builds
    # ONCE, the same build-then-probe shape every at-scale set-sim join
    # uses.
    #
    # r12 controlled experiment (guide §1.1, recorded in
    # OPTIMIZATION_r12.md): a posting-list rewrite — groupBy(gram) →
    # sort_array(collect_list) → explode the (i<j) pairs — was built,
    # proven equivalent, and MEASURED SLOWER (dedup_ngram_jaccard
    # 2.08→3.40 s, jaro 2.96→6.62 s at sf0.1): the self-join below
    # plans as a BroadcastHashJoin over the cached index (zero
    # pair-generation shuffles), so "one shuffle instead of two join
    # sides" replaced a broadcast hash probe with a real
    # Exchange + per-gram array churn.  The join stays; at the 100-TB
    # point, where neither side broadcasts, AQE picks the shuffle
    # strategy and max_df is the skew control.  The posting-list
    # spelling is kept as the equivalence REFERENCE in
    # tests/test_operators.py::test_posting_list_reference_equals_join.
    dg = tracked_cache(word_ngrams(documents, n))
    if max_df is not None:
        hot = (
            dg.groupBy("gram")
            .agg(F.count("*").alias("df"))
            .where(F.col("df") <= max_df)
            .select("gram")
        )
        dg = dg.join(hot, "gram", "left_semi")
    sizes = dg.groupBy("doc_id").agg(F.count("*").alias("sz"))

    a = dg.alias("a")
    b = dg.alias("b")
    inter = (
        a.join(
            b,
            (F.col("a.gram") == F.col("b.gram"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .groupBy(
            F.col("a.doc_id").alias("doc_a"), F.col("b.doc_id").alias("doc_b")
        )
        .agg(F.count("*").alias("inter"))
    )
    return _jaccard_at_least(inter, sizes, threshold)


def _jaccard_at_least(
    inter: DataFrame, sizes: DataFrame, threshold: float
) -> DataFrame:
    """Pairs ``(doc_a, doc_b, inter)`` with gram-set sizes ``(doc_id, sz)``
    → their Jaccard (rounded to 6) where it reaches ``threshold``."""
    sa = sizes.alias("sa")
    sb = sizes.alias("sb")
    return (
        inter.join(sa, F.col("doc_a") == F.col("sa.doc_id"))
        .join(sb, F.col("doc_b") == F.col("sb.doc_id"))
        .withColumn(
            "jaccard",
            F.round(
                F.col("inter").cast("double")
                / (F.col("sa.sz") + F.col("sb.sz") - F.col("inter")).cast("double"),
                6,
            ),
        )
        .where(F.col("jaccard") >= threshold)
        .select("doc_a", "doc_b", "jaccard")
    )


def shingle_ids(dg: DataFrame, hash_method: str = "md5") -> DataFrame:
    """Hash-encode shingles: ``(doc_id, tid)``, tid ∈ [0, 2^60).

    ``"md5"``: first 15 hex chars of md5(gram) as a BIGINT — a pure
    per-row expression that DuckDB reproduces bit-for-bit
    (``CAST('0x'||substr(md5(g),1,15) AS BIGINT)``), so the oracle holds
    with NO dictionary: no distinct, no vocabulary-sized global window,
    no join-back.

    ``"xxhash64"``: Spark's native 64-bit hash masked to the same
    [0, 2^60) range — one JVM intrinsic per gram instead of a
    cryptographic digest + hex-string decode, ~4× cheaper in the
    gram-explosion hot loop.  Not reproducible in DuckDB, so it is the
    BENCH/scale path; correctness of the minhash pipeline is proven on
    the md5 family and the two share every line downstream of this
    function.
    """
    if hash_method == "xxhash64":
        tid = F.expr(f"xxhash64(gram) & {(1 << 60) - 1}")
    elif hash_method == "md5":
        tid = F.conv(F.substring(F.md5("gram"), 1, 15), 16, 10).cast("bigint")
    else:
        raise ValueError("hash_method must be 'md5' or 'xxhash64'")
    return dg.select("doc_id", tid.alias("tid"))


def _scramble(tid):
    # reduce below 2^31 BEFORE the multiply so the product stays < 2^63
    return ((tid % _M31) * _SCRAMBLE) % _M31


def _minhash_mins(
    documents: DataFrame, n: int, k: int, hash_method: str = "md5"
) -> DataFrame:
    """Wide MinHash row per doc: ``(doc_id, _h1 … _hk)``.

    Hash family: odd-multiplier linear permutations mod 2^31,
    h_i(s) = (a_i·s + b_i) & (2^31−1) with s the scrambled shingle id
    (< 2^31), a_i = (2654435761·(2i+1) mod 2^31) | 1, b_i = 7919·i —
    plain integer arithmetic, identical in Spark and DuckDB, products
    bounded < 2^62, and NO division in the k×|grams| hot loop (the
    power-of-two mask replaces the earlier mod-P reduction; odd·s is a
    bijection mod 2^31, preserving the permutation property).

    SHUFFLE-FREE: signatures are ``array_min`` folds over per-row staged
    arrays — the gram explode + k-way min-agg of the earlier design is
    gone entirely (min over a doc's grams never needed to leave the
    row).  Each intermediate array is materialized as a real column
    before the next ``transform`` closes over it (closure inlining is
    O(n²) — see word_ngrams).  The ONLY remaining cost is the per-row
    hash arithmetic; there is no shuffle until the caller's band join.

    NOTE deliberately NOT word_ngrams(): min() is duplicate-insensitive,
    so a per-doc distinct would buy nothing.

    ``hash_method="xxhash64"`` (bench/scale path) never builds gram
    STRINGS at all: tokens are hashed once each, and a gram's id is
    ``xxhash64`` of its n token-hashes — longs end to end.
    """
    tokens = F.split(F.col("text"), " ")
    staged = (
        fan_out(documents)
        .where(F.size(tokens) >= n)
        .select("doc_id", tokens.alias("_toks"))
    )
    if hash_method == "xxhash64":
        tok_hashes = F.transform(F.col("_toks"), lambda t: F.xxhash64(t))
        with_tids = staged.select(
            "doc_id", tok_hashes.alias("_th")
        ).select(
            "doc_id",
            F.transform(
                F.sequence(F.lit(1), F.size("_th") - (n - 1)),
                lambda i: F.xxhash64(
                    *[F.element_at(F.col("_th"), i + j) for j in range(n)]
                ).bitwiseAND(F.lit((1 << 60) - 1)),
            ).alias("_tids"),
        )
    elif hash_method == "md5":
        grams = F.transform(
            F.sequence(F.lit(1), F.size("_toks") - (n - 1)),
            lambda i: F.concat_ws(" ", F.slice(F.col("_toks"), i, n)),
        )
        with_tids = staged.select("doc_id", grams.alias("_grams")).select(
            "doc_id",
            F.transform(
                F.col("_grams"),
                lambda g: F.conv(F.substring(F.md5(g), 1, 15), 16, 10).cast("bigint"),
            ).alias("_tids"),
        )
    elif hash_method == "md5_compose":
        # Deterministic twin of the xxhash64 fast path's STRUCTURE
        # (r6 VERDICT directive #6): tokens are hashed ONCE each and a
        # gram's id is an arithmetic fold of its n token hashes — no
        # gram strings are ever built, exactly like the scale path —
        # but the token hash is the md5-prefix bigint and the fold is
        # odd-multiplier polynomial arithmetic mod 2^31, both of which
        # DuckDB reproduces bit-for-bit (xxhash64 does not exist
        # there).  Overflow-safe in BOTH engines: every product is
        # (a < 2^31)·(x < 2^31) < 2^62, reduced mod 2^31 before the
        # 3-term sum (< 2^33).
        tok_hashes = F.transform(
            F.col("_toks"),
            lambda t: F.conv(F.substring(F.md5(t), 1, 15), 16, 10).cast("bigint")
            % _M31,
        )
        with_tids = staged.select("doc_id", tok_hashes.alias("_th")).select(
            "doc_id",
            F.transform(
                F.sequence(F.lit(1), F.size("_th") - (n - 1)),
                lambda i: sum(
                    (
                        F.lit(_COMPOSE_A[j]).cast("bigint")
                        * F.element_at(F.col("_th"), i + j)
                    )
                    % _M31
                    for j in range(n)
                )
                % _M31,
            ).alias("_tids"),
        )
    else:
        raise ValueError(
            "hash_method must be 'md5', 'xxhash64', or 'md5_compose'"
        )
    with_s = with_tids.select(
        "doc_id", F.transform(F.col("_tids"), _scramble).alias("_s")
    )

    def _family(i: int):
        # linear permutation mod 2^31: h_i(s) = (a_i·s + b_i) & (2^31−1)
        # with a_i a large ODD constant (multiplication by an odd number
        # is a BIJECTION mod a power of two — the permutation property
        # MinHash needs; a plain multiply-shift high-bits form is
        # order-preserving and makes every family pick the same argmin).
        # The mask replaces the previous mod-P form's hardware DIVISION
        # in the k×|grams| hot loop; products stay < 2^62 (no overflow
        # in either engine).
        # MUST stay a one-parameter lambda: transform() treats a second
        # parameter as the ARRAY INDEX and would shadow the family index.
        a_i = ((_SCRAMBLE * (2 * i + 1)) % _M31) | 1
        return lambda s: (F.lit(a_i).cast("bigint") * s + 7919 * i).bitwiseAND(
            F.lit(_M31 - 1)
        )

    return with_s.select(
        "doc_id",
        *[
            F.array_min(F.transform(F.col("_s"), _family(i))).alias(f"_h{i}")
            for i in range(1, k + 1)
        ],
    )


def minhash_band_keys(
    documents: DataFrame,
    n: int = 3,
    k: int = 32,
    bands: int = 8,
    hash_method: str = "md5",
) -> DataFrame:
    """LSH banding of MinHash signatures: ``(doc_id, band, key)`` where
    ``key`` is the ordered concat of the band's k/bands hash values.

    Band keys come straight off the wide per-doc row: an earlier version
    exploded the signature back to k rows and RE-GROUPED by (doc, band)
    with collect_list just to concatenate — a whole extra shuffle whose
    only product was string glue.  concat_ws over the already-adjacent
    columns is a per-row projection; posexplode of `bands` small
    strings replaces the aggregation entirely.
    The wide per-doc signature row is cached: every consumer probes the
    band table from at least two branches (the dedup self-join; the
    round-11 eval/train split) and without materialization EACH replays
    the 50× gram explosion and the k-way min-agg (no ReusedExchange
    once AQE broadcasts one side; verified against the executed plan).
    At 100 TB this is the standard materialize-signatures design:
    |docs| × k longs, tiny next to the corpus.
    """
    r = k // bands
    mins = _minhash_mins(documents, n, k, hash_method).transform(tracked_cache)
    return mins.select(
        "doc_id",
        F.posexplode(
            F.array(
                *[
                    F.concat_ws(
                        ",",
                        *[
                            F.col(f"_h{b * r + j}").cast("string")
                            for j in range(1, r + 1)
                        ],
                    )
                    for b in range(bands)
                ]
            )
        ).alias("band", "key"),
    )


def minhash_lsh_pairs(
    documents: DataFrame,
    n: int = 3,
    k: int = 32,
    bands: int = 8,
    hash_method: str = "md5",
) -> DataFrame:
    """LSH candidate pairs: docs sharing ≥1 identical signature band.

    Signatures are split into ``bands`` bands of k/bands rows; a band's
    key is the ordered concat of its hash values; candidates come from a
    self-join on (band, key) — the classic shuffle-on-bucket plan.

    Output: ``(doc_a, doc_b, n_shared_bands)``.
    """
    band_keys = minhash_band_keys(documents, n, k, bands, hash_method)
    a = band_keys.alias("a")
    b = band_keys.alias("b")
    return (
        a.join(
            b,
            (F.col("a.band") == F.col("b.band"))
            & (F.col("a.key") == F.col("b.key"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .groupBy(
            F.col("a.doc_id").alias("doc_a"), F.col("b.doc_id").alias("doc_b")
        )
        .agg(F.count("*").alias("n_shared_bands"))
    )


def simhash_docs(documents: DataFrame, n: int = 3, bits: int = 31) -> DataFrame:
    """Per-document SimHash over hashed shingles: ``(doc_id, simhash)``.

    Two-round multiplicative mix of the shingle id, then per-bit
    majority vote.  The bit explosion is over *distinct shingles per
    doc* × ``bits`` — bounded, and aggregates immediately.
    """
    ids = shingle_ids(word_ngrams(documents, n)).withColumn("s", _scramble(F.col("tid")))
    mixed = ids.withColumn(
        "h2",
        (F.expr("s ^ shiftright(s, 13)") * F.lit(1103515245).cast("bigint")) % _M31,
    )
    # contribution = +1 if bit j of h2 set else -1
    exploded = (
        mixed.select("doc_id", "h2", F.explode(F.sequence(F.lit(0), F.lit(bits - 1))).alias("j"))
        .withColumn(
            "contrib",
            F.when(F.expr("shiftright(h2, j) & 1") == 1, F.lit(1)).otherwise(F.lit(-1)),
        )
    )
    return (
        exploded.groupBy("doc_id", "j")
        .agg(F.sum("contrib").alias("bitsum"))
        .withColumn(
            "bitval",
            F.when(F.col("bitsum") > 0, F.expr("shiftleft(1L, j)")).otherwise(F.lit(0).cast("bigint")),
        )
        .groupBy("doc_id")
        .agg(F.sum("bitval").alias("simhash"))
    )


def simhash_pairs(
    documents: DataFrame,
    n: int = 3,
    max_hamming: int = 6,
    bits: int = 31,
    banded: bool = True,
) -> DataFrame:
    """Near-dup pairs by SimHash Hamming distance.

    ``banded=True`` (the 100 TB path, default): bit-slice LSH exactly
    like MinHash bands.  The ``bits``-wide signature is cut into
    ``max_hamming + 1`` contiguous slices; by pigeonhole, two signatures
    within Hamming distance ``max_hamming`` differ in at most
    ``max_hamming`` slices, so they agree EXACTLY on at least one —
    candidate generation is an equi-join on ``(slice_idx, slice_value)``
    with zero false negatives, and the Hamming verify runs on candidates
    only.  Output is identical to the all-pairs form (asserted in
    tests/test_dedup.py), but the join is bucketed instead of O(n²).

    ``banded=False`` keeps the brute-force all-pairs comparison as the
    correctness oracle for small fixtures.

    Output: ``(doc_a, doc_b, hamming)``.
    """
    # one row per doc — cache: both self-join branches otherwise replay
    # the whole shingle+bit-vote pipeline (see minhash_lsh_pairs note)
    sim = simhash_docs(documents, n, bits).transform(tracked_cache)
    if not banded:
        a = sim.alias("a")
        b = sim.alias("b")
        return (
            a.join(b, F.col("a.doc_id") < F.col("b.doc_id"))
            .withColumn("hamming", F.expr("bit_count(a.simhash ^ b.simhash)"))
            .where(F.col("hamming") <= max_hamming)
            .select(
                F.col("a.doc_id").alias("doc_a"),
                F.col("b.doc_id").alias("doc_b"),
                F.col("hamming"),
            )
        )
    n_bands = max_hamming + 1
    base, extra = divmod(bits, n_bands)
    slices = []
    off = 0
    for i in range(n_bands):
        w = base + (1 if i < extra else 0)
        slices.append(
            F.struct(
                F.lit(i).alias("slice_idx"),
                F.expr(f"shiftright(simhash, {off}) & {(1 << w) - 1}").alias(
                    "slice_val"
                ),
            )
        )
        off += w
    bands = sim.select(
        "doc_id", "simhash", F.explode(F.array(*slices)).alias("s")
    ).select("doc_id", "simhash", "s.slice_idx", "s.slice_val")
    a = bands.alias("a")
    b = bands.alias("b")
    return (
        a.join(
            b,
            (F.col("a.slice_idx") == F.col("b.slice_idx"))
            & (F.col("a.slice_val") == F.col("b.slice_val"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .withColumn("hamming", F.expr("bit_count(a.simhash ^ b.simhash)"))
        .where(F.col("hamming") <= max_hamming)
        .select(
            F.col("a.doc_id").alias("doc_a"),
            F.col("b.doc_id").alias("doc_b"),
            F.col("hamming"),
        )
        # a close pair can collide in several slices — dedupe candidates
        .distinct()
    )


def dedup_clusters(
    pairs: DataFrame, max_iter: int = 25, method: str = "propagation"
) -> DataFrame:
    """Resolve near-dup pairs into clusters: connected components with
    cluster id = min doc_id in the component (the canonical survivor).

    ``method="propagation"``: min-label propagation to a fixpoint —
    every node starts labeled with itself; each round a node takes the
    min of its own and its neighbors' labels.  Rounds needed = graph
    diameter; near-dup graphs are unions of small dense cliques
    (band-collision clusters), so convergence is a handful of rounds.
    ``localCheckpoint`` after each round truncates the join lineage —
    without it the plan doubles per iteration.

    ``method="two_phase"``: the large-star/small-star algorithm
    (Kiveris et al., "Connected Components in MapReduce and Beyond",
    SoCC'14 — public): alternately hook every node's neighbors to its
    neighborhood minimum (large-star moves strictly-larger neighbors,
    small-star the rest), converging in O(log² n) rounds INDEPENDENT of
    graph diameter and shrinking the edge set toward stars as it goes —
    the 100 TB path when components can be long chains rather than
    cliques.  Property-tested equivalent to propagation in
    tests/test_operators.py.

    Convergence test for propagation is ``sum(label)``: labels only
    ever decrease, so the sum is strictly monotone until the fixpoint —
    one cheap aggregate per round instead of a change-count join; the
    star rounds compare (count, sum-of-endpoints) of the edge set.

    Output: ``(doc_id, cluster_id)`` for every doc in >=1 pair.
    """
    if method == "two_phase":
        return _dedup_clusters_two_phase(pairs, max_iter)
    if method != "propagation":
        raise ValueError("method must be 'propagation' or 'two_phase'")
    edges = (
        pairs.select(F.col("doc_a").alias("src"), F.col("doc_b").alias("dst"))
        .unionByName(
            pairs.select(F.col("doc_b").alias("src"), F.col("doc_a").alias("dst"))
        )
        .localCheckpoint(eager=True)  # pair generation (LSH) runs once, not per round
    )
    labels = edges.select(F.col("src").alias("node")).distinct().select(
        "node", F.col("node").alias("label")
    )
    prev_sum = None
    converged = False
    for _ in range(max_iter):
        nbr = (
            edges.join(labels, edges.dst == labels.node)
            .groupBy("src")
            .agg(F.min("label").alias("nbr_label"))
        )
        labels = (
            labels.join(nbr, labels.node == nbr.src, "left")
            .select(
                labels.node,
                F.least(
                    labels.label, F.coalesce(nbr.nbr_label, labels.label)
                ).alias("label"),
            )
            .localCheckpoint(eager=True)
        )
        cur_sum = labels.agg(F.sum("label")).collect()[0][0]
        if cur_sum == prev_sum:
            converged = True
            break
        prev_sum = cur_sum
    if not converged:
        raise RuntimeError(
            f"dedup_clusters(propagation) did not reach a fixpoint in "
            f"{max_iter} rounds — labels are still decreasing, so cluster "
            f"ids would be non-minimal; raise max_iter (rounds needed = "
            f"graph diameter)"
        )
    return labels.select(F.col("node").alias("doc_id"), F.col("label").alias("cluster_id"))


def _large_star(directed: DataFrame) -> DataFrame:
    """One large-star round: for every node u, connect each strictly
    LARGER neighbor to m = min(N(u) ∪ {u}).  Input/output: canonical
    directed edges (u > v)."""
    both = directed.select("u", "v").unionByName(
        directed.select(F.col("v").alias("u"), F.col("u").alias("v"))
    )
    mins = both.groupBy("u").agg(F.min("v").alias("mn"))
    m = F.least(F.col("mn"), F.col("u"))
    return (
        both.join(mins, "u")
        .where(F.col("v") > F.col("u"))
        .select(F.col("v").alias("u"), m.alias("v"))
        .where(F.col("u") > F.col("v"))
        .distinct()
    )


def _small_star(directed: DataFrame) -> DataFrame:
    """One small-star round: every node u (with all its neighbors v < u
    in canonical form) re-points them — and itself — at its minimum
    neighbor.  Input/output: canonical directed edges (u > v)."""
    mins = directed.groupBy("u").agg(F.min("v").alias("mn"))
    with_m = directed.join(mins, "u")
    repointed = with_m.where(F.col("v") != F.col("mn")).select(
        F.col("v").alias("u"), F.col("mn").alias("v")
    )
    self_edge = mins.select("u", F.col("mn").alias("v"))
    return repointed.unionByName(self_edge).where(F.col("u") > F.col("v")).distinct()


def _dedup_clusters_two_phase(pairs: DataFrame, max_iter: int) -> DataFrame:
    """Large-star/small-star connected components (see dedup_clusters)."""
    edges = (
        pairs.select(
            F.greatest("doc_a", "doc_b").alias("u"),
            F.least("doc_a", "doc_b").alias("v"),
        )
        .where(F.col("u") != F.col("v"))
        .distinct()
        .localCheckpoint(eager=True)
    )
    nodes = (
        edges.select(F.col("u").alias("node"))
        .unionByName(edges.select(F.col("v").alias("node")))
        .distinct()
        .localCheckpoint(eager=True)
    )
    prev_sig, prev_edges = None, None
    converged = False
    for _ in range(max_iter):
        prev_edges = edges
        edges = _small_star(_large_star(edges)).localCheckpoint(eager=True)
        sig = tuple(
            edges.agg(
                F.count("*"), F.coalesce(F.sum("u"), F.lit(0)),
                F.coalesce(F.sum("v"), F.lit(0)),
            ).collect()[0]
        )
        # sig equality is a cheap per-round hash, not proof of a
        # fixpoint (two different edge sets can share count and sums) —
        # confirm with an exact set check before declaring convergence:
        # both frames are distinct canonical edges, so same count plus
        # empty difference means equality
        if sig == prev_sig and edges.exceptAll(prev_edges).limit(1).count() == 0:
            converged = True
            break
        prev_sig = sig
    if not converged:
        # a non-converged edge set can leave a node with multiple
        # outgoing edges; the final left join would then fan out and emit
        # duplicate doc_id rows with wrong cluster ids — never return that
        raise RuntimeError(
            f"dedup_clusters(two_phase) did not reach the star-forest "
            f"fixpoint in {max_iter} rounds; raise max_iter "
            f"(O(log^2 n) rounds suffice for any graph)"
        )
    # fixpoint is a star forest: u → component root; roots label themselves
    return (
        nodes.join(edges, nodes.node == edges.u, "left")
        .select(
            F.col("node").alias("doc_id"),
            F.coalesce(F.col("v"), F.col("node")).alias("cluster_id"),
        )
    )


def dedup_survivors(documents: DataFrame, pairs: DataFrame) -> DataFrame:
    """The end product of the near-dup pipeline: the corpus with every
    non-canonical cluster member removed (one survivor per cluster, the
    min doc_id).

    One anti-join of the corpus against the (tiny) loser set — the
    corpus itself is never shuffled: losers broadcast.

    Output: ``(doc_id,)`` of surviving documents.
    """
    clusters = dedup_clusters(pairs)
    losers = clusters.where(F.col("doc_id") != F.col("cluster_id")).select("doc_id")
    return documents.join(F.broadcast(losers), "doc_id", "left_anti").select("doc_id")


def jaccard_prefix_filtered(
    documents: DataFrame, n: int = 3, threshold: float = 0.8
) -> DataFrame:
    """Same output as :func:`ngram_jaccard_pairs` via PREFIX FILTERING
    (the SSJoin/PPJoin principle: under any global token order, two
    sets with Jaccard ≥ t must share a token within their first
    ``s − ceil(t·s) + 1`` tokens — rarest-first order makes those
    prefixes maximally selective).  Candidates come from a prefix-only
    inverted index, so the quadratic blow-up of hot shingles is capped
    at the ~20% prefix mass instead of the full index; exact Jaccard
    verification then runs only on candidate pairs.

    Plan: gram doc-frequencies (one agg) → per-doc (df, gram)-ordered
    prefix via a doc-partitioned window → prefix-prefix self-join →
    per-candidate exact intersection counts against the full gram sets
    → threshold filter.  Every stage keys on gram or doc_id; the
    prefix index is ~t-fraction smaller than the full inverted index
    that `ngram_jaccard_pairs` self-joins.

    Output: ``(doc_a, doc_b, jaccard)``, doc_a < doc_b, rounded to 6 —
    byte-identical to the unfiltered operator (asserted in
    tests/test_operators.py)."""
    # the shingle frame feeds five branches (df counts, prefix, both
    # verify sides, sizes) — cache it so the explode+dedup shuffle runs
    # once, exactly like PageRank caches its edge list
    dg = word_ngrams(documents, n).transform(tracked_cache)
    gram_df = dg.groupBy("gram").agg(F.count("*").alias("df"))
    ranked = dg.join(gram_df, "gram")
    wdoc = Window.partitionBy("doc_id").orderBy("df", "gram")
    wsz = Window.partitionBy("doc_id")
    prefix = (
        ranked.withColumn("pos", F.row_number().over(wdoc))
        .withColumn("sz", F.count(F.lit(1)).over(wsz))
        .where(
            F.col("pos")
            <= F.col("sz") - F.ceil(F.lit(threshold) * F.col("sz")) + 1
        )
        .select("doc_id", "gram")
    )
    pa = prefix.alias("pa")
    pb = prefix.alias("pb")
    candidates = (
        pa.join(
            pb,
            (F.col("pa.gram") == F.col("pb.gram"))
            & (F.col("pa.doc_id") < F.col("pb.doc_id")),
        )
        .select(
            F.col("pa.doc_id").alias("doc_a"), F.col("pb.doc_id").alias("doc_b")
        )
        .dropDuplicates()
    )
    ga = dg.alias("ga")
    gb = dg.alias("gb")
    inter = (
        candidates.join(ga, F.col("doc_a") == F.col("ga.doc_id"))
        .join(
            gb,
            (F.col("doc_b") == F.col("gb.doc_id"))
            & (F.col("ga.gram") == F.col("gb.gram")),
        )
        .groupBy("doc_a", "doc_b")
        .agg(F.count("*").alias("inter"))
    )
    sizes = dg.groupBy("doc_id").agg(F.count("*").alias("sz"))
    return _jaccard_at_least(inter, sizes, threshold)
