"""Deduplication operators at training-data-pipeline scale (SURVEY §2.10).

Four tiers, trading exactness for scale:
- ``exact_dedup``            : hash-groupBy on the full key — one shuffle.
- ``ngram_jaccard`` (catalog): exact pairwise Jaccard — bounded sets only.
- ``minhash_neardup_pairs``  : MinHashLSH banding — candidate pairs from
  colliding bands only; the 100 TB path (shuffle ∝ collisions, not n²).
- ``simhash_buckets``        : 64-bit SimHash; near-dups collide on the
  full hash or a band of it — cheapest, coarsest.

All deterministic given seeds (MLlib hash seeds fixed; xxhash64 seed 42).
The MinHash / SimHash family additionally supports a PORTABLE hash family
(``hash_family="md5"``): shingles/tokens hash through
``scalars.md5_int60`` and the per-signature hash functions become affine
permutations ``(a_i·h + b_i) mod p`` over the Mersenne prime p = 2³¹−1 —
every step exact-integer and re-derivable in DuckDB SQL, so the riding
catalog entries are FULL value-hash oracles (as ``cms_heavy_hitters`` is).
xxhash64 stays the corpus-scale default: one JVM hash per shingle per
signature beats md5 on throughput (the md5 family runs ~35% slower, for
``minhash_band_index`` over 40k docs and ``minhash_banded_pairs`` at
sf0.1 on 4 cores), and the portable family exists for auditability, not
speed. Both families share the shingle projection and the banding
scaffolding below; only the hash expressions differ. Entries not
oracle-promoted are property-tested against exact oracles at small SF
(tests/test_operators.py) rather than DuckDB-hashed.
"""

from __future__ import annotations

from pyspark.ml.feature import CountVectorizer, MinHashLSH
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window as W

from ..functions.ngrams import word_ngrams
from ..functions.scalars import md5_int60

# Mersenne prime 2^31 - 1: the modulus of the portable affine MinHash
# permutations. a·(h mod p) + b ≤ (p−1)² + p < 2^63 — no overflow in a
# signed long (Spark, ANSI on) or a DuckDB BIGINT.
MINHASH_P = 2147483647


def minhash_perm_consts(num_hashes: int, seed: int) -> list[tuple[int, int]]:
    """Deterministic (a_i, b_i) pairs for the portable affine MinHash
    family — a pure integer formula (no RNG) so the DuckDB oracle SQL
    inlines the IDENTICAL constants via an f-string (``a_i`` forced
    nonzero; constants need only be fixed and well-spread, not
    cryptographic).

    ``a_i`` is spread MULTIPLICATIVELY: a ``seed·1000003 + 2i + 1``
    family gives near-consecutive odd ``a_i`` — permutation i differs
    from permutation 0 by an additive drift ``i·(2h + 104729) mod p``, a
    strongly correlated family whose min-hash estimates are not
    independent across i. Multiplying by Knuth's 2654435761 per index
    decorrelates the slopes; the md5-family planted-recall test
    (tests/test_operators.py) gates it.

    Seed-robust by construction (a naive ``seed·const·(i+1) % p``
    collapses EVERY slope through ``or 1`` at seed=0): the base folds
    the seed into [1, p−1] first, and since p
    is prime and neither factor is ≡ 0 (mod p), ``base`` is nonzero —
    so the ``a_i = base·(i+1) mod p`` are pairwise DISTINCT and nonzero
    for any seed and any num_hashes < p."""
    base = ((seed % (MINHASH_P - 1)) + 1) * 1000003 % MINHASH_P
    base = base * 2654435761 % MINHASH_P
    return [
        (
            base * (i + 1) % MINHASH_P,
            (seed * 7777777 + i * 104729) % MINHASH_P,
        )
        for i in range(num_hashes)
    ]


def _shingle_hash(s: Column, hash_family: str) -> Column:
    """Shingle string → long: xxhash64 (scale default) or the portable
    md5-conv 60-bit family (oracle entries)."""
    if hash_family == "md5":
        return md5_int60(s)
    return F.xxhash64(s)


def _rows_per_band(num_hashes: int, bands: int) -> int:
    r = num_hashes // bands
    if bands * r != num_hashes:
        raise ValueError("num_hashes must be divisible by bands")
    return r


def _hashed_shingles(
    docs: DataFrame, id_col: str, text_col: str, n: int, hash_family: str
) -> DataFrame:
    """(id, ``shingles`` array<long>): each shingle string hashed to a
    long ONCE, so every downstream pass (the min-hashes, the exact
    Jaccard / containment set ops) operates on longs. Set semantics
    survive w.h.p. (64-bit collisions ~ n²/2⁶⁴)."""
    return ngram_shingles(docs.select(id_col, text_col), text_col, n).select(
        id_col,
        F.transform("shingles", lambda s: _shingle_hash(s, hash_family)).alias(
            "shingles"
        ),
    )


def _band_rows(
    mins: DataFrame, id_col: str, num_hashes: int, bands: int, hash_family: str
) -> DataFrame:
    """One (id, band_idx, band_sig) row per LSH band of a signature table
    (``minhash_signatures``' h0..h{k-1}): the persisted index rows and
    the rows the candidate self-join matches on. ``band_sig`` is the
    xxhash64 fold of the band's min-hashes (a long), or for the portable
    family their '-'-joined STRING — band equality is all banding needs,
    and the string form is what the DuckDB dual's ``string_agg``
    reproduces."""
    r = _rows_per_band(num_hashes, bands)
    if hash_family == "md5":
        band_cols = [
            F.concat_ws("-", *[F.col(f"h{j * r + k}") for k in range(r)])
            for j in range(bands)
        ]
    else:
        band_cols = [
            F.xxhash64(F.array(*[F.col(f"h{j * r + k}") for k in range(r)]))
            for j in range(bands)
        ]
    return mins.select(
        F.col(id_col),
        F.posexplode(F.array(*band_cols)).alias("band_idx", "band_sig"),
    )


def ngram_shingles(df: DataFrame, text_col: str = "text", n: int = 3) -> DataFrame:
    """Word n-gram shingle sets as a native column expression. The token
    array is materialized in its own projection before the transform()
    lambda probes it (see ``functions/ngrams.py::word_ngrams`` — the
    ONE shared guarded/optimized gram builder).

    Short docs are dropped by filtering on TOKEN COUNT below the gram
    projection, never on ``size(shingles) > 0`` above it: a filter over
    the gram array is pushed below the Project by Catalyst, which
    re-inlines the ``split()`` into the interpreted transform() lambda —
    the full text re-splits per element-probe per gram, turning the
    filter into ~3×grams splits PER ROW (measured: the sf1 shingle pass
    dropped 81.6s → ~3s on this one-line change). ``size(shingles) > 0``
    ⟺ ``size(toks) >= n`` exactly: with ≥ n tokens the gram count is
    ``cnt − n + 1 ≥ 1``, and array_distinct never empties a non-empty
    array."""
    toks = F.split(F.trim(F.col(text_col)), r"\s+")
    staged = df.withColumn("_toks", toks).filter(F.size("_toks") >= n)
    return staged.withColumn(
        "shingles", F.array_distinct(word_ngrams(F.col("_toks"), n))
    ).drop("_toks")


def exact_dedup(df: DataFrame, key_cols: list[str], order_col: str) -> DataFrame:
    """Keep the first row (by order_col) per duplicate group — the
    distributed dual of the reference's PK-violation dedup
    (src/function.py:624-636)."""
    w = W.partitionBy(*key_cols).orderBy(F.col(order_col).asc())
    return df.withColumn("_rn", F.row_number().over(w)).filter(F.col("_rn") == 1).drop("_rn")


def minhash_neardup_pairs(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = 3,
    num_hash_tables: int = 5,
    jaccard_dist_threshold: float = 0.8,
    seed: int = 42,
    vocab_size: int = 1 << 18,
) -> DataFrame:
    """MinHash LSH near-duplicate candidate pairs.

    shingle -> CountVectorizer(binary) sparse set vector -> MinHashLSH
    approxSimilarityJoin. Returns (id_a, id_b, jaccard_dist) with
    id_a < id_b, distance <= threshold. The join only materializes pairs
    whose min-hash bands collide — the property that makes near-dedup
    feasible at corpus scale.
    """
    sh = ngram_shingles(docs.select(id_col, text_col), text_col, n)
    cv = CountVectorizer(
        inputCol="shingles", outputCol="feat", vocabSize=vocab_size, binary=True
    )
    cvm = cv.fit(sh)
    # cache: the vectorized set feeds the LSH fit AND both sides of the
    # self-join — without it Spark recomputes the CV transform per use
    # (3x the work, and the re-aliased self-join recompute has been seen
    # to feed the MinHash UDF an empty vector)
    vec = cvm.transform(sh).cache()
    mh = MinHashLSH(inputCol="feat", outputCol="hashes", numHashTables=num_hash_tables, seed=seed)
    model = mh.fit(vec)
    joined = model.approxSimilarityJoin(vec, vec, jaccard_dist_threshold, distCol="jaccard_dist")
    return (
        joined.select(
            F.col(f"datasetA.{id_col}").alias("id_a"),
            F.col(f"datasetB.{id_col}").alias("id_b"),
            F.col("jaccard_dist"),
        )
        .filter(F.col("id_a") < F.col("id_b"))
    )


def minhash_signatures(
    hashed_shingles: DataFrame,
    id_col: str = "doc_id",
    num_hashes: int = 32,
    seed: int = 42,
    hash_family: str = "xxhash64",
) -> DataFrame:
    """MinHash signature table from hashed shingle sets: one map-only
    projection producing ``num_hashes`` ``array_min(transform(...))``
    columns (h0..h{k-1}). Zero shuffle — at corpus scale this is the
    table you persist.

    ``hash_family="md5"``: hash i becomes the affine permutation
    ``(a_i·(h mod p) + b_i) mod p`` over ``minhash_perm_consts`` — exact
    integer arithmetic a DuckDB oracle reproduces verbatim (and cheaper
    per signature than a rehash: one multiply-add-mod vs a full
    xxhash64 pass; the md5 cost was paid once at shingle hashing)."""
    perms = minhash_perm_consts(num_hashes, seed) if hash_family == "md5" else None

    def _minhash(i: int):
        # NB: the transform lambda must take ONE arg — a two-arg lambda
        # receives (element, array_index) and would silently replace the
        # per-signature seed with the element position, collapsing all
        # signatures into one hash function.
        if perms is not None:
            a, b = perms[i]
            return F.array_min(
                F.transform(
                    "shingles",
                    lambda h: (F.lit(a) * (h % F.lit(MINHASH_P)) + F.lit(b))
                    % F.lit(MINHASH_P),
                )
            )
        return F.array_min(
            F.transform("shingles", lambda h: F.xxhash64(h, F.lit(seed + i)))
        )

    return hashed_shingles.select(
        id_col, *[_minhash(i).alias(f"h{i}") for i in range(num_hashes)]
    )


def minhash_banded_pairs(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = 3,
    num_hashes: int = 32,
    bands: int = 8,
    seed: int = 42,
    jaccard_threshold: float = 0.5,
    hash_family: str = "xxhash64",
) -> DataFrame:
    """Banded MinHash near-dup pairs as pure JVM column expressions — the
    native (no-MLlib) scale path for SURVEY §2.10 near-dedup.

    Signature: ``num_hashes`` min-hashes per doc, hash i of a shingle
    computed as ``xxhash64(shingle_hash, seed + i)`` and min-folded as a
    flat ``array_min(transform(...))`` column per hash — the whole
    signature is ONE map-only projection: zero shuffle, no
    CountVectorizer vocabulary fit (an extra full pass over the corpus),
    and no per-hash-table row explosion as in MLlib's
    ``approxSimilarityJoin``. (Measured alternatives at sf0.1: nesting
    the signature inside the per-band lambda re-evaluates it per band,
    ~3× slower; explode + 32 min-agg columns adds a shuffle and agg
    buffers, ~2× slower.)

    Banding: ``bands`` groups of ``num_hashes/bands`` rows; a candidate
    pair is two docs agreeing on an entire band (classic LSH banding from
    the MMDS construction). Candidates then pass an **exact** Jaccard
    re-check over their shingle sets, so every emitted pair is a true
    near-dup at ``jaccard_threshold``; banding only bounds recall.

    Scale: shuffle is `bands` rows per doc for the band self-join plus
    one hash-join back to shingle sets for candidates only — cost tracks
    actual collisions, never n².
    """
    _rows_per_band(num_hashes, bands)  # fail before anything is persisted
    # fan_out: the shingle build + 32 min-hash folds are per-token CPU
    # that dwarfs row bytes, and a small parquet reads as 1-2 row groups
    # — without this the ENTIRE signature pipeline (and, because it is
    # cached, every downstream branch) pins to 2 tasks (measured 11.5s
    # at sf1; 3.7s fanned). No-op once the scan has >= cores splits —
    # the corpus-scale case.
    from ..session import fan_out

    sh = _hashed_shingles(fan_out(docs), id_col, text_col, n, hash_family)
    # cache: the hashed shingle sets feed the signature once and BOTH
    # sides of the candidate re-check; the signature table feeds both
    # sides of the band self-join. Without these the whole
    # split→hash→agg pipeline re-executes per branch (measured ~3×
    # wall). The signature cache is num_docs × num_hashes longs —
    # bounded; the shingle cache is token-scale (spills to disk at
    # corpus scale; persisting the signature table to storage is the
    # 100 TB pattern).
    sh = sh.persist()
    cand = band_candidate_pairs(
        sh,
        id_col,
        num_hashes=num_hashes,
        bands=bands,
        seed=seed,
        hash_family=hash_family,
    )
    sa = sh.select(F.col(id_col).alias("id_a"), F.col("shingles").alias("sh_a"))
    sb = sh.select(F.col(id_col).alias("id_b"), F.col("shingles").alias("sh_b"))
    inter = F.size(F.array_intersect("sh_a", "sh_b")).cast("double")
    union = F.size(F.array_union("sh_a", "sh_b")).cast("double")
    return (
        cand.join(sa, "id_a")
        .join(sb, "id_b")
        .select("id_a", "id_b", (inter / union).alias("jaccard"))
        .filter(F.col("jaccard") >= jaccard_threshold)
    )


def band_candidate_pairs(
    sh: DataFrame,
    id_col: str = "doc_id",
    num_hashes: int = 32,
    bands: int = 8,
    seed: int = 42,
    hash_family: str = "xxhash64",
) -> DataFrame:
    """Distinct (id_a, id_b) candidate pairs from classic LSH banding over
    hashed shingle sets ``sh`` (columns: id, ``shingles`` array<long>) —
    the candidate-generation half of ``minhash_banded_pairs``, factored
    out so other re-checks (containment) can ride the same banding. It
    self-joins the same band rows ``minhash_band_index`` persists
    (``_band_rows``).

    SKEW: nothing in the data bounds a (band_idx, band_sig) bucket — a
    cluster of m near-identical docs shares every band signature, so the
    self-join puts all m·(m−1)/2 candidate pairs of each of its ``bands``
    buckets on ONE join key (one task, however large m grows; AQE's skew
    split cannot divide a single key). Bucket sizes stay in the tens at
    the catalog's scales; a corpus with one large duplicate cluster needs
    a bucket-chunked join here, which costs an extra bucket-count
    aggregation on every run."""
    # persist: the signature table feeds BOTH sides of the band self-join
    # (num_docs x num_hashes longs — bounded; same discipline as
    # minhash_banded_pairs, whose candidate half this is)
    mins = minhash_signatures(
        sh, id_col, num_hashes=num_hashes, seed=seed, hash_family=hash_family
    ).persist()
    band_rows = _band_rows(mins, id_col, num_hashes, bands, hash_family)
    return (
        band_rows.alias("a")
        .join(
            band_rows.alias("b"),
            (F.col("a.band_idx") == F.col("b.band_idx"))
            & (F.col("a.band_sig") == F.col("b.band_sig"))
            & (F.col(f"a.{id_col}") < F.col(f"b.{id_col}")),
        )
        .select(
            F.col(f"a.{id_col}").alias("id_a"),
            F.col(f"b.{id_col}").alias("id_b"),
        )
        .distinct()
    )


def containment_banded_pairs(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = 3,
    num_hashes: int = 32,
    bands: int = 8,
    seed: int = 42,
    bottom_k: int = 16,
    max_bucket: int = 64,
    containment_threshold: float = 0.8,
    hash_family: str = "xxhash64",
) -> DataFrame:
    """ASYMMETRIC containment dedup at corpus scale — the executed 100 TB
    path that replaces the exact entry's ``doc_id < cap`` bound
    (queries/text.py::ngram_containment_pairs names this as its scale
    path). Candidates come from TWO bounded generators, then one exact
    containment re-check, so precision is exact and only recall is
    approximate:

    1. **Banded MinHash** (``band_candidate_pairs``): catches pairs with
       moderate-to-high Jaccard. Banding alone is NOT enough for
       containment's motivating case — a short doc quoted inside a long
       one has containment 1.0 but Jaccard ≈ |A|/|B|, and MinHash
       band-collision probability collapses with Jaccard.
    2. **Bottom-k sketch postings**: each doc posts its ``bottom_k``
       smallest shingle hashes; a candidate is any two docs sharing a
       posted hash. For A ⊂ B the shared shingles are uniformly ranked
       within BOTH docs' hash orders, so P(some shared shingle lands in
       both bottom-k sketches) stays high even when |B| >> |A|
       (hypergeometric: 1 - C(|B|-|A∩B|, k)/C(|B|, k)-ish — ~0.95 for a
       10-shingle quote in a 60-shingle doc at k=16). Hot buckets
       (boilerplate grams posted by > ``max_bucket`` docs) are dropped
       before the self-join: they carry no containment signal and would
       make the bucket quadratic — the same high-DF cut every
       inverted-index join applies (PPJoin's df-ordering, CCNet's
       hash-range sharding). Shuffle is <= bottom_k rows/doc; join cost
       tracks collisions, never n².

    Returns the exact entry's schema (doc_a, doc_b, n_shared,
    containment_a_in_b, containment_b_in_a), pairs kept when EITHER
    direction >= threshold over the candidate set."""
    sh = _hashed_shingles(docs, id_col, text_col, n, hash_family)
    # one corpus-scale projection feeds the signatures, the bottom-k
    # postings, and both sides of the re-check (persist: measured 3x on
    # the banded path; the 100 TB pattern is persisting this to storage)
    sh = sh.persist()
    cand_band = band_candidate_pairs(
        sh,
        id_col,
        num_hashes=num_hashes,
        bands=bands,
        seed=seed,
        hash_family=hash_family,
    )
    posts = sh.select(
        F.col(id_col),
        F.explode(F.slice(F.array_sort("shingles"), 1, bottom_k)).alias("g"),
    )
    cold = posts.groupBy("g").agg(F.count(F.lit(1)).alias("df_g")).filter(
        F.col("df_g") <= max_bucket
    )
    posts = posts.join(cold.select("g"), "g")
    cand_bk = (
        posts.alias("a")
        .join(
            posts.alias("b"),
            (F.col("a.g") == F.col("b.g"))
            & (F.col(f"a.{id_col}") < F.col(f"b.{id_col}")),
        )
        .select(
            F.col(f"a.{id_col}").alias("id_a"), F.col(f"b.{id_col}").alias("id_b")
        )
        .distinct()
    )
    cand = cand_band.unionByName(cand_bk).distinct()
    sa = sh.select(F.col(id_col).alias("id_a"), F.col("shingles").alias("sh_a"))
    sb = sh.select(F.col(id_col).alias("id_b"), F.col("shingles").alias("sh_b"))
    inter = F.size(F.array_intersect("sh_a", "sh_b"))
    return (
        cand.join(sa, "id_a")
        .join(sb, "id_b")
        .select(
            F.col("id_a").alias("doc_a"),
            F.col("id_b").alias("doc_b"),
            inter.cast("long").alias("n_shared"),
            (inter.cast("double") / F.size("sh_a")).alias("containment_a_in_b"),
            (inter.cast("double") / F.size("sh_b")).alias("containment_b_in_a"),
        )
        .filter(
            (F.col("containment_a_in_b") >= containment_threshold)
            | (F.col("containment_b_in_a") >= containment_threshold)
        )
    )


def _components_local(spark, edges, id_type) -> DataFrame:
    """Driver-side union-find over a collected edge list — exact min
    label per component (the fixpoint the distributed propagation
    converges to). Bounded by ``driver_edge_cap`` rows at the call
    site."""
    from pyspark.sql.types import StructField, StructType

    parent: dict = {}

    def find(x):
        r = x
        while parent[r] != r:
            r = parent[r]
        while parent[x] != r:  # path compression
            parent[x], x = r, parent[x]
        return r

    for row in edges:
        a, b = row[0], row[1]
        parent.setdefault(a, a)
        parent.setdefault(b, b)
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[rb] = ra
    comp_min: dict = {}
    for v in parent:
        r = find(v)
        if r not in comp_min or v < comp_min[r]:
            comp_min[r] = v
    rows = [(v, comp_min[find(v)]) for v in parent]
    schema = StructType(
        [StructField("node", id_type), StructField("component", id_type)]
    )
    return spark.createDataFrame(rows, schema)


def components_from_pairs(
    pairs: DataFrame,
    a_col: str = "id_a",
    b_col: str = "id_b",
    max_iter: int = 10,
    driver_edge_cap: int = 200_000,
) -> DataFrame:
    """Connected components over near-dup candidate pairs (the grouping
    step of SURVEY §2.10 dedup): iterative min-label propagation, with a
    driver-side union-find fast path for bounded edge sets.

    SMALL-EDGE-SET FAST PATH (r7): near-dup pair sets at the tested SFs
    are a few hundred rows, but each propagation iteration costs a
    join + groupBy + convergence-count — pure scheduler overhead on tiny
    data (measured: 2.5s for a 401-node graph, ~0.2s via union-find).
    When the edge list fits ``driver_edge_cap`` (probed with a
    limit-collect over a PERSISTED projection, so the expensive upstream
    pair plan — typically a banded self-join — computes each partition
    at most once even when the probe overflows into the distributed
    path; ADVICE r7), the exact min-label fixpoint is computed locally —
    the same bounded-driver discipline as SemDeDup's sample-trained
    centroids and BPE's small-vocab path. Over the cap (the 100 TB
    regime, where near-dup edges are corpus-scale) the distributed loop
    below runs unchanged, reading the persisted pairs; the persist is
    released once the symmetrized edge cache materializes.

    Distributed path: each node starts labeled with itself; every
    iteration each node takes the min label among itself and its
    neighbors; converges in O(diameter) rounds (near-dup clusters are
    tiny, so few iterations). Returns (node, component). Each iteration
    is two shuffles (join + groupBy) over the EDGE set only — at corpus
    scale edges ≈ near-dup density, far smaller than the corpus.
    """
    pair_cols = pairs.select(a_col, b_col)
    probed = None
    # try/finally so the probe persist is always released, even when the
    # limit-collect or the edge materialization throws mid-probe
    try:
        if driver_edge_cap:
            # persist BEFORE probing: the limit-collect computes upstream
            # partitions incrementally until the cap is hit, and the persist
            # keeps them, so an over-cap probe does not re-run the expensive
            # banded self-join when the distributed loop scans the full set
            probed = pair_cols.persist()
            sample = probed.limit(driver_edge_cap + 1).collect()
            if len(sample) <= driver_edge_cap:
                return _components_local(
                    pairs.sparkSession, sample, pairs.schema[a_col].dataType
                )
            pair_cols = probed
        edges = (
            pair_cols.select(F.col(a_col).alias("src"), F.col(b_col).alias("dst"))
            .unionByName(
                pair_cols.select(F.col(b_col).alias("src"), F.col(a_col).alias("dst"))
            )
            .distinct()
            .cache()
        )
        edges.count()  # materialize off the pair persist, then drop it
    finally:
        if probed is not None:
            probed.unpersist()
    from ..session import release_checkpoint

    labels = (
        edges.select(F.col("src").alias("node"))
        .distinct()
        .withColumn("component", F.col("node"))
    )
    prev_ckpt = None
    for _ in range(max_iter):
        neighbor_min = (
            edges.join(labels, edges.dst == labels.node)
            .groupBy("src")
            .agg(F.min("component").alias("nbr_component"))
        )
        new_labels = (
            labels.join(neighbor_min, labels.node == neighbor_min.src, "left")
            .select(
                "node",
                F.least(
                    F.col("component"), F.coalesce(F.col("nbr_component"), F.col("component"))
                ).alias("component"),
            )
        )
        # EAGER localCheckpoint truncates the per-iteration lineage
        # (without it the plan doubles every round and stage submission
        # cost dominates long chains) and means the convergence probe
        # below reads materialized data instead of recomputing the
        # iteration; the PREVIOUS checkpoint is released once the new
        # one exists, holding storage at ~1 label-table copy (r8: the
        # lazy-checkpoint version leaked one copy per iteration — the
        # same defect class the BPE trainer fixed in r7; at cluster
        # scale use checkpoint() to durable storage for executor-loss
        # recovery).
        labels_ck = new_labels.localCheckpoint(eager=True)
        changed = (
            labels_ck.alias("n")
            .join(labels.alias("o"), "node")
            .filter(F.col("n.component") != F.col("o.component"))
            .limit(1)
            .count()
        )
        if prev_ckpt is not None:
            release_checkpoint(prev_ckpt)
        labels = prev_ckpt = labels_ck
        if changed == 0:
            break
    # release the edge cache (ADVICE r5: caches that outlive their query
    # accumulate across a long session). The returned table is the final
    # checkpoint — node-grain over CLUSTERED docs only, bounded by
    # near-dup density — and no longer depends on the edge lineage.
    edges.unpersist()
    return labels


def keep_canonical_per_component(
    docs: DataFrame, components: DataFrame, id_col: str = "doc_id"
) -> DataFrame:
    """Final dedup: every doc in a near-dup component except its minimum
    id is dropped; docs in no component pass through."""
    reps = components.filter(F.col("node") != F.col("component")).select(
        F.col("node").alias(id_col)
    )
    return docs.join(reps, id_col, "left_anti")


def minhash_band_index(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = 3,
    num_hashes: int = 32,
    bands: int = 8,
    seed: int = 42,
    hash_family: str = "xxhash64",
) -> DataFrame:
    """The persistable dedup index of a corpus: one (id, band_idx,
    band_sig) row per LSH band per doc — ``bands`` rows/doc, built in a
    single map-only pass (shingle → 32 min-hashes → band hashes; no
    shuffle). At 100 TB this table is written partitioned/bucketed by
    (band_idx, band_sig) so incremental probes touch only matching
    buckets; text is never needed again. ``band_sig`` is a long for the
    xxhash64 default, a '-'-joined STRING for the portable md5 family —
    probe and index must use the same family."""
    # fan_out: same rationale as minhash_banded_pairs — the shingle +
    # 32-min-hash projection is per-token CPU pinned to the scan's
    # row-group splits on small parquet; no-op at corpus scale.
    from ..session import fan_out

    sh = _hashed_shingles(fan_out(docs), id_col, text_col, n, hash_family)
    mins = minhash_signatures(
        sh, id_col, num_hashes=num_hashes, seed=seed, hash_family=hash_family
    )
    return _band_rows(mins, id_col, num_hashes, bands, hash_family)


def incremental_neardup_filter(
    index: DataFrame,
    new_docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = 3,
    num_hashes: int = 32,
    bands: int = 8,
    seed: int = 42,
    hash_family: str = "xxhash64",
    new_bands: DataFrame | None = None,
) -> DataFrame:
    """Incremental corpus dedup: keep only new docs that are near-dups of
    neither the already-indexed corpus nor an earlier (smaller-id) doc in
    the same batch. Collision = agreeing on any full LSH band (same
    banding as ``minhash_banded_pairs``; same recall characteristics).

    Scale shape: the new batch is small relative to the corpus, so its
    band table is **broadcast** and the big index streams through a
    map-side hash join — the corpus is never re-shingled, re-hashed, or
    shuffled, and with the index stored bucketed by (band_idx, band_sig)
    only matching buckets are even read. This is the foreachBatch body of
    the streaming dedup epoch (streaming/jobs.py::apply_dedup_epoch).

    ``new_bands``: a caller that ALSO needs the batch's band table (the
    streaming dedup epoch appends the survivors' bands to the persisted
    index) passes ``minhash_band_index(new_docs)`` here, already
    persisted, so the shingle → 32-min-hash → band projection runs once
    per batch instead of once per consumer. The caller owns that
    persist; this function only unpersists the band table it built
    itself. Must be the same (id, band_idx, band_sig) layout and hash
    family as the internal build.
    """
    owns_bands = new_bands is None
    if not owns_bands:
        # The banding parameters are IGNORED when the caller supplies a
        # precomputed band table, and a mismatched (params, new_bands) pair
        # would silently produce wrong dedup results. So reject non-default
        # banding params, and require the exact (id, band_idx, band_sig)
        # layout the internal build produces.
        if (n, num_hashes, bands, seed, hash_family) != (3, 32, 8, 42, "xxhash64"):
            raise ValueError(
                "incremental_neardup_filter: banding parameters are ignored "
                "when new_bands is supplied — band with those parameters "
                "yourself and pass only new_bands"
            )
        missing = {id_col, "band_idx", "band_sig"} - set(new_bands.columns)
        if missing:
            raise ValueError(
                f"incremental_neardup_filter: new_bands lacks columns {sorted(missing)}"
            )
    if owns_bands:
        new_bands = minhash_band_index(
            new_docs,
            id_col,
            text_col,
            n=n,
            num_hashes=num_hashes,
            bands=bands,
            seed=seed,
            hash_family=hash_family,
        ).persist()
    try:
        probe = new_bands.select(
            "band_idx", "band_sig", F.col(id_col).alias("_new_id")
        )
        hit_corpus = (
            index.join(F.broadcast(probe), ["band_idx", "band_sig"])
            .select(F.col("_new_id").alias(id_col))
            .distinct()
        )
        hit_batch = (
            new_bands.alias("a")
            .join(
                new_bands.alias("b"),
                (F.col("a.band_idx") == F.col("b.band_idx"))
                & (F.col("a.band_sig") == F.col("b.band_sig"))
                & (F.col(f"a.{id_col}") < F.col(f"b.{id_col}")),
            )
            .select(F.col(f"b.{id_col}").alias(id_col))
            .distinct()
        )
        # Eagerly materialize the (tiny, <= batch-size) hit-id set so the
        # cached band table is consumed exactly once and can be released
        # HERE instead of leaking in executor storage for the life of the
        # long-running ingest loop (localCheckpoint truncates lineage, so
        # the returned plan no longer references new_bands).
        hits = hit_corpus.unionByName(hit_batch).distinct().localCheckpoint(eager=True)
    finally:
        if owns_bands:
            new_bands.unpersist()
    return new_docs.join(hits, id_col, "left_anti")


def simhash_buckets(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    band_bits: int = 16,
    hash_family: str = "xxhash64",
) -> DataFrame:
    """63-bit SimHash fingerprint + leading-band bucket.

    Token hashes via xxhash64 (JVM, seed 42); each bit position
    accumulates +1/-1 votes across tokens; the sign vector is the
    fingerprint. Pure column expressions — one narrow projection, no
    Python. 63 bits (not 64) because the packed value lives in a signed
    long and shift amounts must be literals — pow(2, b) covers b <= 62
    exactly. Near-dup candidates share the ``band`` (or the full hash).

    ``hash_family="md5"`` (r11): tokens hash through ``md5_int60`` and
    the fingerprint is 60-bit — every step (distinct tokens, +1/−1
    integer votes, sign, bit-pack, leading-band shift) exact-integer
    and re-derivable in DuckDB, making ``dedup_simhash`` a full
    value-hash oracle. xxhash64 stays the corpus-scale default (one
    cheap JVM hash per token; md5 is ~an order costlier per byte).
    """
    n_bits = 60 if hash_family == "md5" else 63
    # COALESCE(text,'') — NULL text must behave like empty text on BOTH
    # engines: without it Spark's aggregate-over-NULL-array folds a NULL
    # doc to simhash=0/band=0 (counted) while the DuckDB dual's UNNEST
    # of a NULL token list emits zero rows (dropped) — a latent
    # n_docs_total mismatch (r11 ADVICE).
    toks = F.array_distinct(
        F.split(F.trim(F.coalesce(F.col(text_col), F.lit(""))), r"\s+")
    )
    hashes = F.transform(toks, lambda t: _token_hash(t, hash_family))
    bit_of = lambda h, b: F.when(  # noqa: E731
        h.bitwiseAND(F.pow(F.lit(2.0), b).cast("long")) != 0, F.lit(1)
    ).otherwise(F.lit(-1))
    bit_votes = F.transform(
        F.sequence(F.lit(0), F.lit(n_bits - 1)),
        lambda b: F.aggregate(hashes, F.lit(0), lambda acc, h: acc + bit_of(h, b)),
    )
    simhash = F.aggregate(
        F.zip_with(
            bit_votes,
            F.sequence(F.lit(0), F.lit(n_bits - 1)),
            lambda v, b: F.when(v > 0, F.pow(F.lit(2.0), b).cast("long")).otherwise(
                F.lit(0).cast("long")
            ),
        ),
        F.lit(0).cast("long"),
        lambda acc, x: acc.bitwiseOR(x),
    )
    out = docs.select(id_col, simhash.alias("simhash"))
    return out.withColumn(
        "band", F.shiftrightunsigned(F.col("simhash"), n_bits - band_bits)
    )


def _token_hash(t: Column, hash_family: str) -> Column:
    """SimHash token hash: xxhash64 seed 42 (default) or md5_int60."""
    if hash_family == "md5":
        return md5_int60(t)
    return F.xxhash64(t, F.lit(42))
