"""Deduplication operators over the documents corpus.

First-class training-data-pipeline stages (no reference counterpart —
the reference's only dedup is Jena Model set-insert, SURVEY.md §3.4 A1):

* exact dedup            — hash-groupBy, keep min doc_id
* MinHash + LSH          — shingle → signature → band buckets → pair join
* SimHash                — char-level md5 simhash, identical-hash groups
* n-gram Jaccard         — exact verification of LSH candidate pairs
* embedding near-dup     — cosine ≥ threshold pairs (see similarity.py)

One MinHash-LSH chain: every near-duplicate entry point composes the
same private stages over an ``(_id, _sh)`` shingle-set relation built
by ``_shingle_sets`` — ``_hash_family`` (per-seed and band-key hash),
``_band_keys`` (explode → min-per-seed signature → band keys),
``_candidate_pairs`` (band self-join) and ``_verify`` (exact Jaccard).
``minhash_band_buckets``, ``minhash_candidate_pairs``, ``jaccard_pairs``
and ``neardup_edges`` differ only in which stages they run and which
relation they persist.

Scale design: the signature is explode(shingles) → groupBy
min-per-seed — flat whole-stage-codegen hashing with map-side partial
aggregation, so the shuffle carries only n_hashes minima per doc and
the band-bucket join shuffles only (id, band, band_key).

Hash families: ``xxhash64`` (long minima, no hex-string churn) is the
canonicalization hot path — exact-Jaccard verification downstream makes
the candidate hash family semantically irrelevant. ``md5`` (hex-string
minima) is kept only because DuckDB reproduces it bit-for-bit: it backs
the DuckDB-oracled ``minhash_bands`` and ``neardup_pairs`` queries.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

SHINGLE_K = 3
N_HASHES = 16
# (b=4 bands, r=4 rows) — the standard operating point for a ~0.8
# Jaccard threshold: collision prob ≈ 0.88 at s=0.8 but only ≈ 0.02 at
# s=0.4, so the candidate set stays near-linear in the true-pair count.
# r=2 (b=8) admitted moderately-similar pairs at ~25% per band and blew
# the verification join up quadratically on vocabulary-heavy corpora.
N_BANDS = 4


def normalized_text(col: Column) -> Column:
    return F.lower(F.trim(F.regexp_replace(col, r"\s+", " ")))


def exact_dedup(
    docs: DataFrame, text_col: str = "text", id_col: str = "doc_id",
    salt_buckets: int | None = None,
) -> DataFrame:
    """Exact dedup: md5 of normalized text → keep the minimum id.
    One partial-aggregatable groupBy (map-side combine).

    ``salt_buckets``: two-phase salted aggregation for pathological key
    skew (north_star's "salted repartitionByRange" story for hot keys).
    Map-side combine already absorbs most duplicate mass, but a single
    text duplicated across a large fraction of a 10^12-doc corpus still
    funnels every partial row of that key to ONE reducer; salting by
    ``xxhash64(id) % salt_buckets`` first aggregates (hash, salt) —
    spreading the hot key over `salt_buckets` reducers — then combines
    the per-salt partials. min/count are algebraic, so the result is
    identical (asserted in tests)."""
    keyed = docs.select(
        F.col(id_col), F.md5(normalized_text(F.col(text_col))).alias("text_hash")
    )
    if not salt_buckets:
        return keyed.groupBy("text_hash").agg(
            F.min(id_col).alias("keep_id"), F.count(F.lit(1)).alias("n_dups")
        )
    partial = (
        keyed.withColumn("_salt", F.pmod(F.xxhash64(F.col(id_col)), F.lit(salt_buckets)))
        .groupBy("text_hash", "_salt")
        .agg(F.min(id_col).alias("_keep"), F.count(F.lit(1)).alias("_n"))
    )
    return partial.groupBy("text_hash").agg(
        F.min("_keep").alias("keep_id"), F.sum("_n").cast("long").alias("n_dups")
    )


def shingles(col: Column, k: int = SHINGLE_K) -> Column:
    """Distinct word k-gram shingles of a text column (in-row, no shuffle)."""
    toks = F.split(normalized_text(col), " ")
    grams = F.transform(
        F.sequence(F.lit(1), F.size(toks) - (k - 1)),
        lambda i: F.array_join(F.slice(toks, i, k), " "),
    )
    # guard: Spark sequence(1, n) DESCENDS when n < 1 — short texts get
    # an empty shingle set instead of a bogus descending index range
    return F.when(F.size(toks) >= k, F.array_distinct(grams)).otherwise(
        F.array().cast("array<string>")
    )


def signature_input(
    docs: DataFrame, text_col: str = "text", id_col: str = "doc_id",
    rep_ids: DataFrame | None = None,
) -> DataFrame:
    """The (_id, _text) relation the MinHash signature stage consumes.

    With ``rep_ids`` (a one-column ``_id`` DF of exact-dup
    representatives) the docs are SEMI-JOINED down to one row per
    unique text BEFORE any shingle/hash work, so signature-stage input
    scales with unique texts, not total docs (VERDICT r2 #4; asserted
    directly in tests). The join key is the unique id — skew-free —
    and AQE turns it into a broadcast semi-join when the rep set is
    small."""
    base = docs.select(F.col(id_col).alias("_id"), F.col(text_col).alias("_text"))
    if rep_ids is not None:
        base = base.join(rep_ids, "_id", "semi")
    return base


def _shingle_sets(
    docs: DataFrame, text_col: str, id_col: str, rep_ids: DataFrame | None = None,
) -> DataFrame:
    """(_id, _sh): each doc's distinct k-gram shingle array — the one
    shingle site every chain entry point reads."""
    return signature_input(docs, text_col, id_col, rep_ids).select(
        "_id", shingles(F.col("_text")).alias("_sh")
    )


def _hash_family(hash_family: str):
    """(seed_hash(seed, shingle), band_key(band, minima)) of a family.

    xxhash64 hashes the exploded string shingle per seed into a long
    (md5 materializes a 32-char hex string per (seed, shingle) — the
    dominant allocation). Two rejected xxhash64 variants, both measured
    SLOWER: hashing token triples after an index explode (carries the
    token array through the explode, O(tokens²) row bytes), and
    building long-hash arrays in-row (higher-order transform is
    CodegenFallback — interpreted per-element eval dwarfs the hash)."""
    if hash_family == "xxhash64":
        return (
            lambda seed, s: F.xxhash64(F.lit(seed), s),
            lambda b, parts: F.xxhash64(F.lit(b), *parts).cast("string"),
        )
    if hash_family == "md5":
        return (
            lambda seed, s: F.md5(F.concat(F.lit(f"{seed}|"), s)),
            lambda b, parts: F.md5(F.concat_ws(":", F.lit(str(b)), *parts)),
        )
    raise ValueError(f"unknown hash_family: {hash_family!r}")


def _band_keys(sh: DataFrame, family, n_hashes: int, n_bands: int) -> DataFrame:
    """(_id, _sh) → (_id, band, band_key). Docs with an empty shingle
    set drop out via the explode."""
    seed_hash, band_key = family
    rows_per_band = n_hashes // n_bands
    sig = sh.select("_id", F.explode("_sh").alias("s")).groupBy("_id").agg(
        *[F.min(seed_hash(seed, F.col("s"))).alias(f"h{seed}") for seed in range(n_hashes)]
    )
    bands = []
    for b in range(n_bands):
        parts = [F.col(f"h{b * rows_per_band + r}") for r in range(rows_per_band)]
        bands.append(F.struct(F.lit(b).alias("band"), band_key(b, parts).alias("band_key")))
    return sig.select("_id", F.explode(F.array(*bands)).alias("bk")).select(
        "_id", F.col("bk.band").alias("band"), F.col("bk.band_key").alias("band_key")
    )


def _candidate_pairs(bk: DataFrame) -> DataFrame:
    """(_id, band, band_key) → distinct (a, b), a < b, sharing a bucket.
    The self-join shuffles only the narrow band rows; hot buckets are
    split by AQE skew-join handling."""
    left = bk.select("band_key", "band", F.col("_id").alias("a"))
    right = bk.select("band_key", "band", F.col("_id").alias("b"))
    return (
        left.join(right, ["band_key", "band"])
        .where(F.col("a") < F.col("b"))
        .select("a", "b")
        .dropDuplicates()
    )


def _verify(sh: DataFrame, pairs: DataFrame, threshold: float) -> DataFrame:
    """Exact shingle Jaccard of each (a, b) pair → (a, b, jaccard) at or
    above ``threshold``. ``sh`` is joined to BOTH pair sides — callers
    persist it."""
    j = (
        pairs.join(sh.withColumnRenamed("_id", "a").withColumnRenamed("_sh", "sh_a"), "a")
        .join(sh.withColumnRenamed("_id", "b").withColumnRenamed("_sh", "sh_b"), "b")
    )
    inter = F.size(F.array_intersect("sh_a", "sh_b"))
    union = F.size(F.array_union("sh_a", "sh_b"))
    jac = F.when(union > 0, inter / union).otherwise(F.lit(0.0))
    return j.select("a", "b", F.round(jac, 6).alias("jaccard")).where(
        F.col("jaccard") >= threshold
    )


def minhash_band_buckets(
    docs: DataFrame, text_col: str = "text", id_col: str = "doc_id",
    n_hashes: int = N_HASHES, n_bands: int = N_BANDS, hash_family: str = "md5",
) -> DataFrame:
    """(doc_id, band, band_key) — docs sharing a band_key are candidates.

    hash_family:
      * "md5"      — hex-string minima; bit-reproducible in DuckDB (the
                     oracle for the ``minhash_bands`` query).
      * "xxhash64" — long-valued minima, zero string materialization
                     (~6× less CPU measured). Spark-private, so no SQL
                     oracle — used by the canonicalization hot path
                     (only candidate recall differs between families;
                     both approximate the same Jaccard collision curve).
    """
    family = _hash_family(hash_family)
    return _band_keys(
        _shingle_sets(docs, text_col, id_col), family, n_hashes, n_bands
    ).withColumnRenamed("_id", "doc_id")


def minhash_candidate_pairs(docs: DataFrame, **kw) -> DataFrame:
    """Distinct candidate pairs (a < b) from shared LSH buckets;
    ``kw`` as for ``minhash_band_buckets``."""
    # persist: both sides of the self-join would otherwise recompute the
    # signatures (bands are narrow rows — cheap to hold, spill at scale)
    bk = minhash_band_buckets(docs, **kw).withColumnRenamed("doc_id", "_id").persist()
    return _candidate_pairs(bk)


def jaccard_pairs(
    docs: DataFrame, pairs: DataFrame, text_col: str = "text", id_col: str = "doc_id",
    threshold: float = 0.8,
) -> DataFrame:
    """Exact n-gram Jaccard verification of candidate pairs → dedup edges
    (string shingles, so DuckDB reproduces it exactly)."""
    # persist: shingle sets are joined to BOTH pair sides; recomputing the
    # k-gram arrays twice costs more than holding them (spillable)
    return _verify(_shingle_sets(docs, text_col, id_col).persist(), pairs, threshold)


def simhash_groups(docs: DataFrame, text_col: str = "text", id_col: str = "doc_id") -> DataFrame:
    """(simhash, n_docs, min doc id) — identical-simhash grouping.

    Per 16 hex positions of md5(token), each distinct token votes +1
    if the digit ≥ 8 else −1; the sign vector packs into a 16-bit int
    (cross-engine reproducible: md5 + substring). Explode+groupBy
    formulation (same rationale as the MinHash signature: one
    codegen'd md5 per distinct token, map-side partial vote sums)."""
    toks = docs.select(
        F.col(id_col),
        F.explode(F.array_distinct(F.split(normalized_text(F.col(text_col)), " "))).alias("t"),
    )
    h = F.md5(F.col("t"))
    eight = F.ascii(F.lit("8"))
    votes = toks.groupBy(id_col).agg(
        *[
            F.sum(
                F.when(F.ascii(F.substring(h, pos + 1, 1)) >= eight, 1).otherwise(-1)
            ).alias(f"v{pos}")
            for pos in range(16)
        ]
    )
    total = None
    for pos in range(16):
        bit = F.when(F.col(f"v{pos}") >= 0, F.lit(1 << pos)).otherwise(F.lit(0))
        total = bit if total is None else total + bit
    return (
        votes.select(F.col(id_col), total.alias("simhash"))
        .groupBy("simhash")
        .agg(F.count(F.lit(1)).alias("n_docs"), F.min(id_col).alias("min_doc"))
    )


def neardup_edges(
    docs: DataFrame, text_col: str = "text", id_col: str = "doc_id",
    threshold: float = 0.8, n_hashes: int = N_HASHES, n_bands: int = N_BANDS,
    hash_family: str = "xxhash64", collapse_exact: bool = False,
) -> DataFrame:
    """Verified near-duplicate edges (a, b, jaccard) in ONE shingle pass.

    The whole chain around ONE persisted (_id, _sh) relation: the
    k-gram construction — the dominant allocation of both the signature
    and the verification — runs once; band keys derive from
    explode(_sh) and ``_verify`` joins the same persisted arrays to both
    pair sides. Semantically identical to the minhash_candidate_pairs +
    jaccard_pairs composition (asserted in tests); this is the
    canonicalization hot path.

    ``collapse_exact`` — the scale guard against the classic LSH skew
    bomb (VERDICT r1 finding #3): a cluster of n IDENTICAL texts shares
    every band key, so the raw candidate self-join emits n²/2 pairs —
    quadratic in cluster size, and real web corpora have clusters of
    millions. When enabled, exact-duplicate texts are collapsed first
    (one md5-groupBy, linear), LSH runs over UNIQUE texts only, and
    each dup group re-expands as (representative → member) edges —
    n−1 edges per cluster instead of n²/2. The resulting edge SET
    differs from the raw form, but its connected components are
    IDENTICAL (every member ties to its representative at jaccard 1.0,
    and identical texts have identical signatures, so any raw
    member-to-other edge maps to a representative-to-other edge) —
    asserted in tests; downstream canonicalization consumes only the
    components. Dup groups whose text has < k tokens get no expansion
    edges, mirroring the raw form where empty shingle sets never reach
    a band (so component parity holds for short texts too).

    Rep-only shingles (VERDICT r2 #4): the whole shingle relation —
    k-gram construction AND the n_hashes seed hashes, the dominant CPU
    of the stage — is built ONLY for representatives, via a semi-join
    of the narrow (id, text) projection against the rep set before any
    shingle work (an earlier formulation hashed every member's
    shingles and discarded the non-rep band rows afterwards — ~2×
    wasted signature cost on a web corpus with ~50% exact-dup mass).
    Verification likewise only ever touches representative arrays
    (candidate pairs are rep-only by construction), so the persisted
    relation holds one row per UNIQUE text, not per doc. Cost: one
    id-keyed exchange of the raw text — AQE converts it to a broadcast
    semi-join whenever the rep set is small, and at scale it is
    narrow-keyed and skew-free (ids are unique); the duplicate-mass
    hashing it removes grows with the corpus, the join does not."""
    family = _hash_family(hash_family)
    dup_edges = None
    rep_ids = None
    if collapse_exact:
        # NARROW rows only — document text is hashed in the scan and
        # never shuffled (a join carrying text through the exchange
        # measured a 30% wall regression on the ×48 bench corpus).
        # Signatures are computed for REPRESENTATIVES only (the
        # signature_input semi-join below); this block removes the
        # quadratic candidate blowup by collapsing identical texts
        # before any shingle work.
        keyed = docs.select(
            F.col(id_col).alias("_id"),
            F.md5(normalized_text(F.col(text_col))).alias("_thash"),
            F.size(F.split(normalized_text(F.col(text_col)), " ")).alias("_ntok"),
        )
        # persisted: grp feeds TWO consumers — the rep semi-join below
        # and the expansion edges — and is tiny relative to the corpus
        # (one narrow row per distinct text; spillable) (ADVICE r2)
        grp = keyed.groupBy("_thash").agg(F.min("_id").alias("_rep")).persist()
        # the rep set IS the aggregation output — no join back to the
        # members needed (each group has exactly one _rep and reps of
        # distinct _thash groups are distinct)
        rep_ids = grp.select(F.col("_rep").alias("_id"))
        dup_edges = keyed.join(grp, "_thash").where(
            (F.col("_id") != F.col("_rep")) & (F.col("_ntok") >= SHINGLE_K)
        ).select(
            # _rep = min(id) < member id, so (a, b) ordering is preserved
            F.col("_rep").alias("a"), F.col("_id").alias("b"),
            F.lit(1.0).alias("jaccard"),
        )
    sh = _shingle_sets(docs, text_col, id_col, rep_ids).persist()
    edges = _verify(sh, _candidate_pairs(_band_keys(sh, family, n_hashes, n_bands)), threshold)
    if dup_edges is not None:
        edges = edges.unionByName(dup_edges)
    return edges
