"""Unit tests for the data-ops operators on planted fixtures."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from r2rml_parser_spark.operators.components import (
    canonical_mapping,
    connected_components,
    rewrite_subjects,
)
from r2rml_parser_spark.operators.dedup import (
    exact_dedup,
    jaccard_pairs,
    minhash_candidate_pairs,
    simhash_groups,
)
from r2rml_parser_spark.operators.multimodal import (
    decode_media,
    extract_features,
    synth_media_table,
)
from r2rml_parser_spark.operators.similarity import cosine_topk, embedding_neardup, ivf_topk


BASE = "one two three four five six seven eight nine ten eleven twelve"


@pytest.fixture(scope="module")
def planted_docs(spark):
    rows = [
        (1, BASE),
        (2, BASE),  # exact dup of 1
        (3, BASE + " thirteen"),  # near dup of 1/2
        (4, "completely different words live in this document here now"),
        (5, "another unrelated text with its own vocabulary entirely apart"),
    ]
    return spark.createDataFrame(rows, ["doc_id", "text"])


def test_exact_dedup(planted_docs):
    got = {r.keep_id: r.n_dups for r in exact_dedup(planted_docs).collect()}
    assert got[1] == 2  # docs 1+2 collapse
    assert got[3] == 1 and got[4] == 1 and got[5] == 1


def test_exact_dedup_salted_equals_unsalted_on_hot_key(spark):
    # 80% of rows share one text — the skew shape salting exists for
    rows = [(i, "the same hot document text repeated everywhere") for i in range(400)]
    rows += [(1000 + i, f"unique text number {i} with words") for i in range(100)]
    docs = spark.createDataFrame(rows, ["doc_id", "text"])
    plain = {tuple(r) for r in exact_dedup(docs).collect()}
    salted = {tuple(r) for r in exact_dedup(docs, salt_buckets=16).collect()}
    assert salted == plain
    hot = next(r for r in plain if r[2] == 400)
    assert hot[1] == 0  # keep_id is the global min across salt buckets


def test_minhash_finds_planted_neardups(planted_docs):
    pairs = minhash_candidate_pairs(planted_docs)
    verified = jaccard_pairs(planted_docs, pairs, threshold=0.5)
    got = {(r.a, r.b): r.jaccard for r in verified.collect()}
    assert (1, 2) in got and got[(1, 2)] == 1.0
    assert (1, 3) in got and 0.5 <= got[(1, 3)] < 1.0
    assert all(a in (1, 2, 3) and b in (1, 2, 3) for a, b in got)


def test_minhash_xxhash64_family_finds_same_planted_neardups(planted_docs):
    # the canonicalization hot path uses long-valued xxhash64 minima;
    # after exact-Jaccard verification it must find the same planted
    # edges as the md5-oracle family
    pairs = minhash_candidate_pairs(planted_docs, hash_family="xxhash64")
    verified = jaccard_pairs(planted_docs, pairs, threshold=0.5)
    got = {(r.a, r.b): r.jaccard for r in verified.collect()}
    assert (1, 2) in got and got[(1, 2)] == 1.0
    assert (1, 3) in got and 0.5 <= got[(1, 3)] < 1.0
    assert all(a in (1, 2, 3) and b in (1, 2, 3) for a, b in got)


def test_neardup_edges_fused_equals_two_call_composition(planted_docs):
    from r2rml_parser_spark.operators.dedup import neardup_edges

    for fam in ("md5", "xxhash64"):
        pairs = minhash_candidate_pairs(planted_docs, hash_family=fam)
        two_call = {
            (r.a, r.b, r.jaccard)
            for r in jaccard_pairs(planted_docs, pairs, threshold=0.5).collect()
        }
        fused = {
            (r.a, r.b, r.jaccard)
            for r in neardup_edges(planted_docs, threshold=0.5, hash_family=fam).collect()
        }
        assert fused == two_call, fam


def test_neardup_collapse_exact_linear_not_quadratic(spark):
    """VERDICT r1 finding #3: a planted exact-dup cluster of size n must
    contribute O(n) edges under collapse_exact (vs n²/2 raw), while the
    connected components stay identical to the raw form."""
    from r2rml_parser_spark.operators.dedup import neardup_edges

    def corpus(n):
        rows = [(i, BASE) for i in range(n)]  # exact-dup cluster
        rows += [(100 + i, f"unique text number {i} with distinct words alpha beta {i}")
                 for i in range(5)]
        rows += [(200, BASE + " thirteen")]  # near-dup of the cluster
        rows += [(300, "hi")]  # < k tokens: no shingles, never linked
        rows += [(301, "hi")]
        return spark.createDataFrame(rows, ["doc_id", "text"])

    def components(edges_df):
        assigns = connected_components(
            edges_df.select(F.col("a").alias("u"), F.col("b").alias("v"))
        ).collect()
        comps = {}
        for r in assigns:
            comps.setdefault(r.component, set()).add(r.node)
        return {frozenset(c) for c in comps.values()}

    for n in (4, 12):
        docs = corpus(n)
        raw = neardup_edges(docs, threshold=0.8)
        collapsed = neardup_edges(docs, threshold=0.8, collapse_exact=True)
        n_raw, n_col = raw.count(), collapsed.count()
        # raw: full clique on the cluster (n²/2-ish); collapsed: n−1
        # expansion edges + one representative edge to the near-dup
        assert n_raw >= n * (n - 1) // 2
        assert n_col <= (n - 1) + 5  # linear in cluster size
        assert components(raw) == components(collapsed)
        # short identical texts must NOT be merged in either form
        assert not any({300, 301} & c for c in components(collapsed))


def test_neardup_rep_only_signature_input(spark):
    """VERDICT r2 #4: with collapse_exact, the signature stage consumes
    one row per UNIQUE text — input scales with unique texts, not total
    docs — and the fused operator's plan carries the semi-join that
    enforces it before any shingle/hash work."""
    from r2rml_parser_spark.operators.dedup import (
        exact_dedup,
        neardup_edges,
        signature_input,
    )

    def corpus(copies):
        rows = [
            (u * 1000 + c, f"unique passage {u} with tokens gamma delta {u} epsilon")
            for u in range(20)
            for c in range(copies)
        ]
        return spark.createDataFrame(rows, ["doc_id", "text"])

    for copies in (15, 30):  # 300 and 600 docs, same 20 unique texts
        docs = corpus(copies)
        reps = exact_dedup(docs).select(F.col("keep_id").alias("_id"))
        si = signature_input(docs, rep_ids=reps)
        assert si.count() == 20  # invariant in total-doc count
    # the fused operator wires the same semi-join ahead of the
    # signature aggregate (raw form has no semi-join at all)
    docs = corpus(15)
    plan = neardup_edges(docs, collapse_exact=True)._jdf.queryExecution().toString()
    assert "LeftSemi" in plan
    raw_plan = neardup_edges(docs)._jdf.queryExecution().toString()
    assert "LeftSemi" not in raw_plan


def test_minhash_bad_hash_family_rejected(planted_docs):
    import pytest as _pytest

    from r2rml_parser_spark.operators.dedup import minhash_band_buckets

    with _pytest.raises(ValueError):
        minhash_band_buckets(planted_docs, hash_family="sha1")


def test_simhash_identical_docs_share_bucket(planted_docs):
    groups = {r.simhash: r.n_docs for r in simhash_groups(planted_docs).collect()}
    assert max(groups.values()) >= 2  # docs 1+2 identical → same simhash


def test_connected_components_chain_and_star(spark):
    # chain 1-2-3-4-5, star 10-(11,12,13), isolated pair 20-21
    edges = spark.createDataFrame(
        [(1, 2), (2, 3), (3, 4), (4, 5), (10, 11), (10, 12), (10, 13), (20, 21)],
        ["u", "v"],
    )
    cc = {r.node: r.component for r in connected_components(edges).collect()}
    assert all(cc[n] == 1 for n in (1, 2, 3, 4, 5))
    assert all(cc[n] == 10 for n in (10, 11, 12, 13))
    assert cc[20] == 20 and cc[21] == 20


def test_connected_components_long_chain_converges(spark):
    n = 200  # needs O(log n) rounds, not O(n)
    edges = spark.createDataFrame([(i, i + 1) for i in range(n)], ["u", "v"])
    cc = connected_components(edges, max_iterations=15, collect_threshold=0)
    comps = cc.select("component").distinct().collect()
    assert len(comps) == 1 and comps[0].component == 0


def test_connected_components_power_law_distributed_matches_union_find(spark):
    # skew shape CC must survive at scale: one hot hub (degree 1500),
    # a few mid hubs, long chains — large-star splits the hubs, driver
    # union-find is the ground truth
    import random

    rng = random.Random(7)
    edges = [(0, i) for i in range(1, 1501)]                      # hot hub
    edges += [(2000 + 100 * h, 2000 + 100 * h + j)                # mid hubs
              for h in range(5) for j in range(1, 60)]
    edges += [(10_000 + i, 10_001 + i) for i in range(300)]       # chain
    edges += [(rng.randrange(1, 1501), rng.randrange(1, 1501)) for _ in range(200)]
    df = spark.createDataFrame(edges, ["u", "v"])
    dist = {(r.node, r.component)
            for r in connected_components(df, collect_threshold=0).collect()}
    truth = {(r.node, r.component)
             for r in connected_components(df).collect()}  # driver union-find
    assert dist == truth
    comps = {c for _, c in dist}
    assert 0 in comps and 10_000 in comps  # hub comp and chain comp both rooted at min


def test_rewrite_subjects_merges_coreferent_iris(spark):
    triples = spark.createDataFrame(
        [
            ("http://x/a", "iri", "http://p/name", "A", "literal", None, None),
            ("http://x/b", "iri", "http://p/name", "A", "literal", None, None),
            ("http://x/c", "iri", "http://p/ref", "http://x/b", "iri", None, None),
        ],
        "subj string, subj_kind string, pred string, obj string, obj_kind string, "
        "lang string, dtype string",
    )
    edges = spark.createDataFrame([("http://x/a", "http://x/b")], ["u", "v"])
    out = rewrite_subjects(triples, canonical_mapping(edges))
    rows = {(r.subj, r.pred, r.obj) for r in out.collect()}
    # a and b merge into a (min); object IRIs rewritten too; dedup applies
    assert ("http://x/a", "http://p/name", "A") in rows
    assert ("http://x/c", "http://p/ref", "http://x/a") in rows
    assert len(rows) == 2


def test_rewrite_subjects_assume_distinct_equals_full_dedup(spark):
    # duplicate-free input with merges that create (a) subj-touched dups,
    # (b) a touched row colliding with a would-be untouched row's *shape*
    # (same pred/obj, different canonical subj), (c) obj-only rewrites
    triples = spark.createDataFrame(
        [
            ("http://x/a", "iri", "http://p/name", "A", "literal", None, None),
            ("http://x/b", "iri", "http://p/name", "A", "literal", None, None),
            ("http://x/a", "iri", "http://p/lang", "en", "literal", None, None),
            ("http://x/b", "iri", "http://p/lang", "fr", "literal", None, None),
            ("http://x/c", "iri", "http://p/ref", "http://x/b", "iri", None, None),
            ("http://x/c", "iri", "http://p/ref", "http://x/a", "iri", None, None),
            ("http://x/z", "iri", "http://p/name", "A", "literal", None, None),
        ],
        "subj string, subj_kind string, pred string, obj string, obj_kind string, "
        "lang string, dtype string",
    )
    edges = spark.createDataFrame([("http://x/a", "http://x/b")], ["u", "v"])
    mapping = canonical_mapping(edges)
    full = {tuple(r) for r in rewrite_subjects(triples, mapping).collect()}
    fast = {
        tuple(r)
        for r in rewrite_subjects(triples, mapping, assume_distinct=True).collect()
    }
    assert fast == full
    # obj-rewrite collapse: c's two refs merge to one canonical ref
    assert ("http://x/c", "iri", "http://p/ref", "http://x/a", "iri", None, None) in fast
    fast_df = rewrite_subjects(triples, mapping, assume_distinct=True)
    assert fast_df.count() == fast_df.dropDuplicates().count()  # set semantics hold


def test_assign_cells_separates_blobs_and_feeds_ivf(spark):
    from r2rml_parser_spark.operators.similarity import assign_cells, ivf_topk

    # two well-separated blobs in 3-d; no label column provided
    rows = [(i, [10.0 + (i % 3) * 0.1, 0.1, 0.0]) for i in range(10)]
    rows += [(100 + i, [0.1, 10.0 + (i % 3) * 0.1, 0.0]) for i in range(10)]
    emb = spark.createDataFrame(rows, ["vec_id", "embedding"])
    labeled = assign_cells(emb, n_cells=2, iterations=2)
    cells = {r.vec_id: r.label for r in labeled.collect()}
    blob_a = {cells[i] for i in range(10)}
    blob_b = {cells[100 + i] for i in range(10)}
    assert len(blob_a) == 1 and len(blob_b) == 1 and blob_a != blob_b
    # the assigned labels drive the IVF index end-to-end
    out = ivf_topk(labeled, labeled.where(F.col("vec_id") == 0), k=3, nprobe=1)
    got = {r.corpus_id for r in out.collect()}
    assert got and all(c < 100 for c in got)  # routed to blob A's cell only


def test_cosine_topk_self_similarity_excluded_and_ranked(spark):
    rows = [
        (0, [1.0, 0.0, 0.0], 0),
        (1, [0.9, 0.1, 0.0], 0),
        (2, [0.0, 1.0, 0.0], 1),
        (3, [0.0, 0.9, 0.1], 1),
        (4, [-1.0, 0.0, 0.0], 0),
    ]
    emb = spark.createDataFrame(rows, ["vec_id", "embedding", "label"])
    out = cosine_topk(emb, emb.where(F.col("vec_id") == 0), k=2)
    got = [(r.corpus_id, r.rank) for r in out.collect()]
    assert got == [(1, 1), (2, 2)] or got[0] == (1, 1)
    ivf = ivf_topk(emb, emb.where(F.col("vec_id") == 0), k=2, nprobe=1)
    assert [r.corpus_id for r in ivf.collect()][0] == 1

    nd = embedding_neardup(emb, threshold=0.9)
    assert {(r.a, r.b) for r in nd.collect()} == {(0, 1), (2, 3)}


def test_embedding_neardup_hyperplane_block_subquadratic(spark):
    """VERDICT r1 finding #4: on a corpus where cell-only blocking is
    visibly quadratic (one hot cell), the hyperplane second level must
    cut the candidate-pair count well below all-pairs while still
    recovering planted near-duplicates."""
    import random

    from pyspark.sql import functions as F2

    from r2rml_parser_spark.operators.similarity import (
        _hyperplane_bands,
        _as_double,
        embedding_neardup,
    )

    rng = random.Random(42)
    dim, n = 16, 2000

    def unit(v):
        s = sum(x * x for x in v) ** 0.5
        return [x / s for x in v]

    rows = []
    for i in range(n):
        rows.append((i, unit([rng.gauss(0, 1) for _ in range(dim)]), 0))
    # plant 20 near-dup partners of the first 20 vectors (tiny noise)
    planted = set()
    for i in range(20):
        base = rows[i][1]
        noisy = unit([x + rng.gauss(0, 0.01) for x in base])
        rows.append((10_000 + i, noisy, 0))
        planted.add((i, 10_000 + i))
    emb = spark.createDataFrame(rows, ["vec_id", "embedding", "label"])

    e = emb.select(
        F2.col("label").alias("cell"), F2.col("vec_id").alias("id"),
        _as_double(F2.col("embedding")).alias("v"),
    )
    bk = _hyperplane_bands(e, dim, 4, 4)
    candidates = (
        bk.alias("l").join(bk.alias("r"), ["cell", "band", "sig"])
        .where(F2.col("l.id") < F2.col("r.id"))
        .select(F2.col("l.id").alias("a"), F2.col("r.id").alias("b"))
        .dropDuplicates()
        .count()
    )
    total_pairs = (n + 20) * (n + 19) // 2
    assert candidates < total_pairs / 3, (candidates, total_pairs)

    found = {
        (r.a, r.b)
        for r in embedding_neardup(emb, threshold=0.95, dim=dim).collect()
    }
    assert len(planted & found) >= 18  # ≥90% recall on planted pairs


def test_assign_cells_scales_with_corpus_size(spark):
    import random

    from r2rml_parser_spark.operators.similarity import assign_cells

    rng = random.Random(7)
    rows = [(i, [rng.gauss(0, 1) for _ in range(8)]) for i in range(1200)]
    emb = spark.createDataFrame(rows, ["vec_id", "embedding"])
    labeled = assign_cells(emb, iterations=1)  # n_cells=None → ≈√N
    n_cells = labeled.select("label").distinct().count()
    # √1200 ≈ 34; k-means-lite may leave a few cells empty, but the count
    # must clearly exceed the old fixed-16 default
    assert 20 <= n_cells <= 40, n_cells


def test_multimodal_plumbing(spark):
    spans = spark.createDataFrame(
        [("d1", "image", None, "media://d1/0", 0), ("d1", "text", "hi", None, 1),
         ("d2", "audio", None, "media://d2/0", 0)],
        ["doc_id", "kind", "text", "media_ref", "offset"],
    )
    media = synth_media_table(spans)
    rows = media.collect()
    assert {r.kind for r in rows} == {"image", "audio"}
    assert all(isinstance(r.payload, (bytes, bytearray)) and len(r.payload) == 64 for r in rows)
    img = [r for r in rows if r.kind == "image"][0]
    assert img.meta.width and img.meta.height and img.meta.duration_ms is None

    feats = extract_features(media, fake_decode=True).collect()
    assert len(feats) == 2
    assert all(len(f.feature) == 8 and f.n_frames >= 1 for f in feats)
    # determinism across runs AND across batch boundaries (each row's
    # feature must not depend on which mapInPandas batch it lands in)
    feats2 = extract_features(media, fake_decode=True).collect()
    assert sorted(map(str, feats)) == sorted(map(str, feats2))
    feats3 = extract_features(media.repartition(3), fake_decode=True).collect()
    assert sorted(map(str, feats)) == sorted(map(str, feats3))

    with pytest.raises(NotImplementedError):
        decode_media(b"x", "image", fake=False)


def test_resize_media_plumbing(spark):
    from r2rml_parser_spark.operators.multimodal import resize_media

    spans = spark.createDataFrame(
        [("d1", "image", None, "media://d1/0", 0),
         ("d2", "image", None, "media://d2/0", 0),
         ("d3", "audio", None, "media://d3/0", 0)],
        "doc_id string, kind string, text string, media_ref string, offset int",
    )
    media = synth_media_table(spans)
    out = resize_media(media, 256, 128).collect()
    assert len(out) == 3
    imgs = {r.media_ref: r for r in out if r.kind == "image"}
    # meta tracks the target resolution; payload length tracks w*h/256
    assert all(r.meta.width == 256 and r.meta.height == 128 for r in imgs.values())
    assert all(len(r.payload) == 128 and r.meta.bytes == 128 for r in imgs.values())
    # distinct sources resize to distinct payloads (fake chain is keyed)
    assert imgs["media://d1/0"].payload != imgs["media://d2/0"].payload
    # non-image rows pass through byte-identical
    orig_audio = [r for r in media.collect() if r.kind == "audio"][0]
    audio = [r for r in out if r.kind == "audio"][0]
    assert audio.payload == orig_audio.payload and audio.meta == orig_audio.meta
    # deterministic across batch boundaries, like extract_features
    out3 = resize_media(media.repartition(3), 256, 128).collect()
    assert sorted(map(str, out)) == sorted(map(str, out3))


def test_connected_components_distributed_equals_driver(spark):
    # same assignments from the union-find fast path and the
    # large-star/small-star fixpoint (threshold=0 forces distributed)
    import random

    rng = random.Random(7)
    edges_py = [(rng.randrange(80), rng.randrange(80)) for _ in range(120)]
    edges = spark.createDataFrame(edges_py, ["u", "v"]).where("u <> v")
    fast = {(r.node, r.component) for r in connected_components(edges).collect()}
    dist = {
        (r.node, r.component)
        for r in connected_components(edges, collect_threshold=0).collect()
    }
    assert fast == dist and fast


def test_synth_span_rows_equals_array_form(spark):
    # the codegen'd row-form synthesis must be indistinguishable from the
    # canonical array-form docs table exploded (span-sequence invariant)
    from r2rml_parser_spark.sources.docs import span_view, synth_docs, synth_span_rows

    sf = "/root/testdata/sf0.001"
    a = span_view(synth_docs(spark, sf))
    b = synth_span_rows(spark, sf)
    assert a.schema == b.schema
    assert a.exceptAll(b).count() == 0
    assert b.exceptAll(a).count() == 0


def test_stratified_sample_deterministic_quota(spark):
    from r2rml_parser_spark.operators.sampling import stratified_sample

    rows = [(i, "en" if i % 3 else "de") for i in range(60)]
    df = spark.createDataFrame(rows, ["doc_id", "lang"])
    out = stratified_sample(df, "lang", 5)
    got = {(r.lang) for r in out.collect()}
    counts = {r.lang: r.n for r in out.groupBy("lang").agg(F.count("*").alias("n")).collect()}
    assert counts == {"en": 5, "de": 5}
    # deterministic: same ids under repartition/reordering
    ids1 = sorted(r.doc_id for r in out.collect())
    out2 = stratified_sample(df.repartition(7).sort(F.desc("doc_id")), "lang", 5)
    assert sorted(r.doc_id for r in out2.collect()) == ids1
    # a group smaller than k survives whole
    small = stratified_sample(df.where("doc_id < 4"), "lang", 10)
    assert small.count() == 4


def test_proportional_sample_deterministic(spark):
    from r2rml_parser_spark.operators.sampling import proportional_sample
    import pytest as _pytest

    df = spark.createDataFrame([(i,) for i in range(2000)], ["doc_id"])
    out = proportional_sample(df, 0.25)
    n = out.count()
    assert 400 < n < 600  # ~500 expected, md5-uniform
    ids = sorted(r.doc_id for r in out.collect())
    assert sorted(r.doc_id for r in proportional_sample(df.repartition(5), 0.25).collect()) == ids
    # nested fractions: a 0.1 sample is a subset of the 0.25 sample
    sub = sorted(r.doc_id for r in proportional_sample(df, 0.1).collect())
    assert set(sub) <= set(ids)
    assert proportional_sample(df, 0.0).count() == 0
    assert proportional_sample(df, 1.0).count() == 2000
    with _pytest.raises(ValueError):
        proportional_sample(df, 1.5)


def test_domain_mix(spark):
    from r2rml_parser_spark.operators.sampling import domain_mix
    import pytest as _pytest

    rows = [(i, "en" if i % 2 == 0 else ("de" if i % 4 == 1 else "xx"))
            for i in range(4000)]
    df = spark.createDataFrame(rows, ["doc_id", "lang"])
    out = domain_mix(df, "lang", {"en": 0.5, "de": 0.2}, default=0.05)
    counts = {r.lang: r.n for r in out.groupBy("lang").count().withColumnRenamed("count", "n").collect()}
    # ~1000 of 2000 en, ~200 of 1000 de, ~50 of 1000 xx (md5-uniform)
    assert 850 < counts.get("en", 0) < 1150
    assert 140 < counts.get("de", 0) < 260
    assert 20 < counts.get("xx", 0) < 85
    # deterministic across partitionings
    ids = sorted(r.doc_id for r in out.collect())
    ids2 = sorted(
        r.doc_id
        for r in domain_mix(
            df.repartition(7), "lang", {"en": 0.5, "de": 0.2}, default=0.05
        ).collect()
    )
    assert ids == ids2
    # composable: tightening a group's rate yields a SUBSET of survivors
    tight = domain_mix(df, "lang", {"en": 0.25, "de": 0.2}, default=0.05)
    assert {r.doc_id for r in tight.collect()} <= set(ids)
    # rate 1.0 keeps the whole group; rate 0.0 (default) drops unknowns
    full = domain_mix(df, "lang", {"en": 1.0}, default=0.0)
    assert full.count() == 2000
    assert {r.lang for r in full.collect()} == {"en"}
    with _pytest.raises(ValueError):
        domain_mix(df, "lang", {"en": 2.0})


def test_cap_clusters(spark):
    from r2rml_parser_spark.operators.sampling import cap_clusters

    docs = spark.createDataFrame([(i, f"t{i}") for i in range(10)], ["doc_id", "text"])
    # {0,1,2} and {5,6} are near-dup clusters; the rest are singletons
    edges = spark.createDataFrame([(0, 1), (1, 2), (5, 6)], ["u", "v"])
    out = cap_clusters(docs, edges, 1)
    kept = sorted(r.doc_id for r in out.collect())
    # one survivor per cluster + all 5 singletons = 7
    assert len(kept) == 7
    assert len(set(kept) & {0, 1, 2}) == 1 and len(set(kept) & {5, 6}) == 1
    assert {3, 4, 7, 8, 9} <= set(kept)
    # deterministic under reordering
    out2 = cap_clusters(docs.repartition(5), edges, 1)
    assert sorted(r.doc_id for r in out2.collect()) == kept
    # k=2 keeps both of the pair cluster
    out3 = cap_clusters(docs, edges, 2)
    kept3 = set(r.doc_id for r in out3.collect())
    assert {5, 6} <= kept3 and len(kept3 & {0, 1, 2}) == 2


def test_pack_sequences(spark):
    from r2rml_parser_spark.operators.sampling import pack_sequences
    import pytest as _pytest

    docs = spark.createDataFrame(
        [(i, 100 + (i % 5) * 37) for i in range(200)], ["doc_id", "n_tokens"]
    )
    out = pack_sequences(docs, budget=1000)
    rows = out.collect()
    assert len(rows) == 200  # every doc assigned exactly once
    # per-sequence totals: every CLOSED sequence reaches the budget and
    # overruns by less than one max-doc
    import collections
    seqs = collections.defaultdict(int)
    for r in rows:
        seqs[(r.bucket, r.seq_id)] += r.n_tokens
    max_doc = 100 + 4 * 37
    per_bucket_last = {}
    for (b, s), tot in seqs.items():
        per_bucket_last[b] = max(per_bucket_last.get(b, -1), s)
    for (b, s), tot in seqs.items():
        if s < per_bucket_last[b]:  # closed sequence
            # prefix-sum split: a closed sequence lands within one
            # max-document of the budget on either side
            assert 1000 - max_doc < tot < 1000 + max_doc, (b, s, tot)
    # deterministic under repartition
    out2 = pack_sequences(docs.repartition(7), budget=1000)
    a = sorted((r.doc_id, r.bucket, r.seq_id) for r in rows)
    b2 = sorted((r.doc_id, r.bucket, r.seq_id) for r in out2.collect())
    assert a == b2
    with _pytest.raises(ValueError):
        pack_sequences(docs, budget=0)


def test_pack_sequences_adaptive_bucket_default(spark):
    from r2rml_parser_spark.operators.sampling import (
        bucket_hex_len_for,
        pack_sequences,
    )

    # integer ladder: bucket count grows with input size
    assert bucket_hex_len_for(1_000) == 1
    assert bucket_hex_len_for(32_000_000) == 1
    assert bucket_hex_len_for(33_000_000) == 2
    assert bucket_hex_len_for(2_000_000 * 16**2) == 2
    assert bucket_hex_len_for(2_000_000 * 16**2 + 1) == 3
    assert bucket_hex_len_for(10**18) == 8  # capped
    # end-to-end: a small rows_per_bucket forces multi-hex buckets on a
    # tiny input — the default derives the length, not the caller
    docs = spark.createDataFrame(
        [(str(i), 10) for i in range(600)], "doc_id string, n_tokens long"
    )
    out = pack_sequences(docs, budget=50, rows_per_bucket=20)
    lens = {len(r.bucket) for r in out.select("bucket").distinct().collect()}
    assert lens == {2}  # 600 rows / 20-per-bucket → 2 hex chars
    assert out.count() == 600
    # explicit bucket_hex_len still honored (oracle-pinned driver query)
    out1 = pack_sequences(docs, budget=50, bucket_hex_len=1)
    assert {len(r.bucket) for r in out1.select("bucket").distinct().collect()} == {1}


def test_cap_clusters_accepts_neardup_edge_columns(spark):
    from r2rml_parser_spark.operators.sampling import cap_clusters

    docs = spark.createDataFrame(
        [(f"d{i}",) for i in range(6)], "doc_id string"
    )
    # neardup_edges-shaped output: (a, b, jaccard) — must compose
    # directly (ADVICE r3)
    edges = spark.createDataFrame(
        [("d0", "d1", 0.9), ("d1", "d2", 0.85)], "a string, b string, jaccard double"
    )
    out = cap_clusters(docs, edges, k=1)
    ids = {r.doc_id for r in out.collect()}
    assert len(ids & {"d0", "d1", "d2"}) == 1  # cluster capped at 1
    assert {"d3", "d4", "d5"} <= ids  # singletons survive
    # explicit column names work too
    out2 = cap_clusters(docs, edges.withColumnRenamed("a", "x"), k=1, u_col="x", v_col="b")
    assert out2.count() == 4


def test_decontamination(spark):
    from r2rml_parser_spark.operators.decontaminate import (
        contaminated_ids,
        decontaminate,
    )

    docs = spark.createDataFrame(
        [
            ("d1", "alpha beta gamma delta epsilon"),
            ("d2", "alpha beta gamma delta zeta"),   # shares 3-gram with d1
            ("d3", "one two three four five"),
            ("d4", "totally different words here now"),
            ("d5", "too short"),                      # < n tokens: no grams
        ],
        "doc_id string, text string",
    )
    bench = spark.createDataFrame(
        [("b1", "alpha beta gamma qqq"), ("b2", "one two three")],
        "doc_id string, text string",
    )
    hits = {r.doc_id: r.n_hit_grams for r in contaminated_ids(docs, bench, n=3).collect()}
    # d1/d2 share "alpha beta gamma" with b1; d3 shares "one two three"
    assert hits == {"d1": 1, "d2": 1, "d3": 1}
    clean = {r.doc_id for r in decontaminate(docs, bench, n=3).collect()}
    assert clean == {"d4", "d5"}
    # n wider than any benchmark doc: nothing collides
    assert contaminated_ids(docs, bench, n=6).count() == 0
    assert decontaminate(docs, bench, n=6).count() == 5


def test_strip_boilerplate(spark):
    from pyspark.sql import functions as F

    from r2rml_parser_spark.operators.boilerplate import (
        boilerplate_span_texts,
        strip_boilerplate,
    )

    rows = [
        # "copyright footer" recurs in 3 docs (one with case/space noise)
        ("d1", "text", "Copyright Footer", None, 0),
        ("d2", "text", "copyright  footer", None, 0),
        ("d3", "text", "COPYRIGHT FOOTER ", None, 0),
        # recurs in only 2 docs: below min_docs=3, kept
        ("d1", "text", "shared intro", None, 1),
        ("d2", "text", "shared intro", None, 1),
        # unique text + media spans: kept
        ("d1", "text", "unique body one", None, 2),
        ("d2", "image", None, "media://d2/1", 2),
        # same text twice in ONE doc: 1 distinct doc, kept
        ("d4", "text", "self repeat", None, 0),
        ("d4", "text", "self repeat", None, 1),
    ]
    spans = spark.createDataFrame(
        rows, "doc_id string, kind string, text string, media_ref string, offset int"
    )
    hot = boilerplate_span_texts(spans, min_docs=3).collect()
    assert len(hot) == 1 and hot[0].n_docs == 3

    out = strip_boilerplate(spans, min_docs=3)
    assert out.columns == spans.columns  # schema preserved
    kept = {(r.doc_id, r.offset) for r in out.collect()}
    assert kept == {
        ("d1", 1), ("d2", 1), ("d1", 2), ("d2", 2), ("d4", 0), ("d4", 1)
    }
    # media spans survive even when every text span is boilerplate
    assert ("d2", 2) in kept
    # min_docs high enough: identity
    assert strip_boilerplate(spans, min_docs=99).count() == len(rows)


def test_repetition_signals(spark):
    from r2rml_parser_spark.operators.textstats import repetition_signals

    docs = spark.createDataFrame(
        [
            ("d1", "a b a b a"),   # grams: "a b","b a","a b","b a" → dup .5, top .5
            ("d2", "x y z"),       # grams: "x y","y z" → dup 0, top .5
            ("d3", "solo"),        # < n tokens → dropped
            ("d4", "r r r r"),     # "r r"×3 → dup 2/3, top 1.0
            ("d5", ""),            # one empty token → dropped
        ],
        "doc_id string, text string",
    )
    out = {r.doc_id: r for r in repetition_signals(docs, n=2).collect()}
    assert set(out) == {"d1", "d2", "d4"}
    assert out["d1"].dup_gram_frac == 0.5 and out["d1"].top_gram_frac == 0.5
    assert out["d2"].dup_gram_frac == 0.0 and out["d2"].top_gram_frac == 0.5
    assert out["d4"].dup_gram_frac == 0.666667 and out["d4"].top_gram_frac == 1.0

    # n=1: unigram repetition; d3 now has a gram, d5 still one ('' counts)
    uni = {r.doc_id: r for r in repetition_signals(docs, n=1).collect()}
    assert uni["d1"].top_gram_frac == 0.6  # 'a' 3 of 5
    assert uni["d3"].dup_gram_frac == 0.0


# ---------------------------------------------------------------- evaluate

TRIPLE_SCHEMA = (
    "subj string, subj_kind string, pred string, obj string, "
    "obj_kind string, lang string, dtype string"
)
_EX = "http://ex.org/"


def _tdf(spark, rows):
    return spark.createDataFrame(rows, TRIPLE_SCHEMA)


def test_triple_prf_grounded(spark):
    from r2rml_parser_spark.operators.evaluate import triple_prf

    exp = _tdf(spark, [
        (_EX + "a", "iri", _EX + "p", "1", "literal", None, None),
        (_EX + "a", "iri", _EX + "q", _EX + "b", "iri", None, None),
        (_EX + "b", "iri", _EX + "p", "2", "literal", None, None),
    ])
    got = _tdf(spark, [
        (_EX + "a", "iri", _EX + "p", "1", "literal", None, None),
        (_EX + "a", "iri", _EX + "q", _EX + "b", "iri", None, None),
        (_EX + "z", "iri", _EX + "p", "9", "literal", None, None),  # wrong
    ])
    r = triple_prf(got, exp).collect()[0]
    assert (r.got_n, r.expected_n, r.matched) == (3, 3, 2)
    assert abs(r.precision - 2 / 3) < 1e-12 and abs(r.recall - 2 / 3) < 1e-12
    # duplicates don't inflate: graphs are SETS
    r2 = triple_prf(got.unionByName(got), exp).collect()[0]
    assert (r2.got_n, r2.matched) == (3, 2)


def test_triple_prf_bnode_relabeling_matches(spark):
    from r2rml_parser_spark.operators.evaluate import triple_prf

    # same structure, disjoint bnode labels: _:x(p→"1", q→iri) on one
    # side is _:k on the other — WL signatures must line them up
    exp = _tdf(spark, [
        ("_:x", "bnode", _EX + "p", "1", "literal", None, None),
        ("_:x", "bnode", _EX + "q", _EX + "b", "iri", None, None),
        ("_:y", "bnode", _EX + "p", "2", "literal", None, None),
        (_EX + "a", "iri", _EX + "r", "_:y", "bnode", None, None),
    ])
    got = _tdf(spark, [
        ("_:k", "bnode", _EX + "p", "1", "literal", None, None),
        ("_:k", "bnode", _EX + "q", _EX + "b", "iri", None, None),
        ("_:m", "bnode", _EX + "p", "2", "literal", None, None),
        (_EX + "a", "iri", _EX + "r", "_:m", "bnode", None, None),
    ])
    r = triple_prf(got, exp).collect()[0]
    assert r.precision == 1.0 and r.recall == 1.0 and r.f1 == 1.0


def test_triple_prf_bnode_structural_difference_detected(spark):
    from r2rml_parser_spark.operators.evaluate import triple_prf

    exp = _tdf(spark, [
        ("_:x", "bnode", _EX + "p", "1", "literal", None, None),
        ("_:x", "bnode", _EX + "q", "2", "literal", None, None),
    ])
    got = _tdf(spark, [
        ("_:k", "bnode", _EX + "p", "1", "literal", None, None),
        ("_:k", "bnode", _EX + "q", "DIFFERENT", "literal", None, None),
    ])
    r = triple_prf(got, exp).collect()[0]
    # the changed literal changes _:k's WL color, so NEITHER of its
    # triples matches (per-bnode all-or-nothing, like real isomorphism)
    assert r.matched == 0


def test_triple_prf_bnode_chain_and_automorphic_collapse(spark):
    from r2rml_parser_spark.operators.evaluate import triple_prf

    # chain _:a -p-> _:b -q-> "x" relabeled on the got side
    exp = _tdf(spark, [
        ("_:a", "bnode", _EX + "p", "_:b", "bnode", None, None),
        ("_:b", "bnode", _EX + "q", "x", "literal", None, None),
    ])
    got = _tdf(spark, [
        ("_:n1", "bnode", _EX + "p", "_:n2", "bnode", None, None),
        ("_:n2", "bnode", _EX + "q", "x", "literal", None, None),
    ])
    r = triple_prf(got, exp).collect()[0]
    assert r.precision == 1.0 and r.recall == 1.0
    # two automorphic bnodes (identical neighborhoods) collapse to one
    # signature on BOTH sides equally — scores stay 1.0
    exp2 = _tdf(spark, [
        ("_:u", "bnode", _EX + "p", "same", "literal", None, None),
        ("_:v", "bnode", _EX + "p", "same", "literal", None, None),
    ])
    got2 = _tdf(spark, [
        ("_:w", "bnode", _EX + "p", "same", "literal", None, None),
    ])
    r2 = triple_prf(got2, exp2).collect()[0]
    assert r2.precision == 1.0 and r2.recall == 1.0


def test_scrub_pii(spark):
    from r2rml_parser_spark.operators.scrub import scrub_pii

    docs = spark.createDataFrame(
        [
            (1, "mail a@b.co and x.y-z@ex.ample.org end", "s"),
            (2, "call +1-555-0100 or +44-123-4567 now", "s"),
            (3, "host 10.0.0.1 and 192.168.255.7 up", "s"),
            (4, "mixed a@b.co +1-555-0100 1.2.3.4", "s"),
            (5, "clean text no pii", "s"),
        ],
        "doc_id bigint, text string, source string",
    )
    out = {r.doc_id: r for r in scrub_pii(docs).collect()}
    assert out[1].text == "mail <EMAIL> and <EMAIL> end"
    assert (out[1].n_email, out[1].n_phone, out[1].n_ipv4) == (2, 0, 0)
    assert out[2].text == "call <PHONE> or <PHONE> now"
    assert out[2].n_phone == 2
    assert out[3].text == "host <IP> and <IP> up"
    assert out[3].n_ipv4 == 2
    assert out[4].text == "mixed <EMAIL> <PHONE> <IP>"
    assert (out[4].n_email, out[4].n_phone, out[4].n_ipv4) == (1, 1, 1)
    assert out[5].text == "clean text no pii"
    assert (out[5].n_email, out[5].n_phone, out[5].n_ipv4) == (0, 0, 0)
    # passthrough columns survive
    assert out[1].source == "s"


def test_pagerank_exact_integer_vs_duckdb(spark):
    """The scaled-integer formulation is bit-exact against the DuckDB
    unrolled-CTE twin (no float summation order anywhere)."""
    import duckdb

    from r2rml_parser_spark.operators.pagerank import (
        pagerank,
        pagerank_oracle_sql,
    )

    E = [("a", "b"), ("c", "b"), ("d", "b"), ("b", "a"), ("e", "a"), ("a", "c")]
    edges = spark.createDataFrame(E, "src string, dst string")
    got = {(r.node, r.rank) for r in pagerank(edges, iterations=5).collect()}

    con = duckdb.connect()
    con.execute("CREATE TABLE e(src VARCHAR, dst VARCHAR)")
    con.executemany("INSERT INTO e VALUES (?, ?)", E)
    want = set(
        map(tuple, con.execute(
            pagerank_oracle_sql("SELECT DISTINCT src, dst FROM e", iterations=5)
        ).fetchall())
    )
    assert got == want
    ranks = dict(got)
    # the hub b (3 in-edges) and its target a outrank the leaves
    assert ranks["b"] > ranks["c"] > ranks["d"]
    assert ranks["a"] > ranks["c"]
    # d and e have no in-edges: exactly the base term, equal
    assert ranks["d"] == ranks["e"]


def test_pagerank_dangling_and_empty(spark):
    from r2rml_parser_spark.operators.pagerank import pagerank

    # b is dangling (no out-edges): keeps rank, redistributes nothing
    edges = spark.createDataFrame([("a", "b")], "src string, dst string")
    ranks = dict(
        (r.node, r.rank) for r in pagerank(edges, iterations=3).collect()
    )
    assert set(ranks) == {"a", "b"}
    assert ranks["b"] > ranks["a"]
    empty = spark.createDataFrame([], "src string, dst string")
    assert pagerank(empty, iterations=2).count() == 0


def test_kg_entity_edges_filters_terms(spark):
    from r2rml_parser_spark.operators.pagerank import kg_entity_edges

    COLS = "subj subj_kind pred obj obj_kind lang dtype".split()
    rows = [
        ("u:a", "iri", "u:p", "u:b", "iri", None, None),
        ("u:a", "iri", "u:p", "u:b", "iri", None, None),   # dup -> once
        ("u:a", "iri", "u:p", "lit", "literal", None, None),  # literal out
        ("u:a", "iri", "u:p", "u:a", "iri", None, None),   # self-loop out
        ("b1", "bnode", "u:p", "u:b", "iri", None, None),  # bnode subj out
    ]
    t = spark.createDataFrame(rows, ", ".join(f"{c} string" for c in COLS))
    got = [(r.src, r.dst) for r in kg_entity_edges(t).collect()]
    assert got == [("u:a", "u:b")]


def test_tfidf_keywords_vs_duckdb(spark):
    """tf × smoothed-idf top-k is bit-exact against the DuckDB twin
    (rounded doubles, window ordered on the rounded score)."""
    import duckdb

    from r2rml_parser_spark.operators.keywords import (
        tfidf_keywords,
        tfidf_keywords_oracle_sql,
    )

    rows = [
        (1, "the cat sat on the mat"),
        (2, "the dog sat on the log"),
        (3, "quantum entanglement of the cat"),
        (4, ""),  # empty text: no tokens, no rows
    ]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    got = {(r.doc, r.token, r.score) for r in tfidf_keywords(docs, 2).collect()}

    con = duckdb.connect()
    con.execute("CREATE TABLE documents(doc_id BIGINT, text VARCHAR)")
    con.executemany("INSERT INTO documents VALUES (?, ?)", rows)
    want = set(map(tuple, con.execute(tfidf_keywords_oracle_sql(2)).fetchall()))
    assert got == want
    by_doc = {}
    for d, t, s in got:
        by_doc.setdefault(d, []).append(t)
    assert 4 not in by_doc                      # empty doc yields nothing
    # doc 3's distinctive vocabulary wins its top-2
    assert "entanglement" in by_doc[3]
    # tf beats a weak idf: "the" (tf=2) outranks the singletons in
    # docs 1-2, but the doc-specific token still makes the top-2
    assert "mat" in by_doc[1] and "dog" in by_doc[2]


def test_chunk_documents_vs_duckdb(spark):
    """Overlapping token-window chunking is bit-exact against the
    DuckDB twin; boundary cases: short doc (one chunk), exact-fit,
    overlap continuity, blank doc (no chunks)."""
    import duckdb

    from r2rml_parser_spark.operators.chunking import (
        chunk_documents,
        chunk_documents_oracle_sql,
    )

    rows = [
        (1, " ".join(f"t{i}" for i in range(25))),  # 25 tokens
        (2, "one two three"),                        # short: one chunk
        (3, " ".join(f"x{i}" for i in range(10))),   # exact fit
        (4, "   "),                                  # blank: no chunks
    ]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    got = {
        (r.doc, r.chunk_id, r.chunk_text, r.n_tokens)
        for r in chunk_documents(docs, 10, 3).collect()
    }
    con = duckdb.connect()
    con.execute("CREATE TABLE documents(doc_id BIGINT, text VARCHAR)")
    con.executemany("INSERT INTO documents VALUES (?, ?)", rows)
    want = set(
        map(tuple, con.execute(chunk_documents_oracle_sql(10, 3)).fetchall())
    )
    assert got == want
    by_doc = {}
    for d, c, t, n in got:
        by_doc.setdefault(d, {})[c] = (t.split(), n)
    # doc 1: stride 7 -> ceil((25-3)/7) = 4 chunks; overlap continuity
    assert sorted(by_doc[1]) == [0, 1, 2, 3]
    assert by_doc[1][0][0][7:] == by_doc[1][1][0][:3]   # 3-token overlap
    assert by_doc[1][3][1] == 25 - 3 * 7                # last truncates
    assert sorted(by_doc[2]) == [0] and by_doc[2][0][1] == 3
    assert sorted(by_doc[3]) == [0] and by_doc[3][0][1] == 10
    assert 4 not in by_doc
    # invalid config
    import pytest as _pytest

    with _pytest.raises(ValueError):
        chunk_documents(docs, 10, 10)


def test_negative_samples_filtered_and_deterministic(spark):
    """Filtered negative sampling: no corrupt twin equals its original
    or any true edge; regeneration is identical (no RNG state); head
    corruption is the symmetric form."""
    from r2rml_parser_spark.operators.negatives import negative_samples

    COLS = "subj subj_kind pred obj obj_kind lang dtype".split()
    E = "http://x/"
    tr_rows = [
        (E + a, "iri", E + "p", E + b, "iri", None, None)
        for a, b in [("a", "b"), ("b", "c"), ("c", "d"), ("a", "c")]
    ] + [(E + "a", "iri", E + "p", "lit", "literal", None, None)]
    tr = spark.createDataFrame(tr_rows, ", ".join(f"{c} string" for c in COLS))
    true_edges = {(E + a, E + "p", E + b)
                  for a, b in [("a", "b"), ("b", "c"), ("c", "d"), ("a", "c")]}
    out = {(r.s, r.p, r.o, r.slot, r.neg)
           for r in negative_samples(tr, k=3).collect()}
    assert out  # some negatives survive the filter
    for s, p, o, slot, neg in out:
        assert neg != o
        assert (s, p, neg) not in true_edges
        assert (s, p, o) in true_edges          # originals are true
    # deterministic: a second evaluation is identical
    again = {(r.s, r.p, r.o, r.slot, r.neg)
             for r in negative_samples(tr, k=3).collect()}
    assert again == out
    # head mode: (neg, p, o) never true, neg != s
    hout = {(r.s, r.p, r.o, r.slot, r.neg)
            for r in negative_samples(tr, k=3, corrupt="head").collect()}
    for s, p, o, slot, neg in hout:
        assert neg != s and (neg, p, o) not in true_edges
    import pytest as _pytest

    with _pytest.raises(ValueError):
        negative_samples(tr, corrupt="both")


def test_distributed_rank_matches_global_row_number(spark):
    """r5 (VERDICT #3): the range-partitioned two-pass entity index
    equals row_number() OVER (ORDER BY entity) exactly — same total
    order, no vocabulary-sized single-task WindowExec. Pinned over a
    shuffled vocabulary larger than the shuffle-partition count so
    multiple range partitions carry rows and the offsets matter."""
    from pyspark.sql import Window
    from pyspark.sql import functions as F

    from r2rml_parser_spark.operators.negatives import _distributed_rank

    ents = [f"http://x/e{i:04d}" for i in range(257)]
    # deterministic shuffle so input order != entity order
    ents_shuffled = sorted(ents, key=lambda e: hash(e) % 101)
    df = spark.createDataFrame(
        [(e,) for e in ents_shuffled], "entity string"
    ).repartition(16)
    got = {
        (r.entity, r.idx) for r in _distributed_rank(df).collect()
    }
    want_df = df.withColumn(
        "idx", F.row_number().over(Window.orderBy("entity"))
    )
    want = {(r.entity, r.idx) for r in want_df.collect()}
    assert got == want
    # and it is a dense 1..N ranking
    assert sorted(i for _, i in got) == list(range(1, 258))
