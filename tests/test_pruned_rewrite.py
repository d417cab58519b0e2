"""Template-pruned canonical rewrite (plans/rewrite.py).

Two layers: pure static-analysis unit tests (template disjointness is a
PROOF — these pin the sound/conservative boundary), and Spark
equivalence tests showing the pruned plan produces exactly the set the
generic ``rewrite_subjects`` produces over the real docs-KG mapping,
while provably skipping the joins on the mention/span-literal bulk.
"""

import os
import random

import pytest
from pyspark.sql import functions as F

from r2rml_parser_spark import pipeline as P
from r2rml_parser_spark.functions.encoding import iri_safe_encode
from r2rml_parser_spark.mapping.model import Template, TermMap, TermType
from r2rml_parser_spark.mapping.parse import parse_mapping_document
from r2rml_parser_spark.operators.components import canonical_mapping, rewrite_subjects
from r2rml_parser_spark.plans.engine import MappingEngine
from r2rml_parser_spark.plans.rewrite import (
    analyze_part,
    effective_iri_template,
    rewrite_triple_parts,
    templates_may_collide,
    term_may_match,
)

KEY = Template.parse("http://kg.example/doc/{doc_id}")


# -- static analysis (no Spark) -----------------------------------------

def test_same_template_may_collide():
    assert templates_may_collide(KEY, Template.parse("http://kg.example/doc/{x}"))


def test_deeper_path_is_disjoint():
    # extra '/' separators can't come from percent-encoded fields
    span = Template.parse("http://kg.example/doc/{doc_id}/span/{offset}")
    assert not templates_may_collide(KEY, span)
    mention = Template.parse("http://kg.example/doc/{d}/span/{o}/mention/{t}")
    assert not templates_may_collide(KEY, mention)


def test_sibling_static_segment_is_disjoint():
    entity = Template.parse("http://kg.example/entity/{entity_id}")
    assert not templates_may_collide(KEY, entity)


def test_partial_static_overlap_may_collide():
    # "doc{suffix}" could render "doc" + suffix colliding with a doc id
    # only if skeletons align; here 'doc-{x}' vs 'doc/{y}' share the
    # prefix but the '/' separator count differs → disjoint
    assert not templates_may_collide(
        Template.parse("http://kg.example/doc-{x}"), KEY
    )
    # same separator skeleton, fielded segment embeds the static one
    a = Template.parse("http://kg.example/d{x}c/{y}")
    b = Template.parse("http://kg.example/doc/{y}")
    assert templates_may_collide(a, b)  # x="o" renders "doc"


def test_fielded_segment_without_embedding_is_disjoint():
    # segment "m{offset}" must start with 'm'; "doc" doesn't
    a = Template.parse("http://kg.example/m{offset}/{y}")
    b = Template.parse("http://kg.example/doc/{y}")
    assert not templates_may_collide(a, b)


def test_constant_term_analysis():
    klass = TermMap(constant_iri="http://kg.example/ontology#Document")
    assert not term_may_match(klass, KEY, base_ns="", encode_iris=True, position="obj")
    exact = TermMap(constant_iri="http://kg.example/doc/42")
    assert term_may_match(exact, KEY, base_ns="", encode_iris=True, position="obj")


def test_literal_and_bnode_objects_never_match():
    lit = TermMap(column="lang", term_type=TermType.AUTO)
    assert not term_may_match(lit, KEY, base_ns="", encode_iris=True, position="obj")
    bn = TermMap(template=Template.parse("{doc_id}"), term_type=TermType.BLANK_NODE)
    assert not term_may_match(bn, KEY, base_ns="", encode_iris=True, position="obj")
    # subject bnodes: sanitized labels can't contain ':' or '/' → disjoint
    assert not term_may_match(bn, KEY, base_ns="", encode_iris=True, position="subj")


def test_column_iri_term_is_conservatively_matchable():
    col = TermMap(column="media_ref", term_type=TermType.IRI)
    assert term_may_match(col, KEY, base_ns="", encode_iris=True, position="obj")


def test_unencoded_template_is_conservatively_matchable():
    # with encode_iris=False a field can contain '/', so the separator
    # skeleton proof doesn't apply — must stay conservative
    span = Template.parse("http://kg.example/doc/{doc_id}/span/{offset}")
    t = TermMap(template=span)
    assert term_may_match(t, KEY, base_ns="", encode_iris=False, position="subj")


def test_effective_template_folds_base_ns():
    t = Template.parse("doc/{doc_id}")
    eff = effective_iri_template(t, "http://kg.example")
    assert eff.parts[0] == "http://kg.example/doc/"
    assert templates_may_collide(eff, KEY)


def test_docs_mapping_part_classification():
    """The real docs KG mapping: only the doc-IRI-bearing branches are
    matchable, and DocMap needs the subject join only."""
    doc = parse_mapping_document(P.DOCS_MAPPING_TTL)
    by_subj_tpl = {}
    for tm in doc.triples_maps:
        obj_terms = tuple(
            [TermMap(constant_iri=c) for c in tm.classes]
            + [om for pom in tm.predicate_object_maps for om in pom.objects]
        )
        flags = analyze_part(
            tm.subject_map, obj_terms, P.KEY_TEMPLATE, base_ns=P.KG, encode_iris=True
        )
        by_subj_tpl[tm.subject_map.template.text] = flags
    doc_tpl = f"{P.KG}/doc/{{doc_id}}"
    span_tpl = f"{P.KG}/doc/{{doc_id}}/span/{{offset}}"
    mention_tpl = f"{P.KG}/doc/{{doc_id}}/span/{{offset}}/mention/{{token_pos}}"
    entity_tpl = f"{P.KG}/entity/{{entity_id}}"
    assert by_subj_tpl[doc_tpl].subj_may and not by_subj_tpl[doc_tpl].obj_may
    assert not by_subj_tpl[mention_tpl].matchable  # the bulk: full passthrough
    assert not by_subj_tpl[entity_tpl].matchable
    # span exploded branches: subject disjoint; MediaSpan carries the
    # inDocument doc-template object (+ conservative column IRI) → obj join
    assert not by_subj_tpl[span_tpl].subj_may


# -- Spark equivalence ---------------------------------------------------

TRIPLE_SCHEMA = (
    "subj string, subj_kind string, pred string, obj string, obj_kind string, "
    "lang string, dtype string"
)


def test_pruned_rewrite_equals_generic_on_synthetic_parts(spark):
    doc_part = spark.createDataFrame(
        [
            ("http://kg.example/doc/1", "iri", "p:lang", "en", "literal", None, None),
            ("http://kg.example/doc/2", "iri", "p:lang", "en", "literal", None, None),
            ("http://kg.example/doc/3", "iri", "p:lang", "fr", "literal", None, None),
        ],
        TRIPLE_SCHEMA,
    )
    span_part = spark.createDataFrame(
        [
            ("http://kg.example/doc/1/span/0", "iri", "p:inDoc",
             "http://kg.example/doc/1", "iri", None, None),
            ("http://kg.example/doc/2/span/0", "iri", "p:inDoc",
             "http://kg.example/doc/2", "iri", None, None),
        ],
        TRIPLE_SCHEMA,
    )
    mention_part = spark.createDataFrame(
        [
            ("http://kg.example/doc/1/span/0/mention/0", "iri", "p:surface",
             "Tokyo", "literal", None, None),
        ],
        TRIPLE_SCHEMA,
    )
    doc_tm = TermMap(template=Template.parse("http://kg.example/doc/{doc_id}"))
    span_tm = TermMap(template=Template.parse("http://kg.example/doc/{d}/span/{o}"))
    mention_tm = TermMap(
        template=Template.parse("http://kg.example/doc/{d}/span/{o}/mention/{t}")
    )
    lang_tm = TermMap(column="lang", term_type=TermType.AUTO)

    parts = [
        (doc_part, analyze_part(doc_tm, (lang_tm,), KEY, base_ns="", encode_iris=True)),
        (span_part, analyze_part(span_tm, (doc_tm,), KEY, base_ns="", encode_iris=True)),
        (mention_part, analyze_part(mention_tm, (lang_tm,), KEY, base_ns="", encode_iris=True)),
    ]
    assert parts[0][1].subj_may and not parts[0][1].obj_may
    assert not parts[1][1].subj_may and parts[1][1].obj_may
    assert not parts[2][1].matchable

    edges = spark.createDataFrame(
        [("http://kg.example/doc/1", "http://kg.example/doc/2")], ["u", "v"]
    )
    mapping = canonical_mapping(edges)
    union = doc_part.unionByName(span_part).unionByName(mention_part)
    generic = {tuple(r) for r in
               rewrite_subjects(union, mapping, assume_distinct=True).collect()}
    pruned_df = rewrite_triple_parts(parts, mapping)
    pruned = {tuple(r) for r in pruned_df.collect()}
    assert pruned == generic
    # doc/1+doc/2 lang rows collapse to one; span objs rewritten
    assert ("http://kg.example/doc/1", "iri", "p:lang", "en", "literal", None, None) in pruned
    assert ("http://kg.example/doc/2/span/0", "iri", "p:inDoc",
            "http://kg.example/doc/1", "iri", None, None) in pruned
    assert pruned_df.count() == len(pruned)  # set semantics


def test_pruned_rewrite_equals_generic_on_real_docs_kg(spark):
    """Full pipeline parity at sf0.001 with forced merges: the pruned
    parts plan and the generic whole-graph rewrite produce the same set."""
    sf = "/root/testdata/sf0.001"
    sources = P.register_kg_sources(spark, sf)
    doc = parse_mapping_document(P.DOCS_MAPPING_TTL)
    engine = MappingEngine(spark, doc, sources=sources, base_ns=P.KG)

    ids = [
        r.doc_id
        for r in sources["docs_meta"].select("doc_id").orderBy("doc_id").limit(4).collect()
    ]
    iri = lambda d: f"{P.KG}/doc/{d}"  # noqa: E731 — ids are unreserved-safe
    edges = spark.createDataFrame(
        [(iri(ids[0]), iri(ids[1])), (iri(ids[2]), iri(ids[3]))], ["u", "v"]
    )
    mapping = canonical_mapping(edges)

    generic = {
        tuple(r)
        for r in rewrite_subjects(
            engine.triples(dedup=False, lineage=False), mapping, assume_distinct=True
        ).collect()
    }
    parts = engine.triple_parts()
    flagged = [
        (
            p.df,
            analyze_part(p.subj_map, p.obj_maps, P.KEY_TEMPLATE, base_ns=P.KG, encode_iris=True),
        )
        for p in parts
    ]
    assert any(not f.matchable for _, f in flagged)  # pruning engaged
    assert any(f.matchable for _, f in flagged)
    pruned = {tuple(r) for r in rewrite_triple_parts(flagged, mapping).collect()}
    assert pruned == generic
    assert len(pruned) > 1000


def test_build_kg_canonicalized_matches_uncanonicalized_when_no_dups(spark):
    """sf0.001 end-to-end through the new path: canonicalization must
    keep set semantics and only ever shrink the graph."""
    canon = P.build_kg(spark, "/root/testdata/sf0.001", canonicalize=True)
    plain = P.build_kg(spark, "/root/testdata/sf0.001", canonicalize=False)
    n_canon, n_plain = canon.count(), plain.count()
    assert n_canon <= n_plain
    assert canon.count() == canon.dropDuplicates().count()
    assert canon.columns == plain.columns


def _corpus(path, texts) -> str:
    """A corpus dir holding documents.parquet (the sf-corpus schema),
    one doc per text."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    n = len(texts)
    pq.write_table(pa.table({
        "doc_id": pa.array(range(n), pa.int64()),
        "text": texts,
        "lang": [("en", "de", "es")[i % 3] for i in range(n)],
        "source": [f"src{i % 4}" for i in range(n)],
        "n_chars": pa.array([len(t) for t in texts], pa.int64()),
    }), os.path.join(path, "documents.parquet"))
    return str(path)


def _random_texts(n: int, seed: int) -> list[str]:
    """Texts of 20–60 tokens over the entity surfaces plus 400 filler
    words — independent draws share almost no word 3-grams."""
    from r2rml_parser_spark.operators.mentions import ENTITY_DICT

    rng = random.Random(seed)
    vocab = [s for s, _, _ in ENTITY_DICT] + [f"w{i}" for i in range(400)]
    return [" ".join(rng.choice(vocab) for _ in range(rng.randint(20, 60))) for _ in range(n)]


def test_build_kg_without_neardup_pairs_equals_uncanonicalized(spark, tmp_path):
    """A corpus with no near-duplicate pair takes the no-edge path: the
    pruned rewrite against an empty mapping must give exactly the
    uncanonicalized set, with no duplicate rows."""
    corpus = _corpus(tmp_path, _random_texts(150, seed=7))
    assert P.doc_neardup_edges(spark, corpus).count() == 0
    canon = P.build_kg(spark, corpus, canonicalize=True)
    plain = P.build_kg(spark, corpus, canonicalize=False)
    got = {tuple(r) for r in canon.collect()}
    assert got == {tuple(r) for r in plain.collect()}
    assert canon.count() == len(got) > 1000
    spark.catalog.clearCache()


def test_phase_profile_counts_the_shipped_build(spark, tmp_path):
    """scripts/phase_profile.py times the pipeline's own phase functions,
    so its final count is the build's triple count."""
    import importlib.util

    path = os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
                        "scripts", "phase_profile.py")
    spec = importlib.util.spec_from_file_location("phase_profile", path)
    phase_profile = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(phase_profile)

    texts = _random_texts(100, seed=11)
    texts += [t + " tail" for t in texts[:5]]  # planted near-duplicates
    texts += texts[10:12]  # planted exact duplicates
    corpus = _corpus(tmp_path, texts)
    t = phase_profile.profile(spark, corpus)
    spark.catalog.clearCache()
    assert t["_edges"] >= 7  # the rewrite phase does merge subjects
    assert t["_triples"] == P.build_kg(spark, corpus, canonicalize=True).count()
    spark.catalog.clearCache()


def test_edge_keys_render_like_docmap_subjects(spark):
    """The edge-endpoint encoding must equal the DocMap subject rendering
    for any doc_id — the precondition of the pruned rewrite."""
    raw = spark.createDataFrame(
        [("a b/c", ), ("plain-id_1.2~", )], ["doc_id"]
    ).select(
        F.concat(F.lit(f"{P.KG}/doc/"), iri_safe_encode(F.col("doc_id"))).alias("k")
    )
    keys = sorted(r.k for r in raw.collect())
    assert keys == [
        f"{P.KG}/doc/a%20b%2Fc",
        f"{P.KG}/doc/plain-id_1.2~",
    ]


def test_analyze_parts_dedup_exemption_static():
    """Exemption flags: obj-only branches with unique subjects and
    distinct preds skip the dedup; duplicate preds or subject-space
    overlap with a subj_may branch disqualify."""
    from types import SimpleNamespace

    from r2rml_parser_spark.plans.rewrite import analyze_parts

    doc_tm = TermMap(template=Template.parse("http://kg.example/doc/{doc_id}"))
    span_tm = TermMap(template=Template.parse("http://kg.example/doc/{d}/span/{o}"))
    lang_tm = TermMap(column="lang", term_type=TermType.AUTO)

    def part(subj, objs, preds):
        return SimpleNamespace(df=None, subj_map=subj, obj_maps=objs, preds=preds)

    flagged = analyze_parts(
        [
            part(doc_tm, (lang_tm,), ("p:lang",)),
            part(span_tm, (doc_tm,), ("p:inDoc",)),
        ],
        KEY, base_ns="", encode_iris=True, unique_subjects=True,
    )
    assert not flagged[0][1].dedup_exempt          # subj_may → must dedup
    assert flagged[1][1].dedup_exempt              # the span-link bulk
    # duplicate predicate list → same source row could emit two rows
    # whose objs merge to the same canonical → not exempt
    flagged2 = analyze_parts(
        [part(span_tm, (doc_tm, doc_tm), ("p:rel", "p:rel"))],
        KEY, base_ns="", encode_iris=True, unique_subjects=True,
    )
    assert not flagged2[0][1].dedup_exempt
    # subject space overlapping a subj_may branch's original space →
    # a rewritten doc row could equal an exempt row → not exempt
    other_doc_tm = TermMap(template=Template.parse("http://kg.example/doc/{x}"))
    flagged3 = analyze_parts(
        [
            part(doc_tm, (lang_tm,), ("p:lang",)),
            part(other_doc_tm, (doc_tm,), ("p:inDoc",)),
        ],
        KEY, base_ns="", encode_iris=True, unique_subjects=True,
    )
    assert not flagged3[1][1].dedup_exempt
    # without the caller's uniqueness contract nothing is exempt
    flagged4 = analyze_parts(
        [part(span_tm, (doc_tm,), ("p:inDoc",))],
        KEY, base_ns="", encode_iris=True,
    )
    assert not flagged4[0][1].dedup_exempt


def test_exempt_rewrite_equals_generic_on_real_docs_kg(spark):
    """The shipped build path (analyze_parts with the uniqueness
    contract) still produces exactly the generic rewrite's set, with
    the span-link branches provably exempt from the dedup exchange."""
    from r2rml_parser_spark.plans.rewrite import analyze_parts

    sf = "/root/testdata/sf0.001"
    sources = P.register_kg_sources(spark, sf)
    doc = parse_mapping_document(P.DOCS_MAPPING_TTL)
    engine = MappingEngine(spark, doc, sources=sources, base_ns=P.KG)
    ids = [
        r.doc_id
        for r in sources["docs_meta"].select("doc_id").orderBy("doc_id").limit(4).collect()
    ]
    iri = lambda d: f"{P.KG}/doc/{d}"  # noqa: E731
    edges = spark.createDataFrame(
        [(iri(ids[0]), iri(ids[1])), (iri(ids[2]), iri(ids[3]))], ["u", "v"]
    )
    mapping = canonical_mapping(edges)
    generic = {
        tuple(r)
        for r in rewrite_subjects(
            engine.triples(dedup=False, lineage=False), mapping, assume_distinct=True
        ).collect()
    }
    flagged = analyze_parts(
        engine.triple_parts(), P.KEY_TEMPLATE,
        base_ns=P.KG, encode_iris=True, unique_subjects=True,
    )
    # the TextSpan ref-object and MediaSpan exploded branches are
    # exempt; DocMap still dedups
    assert sum(1 for _, f in flagged if f.dedup_exempt) == 2
    assert any(f.subj_may and not f.dedup_exempt for _, f in flagged)
    pruned = {tuple(r) for r in rewrite_triple_parts(flagged, mapping).collect()}
    assert pruned == generic
