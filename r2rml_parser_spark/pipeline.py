"""End-to-end KG construction over the interleaved-doc corpus.

The graft's flagship flow (BASELINE.json north_star): the engine's own
R2RML mapping document drives triple extraction over the canonical
docs(doc_id, spans) table — span views as logical tables, vectorized
mention detection + entity-link scoring as an upstream stage, ref-object
equi-joins for entity linking, MinHash-LSH + connected-components
canonicalization merging co-referent subject IRIs, and a deterministic
sorted N-Triples dump.

Phase functions — ``build_kg`` composes them, and the phase profiler
(scripts/phase_profile.py) times the same calls:

  register_kg_sources  span view + mention detection, as temp views
  docs_engine          the docs MappingEngine (5 triples maps)
  doc_neardup_edges    MinHash-LSH + exact Jaccard → doc-IRI sameAs edges
  canonical_rewrite    connected components → template-pruned subject
                       rewrite → set-semantics triples
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from r2rml_parser_spark.functions.encoding import iri_safe_encode
from r2rml_parser_spark.mapping.model import Template
from r2rml_parser_spark.mapping.parse import parse_mapping_document
from r2rml_parser_spark.operators.components import canonical_mapping
from r2rml_parser_spark.operators.dedup import neardup_edges
from r2rml_parser_spark.plans.rewrite import analyze_parts, rewrite_triple_parts
from r2rml_parser_spark.operators.mentions import (
    detect_mentions,
    entity_dictionary,
    mentions_oracle_sql,
)
from r2rml_parser_spark.plans.engine import MappingEngine
from r2rml_parser_spark.sources.docs import SPAN_VIEW_ORACLE_SQL, synth_span_rows

KG = "http://kg.example"

DOCS_MAPPING_TTL = f"""
@prefix rr:  <http://www.w3.org/ns/r2rml#> .
@prefix ex:  <{KG}/ontology#> .
@prefix rdf: <http://www.w3.org/1999/02/22-rdf-syntax-ns#> .

<#DocMap> a rr:TriplesMap;
  rr:logicalTable [ rr:tableName "docs_meta" ];
  rr:subjectMap [ rr:template "{KG}/doc/{{doc_id}}"; rr:class ex:Document ];
  rr:predicateObjectMap [ rr:predicate ex:lang;   rr:objectMap [ rr:column "lang" ] ];
  rr:predicateObjectMap [ rr:predicate ex:source; rr:objectMap [ rr:column "source" ] ] .

<#TextSpanMap> a rr:TriplesMap;
  rr:logicalTable [ rr:sqlQuery "SELECT doc_id, \\"offset\\", text FROM doc_spans WHERE kind = 'text'" ];
  rr:subjectMap [ rr:template "{KG}/doc/{{doc_id}}/span/{{offset}}"; rr:class ex:TextSpan ];
  rr:predicateObjectMap [ rr:predicate ex:text; rr:objectMap [ rr:column "text" ] ];
  rr:predicateObjectMap [ rr:predicate ex:inDocument;
    rr:objectMap [ a rr:RefObjectMap; rr:parentTriplesMap <#DocMap>;
                   rr:joinCondition [ rr:child "doc_id"; rr:parent "doc_id" ] ] ] .

<#MediaSpanMap> a rr:TriplesMap;
  rr:logicalTable [ rr:sqlQuery "SELECT doc_id, \\"offset\\", kind, media_ref FROM doc_spans WHERE kind <> 'text'" ];
  rr:subjectMap [ rr:template "{KG}/doc/{{doc_id}}/span/{{offset}}"; rr:class ex:MediaSpan ];
  rr:predicateObjectMap [ rr:predicate ex:kind;     rr:objectMap [ rr:column "kind" ] ];
  rr:predicateObjectMap [ rr:predicate ex:mediaRef; rr:objectMap [ rr:column "media_ref"; rr:termType rr:IRI ] ];
  rr:predicateObjectMap [ rr:predicate ex:inDocument;
    rr:objectMap [ rr:template "{KG}/doc/{{doc_id}}" ] ] .

<#MentionMap> a rr:TriplesMap;
  rr:logicalTable [ rr:tableName "doc_mentions" ];
  rr:subjectMap [ rr:template "{KG}/doc/{{doc_id}}/span/{{offset}}/mention/{{token_pos}}";
                  rr:class ex:Mention ];
  rr:predicateObjectMap [ rr:predicate ex:surface; rr:objectMap [ rr:column "surface" ] ];
  rr:predicateObjectMap [ rr:predicate ex:score;   rr:objectMap [ rr:column "score_str" ] ];
  rr:predicateObjectMap [ rr:predicate ex:inSpan;
    rr:objectMap [ rr:template "{KG}/doc/{{doc_id}}/span/{{offset}}" ] ];
  rr:predicateObjectMap [ rr:predicate ex:ofEntity;
    rr:objectMap [ a rr:RefObjectMap; rr:parentTriplesMap <#EntityMap>;
                   rr:joinCondition [ rr:child "entity_id"; rr:parent "entity_id" ] ] ] .

<#EntityMap> a rr:TriplesMap;
  rr:logicalTable [ rr:sqlQuery "SELECT DISTINCT entity_id FROM entity_dict" ];
  rr:subjectMap [ rr:template "{KG}/entity/{{entity_id}}"; rr:class ex:Entity ] .
"""


#: value space of the canonical-rewrite keys — the DocMap subject
#: template (edges render their endpoints from exactly this template)
KEY_TEMPLATE = Template.parse(f"{KG}/doc/{{doc_id}}")


def register_kg_sources(spark: SparkSession, sf_dir: str) -> dict[str, DataFrame]:
    # the span view feeds all 5 triples maps (union branches would
    # otherwise re-run synthesis + explode once per branch): persist it —
    # MEMORY_AND_DISK, spill-safe at scale. Row-form synthesis keeps the
    # whole derivation in whole-stage codegen (see synth_span_rows).
    spans = synth_span_rows(spark, sf_dir).persist()
    dictionary = entity_dictionary(spark)
    mentions = detect_mentions(spans, dictionary).withColumn(
        "score_str", F.col("score").cast("string")
    ).persist()
    sources = {
        # straight from the raw table — doc_id is unique there, so this
        # equals the oracle's DISTINCT-over-span-view docs_meta CTE while
        # costing a plain scan instead of a 3×-recomputed distinct
        # shuffle (docs_meta feeds DocMap emissions AND two J1 parents)
        "docs_meta": spark.read.parquet(f"{sf_dir}/documents.parquet").select(
            F.col("doc_id").cast("string").alias("doc_id"), "lang", "source"
        ),
        "doc_spans": spans.select("doc_id", "kind", "text", "media_ref", "offset"),
        "doc_mentions": mentions,
        "entity_dict": dictionary,
    }
    for name, df in sources.items():
        df.createOrReplaceTempView(name)
    return sources


def docs_engine(spark: SparkSession, sources: dict[str, DataFrame]) -> MappingEngine:
    """The mapping engine over the registered docs sources (5 triples maps)."""
    return MappingEngine(
        spark, parse_mapping_document(DOCS_MAPPING_TTL), sources=sources, base_ns=KG
    )


def doc_neardup_edges(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-duplicate docs as sameAs edges (u, v) between doc IRIs.

    doc_id is IRI-encoded exactly like the DocMap subject template
    renders it, so every edge endpoint (and thus every canonical
    target) is a rendering of KEY_TEMPLATE — the precondition for the
    template-pruned rewrite in ``canonical_rewrite``. Fused
    single-shingle-pass LSH + verification, xxhash64 family (~6× less
    signature CPU than the md5-oracle form); edges are gated by exact
    Jaccard ≥ 0.8 regardless of family. collapse_exact defuses the LSH
    skew bomb: exact-dup clusters contribute n−1 expansion edges
    instead of n²/2 candidate pairs, with component-identical output
    (see the neardup_edges docstring)."""
    raw_docs = spark.read.parquet(f"{sf_dir}/documents.parquet").select(
        F.col("doc_id").cast("string").alias("doc_id"), "text"
    ).repartition(spark.sparkContext.defaultParallelism)  # small-file read arrives as 1 split; the MinHash stage needs all cores
    return neardup_edges(
        raw_docs, threshold=0.8, hash_family="xxhash64", collapse_exact=True
    ).select(
        F.concat(F.lit(f"{KG}/doc/"), iri_safe_encode(F.col("a"))).alias("u"),
        F.concat(F.lit(f"{KG}/doc/"), iri_safe_encode(F.col("b"))).alias("v"),
    )


def canonical_rewrite(engine: MappingEngine, edges: DataFrame) -> DataFrame:
    """Merge co-referent doc subjects: connected components of ``edges``
    (eager — CC cuts the edge lineage itself) → template-pruned rewrite
    of the engine's emission branches → set-semantics triples.

    Branches whose term maps provably can't render a doc IRI — the
    mention/span-literal bulk of the graph — stream through with NO
    join, NO dedup shuffle and ONE scan; only the doc-IRI-bearing
    branches join the broadcast mapping (plans/rewrite.py). With no
    edges the mapping is empty and the result is the set-deduplicated
    emission.

    unique_subjects contract (analyze_parts): every obj-only matchable
    branch here draws from a primary-keyed source whose key set the
    subject template covers injectively — docs_meta.doc_id,
    doc_spans.(doc_id, offset) (the span-sequence invariant pinned by
    the docs_reassembled oracle), doc_mentions.(doc_id, offset,
    token_pos) — so each subject value identifies one source row of one
    branch. With that, the inDocument span/mention link branches (the
    corpus-proportional bulk) take the broadcast rewrite join but SKIP
    the set-dedup exchange; only doc-level rows (duplicable by subject
    merging) shuffle."""
    mapping = canonical_mapping(edges)
    flagged = analyze_parts(
        engine.triple_parts(), KEY_TEMPLATE,
        base_ns=KG, encode_iris=True, unique_subjects=True,
    )
    return rewrite_triple_parts(flagged, mapping)


def build_kg(spark: SparkSession, sf_dir: str, *, canonicalize: bool = True) -> DataFrame:
    """docs table → deduplicated triples DataFrame (7 term columns),
    with near-dup doc subjects merged when ``canonicalize``."""
    sources = register_kg_sources(spark, sf_dir)
    engine = docs_engine(spark, sources)
    if not canonicalize:
        return engine.triples(lineage=False, dedup=True)
    # Materialize the span/mention persists CONCURRENTLY with the LSH
    # stage (independent DAGs: LSH reads only documents.parquet,
    # spans/mentions only feed the emission that runs after the
    # mapping exists). Sequentially, these caches would fill inside the
    # final action — leaving every executor idle during the driver-side
    # CC/union-find phase and LSH's barrier tails. Pure scheduling, no
    # semantic change. (r4: fixed/idle wall is what caps the N→4N
    # scaling ratio.)
    import threading

    def _warm_caches():
        try:
            sources["doc_mentions"].count()  # materializes spans too
        except Exception:  # surfaces on the main-path action instead
            pass

    threading.Thread(target=_warm_caches, daemon=True).start()
    # raw emissions are duplicate-free by construction, so set-dedup
    # happens once, after the rewrite, and only where merging can
    # create duplicates
    return canonical_rewrite(engine, doc_neardup_edges(spark, sf_dir))


def kg_oracle_sql() -> str:
    """DuckDB SQL reproducing build_kg(canonicalize=False) triple-for-triple
    (subj, pred, obj, obj_kind, lang, dtype) — the correctness oracle."""
    from r2rml_parser_spark.operators.mentions import ENTITY_DICT

    mentions_sql = mentions_oracle_sql(SPAN_VIEW_ORACLE_SQL)
    ont = f"{KG}/ontology#"
    rdf_type = "http://www.w3.org/1999/02/22-rdf-syntax-ns#type"
    entity_values = ", ".join(f"('{e}')" for e in sorted({e for _, e, _ in ENTITY_DICT}))
    return f"""
WITH span_view AS ({SPAN_VIEW_ORACLE_SQL}),
mentions AS ({mentions_sql}),
docs_meta AS (SELECT DISTINCT doc_id, lang, source FROM span_view),
t AS (
  -- DocMap
  SELECT '{KG}/doc/' || doc_id AS subj, '{rdf_type}' AS pred,
         '{ont}Document' AS obj, 'iri' AS obj_kind,
         CAST(NULL AS VARCHAR) AS lang, CAST(NULL AS VARCHAR) AS dtype
  FROM docs_meta
  UNION ALL
  SELECT '{KG}/doc/' || doc_id, '{ont}lang', lang, 'literal', NULL, NULL FROM docs_meta
  UNION ALL
  SELECT '{KG}/doc/' || doc_id, '{ont}source', source, 'literal', NULL, NULL FROM docs_meta
  UNION ALL
  -- TextSpanMap
  SELECT '{KG}/doc/' || doc_id || '/span/' || "offset", '{rdf_type}',
         '{ont}TextSpan', 'iri', NULL, NULL
  FROM span_view WHERE kind = 'text'
  UNION ALL
  SELECT '{KG}/doc/' || doc_id || '/span/' || "offset", '{ont}text', text,
         'literal', NULL, NULL
  FROM span_view WHERE kind = 'text'
  UNION ALL
  SELECT '{KG}/doc/' || doc_id || '/span/' || "offset", '{ont}inDocument',
         '{KG}/doc/' || doc_id, 'iri', NULL, NULL
  FROM span_view WHERE kind = 'text'
  UNION ALL
  -- MediaSpanMap
  SELECT '{KG}/doc/' || doc_id || '/span/' || "offset", '{rdf_type}',
         '{ont}MediaSpan', 'iri', NULL, NULL
  FROM span_view WHERE kind <> 'text'
  UNION ALL
  SELECT '{KG}/doc/' || doc_id || '/span/' || "offset", '{ont}kind', kind,
         'literal', NULL, NULL
  FROM span_view WHERE kind <> 'text'
  UNION ALL
  SELECT '{KG}/doc/' || doc_id || '/span/' || "offset", '{ont}mediaRef',
         media_ref, 'iri', NULL, NULL
  FROM span_view WHERE kind <> 'text'
  UNION ALL
  SELECT '{KG}/doc/' || doc_id || '/span/' || "offset", '{ont}inDocument',
         '{KG}/doc/' || doc_id, 'iri', NULL, NULL
  FROM span_view WHERE kind <> 'text'
  UNION ALL
  -- MentionMap
  SELECT '{KG}/doc/' || doc_id || '/span/' || span_offset || '/mention/' || token_pos,
         '{rdf_type}', '{ont}Mention', 'iri', NULL, NULL
  FROM mentions
  UNION ALL
  SELECT '{KG}/doc/' || doc_id || '/span/' || span_offset || '/mention/' || token_pos,
         '{ont}surface', surface, 'literal', NULL, NULL
  FROM mentions
  UNION ALL
  SELECT '{KG}/doc/' || doc_id || '/span/' || span_offset || '/mention/' || token_pos,
         '{ont}score', CAST(score AS VARCHAR), 'literal', NULL, NULL
  FROM mentions
  UNION ALL
  SELECT '{KG}/doc/' || doc_id || '/span/' || span_offset || '/mention/' || token_pos,
         '{ont}inSpan', '{KG}/doc/' || doc_id || '/span/' || span_offset, 'iri', NULL, NULL
  FROM mentions
  UNION ALL
  SELECT '{KG}/doc/' || doc_id || '/span/' || span_offset || '/mention/' || token_pos,
         '{ont}ofEntity', '{KG}/entity/' || entity_id, 'iri', NULL, NULL
  FROM mentions
  UNION ALL
  -- EntityMap (static dictionary — not derived from mentions)
  SELECT DISTINCT '{KG}/entity/' || entity_id, '{rdf_type}', '{ont}Entity',
         'iri', NULL, NULL
  FROM (VALUES {entity_values}) AS ed(entity_id)
)
SELECT DISTINCT subj, 'iri' AS subj_kind, pred, obj, obj_kind, lang, dtype FROM t
"""
