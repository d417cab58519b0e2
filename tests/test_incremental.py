"""Incremental/resume semantics: skip-unchanged, re-run-on-change,
delete-one-mapping's-output, kill/resume equivalence.

Mirrors the behavior (not the mechanism) of the reference's incremental
dump (Generator.java:90-273): hash-match → skip; mapping or data change
→ regenerate exactly that mapping's triples."""

from __future__ import annotations

import pytest

from r2rml_parser_spark.mapping.parse import parse_mapping_document
from r2rml_parser_spark.plans.engine import MappingEngine
from r2rml_parser_spark.sinks.checkpoint import GraphStore, IncrementalRunner

MAPPING = """
@prefix rr: <http://www.w3.org/ns/r2rml#> .
@prefix ex: <http://ex.org/> .
<#A> rr:logicalTable [ rr:tableName "ta" ];
  rr:subjectMap [ rr:template "http://x/a/{id}" ];
  rr:predicateObjectMap [ rr:predicate ex:v; rr:objectMap [ rr:column "v" ] ] .
<#B> rr:logicalTable [ rr:tableName "tb" ];
  rr:subjectMap [ rr:template "http://x/b/{id}" ];
  rr:predicateObjectMap [ rr:predicate ex:v; rr:objectMap [ rr:column "v" ] ] .
"""


@pytest.fixture
def engine(spark):
    ta = spark.createDataFrame([(1, "x"), (2, "y")], ["id", "v"])
    tb = spark.createDataFrame([(9, "z")], ["id", "v"])
    doc = parse_mapping_document(MAPPING)
    return MappingEngine(spark, doc, sources={"ta": ta, "tb": tb})


def _graph(store):
    return {tuple(r) for r in store.read().collect()}


def test_set_difference_sync(spark, tmp_path):
    """Reference TDB sync semantics (Generator.java:701-748): compute
    removed = existing∖new and added = new∖existing, apply exactly the
    delta, and skip untouched mappings ('No changes detected')."""
    ta = spark.createDataFrame([(1, "x"), (2, "y")], ["id", "v"])
    tb = spark.createDataFrame([(9, "z")], ["id", "v"])
    doc = parse_mapping_document(MAPPING)
    engine = MappingEngine(spark, doc, sources={"ta": ta, "tb": tb})
    store = GraphStore(spark, str(tmp_path / "store"))

    first = store.sync(engine.triples(lineage=True))
    assert first["removed"] == 0 and first["added"] == 3  # 2 from <#A>, 1 from <#B>
    assert sorted(first["unchanged"]) == []
    baseline = _graph(store)

    # no-op sync: zero delta, nothing rewritten
    again = store.sync(engine.triples(lineage=True))
    assert again["added"] == 0 and again["removed"] == 0
    assert again["rewritten"] == [] and len(again["unchanged"]) == 2
    assert _graph(store) == baseline

    # change ONE source row: only that mapping rewrites, delta is exact
    ta2 = spark.createDataFrame([(1, "x"), (2, "CHANGED")], ["id", "v"])
    engine2 = MappingEngine(spark, doc, sources={"ta": ta2, "tb": tb})
    delta = store.sync(engine2.triples(lineage=True))
    assert delta["added"] == 1 and delta["removed"] == 1
    assert len(delta["rewritten"]) == 1 and len(delta["unchanged"]) == 1
    graph = _graph(store)
    assert ("http://x/a/2", "iri", "http://ex.org/v", "CHANGED", "literal", None, None) in graph
    assert not any(r[3] == "y" for r in graph)
    # end state identical to a from-scratch build
    fresh = {tuple(r) for r in engine2.triples(lineage=False).collect()}
    assert graph == fresh

    # a mapping disappearing from the new graph is dropped
    only_a = engine2.triples(lineage=True)
    from pyspark.sql import functions as F

    only_a = only_a.where(F.col("source_map").contains("#A"))
    drop = store.sync(only_a)
    assert len(drop["deleted"]) == 1 and drop["removed"] == 1
    assert all("/b/" not in r[0] for r in _graph(store))


def test_source_hash_is_multiplicity_sensitive(spark):
    """ADVICE r1: bit_xor cancels even multiplicities — {A,A,B} and
    {C,C,B} (or 1 vs 3 copies of a row) must NOT collide, or the
    incremental runner silently skips a changed source."""
    from r2rml_parser_spark.sinks.checkpoint import source_content_hash

    one = spark.createDataFrame([(1, "a")], ["id", "v"])
    three = spark.createDataFrame([(1, "a")] * 3, ["id", "v"])
    aab = spark.createDataFrame([(1, "a"), (1, "a"), (2, "b")], ["id", "v"])
    ccb = spark.createDataFrame([(3, "c"), (3, "c"), (2, "b")], ["id", "v"])
    assert source_content_hash(one) != source_content_hash(three)
    assert source_content_hash(aab) != source_content_hash(ccb)
    # order-insensitivity preserved
    baa = spark.createDataFrame([(2, "b"), (1, "a"), (1, "a")], ["id", "v"])
    assert source_content_hash(aab) == source_content_hash(baa)


def test_skip_then_invalidate(spark, engine, tmp_path):
    store = GraphStore(spark, str(tmp_path / "g"))
    runner = IncrementalRunner(engine, store)

    s1 = runner.run()
    assert sorted(s1["generated"]) == ["#A", "#B"] and not s1["skipped"]
    g1 = _graph(store)
    assert len(g1) == 3

    # unchanged → everything skipped, graph identical
    s2 = runner.run()
    assert sorted(s2["skipped"]) == ["#A", "#B"] and not s2["generated"]
    assert _graph(store) == g1

    # change ta's data → only #A regenerates
    engine.sources["ta"] = spark.createDataFrame([(1, "x"), (2, "CHANGED")], ["id", "v"])
    s3 = runner.run()
    assert s3["generated"] == ["#A"] and s3["skipped"] == ["#B"]
    g3 = _graph(store)
    assert ("http://x/a/2", "iri", "http://ex.org/v", "CHANGED", "literal", None, None) in g3
    assert len(g3) == 3  # old triple replaced, not appended


def _jobs_during(spark, group, fn):
    """Run fn() under a Spark job group; return the job ids it launched."""
    sc = spark.sparkContext
    sc.setJobGroup(group, group)
    try:
        fn()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    return list(sc.statusTracker().getJobIdsForGroup(group))


def test_metadata_first_skip_launches_zero_jobs(spark, tmp_path):
    """VERDICT r2 #5: at 100 TB 'decide to skip' must not mean 'read
    100 TB'. With parquet-backed sources, an unchanged-source re-run
    must decide to skip from file METADATA alone — zero Spark jobs."""
    for name, rows in (("ta", [(1, "x"), (2, "y")]), ("tb", [(9, "z")])):
        spark.createDataFrame(rows, ["id", "v"]).coalesce(1).write.mode(
            "overwrite"
        ).parquet(str(tmp_path / name))

    def mk_engine():
        doc = parse_mapping_document(MAPPING)
        return MappingEngine(
            spark,
            doc,
            sources={
                "ta": spark.read.parquet(str(tmp_path / "ta")),
                "tb": spark.read.parquet(str(tmp_path / "tb")),
            },
        )

    store = GraphStore(spark, str(tmp_path / "g"))
    runner = IncrementalRunner(mk_engine(), store)
    s1 = runner.run()
    assert sorted(s1["generated"]) == ["#A", "#B"]
    manifest = store.read_manifest()
    assert all(e["source_files"] for e in manifest["mappings"].values())

    # unchanged files → skip with ZERO jobs (metadata gate only)
    runner2 = IncrementalRunner(mk_engine(), store)
    s2 = {}
    jobs = _jobs_during(spark, "skip-zero-jobs", lambda: s2.update(runner2.run()))
    assert sorted(s2["skipped"]) == ["#A", "#B"] and not s2["generated"]
    assert jobs == [], f"metadata-first skip launched jobs: {jobs}"

    # rewrite ta with IDENTICAL content (new mtimes): metadata gate
    # misses, the content hash catches it — still skipped, and the
    # fingerprint refreshes so the NEXT run is metadata-only again
    spark.createDataFrame([(1, "x"), (2, "y")], ["id", "v"]).coalesce(1).write.mode(
        "overwrite"
    ).parquet(str(tmp_path / "ta"))
    runner3 = IncrementalRunner(mk_engine(), store)
    s3 = runner3.run()
    assert sorted(s3["skipped"]) == ["#A", "#B"] and not s3["generated"]
    runner4 = IncrementalRunner(mk_engine(), store)
    s4 = {}
    jobs4 = _jobs_during(spark, "skip-zero-jobs-2", lambda: s4.update(runner4.run()))
    assert sorted(s4["skipped"]) == ["#A", "#B"] and jobs4 == []

    # a REAL change still regenerates exactly that mapping
    spark.createDataFrame([(1, "x"), (2, "CHANGED")], ["id", "v"]).coalesce(
        1
    ).write.mode("overwrite").parquet(str(tmp_path / "ta"))
    s5 = IncrementalRunner(mk_engine(), store).run()
    assert s5["generated"] == ["#A"] and s5["skipped"] == ["#B"]
    assert (
        "http://x/a/2", "iri", "http://ex.org/v", "CHANGED", "literal", None, None
    ) in _graph(store)


def test_sync_job_count_constant_in_mapping_count(spark, tmp_path):
    """VERDICT r2 #6: the no-op sync diff is ONE lineage-keyed job, not
    2 exceptAll jobs per mapping — job count must not grow with the
    number of mappings."""
    from pyspark.sql import functions as F  # noqa: F401

    def lineage_triples(n_maps):
        rows = [
            (f"http://x/{m}/s{i}", "iri", "http://x/p", f"v{i}", "literal",
             None, None, f"http://map/{m}")
            for m in range(n_maps)
            for i in range(10)
        ]
        cols = ["subj", "subj_kind", "pred", "obj", "obj_kind", "lang", "dtype", "source_map"]
        return spark.createDataFrame(rows, ", ".join(f"{c} string" for c in cols))

    counts = {}
    for n_maps in (3, 9):
        store = GraphStore(spark, str(tmp_path / f"s{n_maps}"))
        store.sync(lineage_triples(n_maps))
        out = {}
        jobs = _jobs_during(
            spark, f"sync-noop-{n_maps}",
            lambda: out.update(store.sync(lineage_triples(n_maps))),
        )
        assert out["added"] == 0 and out["removed"] == 0
        assert len(out["unchanged"]) == n_maps and not out["rewritten"]
        counts[n_maps] = len(jobs)
    # 3× the mappings, same diff job count (the old loop was ~2/mapping)
    assert counts[9] <= counts[3] + 1, counts


def test_kill_and_resume_produces_identical_graph(spark, engine, tmp_path):
    full_store = GraphStore(spark, str(tmp_path / "full"))
    IncrementalRunner(engine, full_store).run()
    expected = _graph(full_store)

    crash_store = GraphStore(spark, str(tmp_path / "crash"))
    runner = IncrementalRunner(engine, crash_store)
    with pytest.raises(RuntimeError, match="simulated crash"):
        runner.run(fail_after=1)  # commits exactly one mapping, dies
    manifest = crash_store.read_manifest()
    assert len(manifest["mappings"]) == 1  # partial commit visible

    s = runner.run()  # resume: completed mapping skipped
    assert len(s["skipped"]) == 1 and len(s["generated"]) == 1
    assert _graph(crash_store) == expected


def test_per_partition_lineage_metrics(spark, engine, tmp_path):
    store = GraphStore(spark, str(tmp_path / "g"))
    IncrementalRunner(engine, store).run()
    manifest = store.read_manifest()
    for uri, entry in manifest["mappings"].items():
        assert entry["triples"] == sum(entry["partition_counts"])
        assert entry["snapshot"] == manifest["snapshot"]
    assert manifest["mappings"]["#A"]["triples"] == 2
    assert manifest["mappings"]["#B"]["triples"] == 1


def test_store_is_range_clustered(spark, tmp_path):
    """write_mapping range-clusters on (subj, pred, obj): buckets are
    balanced, sorted within, and cover DISJOINT key ranges — the
    Iceberg sort-order analogue that makes subj/pred equality filters
    file-prunable via parquet min/max stats."""
    from pyspark.sql import functions as F

    store = GraphStore(spark, str(tmp_path / "g"), cluster_partitions=4)
    df = spark.range(400).select(
        F.concat(F.lit("http://x/e"), F.format_string("%03d", "id")).alias("subj"),
        F.lit("iri").alias("subj_kind"),
        F.lit("http://x/p").alias("pred"),
        F.concat(F.lit("v"), F.col("id")).alias("obj"),
        F.lit("literal").alias("obj_kind"),
        F.lit(None).cast("string").alias("lang"),
        F.lit(None).cast("string").alias("dtype"),
    )
    counts = store.write_mapping("http://x/m", df)
    assert sum(counts) == 400 and len(counts) == 4
    assert all(c > 0 for c in counts)  # sampler balanced the buckets

    part = spark.read.parquet(store._mapping_dir("http://x/m"))
    spans = (
        part.groupBy("_pid")
        .agg(F.min("subj").alias("lo"), F.max("subj").alias("hi"))
        .orderBy("lo")
        .collect()
    )
    for a, b in zip(spans, spans[1:]):
        assert a["hi"] <= b["lo"]  # disjoint, globally ordered ranges

    # the read path still returns the plain triple set
    assert store.read().count() == 400


def test_store_query_and_ask(spark, engine, tmp_path):
    """SPARQL directly over the persisted store (GraphStore.query):
    constant-pred BGP reaches the clustered parquet scan as a pushed
    filter; ASK probes emptiness."""
    store = GraphStore(spark, str(tmp_path / "g"))
    IncrementalRunner(engine, store).run()
    out = store.query(
        'PREFIX ex: <http://ex.org/> SELECT ?s ?v WHERE { ?s ex:v ?v . FILTER (?v != "z") }'
    )
    got = {(r.s, r.v) for r in out.collect()}
    assert got == {("http://x/a/1", "x"), ("http://x/a/2", "y")}
    assert store.ask('PREFIX ex: <http://ex.org/> ASK { ?s ex:v "z" }') is True
    assert store.ask('PREFIX ex: <http://ex.org/> ASK { ?s ex:v "nope" }') is False


def test_store_construct_and_describe(spark, engine, tmp_path):
    """All four query forms are store-native (late r4): CONSTRUCT and
    DESCRIBE return 7-column triples DFs straight off the clustered
    store, composing with every sink."""
    store = GraphStore(spark, str(tmp_path / "g4"))
    IncrementalRunner(engine, store).run()
    derived = store.construct(
        "PREFIX ex: <http://ex.org/> "
        "CONSTRUCT { ?s ex:w ?v } WHERE { ?s ex:v ?v }"
    )
    assert derived.columns == [
        "subj", "subj_kind", "pred", "obj", "obj_kind", "lang", "dtype"
    ]
    got = {(r.subj, r.pred, r.obj) for r in derived.collect()}
    assert got == {
        ("http://x/a/1", "http://ex.org/w", "x"),
        ("http://x/a/2", "http://ex.org/w", "y"),
        ("http://x/b/9", "http://ex.org/w", "z"),
    }
    desc = store.describe("DESCRIBE <http://x/a/1>")
    assert {(r.subj, r.pred, r.obj) for r in desc.collect()} == {
        ("http://x/a/1", "http://ex.org/v", "x"),
    }


def test_store_dataset_query_per_mapping_graphs(spark, engine, tmp_path):
    """Store-as-dataset (r5): each mapping's partition is a named graph
    (IRI = the triples-map URI) — GRAPH ?g answers 'which mapping
    produced this triple' straight off the store layout, GRAPH <iri>
    prunes to one partition directory, and with include_default the
    plain patterns still see everything."""
    store = GraphStore(spark, str(tmp_path / "gq"))
    IncrementalRunner(engine, store).run()
    out = store.query_dataset(
        "PREFIX ex: <http://ex.org/> "
        "SELECT ?g (COUNT(?s) AS ?n) WHERE { GRAPH ?g { ?s ex:v ?o } } "
        "GROUP BY ?g ORDER BY ?g"
    )
    got = [(r.g, r.n) for r in out.collect()]
    assert len(got) == 2 and [n for _, n in got] == [2, 1]
    assert all(g.endswith(("#A", "#B")) for g, _ in got)
    # constant-graph slice: only mapping A's partition
    a_uri = got[0][0]
    only_a = store.query_dataset(
        f"SELECT ?s ?o WHERE {{ GRAPH <{a_uri}> {{ ?s ?p ?o }} }}"
    )
    assert {r.s for r in only_a.collect()} == {"http://x/a/1", "http://x/a/2"}
    # union-default semantics: plain patterns match the whole graph
    assert store.query_dataset(
        "PREFIX ex: <http://ex.org/> SELECT ?s WHERE { ?s ex:v ?o }"
    ).count() == 3
    # named-graphs-only dataset: the default graph is empty
    assert store.query_dataset(
        "PREFIX ex: <http://ex.org/> SELECT ?s WHERE { ?s ex:v ?o }",
        include_default=False,
    ).count() == 0


def test_store_dataset_default_graph_is_a_set(spark, tmp_path):
    """Two mappings emit the same triples: each lands in both named
    graphs but once in the default graph, so a plain-pattern COUNT(*)
    over the dataset equals the one over the plain store."""
    doc = parse_mapping_document(MAPPING + """
<#A2> rr:logicalTable [ rr:tableName "ta" ];
  rr:subjectMap [ rr:template "http://x/a/{id}" ];
  rr:predicateObjectMap [ rr:predicate ex:v; rr:objectMap [ rr:column "v" ] ] .
""")
    ta = spark.createDataFrame([(1, "x"), (2, "y")], ["id", "v"])
    tb = spark.createDataFrame([(9, "z")], ["id", "v"])
    store = GraphStore(spark, str(tmp_path / "gs"))
    IncrementalRunner(MappingEngine(spark, doc, sources={"ta": ta, "tb": tb}), store).run()
    count = "SELECT (COUNT(*) AS ?n) WHERE { ?s ?p ?o }"
    plain = store.query(count).collect()[0].n
    assert plain == 3
    assert store.query_dataset(count).collect()[0].n == plain
    named = "SELECT (COUNT(*) AS ?n) WHERE { GRAPH ?g { ?s ?p ?o } }"
    assert store.query_dataset(named).collect()[0].n == 5
