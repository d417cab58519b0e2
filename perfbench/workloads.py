"""The benchmark's workloads: set-up, one op, output checks, traced run.

Both workloads are closed loops with one client: the next op starts when
the previous one returned, because every caller of the program waits for
its result.

* ``DocsKg``: one op is ``pipeline.build_kg(canonicalize=True)`` followed by
  ``sinks.ntriples.write_sorted`` over the seeded corpus.
* ``TpchIncremental``: one op is one delta cycle (a changed table file is
  put in place, ``IncrementalRunner.run()`` brings the store up to date),
  then a no-op re-run with unchanged inputs, then one SPARQL query via
  ``GraphStore.query(...).collect()`` against the refreshed store.
"""

from __future__ import annotations

import json
import os
import shutil
import statistics
import time
from functools import reduce

import checks
import gen
from spans import Tracer

#: every per-layer count the traced runs report, besides the Spark costs
COSTS = ("busy_s", "self_s", "jobs", "stages", "task_cpu_s", "shuffle_write_bytes",
         "spill_bytes")
DOCS_MAPS = ("DocMap", "TextSpanMap", "MediaSpanMap", "MentionMap", "EntityMap")
TPCH_MAPS = ("Region", "Nation", "Customer", "Orders", "Lineitem")
LAYERS = {
    "session": ("busy_s",),
    "mapping": ("busy_s", "maps"),
    "sources": (*COSTS, "rows_out"),
    "operators.mentions": (*COSTS, "rows_out"),
    "plans.engine": (*COSTS, *(f"triples_by_map.{m}" for m in DOCS_MAPS + TPCH_MAPS)),
    "operators.dedup": (*COSTS, "candidate_pairs", "verified_edges", "verify_yield",
                        "planted_recall"),
    "operators.components": (*COSTS, "components", "merged_nodes", "distributed_path"),
    "plans.rewrite": (*COSTS, "rows_in", "rows_out", "dup_removed"),
    "sinks.ntriples": (*COSTS, "lines", "bytes_written"),
    "pipeline": (*COSTS, "return_s", "idle_core_share", "coverage_share",
                 "tracing_overhead_s"),
    "sinks.checkpoint": (*COSTS, "mappings_skipped", "mappings_generated", "skip_jobs",
                         "bytes_written", "files_read_per_query"),
    "plans.sparql": (*COSTS, "plan_s", "exec_s", "rows_out", "jobs_per_query"),
}


def noop(df) -> None:
    """Materialize every column of ``df`` without writing it anywhere."""
    df.write.format("noop").mode("overwrite").save()


def median(xs):
    return statistics.median(xs) if xs else 0.0


def dir_bytes(path: str) -> int:
    return sum(os.path.getsize(os.path.join(d, f))
               for d, _, fs in os.walk(path) for f in fs if not f.startswith("."))


def _union(dfs):
    return reduce(lambda a, b: a.unionByName(b), dfs)


def _fragment(uri: str) -> str:
    return uri.rsplit("#", 1)[-1]


def layer_totals(tracer: Tracer, layer: str) -> dict:
    spans = [s for s in tracer.spans if s["layer"] == layer]
    return {k: sum(s[k] for s in spans) for k in COSTS}


# ---------------------------------------------------------------- docs-kg


class DocsKg:
    round = 1

    def __init__(self, inputs: str, run_dir: str):
        self.corpus = os.path.join(inputs, "corpus")
        self.warmup = os.path.join(inputs, "warmup")
        self.run_dir = run_dir
        with open(os.path.join(self.corpus, "truth.json")) as f:
            self.truth = json.load(f)

    def setup(self, spark) -> None:
        """Warm the JVM up with one build over the small corpus."""
        self._build(spark, self.warmup, os.path.join(self.run_dir, "warmup"))

    def _build(self, spark, corpus: str, out: str) -> float:
        from r2rml_parser_spark.pipeline import build_kg
        from r2rml_parser_spark.sinks.ntriples import write_sorted

        t0 = time.perf_counter()
        write_sorted(build_kg(spark, corpus, canonicalize=True), out)
        dt = time.perf_counter() - t0
        # operator-internal persists would otherwise serve the next build
        spark.catalog.clearCache()
        return dt

    def op(self, spark, i: int) -> dict:
        out = os.path.join(self.run_dir, f"dump-{i}")
        return {"s": self._build(spark, self.corpus, out), "dump": out}

    def check(self, results: list[dict]) -> dict:
        docs = os.path.join(self.corpus, "documents.parquet")
        recalls, lines, sizes = [], [], []
        for r in results:
            dump = checks.read_dump(r["dump"])
            r["fails"], recall = checks.check_docs_dump(dump, docs, self.truth)
            r["lines"] = len(dump)
            recalls.append(recall)
            lines.append(len(dump))
            sizes.append(dir_bytes(r["dump"]))
            shutil.rmtree(r["dump"], ignore_errors=True)
        build = [r["s"] for r in results]
        return {
            "end_to_end": {
                "op_s_p50": median(build),
                "triples_per_s": median([n / s for n, s in zip(lines, build)]),
                "bytes_per_triple": median([b / n for b, n in zip(sizes, lines) if n]),
            },
            "detail": {"build_s": build, "triples": lines, "planted_recall": median(recalls)},
        }

    def trace(self, spark, tracer: Tracer, metrics: dict) -> list[dict]:
        from pyspark.sql import functions as F

        from r2rml_parser_spark.functions.encoding import iri_safe_encode
        from r2rml_parser_spark.mapping.parse import parse_mapping_document
        from r2rml_parser_spark.operators.components import canonical_mapping
        from r2rml_parser_spark.operators.dedup import minhash_candidate_pairs, neardup_edges
        from r2rml_parser_spark.operators.mentions import detect_mentions, entity_dictionary
        from r2rml_parser_spark.pipeline import (DOCS_MAPPING_TTL, KEY_TEMPLATE, KG, build_kg,
                                                 register_kg_sources)
        from r2rml_parser_spark.plans.engine import LINEAGE_COLUMN, MappingEngine
        from r2rml_parser_spark.plans.rewrite import analyze_parts, rewrite_triple_parts
        from r2rml_parser_spark.sinks.ntriples import write_sorted
        from r2rml_parser_spark.sources.docs import synth_span_rows

        m = metrics
        corpus = self.corpus
        # each layer: its public call plus a noop write of the result, fed
        # by inputs the previous span persisted and materialized
        with tracer.span("sources", "synth_span_rows"):
            spans = synth_span_rows(spark, corpus).persist()
            noop(spans)
        m["sources.rows_out"] = spans.count()
        with tracer.span("operators.mentions", "detect_mentions"):
            mentions = detect_mentions(spans, entity_dictionary(spark)).persist()
            noop(mentions)
        m["operators.mentions.rows_out"] = mentions.count()
        with tracer.span("mapping", "parse_mapping_document"):
            doc = parse_mapping_document(DOCS_MAPPING_TTL)
        m["mapping.maps"] = len(doc.triples_maps)
        with tracer.span("plans.engine", "triple_parts"):
            engine = MappingEngine(spark, doc, sources=register_kg_sources(spark, corpus),
                                   base_ns=KG)
            noop(_union([p.df for p in engine.triple_parts()]))
        per_map = _union([engine.triples_for(tm) for tm in doc.topo_sorted()]).groupBy(
            LINEAGE_COLUMN).count().collect()
        for r in per_map:
            m[f"plans.engine.triples_by_map.{_fragment(r[0])}"] = r["count"]
        rows_in = sum(r["count"] for r in per_map)

        docs = spark.read.parquet(f"{corpus}/documents.parquet").select(
            F.col("doc_id").cast("string").alias("doc_id"), "text"
        ).repartition(spark.sparkContext.defaultParallelism)
        with tracer.span("operators.dedup", "neardup_edges"):
            edges = neardup_edges(docs, threshold=0.8, hash_family="xxhash64",
                                  collapse_exact=True).persist()
            noop(edges)
        with tracer.span("operators.dedup", "minhash_candidate_pairs"):
            cand = minhash_candidate_pairs(docs, hash_family="xxhash64").persist()
            noop(cand)
        m["operators.dedup.verified_edges"] = n_edges = edges.count()
        m["operators.dedup.candidate_pairs"] = n_cand = cand.count()
        m["operators.dedup.verify_yield"] = n_edges / n_cand if n_cand else 0.0

        iri_edges = edges.select(
            F.concat(F.lit(f"{KG}/doc/"), iri_safe_encode(F.col("a"))).alias("u"),
            F.concat(F.lit(f"{KG}/doc/"), iri_safe_encode(F.col("b"))).alias("v"))
        with tracer.span("operators.components", "canonical_mapping"):
            canon = canonical_mapping(iri_edges).persist()
            noop(canon)
        m["operators.components.merged_nodes"] = canon.count()
        m["operators.components.components"] = canon.select("canonical_iri").distinct().count()
        # connected_components' default collect_threshold picks the path
        m["operators.components.distributed_path"] = int(n_edges > 1_000_000)

        with tracer.span("plans.rewrite", "rewrite_triple_parts"):
            flagged = analyze_parts(engine.triple_parts(), KEY_TEMPLATE, base_ns=KG,
                                    encode_iris=True, unique_subjects=True)
            triples = rewrite_triple_parts(flagged, canon).persist()
            noop(triples)
        rows_out = triples.count()
        m.update({"plans.rewrite.rows_in": rows_in, "plans.rewrite.rows_out": rows_out,
                  "plans.rewrite.dup_removed": rows_in - rows_out})
        out = os.path.join(self.run_dir, "layer-dump")
        with tracer.span("sinks.ntriples", "write_sorted"):
            write_sorted(triples, out)
        m["sinks.ntriples.lines"] = len(checks.read_dump(out))
        m["sinks.ntriples.bytes_written"] = dir_bytes(out)
        shutil.rmtree(out, ignore_errors=True)
        spark.catalog.clearCache()

        # the fused build, traced as one span, then once more untraced
        out = os.path.join(self.run_dir, "dump-traced")
        with tracer.span("pipeline", "build_kg") as fused:
            t0 = time.perf_counter()
            kg = build_kg(spark, corpus, canonicalize=True)
            fused["counts"]["return_s"] = time.perf_counter() - t0
            write_sorted(kg, out)
        spark.catalog.clearCache()
        plain = self.op(spark, 0)
        shutil.rmtree(plain["dump"], ignore_errors=True)
        fused["counts"]["untraced_s"] = plain["s"]
        return [{"s": fused["t1"] - fused["t0"], "dump": out}]

    def trace_metrics(self, tracer: Tracer, results: list[dict], metrics: dict) -> None:
        fused = next(s for s in tracer.spans if s["layer"] == "pipeline")
        dump = checks.read_dump(results[0]["dump"])
        fails, recall = checks.check_docs_dump(
            dump, os.path.join(self.corpus, "documents.parquet"), self.truth)
        results[0]["fails"] = fails
        shutil.rmtree(results[0]["dump"], ignore_errors=True)
        metrics["operators.dedup.planted_recall"] = recall
        covered = sum(s["busy_s"] for s in tracer.spans
                      if s["layer"] not in ("session", "pipeline", "setup"))
        metrics.update({
            "pipeline.return_s": fused["counts"]["return_s"],
            "pipeline.idle_core_share": fused["idle_core_share"],
            "pipeline.coverage_share": covered / fused["busy_s"],
            "pipeline.tracing_overhead_s": fused["busy_s"] - fused["counts"]["untraced_s"],
        })


# ------------------------------------------------------------------- tpch


class TpchIncremental:
    #: a run measures whole rounds of the delta schedule, so every run
    #: times the same mix of child and parent changes
    round = len(gen.SCHEDULE)

    def __init__(self, inputs: str, run_dir: str):
        self.inputs = inputs
        self.run_dir = run_dir
        with open(os.path.join(inputs, "cycles.json")) as f:
            self.cycles = json.load(f)
        with open(os.path.join(inputs, "mapping.ttl")) as f:
            self.mapping_ttl = f.read()
        # current input file of every table, as the oracle reads it
        self.state = {t: os.path.join(inputs, "v0", f"{t}.parquet") for t in gen.TABLES}
        self.tables = os.path.join(run_dir, "tables")
        self.store_dir = os.path.join(run_dir, "store")
        self.files_put = 0

    def _put(self, table: str, src: str) -> None:
        """Replace the table's one data file by ``src`` under a new name,
        as a writer publishing a new table version would."""
        d = os.path.join(self.tables, table)
        os.makedirs(d, exist_ok=True)
        old = [os.path.join(d, f) for f in os.listdir(d)]
        self.files_put += 1
        shutil.copyfile(src, os.path.join(d, f"part-{self.files_put:05d}.parquet"))
        for f in old:
            os.remove(f)
        self.state[table] = src

    def _runner(self, spark, doc, store):
        from r2rml_parser_spark.plans.engine import MappingEngine
        from r2rml_parser_spark.sinks.checkpoint import IncrementalRunner

        sources = {t: spark.read.parquet(os.path.join(self.tables, t)) for t in gen.TABLES}
        return IncrementalRunner(MappingEngine(spark, doc, sources=sources), store)

    def setup(self, spark) -> None:
        """Load the tables into an empty store (the first, cold load a
        user of the store pays once per process), then run the first delta
        cycle untimed, so the timed cycles find the write path compiled."""
        from r2rml_parser_spark.mapping.parse import parse_mapping_document
        from r2rml_parser_spark.sinks.checkpoint import GraphStore

        self.doc = parse_mapping_document(self.mapping_ttl)
        for t in gen.TABLES:
            self._put(t, os.path.join(self.inputs, "v0", f"{t}.parquet"))
        self.store = GraphStore(spark, self.store_dir)
        t0 = time.perf_counter()
        self._runner(spark, self.doc, self.store).run()
        self.load_s = time.perf_counter() - t0
        shutil.rmtree(self.op(spark, -1)["snap"])

    def op(self, spark, i: int, tracer: Tracer | None = None) -> dict | None:
        from contextlib import nullcontext

        if i + 1 >= len(self.cycles):
            return None
        span = tracer.span if tracer else (lambda *a: nullcontext({}))
        c = self.cycles[i + 1]  # cycle 0 runs in set-up
        t0 = time.perf_counter()
        self._put(c["table"], os.path.join(self.inputs, f"v{c['version']}",
                                           f"{c['table']}.parquet"))
        runner = self._runner(spark, self.doc, self.store)
        with span("sinks.checkpoint", "IncrementalRunner.run"):
            delta = runner.run()
        t1 = time.perf_counter()
        with span("sinks.checkpoint", "IncrementalRunner.run:noop") as noop_span:
            again = runner.run()
        t2 = time.perf_counter()
        with span("plans.sparql", "GraphStore.query") as q_span:
            df = self.store.query(c["query"]["sparql"], {"tp": gen.TP})
        with span("plans.sparql", "collect") as c_span:
            rows = [tuple(r) for r in df.collect()]
        t3 = time.perf_counter()
        # the store as this cycle left it, for the check after the loop
        snap = os.path.join(self.run_dir, f"snap-{i}")
        shutil.copytree(os.path.join(self.store_dir, "graph"), snap)
        return {
            "s": t3 - t0, "delta_s": t1 - t0, "noop_s": t2 - t1, "query_s": t3 - t2,
            "generated": len(delta["generated"]), "skipped": len(delta["skipped"]),
            "noop_generated": len(again["generated"]), "rows": rows, "snap": snap,
            "state": dict(self.state), "query": c["query"], "rows_out": len(rows),
            "spans": (noop_span.get("id"), q_span.get("id"), c_span.get("id")),
        }

    def check(self, results: list[dict]) -> dict:
        for r in results:
            oracle = checks.TpchOracle(r["state"])
            try:
                files = sorted(os.path.join(d, f) for d, _, fs in os.walk(r["snap"])
                               for f in fs if f.endswith(".parquet"))
                r["fails"] = (oracle.check_store(files)
                              + oracle.check_query(r["query"], r["rows"]))
            finally:
                oracle.close()
            shutil.rmtree(r["snap"], ignore_errors=True)
        manifest = self.store.read_manifest()
        triples = sum(m["triples"] for m in manifest["mappings"].values())
        store_bytes = dir_bytes(os.path.join(self.store_dir, "graph"))
        return {
            "end_to_end": {
                "op_s_p50": median([r["s"] for r in results]),
                "triples_per_s": triples / self.load_s,
                "bytes_per_triple": store_bytes / triples,
            },
            "detail": {
                "load_s": self.load_s,
                "delta_s": [r["delta_s"] for r in results],
                "noop_s": [r["noop_s"] for r in results],
                "query_s": {r["query"]["template"]: r["query_s"] for r in results},
                "store_triples": triples,
                "noop_mappings_generated": sum(r["noop_generated"] for r in results),
            },
        }

    def trace(self, spark, tracer: Tracer, metrics: dict) -> list[dict]:
        from r2rml_parser_spark.mapping.parse import parse_mapping_document
        from r2rml_parser_spark.plans.engine import LINEAGE_COLUMN, MappingEngine
        from r2rml_parser_spark.sinks.checkpoint import (GraphStore, source_content_hash,
                                                         source_files_fingerprint)

        m = metrics
        with tracer.span("mapping", "parse_mapping_document"):
            doc = parse_mapping_document(self.mapping_ttl)
        m["mapping.maps"] = len(doc.triples_maps)
        sources = {t: spark.read.parquet(os.path.join(self.tables, t)) for t in gen.TABLES}
        engine = MappingEngine(spark, doc, sources=sources)
        for tm in doc.topo_sorted():
            with tracer.span("plans.engine", "triples_for"):
                df = engine.triples_for(tm).persist()
                noop(df)
            m[f"plans.engine.triples_by_map.{_fragment(tm.uri)}"] = df.count()
            df.unpersist()
        for t, df in sources.items():
            with tracer.span("sinks.checkpoint", "source_files_fingerprint"):
                source_files_fingerprint(df)
            with tracer.span("sinks.checkpoint", "source_content_hash"):
                source_content_hash(df)
        scratch = GraphStore(spark, os.path.join(self.run_dir, "scratch-store"))
        with tracer.span("sinks.checkpoint", "GraphStore.write_mapping"):
            scratch.write_mapping(doc.topo_sorted()[-1].uri,
                                  engine.triples_for(doc.topo_sorted()[-1])
                                  .drop(LINEAGE_COLUMN).dropDuplicates())
        m["sinks.checkpoint.bytes_written"] = dir_bytes(os.path.join(scratch.base, "graph"))
        with tracer.span("sinks.checkpoint", "GraphStore.read"):
            noop(self.store.read())
        # one cycle per query template, each span-timed
        results = [self.op(spark, i, tracer) for i in range(len(gen.TEMPLATES))]
        return [r for r in results if r is not None]

    def trace_metrics(self, tracer: Tracer, results: list[dict], metrics: dict) -> None:
        self.check(results)
        by_id = {s["id"]: s for s in tracer.spans}
        noops = [by_id[r["spans"][0]] for r in results]
        plans = [by_id[r["spans"][1]] for r in results]
        execs = [by_id[r["spans"][2]] for r in results]
        metrics.update({
            "sinks.checkpoint.mappings_generated": sum(r["generated"] for r in results),
            "sinks.checkpoint.mappings_skipped": sum(r["skipped"] for r in results),
            "sinks.checkpoint.skip_jobs": sum(s["jobs"] for s in noops),
            "sinks.checkpoint.files_read_per_query": median([s["files_read"] for s in execs]),
            "plans.sparql.plan_s": median([s["busy_s"] for s in plans]),
            "plans.sparql.exec_s": median([s["busy_s"] for s in execs]),
            "plans.sparql.rows_out": sum(r["rows_out"] for r in results),
            "plans.sparql.jobs_per_query": median(
                [p["jobs"] + e["jobs"] for p, e in zip(plans, execs)]),
        })


WORKLOADS = {"docs-kg": DocsKg, "tpch-incremental": TpchIncremental}
