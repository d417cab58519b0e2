#!/usr/bin/env python
"""Per-phase scaling probe for the canonicalized KG build.

Replicates BENCH/BASELINE.md §4.3: barrier-times each phase function
that ``pipeline.build_kg`` composes, at two parallelism levels (fresh
PROCESS per config — shared-JVM heap history taxes the
higher-parallelism config, see bench.py --scaling isolation note —
JIT-warmed inside each worker) on the deterministically ×replicated
corpus, and prints per-phase pair efficiencies. Phases:

  spans      register_kg_sources: span synthesis + persist + count
  mentions   mention detection (registered above) + persist + count
  emission   docs_engine: string emission of all branches, counted
  lsh        doc_neardup_edges: MinHash-LSH + exact-Jaccard verify
             (checkpointed so the next phase does not re-run it)
  rewrite    canonical_rewrite: CC + template-pruned rewrite + count

Note the barrier methodology double-counts emission on purpose (the
`emission` probe job materializes nothing, so the `rewrite` phase pays
one emission pass of its own) — identical to the r3 probe, so numbers
are comparable round-over-round.
"""

from __future__ import annotations

import argparse
import json
import os
import sys
import tempfile
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import SparkSession  # noqa: E402


def _fresh(cores: int):
    from r2rml_parser_spark.session import build_session

    SparkSession.builder._options = {}
    return build_session(
        app_name=f"phase-profile-{cores}",
        master=f"local[{cores}]",
        shuffle_partitions=max(cores, 8),
        extra_conf={"spark.ui.enabled": "false"},
    )


def profile(spark, sf_dir: str) -> dict[str, float]:
    from r2rml_parser_spark import pipeline as P

    t: dict[str, float] = {}

    t0 = time.monotonic()
    sources = P.register_kg_sources(spark, sf_dir)
    sources["doc_spans"].count()
    t["spans"] = time.monotonic() - t0

    t0 = time.monotonic()
    sources["doc_mentions"].count()
    t["mentions"] = time.monotonic() - t0

    t0 = time.monotonic()
    engine = P.docs_engine(spark, sources)
    n_raw = engine.triples(lineage=False, dedup=False).count()
    t["emission"] = time.monotonic() - t0

    t0 = time.monotonic()
    edges = P.doc_neardup_edges(spark, sf_dir).localCheckpoint(eager=True)
    n_edges = edges.count()
    t["lsh"] = time.monotonic() - t0

    t0 = time.monotonic()
    n = P.canonical_rewrite(engine, edges).count()
    t["rewrite"] = time.monotonic() - t0

    t["_triples"] = n
    t["_raw"] = n_raw
    t["_edges"] = n_edges
    return t


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--sf-dir", default="/root/testdata/sf0.1")
    ap.add_argument("--small", type=int, default=2)
    ap.add_argument("--big", type=int, default=8)
    ap.add_argument("--replicas", type=int, default=48)
    ap.add_argument("--one-config", type=int, metavar="CORES",
                    help="(worker) profile one config; --sf-dir is the scaled dir")
    args = ap.parse_args()

    from bench import _materialize_scaled_corpus, kg_throughput

    if args.one_config is not None:
        # Worker: fresh JVM per config (the r4 isolation finding — a JVM
        # that has executed a prior full build carries heap history that
        # taxes the higher-parallelism config harder; see bench.py
        # --scaling). JIT-warm on sf0.001, then barrier-time the phases.
        s = _fresh(args.one_config)
        kg_throughput(s, "/root/testdata/sf0.001")
        s.catalog.clearCache()
        print(json.dumps(profile(s, args.sf_dir)))
        return

    spark = _fresh(args.big)
    scaled = _materialize_scaled_corpus(
        spark, args.sf_dir, args.replicas, tempfile.mkdtemp(prefix="r2rml_phase_")
    )
    spark.stop()

    import subprocess

    me = os.path.abspath(__file__)
    out: dict[int, dict] = {}
    for cores in (args.small, args.big):
        res = subprocess.run(
            [sys.executable, me, "--one-config", str(cores), "--sf-dir", scaled],
            capture_output=True, text=True, check=True,
        ).stdout
        out[cores] = json.loads(res.strip().splitlines()[-1])
    ratio = args.big / args.small
    effs = {
        k: round((out[args.small][k] / out[args.big][k]) / ratio, 3)
        for k in ("spans", "mentions", "emission", "lsh", "rewrite")
    }
    print(json.dumps({
        "phases_small": {k: round(v, 2) for k, v in out[args.small].items()},
        "phases_big": {k: round(v, 2) for k, v in out[args.big].items()},
        "pair_efficiency": effs,
        "cores": [args.small, args.big],
        "replicas": args.replicas,
        "isolation": "process-per-config",
    }))


if __name__ == "__main__":
    main()
