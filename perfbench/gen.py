"""Seeded input generator for the benchmark.

Every input a workload needs is derived from ``(workload, seed)`` alone and
written once under ``<cache>/<workload>-<seed>/``; a second call with the
same arguments reuses the files.  The same seed always gives byte-identical
files (``tests/test_perfbench.py`` checks this), and the program under test
only ever receives these files.

* ``docs-kg``: an interleaved-document corpus shaped after
  ``corpus_profile.json`` (vocabulary, tokens per doc, lang and source
  shares of the sf0.1 test corpus), with planted exact-duplicate,
  near-duplicate and hard-negative clusters and their ground truth.
* ``tpch-incremental``: TPC-H-shaped region, nation, customer, orders and
  lineitem tables, the benchmark's own R2RML mapping over them, and a
  stream of delta cycles, each of which rewrites about 1% of one table's
  rows and carries one SPARQL query instantiated against the new state.
"""

from __future__ import annotations

import json
import os
import shutil

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

HERE = os.path.dirname(os.path.abspath(__file__))
PROFILE = os.path.join(HERE, "corpus_profile.json")

#: documents per docs-kg corpus
N_DOCS = 1200
#: rows of the TPC-H-shaped tables
TPCH_SIZES = {"customer": 400, "orders": 3000, "lineitem": 12000}
#: documents of the corpus that warms the JVM up in set-up: as many as
#: the real one, so adaptive execution picks the same plans for both
WARMUP_DOCS = N_DOCS
#: delta cycles pre-generated per tpch-incremental seed.  Cycle i changes
#: SCHEDULE[i % 3]: lineitem (a child table only), nation (parent of
#: customer, child of region: a nation moves to another region, so its name
#: and the customer -> nation links stay) and customer (child of nation,
#: parent of orders); the seed picks the rows and the new values.  A run
#: measures whole rounds of the schedule.  No cycle renames a nation: the
#: incremental runner leaves child links stale then (README, "Known defect").
N_CYCLES = 42
SCHEDULE = ("lineitem", "nation", "customer")
#: share of a table's rows one delta rewrites
DELTA_SHARE = 0.01

SHINGLE_K = 3

TP = "http://example.org/tpch/"
MAPPING_TTL = f"""@prefix rr:  <http://www.w3.org/ns/r2rml#> .
@prefix tp:  <{TP}> .

<#Region> a rr:TriplesMap;
  rr:logicalTable [ rr:tableName "region" ];
  rr:subjectMap [ rr:template "{TP}region/{{r_name}}"; rr:class tp:Region ];
  rr:predicateObjectMap [ rr:predicate tp:regionKey; rr:objectMap [ rr:column "r_regionkey" ] ] .

<#Nation> a rr:TriplesMap;
  rr:logicalTable [ rr:tableName "nation" ];
  rr:subjectMap [ rr:template "{TP}nation/{{n_name}}"; rr:class tp:Nation ];
  rr:predicateObjectMap [ rr:predicate tp:nationKey; rr:objectMap [ rr:column "n_nationkey" ] ];
  rr:predicateObjectMap [ rr:predicate tp:inRegion;
    rr:objectMap [ a rr:RefObjectMap; rr:parentTriplesMap <#Region>;
                   rr:joinCondition [ rr:child "n_regionkey"; rr:parent "r_regionkey" ] ] ] .

<#Customer> a rr:TriplesMap;
  rr:logicalTable [ rr:tableName "customer" ];
  rr:subjectMap [ rr:template "{TP}customer/{{c_custkey}}"; rr:class tp:Customer ];
  rr:predicateObjectMap [ rr:predicate tp:name;    rr:objectMap [ rr:column "c_name" ] ];
  rr:predicateObjectMap [ rr:predicate tp:acctbal; rr:objectMap [ rr:column "c_acctbal" ] ];
  rr:predicateObjectMap [ rr:predicate tp:segment; rr:objectMap [ rr:column "c_mktsegment" ] ];
  rr:predicateObjectMap [ rr:predicate tp:inNation;
    rr:objectMap [ a rr:RefObjectMap; rr:parentTriplesMap <#Nation>;
                   rr:joinCondition [ rr:child "c_nationkey"; rr:parent "n_nationkey" ] ] ] .

<#Orders> a rr:TriplesMap;
  rr:logicalTable [ rr:tableName "orders" ];
  rr:subjectMap [ rr:template "{TP}order/{{o_orderkey}}"; rr:class tp:Order ];
  rr:predicateObjectMap [ rr:predicate tp:status;     rr:objectMap [ rr:column "o_orderstatus" ] ];
  rr:predicateObjectMap [ rr:predicate tp:totalprice; rr:objectMap [ rr:column "o_totalprice" ] ];
  rr:predicateObjectMap [ rr:predicate tp:orderdate;  rr:objectMap [ rr:column "o_orderdate" ] ];
  rr:predicateObjectMap [ rr:predicate tp:customer;
    rr:objectMap [ a rr:RefObjectMap; rr:parentTriplesMap <#Customer>;
                   rr:joinCondition [ rr:child "o_custkey"; rr:parent "c_custkey" ] ] ] .

<#Lineitem> a rr:TriplesMap;
  rr:logicalTable [ rr:tableName "lineitem" ];
  rr:subjectMap [ rr:template "{TP}lineitem/{{l_orderkey}}/{{l_linenumber}}"; rr:class tp:LineItem ];
  rr:predicateObjectMap [ rr:predicate tp:quantity;      rr:objectMap [ rr:column "l_quantity" ] ];
  rr:predicateObjectMap [ rr:predicate tp:extendedprice; rr:objectMap [ rr:column "l_extendedprice" ] ];
  rr:predicateObjectMap [ rr:predicate tp:returnflag;    rr:objectMap [ rr:column "l_returnflag" ] ];
  rr:predicateObjectMap [ rr:predicate tp:inOrder;
    rr:objectMap [ a rr:RefObjectMap; rr:parentTriplesMap <#Orders>;
                   rr:joinCondition [ rr:child "l_orderkey"; rr:parent "o_orderkey" ] ] ] .
"""

TABLES = ("region", "nation", "customer", "orders", "lineitem")
REGIONS = ("AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE_EAST")
SEGMENTS = ("AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY")
STATUSES = ("F", "O", "P")
FLAGS = ("A", "N", "R")


def _write_parquet(path: str, table: pa.Table) -> None:
    os.makedirs(os.path.dirname(path), exist_ok=True)
    pq.write_table(table, path, compression="zstd")


def _rng(seed: int, stream: str) -> np.random.Generator:
    return np.random.default_rng([seed, sum(ord(c) << (i % 24) for i, c in enumerate(stream))])


# ---------------------------------------------------------------- docs-kg


def shingle_set(text: str, k: int = SHINGLE_K) -> frozenset[str]:
    """Distinct word k-grams of lower-cased, whitespace-normalised text."""
    toks = " ".join(text.split()).lower().split(" ")
    if len(toks) < k:
        return frozenset()
    return frozenset(" ".join(toks[i:i + k]) for i in range(len(toks) - k + 1))


def jaccard(a: str, b: str) -> float:
    sa, sb = shingle_set(a), shingle_set(b)
    union = len(sa | sb)
    return len(sa & sb) / union if union else 0.0


def _docs(seed: int, n_docs: int, stream: str) -> tuple[pa.Table, dict]:
    with open(PROFILE) as f:
        prof = json.load(f)
    rng = _rng(seed, stream)
    words = sorted(prof["vocabulary"])
    wp = np.array([prof["vocabulary"][w] for w in words], float)
    wp /= wp.sum()
    lens = sorted(int(n) for n in prof["tokens_per_doc"])
    lp = np.array([prof["tokens_per_doc"][str(n)] for n in lens], float)
    lp /= lp.sum()
    langs = sorted(prof["lang"])
    gp = np.array([prof["lang"][g] for g in langs], float)
    gp /= gp.sum()
    sources = sorted(prof["source_labels"])
    sp = np.array([prof["source_labels"][s] for s in sources], float)
    sp /= sp.sum()

    def fresh_tokens() -> list[str]:
        n = int(rng.choice(lens, p=lp))
        return [words[i] for i in rng.choice(len(words), size=n, p=wp)]

    def perturb(toks: list[str], n_sub: int) -> list[str]:
        out = list(toks)
        for pos in rng.choice(len(out), size=min(n_sub, len(out)), replace=False):
            out[int(pos)] = words[int(rng.integers(len(words)))]
        return out

    # about 30% of the docs sit in planted clusters of 2-4 members:
    # exact copies, near-duplicates (one substituted token in a long doc)
    # and hard negatives (a fifth of the tokens substituted)
    texts: list[str] = []
    clusters: list[dict] = []
    while len(texts) < n_docs:
        base = fresh_tokens()
        kind = rng.choice(["single"] * 22 + ["exact", "near", "negative"])
        if kind == "single" or len(texts) + 4 > n_docs:
            texts.append(" ".join(base))
            continue
        if kind == "near":
            while len(base) < 40:
                base = fresh_tokens()
        size = int(rng.integers(2, 5))
        members = [len(texts) + i for i in range(size)]
        texts.append(" ".join(base))
        for _ in range(size - 1):
            if kind == "exact":
                texts.append(" ".join(base))
            elif kind == "near":
                texts.append(" ".join(perturb(base, 1)))
            else:
                texts.append(" ".join(perturb(base, max(4, len(base) // 5))))
        clusters.append({"kind": str(kind), "members": members})

    # interleave: planted members land at random positions of the id space
    perm = rng.permutation(n_docs)
    doc_ids = np.empty(n_docs, np.int64)
    doc_ids[perm] = np.arange(n_docs, dtype=np.int64)
    order = np.argsort(doc_ids)
    text_by_id = [texts[i] for i in order]
    lang = [langs[i] for i in rng.choice(len(langs), size=n_docs, p=gp)]
    source = [sources[i] for i in rng.choice(len(sources), size=n_docs, p=sp)]
    table = pa.table({
        "doc_id": pa.array(np.arange(n_docs, dtype=np.int64)),
        "text": pa.array(text_by_id),
        "lang": pa.array(lang),
        "source": pa.array(source),
        "n_chars": pa.array([len(t) for t in text_by_id], pa.int64()),
    })
    # ground truth: every planted pair with exact Jaccard >= 0.8 must end up
    # in one component (planted recall); hard negatives are recorded with
    # their Jaccard for reference
    truth = {"clusters": [], "positive_pairs": []}
    for c in clusters:
        ids = sorted(int(doc_ids[m]) for m in c["members"])
        truth["clusters"].append({"kind": c["kind"], "doc_ids": ids})
        for i, a in enumerate(ids):
            for b in ids[i + 1:]:
                if jaccard(text_by_id[a], text_by_id[b]) >= 0.8:
                    truth["positive_pairs"].append([a, b])
    return table, truth


# ------------------------------------------------------------------- tpch


def _tpch_tables(seed: int, sizes: dict, stream: str) -> dict[str, pa.Table]:
    rng = _rng(seed, stream)
    n_c, n_o, n_l = sizes["customer"], sizes["orders"], sizes["lineitem"]
    region = pa.table({
        "r_regionkey": pa.array(np.arange(5, dtype=np.int64)),
        "r_name": pa.array(list(REGIONS)),
    })
    nation = pa.table({
        "n_nationkey": pa.array(np.arange(25, dtype=np.int64)),
        "n_name": pa.array([f"NATION_{i:02d}" for i in range(25)]),
        "n_regionkey": pa.array(np.arange(25, dtype=np.int64) % 5),
    })
    customer = pa.table({
        "c_custkey": pa.array(np.arange(1, n_c + 1, dtype=np.int64)),
        "c_name": pa.array([f"Customer#{i:09d}" for i in range(1, n_c + 1)]),
        "c_nationkey": pa.array(rng.integers(0, 25, n_c, dtype=np.int64)),
        "c_acctbal": pa.array(rng.integers(-99_999, 999_999, n_c, dtype=np.int64)),
        "c_mktsegment": pa.array([SEGMENTS[i] for i in rng.integers(0, 5, n_c)]),
    })
    epoch = np.datetime64("1992-01-01")
    orders = pa.table({
        "o_orderkey": pa.array(np.arange(1, n_o + 1, dtype=np.int64)),
        "o_custkey": pa.array(rng.integers(1, n_c + 1, n_o, dtype=np.int64)),
        "o_orderstatus": pa.array([STATUSES[i] for i in rng.integers(0, 3, n_o)]),
        "o_totalprice": pa.array(rng.integers(1_000, 50_000_000, n_o, dtype=np.int64)),
        "o_orderdate": pa.array(epoch + rng.integers(0, 2400, n_o).astype("timedelta64[D]")),
    })
    l_order = np.sort(rng.integers(1, n_o + 1, n_l, dtype=np.int64))
    _, starts = np.unique(l_order, return_index=True)
    line = np.arange(n_l) - np.repeat(starts, np.diff(np.append(starts, n_l))) + 1
    lineitem = pa.table({
        "l_orderkey": pa.array(l_order),
        "l_linenumber": pa.array(line.astype(np.int64)),
        "l_quantity": pa.array(rng.integers(1, 51, n_l, dtype=np.int64)),
        "l_extendedprice": pa.array(rng.integers(100, 10_000_000, n_l, dtype=np.int64)),
        "l_returnflag": pa.array([FLAGS[i] for i in rng.integers(0, 3, n_l)]),
    })
    return {"region": region, "nation": nation, "customer": customer,
            "orders": orders, "lineitem": lineitem}


def _delta(rng: np.random.Generator, name: str, t: pa.Table) -> pa.Table:
    """Rewrite about DELTA_SHARE of ``t``'s rows (at least one) in place:
    keys stay, attribute values change."""
    n = t.num_rows
    rows = np.sort(rng.choice(n, size=max(1, int(round(n * DELTA_SHARE))), replace=False))
    cols = {c: t.column(c).to_pylist() for c in t.column_names}
    for r in rows:
        r = int(r)
        if name == "nation":
            step = int(rng.integers(1, len(REGIONS)))
            cols["n_regionkey"][r] = (cols["n_regionkey"][r] + step) % len(REGIONS)
        elif name == "customer":
            cols["c_acctbal"][r] = int(rng.integers(-99_999, 999_999))
            cols["c_mktsegment"][r] = SEGMENTS[int(rng.integers(0, 5))]
        else:
            cols["l_quantity"][r] = int(rng.integers(1, 51))
            cols["l_extendedprice"][r] = int(rng.integers(100, 10_000_000))
    return pa.table({c: pa.array(v, t.schema.field(c).type) for c, v in cols.items()})


# ----------------------------------------------------------------- sparql

#: SPARQL templates, in the order the delta cycles use them (cycle i runs
#: TEMPLATES[i % 7]); constants come from the seed and the table state
TEMPLATES = {
    "join": "SELECT ?o ?price WHERE {{ ?o tp:customer <{TP}customer/{cust}> . "
            "?o tp:totalprice ?price . ?l tp:inOrder ?o }}",
    "group": "SELECT ?seg (COUNT(?o) AS ?n) WHERE {{ ?o tp:customer ?c . ?c tp:segment ?seg . "
             "?c tp:inNation <{TP}nation/{nation}> }} GROUP BY ?seg",
    "path": "SELECT ?c WHERE {{ ?c tp:inNation/tp:inRegion <{TP}region/{region}> . "
            "?c tp:segment \"{segment}\" }}",
    "point": "SELECT ?p ?o WHERE {{ <{TP}customer/{cust}> ?p ?o }}",
    "optional": "SELECT ?c ?seg ?o WHERE {{ ?c tp:inNation <{TP}nation/{nation}> . "
                "?c tp:segment ?seg . OPTIONAL {{ ?o tp:customer ?c . "
                "?o tp:status \"{status}\" }} }}",
    "regex": "SELECT ?c ?name WHERE {{ ?c tp:name ?name . FILTER regex(?name, \"{suffix}$\") }}",
    "pessimal": "SELECT ?s ?p ?o WHERE {{ ?s ?p ?o . ?s tp:acctbal {acct} }}",
}


def _query(rng: np.random.Generator, template: str, tables: dict[str, pa.Table]) -> dict:
    cust = tables["customer"]
    c = int(rng.integers(0, cust.num_rows))
    names = tables["nation"].column("n_name").to_pylist()
    params = {
        "cust": c + 1,
        "nation": names[int(rng.integers(0, len(names)))],
        "status": STATUSES[int(rng.integers(0, len(STATUSES)))],
        "suffix": f"{int(rng.integers(0, 100)):02d}",
        "region": REGIONS[int(rng.integers(0, len(REGIONS)))],
        "segment": SEGMENTS[int(rng.integers(0, len(SEGMENTS)))],
        "acct": cust.column("c_acctbal")[c].as_py(),
    }
    return {"template": template, "params": params,
            "sparql": TEMPLATES[template].format(TP=TP, **params)}


# ------------------------------------------------------------------- entry


def generate(workload: str, seed: int, cache: str) -> str:
    """Write (or reuse) the inputs for ``(workload, seed)``; returns the
    directory holding them."""
    if workload not in ("docs-kg", "tpch-incremental"):
        raise ValueError(f"unknown workload: {workload!r}")
    final = os.path.join(cache, f"{workload}-{seed}")
    if os.path.isdir(final):
        return final
    # written under a private name and renamed into place, so a reader
    # never sees a half-written input set
    out = f"{final}.tmp-{os.getpid()}"
    shutil.rmtree(out, ignore_errors=True)
    os.makedirs(out)
    if workload == "docs-kg":
        for sub, n in (("corpus", N_DOCS), ("warmup", WARMUP_DOCS)):
            table, truth = _docs(seed, n, sub)
            _write_parquet(os.path.join(out, sub, "documents.parquet"), table)
            _dump_json(os.path.join(out, sub, "truth.json"), truth)
    else:
        with open(os.path.join(out, "mapping.ttl"), "w") as f:
            f.write(MAPPING_TTL)
        tables = _tpch_tables(seed, TPCH_SIZES, "tpch")
        for name, t in tables.items():
            _write_parquet(os.path.join(out, "v0", f"{name}.parquet"), t)
        rng = _rng(seed, "deltas")
        names = list(TEMPLATES)
        cycles = []
        for i in range(N_CYCLES):
            name = SCHEDULE[i % len(SCHEDULE)]
            version = i + 1
            tables[name] = _delta(rng, name, tables[name])
            _write_parquet(os.path.join(out, f"v{version}", f"{name}.parquet"), tables[name])
            cycles.append({"version": version, "table": name,
                           "query": _query(rng, names[i % len(names)], tables)})
        _dump_json(os.path.join(out, "cycles.json"), cycles)
    try:
        os.rename(out, final)
    except OSError:  # another process finished the same inputs first
        shutil.rmtree(out, ignore_errors=True)
    return final


def _dump_json(path: str, obj) -> None:
    with open(path, "w") as f:
        json.dump(obj, f, indent=1, sort_keys=True)
