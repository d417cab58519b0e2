"""Tests of the benchmark itself: seeded inputs and the output checkers.

    python3 -m pytest perfbench/tests -q

No Spark session is started; the checkers run on dumps and stores built
here from the DuckDB oracles, with errors planted on purpose.
"""

from __future__ import annotations

import json
import os
import sys

import duckdb
import pyarrow as pa
import pyarrow.parquet as pq
import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, os.path.dirname(HERE))
sys.path.insert(0, os.path.dirname(os.path.dirname(HERE)))

import checks  # noqa: E402
import gen  # noqa: E402

KG = "http://kg.example"


def _files(root: str) -> dict[str, bytes]:
    out = {}
    for d, _, fs in os.walk(root):
        for f in fs:
            p = os.path.join(d, f)
            with open(p, "rb") as fh:
                out[os.path.relpath(p, root)] = fh.read()
    return out


def _renamed_nation(src: str, dst: str) -> str:
    """Write ``src``'s nation table to ``dst`` with nation 0 renamed."""
    t = pq.read_table(src)
    names = t.column("n_name").to_pylist()
    names[0] += "_RENAMED"
    pq.write_table(t.set_column(t.column_names.index("n_name"), "n_name",
                                pa.array(names)), dst)
    return dst


@pytest.mark.parametrize("workload", ["docs-kg", "tpch-incremental"])
def test_same_seed_gives_byte_identical_inputs(tmp_path, workload):
    a = _files(gen.generate(workload, 7, str(tmp_path / "a")))
    b = _files(gen.generate(workload, 7, str(tmp_path / "b")))
    c = _files(gen.generate(workload, 8, str(tmp_path / "c")))
    assert a == b
    assert a.keys() == c.keys() and a != c


@pytest.fixture(scope="module")
def corpus(tmp_path_factory):
    inputs = gen.generate("docs-kg", 3, str(tmp_path_factory.mktemp("docs")))
    docs = os.path.join(inputs, "corpus", "documents.parquet")
    with open(os.path.join(inputs, "corpus", "truth.json")) as f:
        truth = json.load(f)
    ids = duckdb.sql(f"SELECT doc_id FROM '{docs}' ORDER BY 1").fetchall()
    parent = {str(i): str(i) for (i,) in ids}

    def find(x):
        while parent[x] != x:
            x = parent[x]
        return x

    for a, b in truth["positive_pairs"]:
        ra, rb = sorted((find(str(a)), find(str(b))))
        parent[rb] = ra
    canon = {d: find(d) for d in parent}
    lines = sorted(checks.docs_oracle_lines(docs, canon))
    return docs, truth, canon, lines


def test_docs_checker_accepts_a_correct_dump(corpus):
    docs, truth, _, lines = corpus
    fails, recall = checks.check_docs_dump(lines, docs, truth)
    assert fails == []
    assert recall == 1.0


def test_docs_checker_flags_a_wrong_triple(corpus):
    docs, truth, _, lines = corpus
    bad = sorted(lines + [f'<{KG}/doc/0> <{KG}/ontology#lang> "xx" .'])
    fails, _ = checks.check_docs_dump(bad, docs, truth)
    assert any("1 unexpected" in f for f in fails)


def test_docs_checker_flags_a_missing_triple(corpus):
    docs, truth, _, lines = corpus
    victim = next(ln for ln in lines if "ontology#surface" in ln)
    fails, _ = checks.check_docs_dump([ln for ln in lines if ln != victim], docs, truth)
    assert any("1 missing" in f for f in fails)


def test_docs_checker_flags_a_false_merge(corpus):
    docs, truth, canon, _ = corpus
    planted = {str(d) for c in truth["clusters"] for d in c["doc_ids"]}
    a, b = [d for d in sorted(canon, key=int) if d not in planted][:2]
    merged = dict(canon, **{b: a})
    lines = sorted(checks.docs_oracle_lines(docs, merged))
    fails, _ = checks.check_docs_dump(lines, docs, truth)
    assert any("not connected" in f for f in fails)


def test_docs_checker_flags_an_unsorted_dump(corpus):
    docs, truth, _, lines = corpus
    fails, _ = checks.check_docs_dump(lines[1:] + lines[:1], docs, truth)
    assert any("sorted" in f for f in fails)


def test_store_checker_flags_a_stale_child_after_a_parent_change(tmp_path):
    inputs = gen.generate("tpch-incremental", 3, str(tmp_path / "in"))
    with open(os.path.join(inputs, "cycles.json")) as f:
        cycles = json.load(f)
    state = {t: os.path.join(inputs, "v0", f"{t}.parquet") for t in gen.TABLES}
    store = str(tmp_path / "store.parquet")
    oracle = checks.TpchOracle(state)
    try:
        oracle.con.execute(f"COPY expected TO '{store}' (FORMAT parquet)")
        assert oracle.check_store([store]) == []
        point = cycles[3]["query"]
        assert point["template"] == "point"
        want = oracle.con.execute(checks.SQL_TWINS["point"].format(
            TP=gen.TP, **point["params"])).fetchall()
        assert oracle.check_query(point, want) == []
        assert oracle.check_query(point, want[1:]) != []
    finally:
        oracle.close()
    # rename a nation: the store still written from v0 now holds
    # customer -> nation links to the old name, which the check must flag
    state["nation"] = _renamed_nation(state["nation"], str(tmp_path / "nation.parquet"))
    oracle = checks.TpchOracle(state)
    try:
        fails = oracle.check_store([store])
    finally:
        oracle.close()
    assert fails and "stale" in fails[0]
