"""Output checks, run outside the timed region and independent of Spark.

Every check evaluates the expected output with DuckDB straight from the
generated input files and compares it with what the program wrote or
returned.  Each returns a list of failure messages; an empty list means the
op's output is correct.
"""

from __future__ import annotations

import glob
import os
import re

import duckdb

from gen import TP, jaccard

RDF_TYPE = "http://www.w3.org/1999/02/22-rdf-syntax-ns#type"
XSD = "http://www.w3.org/2001/XMLSchema#"
#: largest merged component whose pairwise Jaccard the checker computes
MAX_COMPONENT = 300


def _nt_line_sql(s: str, p: str, o: str, kind: str, lang: str, dtype: str) -> str:
    esc = o
    for a, b in (("\\", "\\\\"), ('"', '\\"'), ("\n", "\\n"), ("\r", "\\r"), ("\t", "\\t")):
        esc = f"replace({esc}, '{a}', '{b}')"
    lit = f"'\"' || {esc} || '\"'"
    obj = (f"CASE WHEN {kind} = 'iri' THEN '<' || {o} || '>' "
           f"WHEN {kind} = 'bnode' THEN '_:' || {o} "
           f"WHEN {lang} IS NOT NULL THEN {lit} || '@' || {lang} "
           f"WHEN {dtype} IS NOT NULL THEN {lit} || '^^<' || {dtype} || '>' "
           f"ELSE {lit} END")
    return f"'<' || {s} || '> <' || {p} || '> ' || {obj} || ' .'"


# ---------------------------------------------------------------- docs-kg


def read_dump(path: str) -> list[str]:
    lines: list[str] = []
    for part in sorted(glob.glob(os.path.join(path, "part-*"))):
        with open(part, encoding="utf-8") as f:
            lines.extend(f.read().splitlines())
    return lines


def docs_oracle_lines(docs_parquet: str, canon: dict[str, str]) -> set[str]:
    """N-Triples lines the canonicalized build must produce: the shipped
    DuckDB oracle of the uncanonicalized build, with every doc IRI
    replaced by its canonical doc IRI from ``canon`` (doc id -> doc id)."""
    from r2rml_parser_spark.pipeline import KG, kg_oracle_sql

    con = duckdb.connect()
    try:
        con.execute(f"CREATE VIEW documents AS SELECT * FROM read_parquet('{docs_parquet}')")
        con.execute(f"CREATE TABLE raw AS {kg_oracle_sql()}")
        con.execute("CREATE TABLE m (iri VARCHAR, canon VARCHAR)")
        con.executemany(
            "INSERT INTO m VALUES (?, ?)",
            [(f"{KG}/doc/{a}", f"{KG}/doc/{b}") for a, b in canon.items() if a != b])
        line = _nt_line_sql("coalesce(ms.canon, subj)", "pred",
                            "CASE WHEN obj_kind = 'iri' THEN coalesce(mo.canon, obj) ELSE obj END",
                            "obj_kind", "lang", "dtype")
        rows = con.execute(
            f"SELECT DISTINCT {line} FROM raw "
            "LEFT JOIN m ms ON ms.iri = raw.subj "
            "LEFT JOIN m mo ON mo.iri = raw.obj").fetchall()
    finally:
        con.close()
    return {r[0] for r in rows}


def recover_canon(lines: list[str]) -> dict[str, str]:
    """doc id -> canonical doc id, read off the span -> ex:inDocument links."""
    from r2rml_parser_spark.pipeline import KG

    pat = re.compile(
        rf"^<{re.escape(KG)}/doc/([^/>]+)/span/\d+> <{re.escape(KG)}/ontology#inDocument> "
        rf"<{re.escape(KG)}/doc/([^/>]+)> \.$")
    canon: dict[str, str] = {}
    for ln in lines:
        m = pat.match(ln)
        if m:
            canon.setdefault(m.group(1), m.group(2))
    return canon


def check_docs_dump(lines: list[str], docs_parquet: str, truth: dict) -> tuple[list[str], float]:
    """Failures of one canonicalized dump, and its planted recall."""
    import pyarrow.parquet as pq

    fails = []
    if any(a >= b for a, b in zip(lines, lines[1:])):
        fails.append("dump is not strictly sorted (unsorted or duplicate lines)")
    docs = pq.read_table(docs_parquet, columns=["doc_id", "text"]).to_pydict()
    text = {str(i): t for i, t in zip(docs["doc_id"], docs["text"])}
    canon = recover_canon(lines)
    if set(canon) != set(text):
        fails.append(f"{len(set(text) - set(canon))} docs have no span -> inDocument link")
    expected = docs_oracle_lines(docs_parquet, canon)
    got = set(lines)
    if got != expected:
        fails.append(f"dump differs from the oracle: {len(got - expected)} unexpected, "
                     f"{len(expected - got)} missing triples")
    groups: dict[str, list[str]] = {}
    for d, c in canon.items():
        groups.setdefault(c, []).append(d)
    for c, members in groups.items():
        if len(members) > 1 and not _connected(members, text):
            fails.append(f"component of {c} ({len(members)} docs) is not connected by "
                         "pairs with Jaccard >= 0.8")
    pairs = truth["positive_pairs"]
    hit = sum(1 for a, b in pairs if canon.get(str(a)) is not None
              and canon.get(str(a)) == canon.get(str(b)))
    return fails, hit / len(pairs) if pairs else 1.0


def _connected(members: list[str], text: dict[str, str]) -> bool:
    if len(members) > MAX_COMPONENT or any(m not in text for m in members):
        return False
    seen, todo = {members[0]}, [members[0]]
    while todo:
        a = todo.pop()
        for b in members:
            if b not in seen and jaccard(text[a], text[b]) >= 0.8:
                seen.add(b)
                todo.append(b)
    return len(seen) == len(members)


# ------------------------------------------------------------------- tpch


def tpch_oracle_sql() -> str:
    """The benchmark mapping (gen.MAPPING_TTL) evaluated over the tables
    region, nation, customer, orders and lineitem: 7 triple columns."""
    def row(s, p, o, kind="literal", dtype=None):
        d = f"'{dtype}'" if dtype else "CAST(NULL AS VARCHAR)"
        return (f"SELECT {s} AS subj, 'iri' AS subj_kind, '{p}' AS pred, CAST({o} AS VARCHAR) AS obj, "
                f"'{kind}' AS obj_kind, CAST(NULL AS VARCHAR) AS lang, {d} AS dtype")
    r = f"'{TP}region/' || r_name"
    n = f"'{TP}nation/' || n_name"
    c = f"'{TP}customer/' || c_custkey"
    o = f"'{TP}order/' || o_orderkey"
    li = f"'{TP}lineitem/' || l_orderkey || '/' || l_linenumber"
    integer = XSD + "integer"
    parts = [
        f"{row(r, RDF_TYPE, repr(TP + 'Region'), 'iri')} FROM region",
        f"{row(r, TP + 'regionKey', 'r_regionkey', dtype=integer)} FROM region",
        f"{row(n, RDF_TYPE, repr(TP + 'Nation'), 'iri')} FROM nation",
        f"{row(n, TP + 'nationKey', 'n_nationkey', dtype=integer)} FROM nation",
        f"{row(n, TP + 'inRegion', r, 'iri')} FROM nation JOIN region ON n_regionkey = r_regionkey",
        f"{row(c, RDF_TYPE, repr(TP + 'Customer'), 'iri')} FROM customer",
        f"{row(c, TP + 'name', 'c_name')} FROM customer",
        f"{row(c, TP + 'acctbal', 'c_acctbal', dtype=integer)} FROM customer",
        f"{row(c, TP + 'segment', 'c_mktsegment')} FROM customer",
        f"{row(c, TP + 'inNation', n, 'iri')} FROM customer JOIN nation ON c_nationkey = n_nationkey",
        f"{row(o, RDF_TYPE, repr(TP + 'Order'), 'iri')} FROM orders",
        f"{row(o, TP + 'status', 'o_orderstatus')} FROM orders",
        f"{row(o, TP + 'totalprice', 'o_totalprice', dtype=integer)} FROM orders",
        f"{row(o, TP + 'orderdate', 'o_orderdate', dtype=XSD + 'date')} FROM orders",
        f"{row(o, TP + 'customer', c, 'iri')} FROM orders JOIN customer ON o_custkey = c_custkey",
        f"{row(li, RDF_TYPE, repr(TP + 'LineItem'), 'iri')} FROM lineitem",
        f"{row(li, TP + 'quantity', 'l_quantity', dtype=integer)} FROM lineitem",
        f"{row(li, TP + 'extendedprice', 'l_extendedprice', dtype=integer)} FROM lineitem",
        f"{row(li, TP + 'returnflag', 'l_returnflag')} FROM lineitem",
        f"{row(li, TP + 'inOrder', o, 'iri')} FROM lineitem JOIN orders ON l_orderkey = o_orderkey",
    ]
    return "\nUNION\n".join(parts)


#: SQL twins of gen.TEMPLATES over the expected triples t(subj, pred, obj)
SQL_TWINS = {
    "join": "SELECT a.subj, b.obj FROM t a JOIN t b ON b.subj = a.subj AND b.pred = '{TP}totalprice' "
            "JOIN t c ON c.obj = a.subj AND c.pred = '{TP}inOrder' "
            "WHERE a.pred = '{TP}customer' AND a.obj = '{TP}customer/{cust}'",
    "group": "SELECT s.obj, COUNT(*) FROM t a JOIN t s ON s.subj = a.obj AND s.pred = '{TP}segment' "
             "JOIN t n ON n.subj = a.obj AND n.pred = '{TP}inNation' "
             "WHERE a.pred = '{TP}customer' AND n.obj = '{TP}nation/{nation}' GROUP BY s.obj",
    "path": "SELECT a.subj FROM t a JOIN t b ON b.subj = a.obj AND b.pred = '{TP}inRegion' "
            "JOIN t s ON s.subj = a.subj AND s.pred = '{TP}segment' "
            "WHERE a.pred = '{TP}inNation' AND b.obj = '{TP}region/{region}' "
            "AND s.obj = '{segment}'",
    "point": "SELECT pred, obj FROM t WHERE subj = '{TP}customer/{cust}'",
    "optional": "SELECT a.subj, s.obj, o.subj FROM t a "
                "JOIN t s ON s.subj = a.subj AND s.pred = '{TP}segment' "
                "LEFT JOIN (SELECT x.subj, x.obj AS cust FROM t x JOIN t y ON y.subj = x.subj "
                "AND y.pred = '{TP}status' AND y.obj = '{status}' "
                "WHERE x.pred = '{TP}customer') o ON o.cust = a.subj "
                "WHERE a.pred = '{TP}inNation' AND a.obj = '{TP}nation/{nation}'",
    "regex": "SELECT subj, obj FROM t WHERE pred = '{TP}name' AND regexp_matches(obj, '{suffix}$')",
    "pessimal": "SELECT subj, pred, obj FROM t WHERE subj IN "
                "(SELECT subj FROM t WHERE pred = '{TP}acctbal' AND obj = '{acct}')",
}


class TpchOracle:
    """Expected store contents and query answers for one table state."""

    def __init__(self, table_files: dict[str, str]):
        self.con = duckdb.connect()
        for name, path in table_files.items():
            self.con.execute(f"CREATE VIEW {name} AS SELECT * FROM read_parquet('{path}')")
        self.con.execute(f"CREATE TABLE expected AS {tpch_oracle_sql()}")
        self.con.execute("CREATE VIEW t AS SELECT subj, pred, obj FROM expected")

    def close(self) -> None:
        self.con.close()

    def check_store(self, store_files: list[str]) -> list[str]:
        if not store_files:
            return ["store holds no files"]
        self.con.execute(
            "CREATE OR REPLACE TABLE got AS SELECT DISTINCT subj, subj_kind, pred, obj, obj_kind, "
            "lang, dtype FROM read_parquet(?)", [store_files])
        extra = self.con.execute("SELECT count(*) FROM (FROM got EXCEPT FROM expected)").fetchone()[0]
        missing = self.con.execute("SELECT count(*) FROM (FROM expected EXCEPT FROM got)").fetchone()[0]
        if extra or missing:
            return [f"store differs from the mapping over the current tables: "
                    f"{extra} stale or unexpected, {missing} missing triples"]
        return []

    def check_query(self, query: dict, rows: list[tuple]) -> list[str]:
        sql = SQL_TWINS[query["template"]].format(TP=TP, **query["params"])
        want = _bag(self.con.execute(sql).fetchall())
        got = _bag(rows)
        if got != want:
            return [f"{query['template']} query returned {len(rows)} rows, its SQL twin "
                    f"{len(want)}; the bags differ"]
        return []


def _bag(rows) -> list[tuple]:
    return sorted((tuple(None if v is None else str(v) for v in r) for r in rows), key=repr)
